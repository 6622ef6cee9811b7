"""Tests of the benchmark's own code: generators, metric arithmetic, failure
accounting and span self time. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.compute as pc
import pytest

from perfbench import common, gen
from perfbench.common import Loop, OpLog, Tracer, samples_beyond, self_times, tail_percentile
from perfbench.sparkctl import _metric_total
from perfbench.wl_ingest import digest
from perfbench.wl_scan import rows_match


def _tables(seed: int) -> list[pa.Table]:
    fact, dim = gen.star_schema(seed, 2_000, 50)
    return [
        fact,
        dim,
        gen.ingest_batch(seed, 3, 1_000),
        *gen.lookup_files(seed, [1_500, 500]),
        gen.corpus_shard(seed, 1, 60, 0.2),
    ]


def test_same_seed_same_tables_other_seed_other_tables():
    a, b, c = _tables(7), _tables(7), _tables(8)
    for x, y, z in zip(a, b, c):
        assert x.equals(y)
        assert not x.equals(z)


def test_lookup_keys_ascend_across_files_and_are_even():
    files = gen.lookup_files(3, [400, 300, 300])
    keys = pa.concat_tables(files).column("key").to_numpy()
    assert (keys[1:] > keys[:-1]).all()
    assert (keys % 2 == 0).all()  # odd probes are guaranteed misses


def test_corpus_copies_share_the_normalized_text():
    shard = gen.corpus_shard(5, 0, 40, 1.0)  # all copies of doc 0
    texts = shard.column("text")
    assert len(set(texts.to_pylist())) > 1  # near-duplicates differ raw
    assert pc.count_distinct(gen.normalized_text(texts)).as_py() == 1


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert samples_beyond(100, 90) == 10
    assert tail_percentile(list(range(99)), 90) is None
    assert tail_percentile(list(range(100)), 90) == 89
    assert tail_percentile(list(range(999)), 99) is None
    assert tail_percentile(list(range(1000)), 99) == 989
    assert tail_percentile([], 50) is None


def test_exceptions_and_wrong_results_both_count_as_failures(monkeypatch):
    monkeypatch.setattr(common, "MAX_LOGGED_ERRORS", 0)
    log = OpLog()

    def boom():
        raise RuntimeError("op failed")

    log.run(lambda: 1, lambda out: (True, 5))
    log.run(boom, lambda out: (True, 5))
    log.run(lambda: 2, lambda out: (False, 5))
    log.run(lambda: 3, lambda out: 1 / 0)  # a check that raises is a failure
    assert (log.attempted, log.failed) == (4, 3)
    assert len(log.latencies) == 1 and log.rows == 5
    assert log.error_rate == pytest.approx(0.75)
    warm = OpLog()
    warm.run(boom, lambda out: (True, 0))
    log.absorb_failures(warm)
    assert (log.attempted, log.failed) == (5, 4)


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "op": 0, "name": str(sid), "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children_within_the_parent():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps child 1: [1, 5] counted once
        _span(3, 0, 8.0, 12.0),  # runs past the parent: only [8, 10] counts
        _span(4, 2, 2.5, 3.5),  # grandchild: counts against span 2 only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_records_parents_only_inside_an_op():
    tr = Tracer()
    with tr.span("outside"):
        pass
    assert tr.spans == []
    with tr.op(1):
        with tr.span("a"):
            with tr.span("b") as attrs:
                attrs["n"] = 3
    by = {s["name"]: s for s in tr.spans}
    assert by["a"]["parent"] is None and by["b"]["parent"] == by["a"]["id"]
    assert by["b"]["attrs"] == {"n": 3} and by["b"]["op"] == 1
    assert tr.per_op_ms("a")[0] >= tr.per_op_ms("b")[0]
    with tr.op(2):
        with tr.span("b"):
            pass
    assert len(tr.by_name("b")) == 2
    assert [s["op"] for s in tr.within("a").by_name("b")] == [1]


def test_spark_metric_strings_parse_to_totals():
    assert _metric_total("300") == 300
    assert _metric_total("200,000") == 200_000
    assert _metric_total("12.0 KiB") == 12 * 1024
    text = "total (min, med, max (stageId: taskId))\n1.5 MiB (0.1 MiB, 0.5 MiB, 0.9 MiB (stage 2.0: task 3))"
    assert _metric_total(text) == 1.5 * 2**20


def test_row_comparison_ignores_order_and_float_noise():
    want = [("a", 1, 0.1 + 0.2), ("b", 2, 1.0)]
    assert rows_match([("b", 2, 1.0), ("a", 1, 0.3)], want)
    assert not rows_match([("b", 2, 1.0), ("a", 1, 0.31)], want)
    assert not rows_match([("a", 1, 0.3)], want)


def test_digest_is_order_insensitive_and_content_sensitive():
    t = gen.ingest_batch(1, 0, 500)
    shuffled = t.take(pa.array(list(reversed(range(t.num_rows)))))
    assert digest(shuffled) == digest(t)
    changed = t.set_column(3, "amount", pc.add(t.column("amount"), 1.0))
    assert digest(changed) != digest(t)


class _Ctx:
    def __init__(self, work, tracer):
        self.work, self.tracer = work, tracer
        self.seconds, self.t0, self.marks = 0.05, time.perf_counter(), []

    def mark(self, phase):
        self.marks.append(phase)

    def mkdir(self, *parts):
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p


class _Probe:
    def begin(self, op_id):
        self.op = op_id

    def end(self):
        return {"jobs": 1}


def test_loop_drops_warm_up_notes_and_pairs_plain_with_traced(tmp_path, monkeypatch):
    monkeypatch.setattr(common, "MAX_LOGGED_ERRORS", 0)
    ctx = _Ctx(str(tmp_path), Tracer())
    loop = Loop(ctx, _Probe())
    seen, outs = [], []

    def attempt(item, op_id, out, traced):
        outs.append(out)

        def op():
            if item == "bad":
                raise RuntimeError("warm-up op failed")
            time.sleep(0.001)

        def check(_):
            loop.note("checked", item)
            return True, 1

        return op, check, lambda: seen.append((item, op_id))

    rounds = (["a", "b"] for _ in range(1000))
    loop.run(attempt, ["bad", "w"], rounds)
    assert ctx.marks == ["warm-up"] and loop.wall_s >= ctx.seconds
    assert "w" not in loop.layers["checked"]  # warm-up notes are dropped
    n = len(loop.plain)
    assert n >= 2 and [item for item, _ in loop.plain][:2] == ["a", "b"]
    # every timed item ran twice, the second time traced, with the probe's
    # counters and the workload's after-step noted once per traced op
    assert len(loop.layers["traced_ms"]) == len(loop.layers["spark.jobs"]) == n
    assert [item for item, _ in seen] == [item for item, _ in loop.plain]
    # the failed warm-up op counts against the timed ops
    assert loop.log.failed == 1 and loop.log.attempted == 2 * n + 1
    assert not any(os.path.exists(o) for o in outs)
