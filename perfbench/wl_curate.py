"""curate: one client; each op is one curation pass over one corpus shard:
DWRF read -> ``operators.dedup.minhash_dedup_pairs`` ->
``resolve_duplicates`` -> ``operators.text.quality_features`` -> DWRF
write. Checked against a pure-pyarrow recomputation of exact dedup."""

from __future__ import annotations

import os
from contextlib import nullcontext

DOCS_PER_SHARD = 1_000
N_SHARDS = 4
DUP_RATE = 0.15
#: a curation pass compiles dozens of distinct Spark plans; the first pass
#: is ~4x a steady one and the second still ~1.3x
WARMUP_OPS = 2


def run(ctx):
    import itertools

    import pyarrow as pa
    import pyarrow.compute as pc

    from hive_dwrf_spark.format.reader import DwrfFile
    from hive_dwrf_spark.format.writer import write_arrow_table
    from hive_dwrf_spark.operators.dedup import minhash_dedup_pairs, resolve_duplicates
    from hive_dwrf_spark.operators.text import quality_features

    from perfbench import gen, replay, sparkctl
    from perfbench.common import Loop, Result, median, ratio

    with sparkctl.session(ctx) as spark:
        shards, dirs, expected, norms = [], [], [], []
        for s in range(N_SHARDS):
            t = gen.corpus_shard(ctx.seed, s, DOCS_PER_SHARD, DUP_RATE)
            d = ctx.mkdir("corpus", f"shard-{s}")
            write_arrow_table(os.path.join(d, "part-00.dwrf"), t)
            norm = gen.normalized_text(t.column("text"))
            shards.append(t)
            dirs.append(d)
            norms.append(dict(zip(t.column("doc_id").to_pylist(), norm.to_pylist())))
            expected.append(pc.count_distinct(norm).as_py())

        ctx.mark("inputs")
        tracer = ctx.tracer
        loop = Loop(ctx, sparkctl.Probe(spark) if tracer else None)

        def attempt(i, op_id, out, traced):
            s = i % N_SHARDS
            span = tracer.span if traced else (lambda name: nullcontext())

            def op():
                with span("driver.build"):
                    df = spark.read.format("dwrf").load(dirs[s])
                    pairs = minhash_dedup_pairs(df, "text", "doc_id")
                # resolve_duplicates runs its clustering jobs inside the call
                with span("spark.action"):
                    kept = resolve_duplicates(df, pairs, "doc_id")
                with span("driver.build"):
                    feats = quality_features(kept, "text", "doc_id")
                with span("spark.action"):
                    feats.write.format("dwrf").mode("overwrite").save(out)

            def check(_):
                files = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".dwrf")]
                tables = []
                for f in files:
                    with DwrfFile(f) as h:
                        tables.append(h.read())
                got = pa.concat_tables(tables)
                ids = got.column("doc_id").to_pylist()
                loop.note("stored_bytes", replay.dir_bytes(out))
                loop.note("input_bytes", got.nbytes)
                keys = [norms[s].get(x) for x in ids]
                ok = (
                    len(ids) == expected[s]
                    and None not in keys  # kept ids are input ids
                    and len(set(keys)) == len(keys)  # no shared fingerprint
                )
                return ok, DOCS_PER_SHARD

            return op, check, None

        # warm-up: JIT, Python workers, page cache
        warmup = [-1 - i for i in range(WARMUP_OPS)]
        loop.run(attempt, warmup, ([i] for i in itertools.count()))

        out = {}
        if tracer:
            out = {
                "driver.build_ms": median(tracer.per_op_ms("driver.build")),
                "spark.action_ms": median(tracer.per_op_ms("spark.action")),
                **sparkctl.probe_layers(loop),
            }
        dups = [DOCS_PER_SHARD - e for e in expected]
        info = {
            "spark": sparkctl.describe(spark),
            "corpus": f"{N_SHARDS} shards x {DOCS_PER_SHARD} docs, duplicate rate {DUP_RATE}, "
            f"{sum(dups)} injected duplicates, "
            f"{sum(replay.dir_bytes(d) for d in dirs)} B on disk, "
            f"{sum(t.nbytes for t in shards)} B decoded (Arrow)",
        }
        stored = ratio(sum(loop.layers.get("stored_bytes", [])),
                       sum(loop.layers.get("input_bytes", [])))
        return Result(loop.log, loop.wall_s, loop.setup_s, stored, out, info)
