"""lookup: ``nproc // 2`` client threads, no Spark. Each op is one serving
request making one call of each kind: a ``format.lookup.lookup_keys``
batch over the whole directory (fresh handles, file and stride pruning),
then a ``DwrfFile.read_rows_at`` batch on a long-lived shared handle (the
per-handle stride LRU). Every result is checked against the generator's
arrays."""

from __future__ import annotations

import os
import threading
import time
from contextlib import nullcontext

import numpy as np

#: rows per file, keys ascending in this order: the newest (last) file
#: decodes past the 64 MiB per-handle stride cache, the older ones are small
FILE_ROWS = [100_000, 100_000, 100_000, 100_000, 900_000]
STRIDE = 10_000  # the writer's default row-index stride
STRIDE_CACHE_BYTES = 64 << 20  # the program's default per-handle budget
STRIPE_ROWS = 100_000
MAX_KEYS = 64
ZIPF_A = 1.6
WARMUP_S = 2.0


class _Skew:
    """Recency skew at stride granularity: popularity rank r (bounded zipf)
    is the r-th newest stride, and the row is uniform inside it. Keys are
    time-ordered, so the newest strides are hot and fit the stride cache;
    the tail reaches back through the rest."""

    def __init__(self, n_rows: int):
        self.n_rows = n_rows
        self.n_strides = -(-n_rows // STRIDE)
        w = 1.0 / np.arange(1, self.n_strides + 1) ** ZIPF_A
        self.p = w / w.sum()

    def rows(self, rng, k: int) -> np.ndarray:
        stride = self.n_strides - 1 - rng.choice(self.n_strides, size=k, p=self.p)
        lo = stride * STRIDE
        hi = np.minimum(lo + STRIDE, self.n_rows)
        return (lo + rng.integers(0, hi - lo)).astype(np.int64)


def run(ctx):
    import pyarrow as pa

    from hive_dwrf_spark.format import lookup
    from hive_dwrf_spark.format.reader import DwrfFile
    from hive_dwrf_spark.format.writer import write_arrow_table

    from perfbench import gen, replay
    from perfbench.common import OpLog, Result, median, patched, ratio

    tables = gen.lookup_files(ctx.seed, FILE_ROWS)
    truth = pa.concat_tables(tables).combine_chunks()
    keys = truth.column("key").to_numpy()
    starts = np.cumsum([0] + FILE_ROWS)
    d = ctx.mkdir("serving")
    paths = []
    for i, t in enumerate(tables):
        p = os.path.join(d, f"part-{i:02d}.dwrf")
        write_arrow_table(p, t, stripe_rows=STRIPE_ROWS)
        paths.append(p)
    handles = [DwrfFile(p) for p in paths]
    skew_all = _Skew(len(keys))
    skews = [_Skew(n) for n in FILE_ROWS]
    hot_strides = int(np.searchsorted(np.cumsum(skew_all.p), 0.9)) + 1

    ctx.mark("inputs")
    log = OpLog()
    tracer = ctx.tracer
    notes: dict[str, list] = {}
    notes_lock = threading.Lock()

    def note(key, value):
        with notes_lock:
            notes.setdefault(key, []).append(value)

    sizes = _Sizes(gen.rng_for(ctx.seed, "ops", 500).random())

    def request(log, rng, traced):
        """One serving request: a ``lookup_keys`` batch over the directory,
        then a ``read_rows_at`` batch on a long-lived handle."""
        k = sizes.next()
        rows = skew_all.rows(rng, k)
        probe = keys[rows]
        absent = rng.random(k) < 0.1  # odd keys are never stored
        probe = np.where(absent, probe + 1, probe)
        want_keys = truth.take(np.unique(rows[~absent]))
        fi = int(rng.integers(0, len(paths)))
        at = skews[fi].rows(rng, sizes.next())
        want_at = truth.take(at + starts[fi])
        tr = {} if traced else None
        span = tracer.span if traced else (lambda name: nullcontext())

        def op():
            with span("lookup.call"):
                found = lookup.lookup_keys(d, "key", probe.tolist(), trace=tr)
            with span("format.read_rows_at"):
                return found, handles[fi].read_rows_at(at)

        def check(out):
            found, fetched = out
            ok = found.equals(want_keys) and fetched.equals(want_at)
            return ok, found.num_rows + fetched.num_rows

        log.run(op, check)
        if traced:
            note("files_total", tr["files_total"])
            note("files_pruned", tr["files_pruned"])
            note("strides_scanned", tr["strides_scanned"])
            note("keys", len(set(probe.tolist())))

    def client(oplog, cid: int, stop_at: float, timed: bool, out_lat: dict):
        rng = gen.rng_for(ctx.seed, "ops", 1000 + cid)
        i = 0
        while time.perf_counter() < stop_at:
            traced = tracer is not None and timed and i % 2 == 1
            t = time.perf_counter()
            if traced:
                with tracer.op((cid, i)):
                    request(oplog, rng, True)
            else:
                request(oplog, rng, False)
            out_lat["traced" if traced else "plain"].append(time.perf_counter() - t)
            i += 1

    # Half the cores: three clients already reach the throughput of four on
    # 4 vCPUs, and with one per vCPU a hypervisor preemption of the thread
    # holding the GIL stalls every client (at 12.6% host steal four clients
    # doubled p50, two moved it 20%).
    n_clients = max(1, ctx.cores // 2)

    def clients(oplog, stop_at, timed):
        lat = [{"traced": [], "plain": []} for _ in range(n_clients)]
        threads = [
            threading.Thread(target=client, args=(oplog, c, stop_at, timed, lat[c]))
            for c in range(n_clients)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return lat

    try:
        with patched(tracer, replay.format_targets()) if tracer else nullcontext():
            warm = OpLog()
            # warm-up: page cache, native helper, the handles' hot strides
            clients(warm, time.perf_counter() + WARMUP_S, False)
            ctx.mark("warm-up")
            setup_s = time.perf_counter() - ctx.t0
            t_start = time.perf_counter()
            lat = clients(log, t_start + ctx.seconds, True)
            wall = time.perf_counter() - t_start
        log.absorb_failures(warm)
    finally:
        for h in handles:
            h.close()

    out = {}
    if tracer:
        traced = [x for c in lat for x in c["traced"]]
        plain = [x for c in lat for x in c["plain"]]
        out = {
            "format.open_ms": median(tracer.durations_ms("format.open")),
            "format.read_rows_at_ms": median(tracer.durations_ms("format.read_rows_at")),
            "lookup.call_ms": median(tracer.durations_ms("lookup.call")),
            "lookup.files_pruned_ratio": ratio(
                sum(notes.get("files_pruned", [])), sum(notes.get("files_total", []))
            ),
            "lookup.strides_scanned_per_key": ratio(
                sum(notes.get("strides_scanned", [])), sum(notes.get("keys", []))
            ),
            "trace.overhead_ratio": ratio(median(traced), median(plain)),
            "trace.replay_ms": 0.0,
        }
    stored = replay.dir_bytes(d)
    big = tables[-1].nbytes
    info = {
        "directory": f"{len(paths)} files, {len(keys)} rows, {stored} B on disk, "
        f"{truth.nbytes} B decoded (Arrow)",
        "largest file": f"{FILE_ROWS[-1]} rows, {big} B decoded = "
        f"{big / STRIDE_CACHE_BYTES:.2f} x the 64 MiB stride cache",
        "hot set": f"90% of lookup_keys draws fall in the newest {hot_strides} of {skew_all.n_strides} "
        f"strides, ~{hot_strides * truth.nbytes / skew_all.n_strides / 2**20:.1f} MiB decoded",
        "clients": f"{n_clients} threads on {ctx.cores} cores, closed loop",
    }
    return Result(log, wall, setup_s, ratio(stored, truth.nbytes), out, info)


class _Sizes:
    """Batch sizes 1..MAX_KEYS shared by all clients, in a golden-ratio
    sequence: every prefix is close to uniform, so short runs see the
    same mix of batch sizes whatever the seed (the seed sets the offset)."""

    def __init__(self, offset: float):
        self._n = 0
        self._offset = offset
        self._lock = threading.Lock()

    def next(self) -> int:
        with self._lock:
            n = self._n
            self._n += 1
        frac = (self._offset + n * 0.6180339887498949) % 1.0
        return 1 + int(frac * MAX_KEYS)
