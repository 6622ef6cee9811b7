"""Seeded DWRF benchmark: one workload per invocation.

    python3 perfbench/run.py --workload scan|ingest|lookup|curate \
        [--seed N] [--seconds S] [--trace 0|1]

``--seconds`` defaults to ``run_seconds`` of BENCHMARK.json.

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` runs the same workload with spans around the calls
into each layer and reports the per-layer metrics instead. Prints a
human-readable report, then one JSON line: {"correct", "attempted",
"failed", "metrics"}. See perfbench/README.md.
"""

import time

T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("scan", "ingest", "lookup", "curate")


class Context:
    """What a workload's ``run(ctx)`` gets: seed, seconds, trace flag, the
    run's work dir, the client-thread count (nproc) and, when tracing, the
    span recorder."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.t0 = T0
        self.marks: list[tuple[str, float]] = []
        #: largest peak resident set of the Spark Python workers, set when
        #: a workload's Spark session stops (None: no Spark)
        self.worker_peak_kb = None
        self.tracer = None
        if self.trace:
            from perfbench.common import Tracer

            self.tracer = Tracer()

    def mark(self, phase: str) -> None:
        """End of a set-up phase, for the report's set-up breakdown."""
        self.marks.append((phase, time.perf_counter() - self.t0))

    def mkdir(self, *parts: str) -> str:
        """A fresh directory under this run's work dir."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def _environment(work: str) -> None:
    """Keep every byte the run writes inside the checkout, and put the
    checkout on the Python workers' path. These are process-environment
    settings only; no program knob is set."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the program's native decode helper compiles once per checkout and is
    # cached by source hash under the XDG cache dir
    os.environ["XDG_CACHE_HOME"] = os.path.join(ROOT, ".bench_build", "cache")
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    # default configuration: no inherited program knob (DWRF_PROFILE would
    # also switch decode to serial, a different program)
    for knob in [k for k in os.environ if k.startswith(("SPARK_GRAFT_", "DWRF_"))]:
        del os.environ[knob]


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _report(args, res, marks, metrics: dict, shown: dict, steal: float) -> None:
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    # time the hypervisor gave other tenants: when high, every latency here
    # is inflated and the run is not comparable with a quiet one
    print(f"  host cpu steal during the run: {steal:.1f}%")
    for k, v in res.info.items():
        print(f"  input {k}: {v}")
    prev = 0.0
    for phase, t in marks:
        print(f"  setup {phase}: {t - prev:.2f} s")
        prev = t
    print(f"  ops attempted={res.log.attempted} failed={res.log.failed} "
          f"latency samples={len(res.log.latencies)} timed wall={res.wall_s:.3f} s")
    if len(res.log.latencies) <= 20:
        print("  op latencies ms: " + " ".join(f"{x * 1e3:.0f}" for x in res.log.latencies))
    for name, (value, unit) in {**metrics, **shown}.items():
        print(f"  {name:32s} {value:14.6g} {unit}")


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hive_dwrf_spark", "__init__.py")):
        print(f"perfbench: program package hive_dwrf_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_build", "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _environment(work)
    sys.path.insert(0, ROOT)

    from perfbench.common import descendants, median, reap, tail_percentile

    mod = importlib.import_module(f"perfbench.wl_{args.workload}")
    ctx = Context(args, work)
    ticks0 = _cpu_ticks()
    try:
        res = mod.run(ctx)
        if ctx.tracer is not None:
            ctx.tracer.dump(os.path.join(
                ROOT, ".bench_build", "spans", f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        reap(descendants())

    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    steal = 100.0 * ticks[7] / max(1, sum(ticks))
    lat = res.log.latencies
    self_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    e2e = {
        "setup_s": res.setup_s,
        "latency_p50_ms": median(lat) * 1e3,
        "ops_per_s": len(lat) / res.wall_s,
        "rows_per_s": res.log.rows / res.wall_s,
        "stored_bytes_per_input_byte": res.stored_ratio,
        # the process that runs the program's reading and writing: this
        # one without Spark, else the largest Python worker (this process
        # then holds mostly the generated inputs and the checks)
        "peak_rss_mb": (self_kb if ctx.worker_peak_kb is None else ctx.worker_peak_kb) / 1024.0,
    }
    # printed only: the tails exist where a run has >= 10 samples beyond
    # them, and error_rate is 0 on a correct run (the JSON carries failed)
    shown = {"error_rate": (res.log.error_rate, "ratio"),
             "benchmark_process_peak_rss_mb": (self_kb / 1024.0, "MiB")}
    for q, name in ((90, "latency_p90_ms"), (99, "latency_p99_ms")):
        v = tail_percentile(lat, q)
        if v is not None:
            shown[name] = (v * 1e3, "ms")
    if ctx.trace:
        specs, values = spec["per_layer"], res.layers
    else:
        specs, values = spec["end_to_end"], e2e
    metrics = {m["name"]: (float(values.get(m["name"], 0.0)), m["unit"]) for m in specs}
    _report(args, res, ctx.marks, metrics, shown, steal)
    print(json.dumps({
        "correct": res.log.failed == 0 and res.log.attempted > 0,
        "attempted": res.log.attempted,
        "failed": res.log.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
