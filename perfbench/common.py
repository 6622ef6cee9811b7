"""Metric arithmetic, failure accounting and span tracing shared by the
workloads. Nothing here imports the program under test."""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext

#: a tail percentile is reported only with at least this many samples
#: strictly beyond it (fewer would make the tail one or two outliers)
MIN_TAIL_SAMPLES = 10
#: failures whose traceback goes to stderr; later ones are only counted
MAX_LOGGED_ERRORS = 3
#: how long ``reap`` waits for processes to end before killing them
REAP_TIMEOUT_S = 20.0


def samples_beyond(n: int, q: float) -> int:
    """Samples ranked above the nearest-rank ``q``-th percentile of ``n``."""
    return n - math.ceil(q / 100.0 * n)


def tail_percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-th percentile, or None unless at least
    MIN_TAIL_SAMPLES samples lie beyond it."""
    n = len(values)
    if n == 0 or samples_beyond(n, q) < MIN_TAIL_SAMPLES:
        return None
    return sorted(values)[math.ceil(q / 100.0 * n) - 1]


def median(values) -> float:
    """Median, or 0 for no values."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class OpLog:
    """Closed-loop op accounting: an op that raises and an op whose result
    fails its check both count as failed against ops attempted; latencies
    and rows come only from ops that succeeded. Safe to share between
    client threads."""

    def __init__(self):
        self._lock = threading.Lock()
        self.latencies: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.rows = 0
        self._logged = 0

    def run(self, fn, check):
        """Time ``fn()``; then, outside the timed region, ``check(result)``
        returns ``(ok, rows)``. Returns (latency_s, result) — result is
        None when ``fn`` raised."""
        t = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self._fail("op raised")
            return time.perf_counter() - t, None
        lat = time.perf_counter() - t
        try:
            ok, rows = check(out)
        except Exception:
            ok, rows = False, 0
            self._log("check raised")
        with self._lock:
            self.attempted += 1
            if ok:
                self.latencies.append(lat)
                self.rows += rows
            else:
                self.failed += 1
        if not ok:
            self._log("wrong result", tb=False)
        return lat, out

    def _fail(self, what: str) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += 1
        self._log(what)

    def _log(self, what: str, tb: bool = True) -> None:
        with self._lock:
            self._logged += 1
            if self._logged > MAX_LOGGED_ERRORS:
                return
        print(f"perfbench: {what}", file=sys.stderr)
        if tb:
            traceback.print_exc(file=sys.stderr)

    def absorb_failures(self, other: "OpLog") -> None:
        """Carry the failures of untimed ops (warm-up) into this log."""
        self.attempted += other.failed
        self.failed += other.failed

    @property
    def error_rate(self) -> float:
        return ratio(self.failed, self.attempted)


# -- tracing ---------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op id) recorded around the
    benchmark's calls into each layer. Recording is per thread and off
    until ``op()`` is entered, so the same patched functions cost only a
    flag check on untraced ops."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._next = 0

    def active(self) -> bool:
        return getattr(self._tls, "op", None) is not None

    @contextmanager
    def op(self, op_id):
        self._tls.op = op_id
        self._tls.stack = []
        try:
            yield
        finally:
            self._tls.op = None

    @contextmanager
    def span(self, name: str):
        """Record one span; yields its attrs dict so the body can add
        counts. A no-op outside ``op()``."""
        attrs: dict = {}
        if not self.active():
            yield attrs
            return
        with self._lock:
            sid = self._next
            self._next += 1
        stack = self._tls.stack
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            rec = {
                "id": sid,
                "parent": parent,
                "op": self._tls.op,
                "name": name,
                "start": start,
                "end": end,
            }
            if attrs:
                rec["attrs"] = attrs
            with self._lock:
                self.spans.append(rec)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def within(self, ancestor: str) -> "Tracer":
        """A view holding only the spans nested under an ``ancestor`` span."""
        parent = {s["id"]: s["parent"] for s in self.spans}
        names = {s["id"]: s["name"] for s in self.spans}
        view = Tracer()
        for s in self.spans:
            p = s["parent"]
            while p is not None and names[p] != ancestor:
                p = parent[p]
            if p is not None:
                view.spans.append(s)
        return view

    def per_op_ms(self, name: str) -> list[float]:
        """Summed duration of ``name`` spans in each op that has one."""
        acc: dict = {}
        for s in self.by_name(name):
            acc[s["op"]] = acc.get(s["op"], 0.0) + (s["end"] - s["start"])
        return [v * 1e3 for v in acc.values()]

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.by_name(name)]

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(s, self_s=selfs[s["id"]])
                f.write(json.dumps(rec, default=str) + "\n")


def self_times(spans: list[dict]) -> dict:
    """Span id -> self time: its duration minus the part of its interval
    covered by its children (overlapping children are counted once)."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(lo, c["start"]), min(hi, c["end"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


@contextmanager
def patched(tracer: Tracer, targets):
    """Wrap ``(owner, attribute, span_name, attrs_fn)`` callables so each
    call records a span while its thread is inside ``tracer.op()``.
    ``attrs_fn(result, args)`` may add counts to the span. Restored on
    exit; the program's own code is never edited."""
    saved = []

    def wrap(orig, name, attrs_fn):
        def wrapper(*args, **kwargs):
            if not tracer.active():
                return orig(*args, **kwargs)
            with tracer.span(name) as attrs:
                out = orig(*args, **kwargs)
                if attrs_fn is not None:
                    attrs.update(attrs_fn(out, args))
                return out

        return wrapper

    try:
        for owner, attr, name, attrs_fn in targets:
            orig = owner.__dict__[attr]
            saved.append((owner, attr, orig))
            setattr(owner, attr, wrap(orig, name, attrs_fn))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# -- the Spark workloads' closed loop ---------------------------------------------


class Loop:
    """The closed loop of a one-client Spark workload: warm-up ops, then
    whole rounds of ops until ``ctx.seconds`` have passed. When tracing,
    every op runs plain and then again traced on the same item; the traced
    copy collects the probe's Spark counters and runs the workload's
    replay. ``layers`` holds the notes of timed ops only."""

    def __init__(self, ctx, probe=None):
        self.ctx = ctx
        self.tracer = ctx.tracer
        self.probe = probe
        self.log = OpLog()
        self.layers: dict[str, list] = {}
        #: (item, latency ms) of every timed plain op
        self.plain: list[tuple] = []
        self.setup_s = self.wall_s = 0.0
        self._next_id = 0

    def note(self, key, value) -> None:
        self.layers.setdefault(key, []).append(value)

    def run(self, attempt, warmup, rounds, targets=()) -> None:
        """``attempt(item, op_id, out, traced)`` returns ``(op, check,
        after)``: ``op`` and ``check`` go to ``OpLog.run``, and ``after``
        (or None) runs once a traced op has ended, still inside it. ``out``
        is a fresh directory, removed when the op is done. ``warmup`` is a
        list of items; ``rounds`` yields lists of items, and the clock is
        read between rounds. ``targets`` are wrapped by ``patched``."""
        ctx, tracer = self.ctx, self.tracer
        warm = OpLog()
        with patched(tracer, targets) if tracer else nullcontext():
            for item in warmup:
                self._one(attempt, warm, item, False)
            self.layers.clear()
            self.plain.clear()
            ctx.mark("warm-up")
            self.setup_s = time.perf_counter() - ctx.t0
            t_start = time.perf_counter()
            for items in rounds:
                if time.perf_counter() - t_start >= ctx.seconds:
                    break
                for item in items:
                    self._one(attempt, self.log, item, False)
                    if tracer:
                        self._one(attempt, self.log, item, True)
            self.wall_s = time.perf_counter() - t_start
        self.log.absorb_failures(warm)

    def _one(self, attempt, log: OpLog, item, traced: bool) -> None:
        op_id = self._next_id
        self._next_id += 1
        out = self.ctx.mkdir("op", str(op_id))
        try:
            op, check, after = attempt(item, op_id, out, traced)
            if not traced:
                lat, _ = log.run(op, check)
                self.plain.append((item, lat * 1e3))
                return
            with self.tracer.op(op_id):
                self.probe.begin(op_id)
                lat, _ = log.run(op, check)
                t = time.perf_counter()
                for k, v in self.probe.end().items():
                    self.note(f"spark.{k}", v)
                if after is not None:
                    after()
                self.note("traced_ms", lat * 1e3)
                self.note("replay_ms", (time.perf_counter() - t) * 1e3)
        finally:
            shutil.rmtree(out, ignore_errors=True)


# -- processes ---------------------------------------------------------------


def _children_of(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            kids.append(int(entry))
    return kids


def descendants() -> list[int]:
    """Every process below this one (Spark's JVM and its Python workers)."""
    todo, out = [os.getpid()], []
    while todo:
        for k in _children_of(todo.pop()):
            out.append(k)
            todo.append(k)
    return out


def reap(pids: list[int]) -> None:
    """Wait for ``pids`` to end; SIGKILL whatever is left after
    REAP_TIMEOUT_S."""
    deadline = time.monotonic() + REAP_TIMEOUT_S
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            break
        time.sleep(0.1)
    for p in pids:
        if os.path.exists(f"/proc/{p}") and not _zombie(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for p in pids:
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass


def peak_rss_kb(pid: int) -> int:
    """Peak resident set (VmHWM, kB) of a live process; 0 once it ended."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


class Result:
    """What a workload hands back: its op log, timed wall, setup time,
    stored/input byte ratio, per-layer metrics (traced run only) and input
    sizes for the report."""

    def __init__(self, log, wall_s, setup_s, stored_ratio, layers=None, info=None):
        self.log = log
        self.wall_s = wall_s
        self.setup_s = setup_s
        self.stored_ratio = stored_ratio
        self.layers = layers or {}
        self.info = info or {}
