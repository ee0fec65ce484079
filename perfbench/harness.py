"""Measurement plumbing shared by the workloads.

* ``Tracer`` records spans (name, start, end, parent, request id) around
  the benchmark's calls into each engine layer. Off, it costs one
  attribute test per call site. On, every span also runs in its own Spark
  job group, and ``Tracer.patch`` wraps engine functions that other engine
  code calls (so a span can sit around a call the benchmark does not make
  itself, e.g. the query a web handler runs).
* ``SparkCounters`` reads the scheduler's job and stage id sequences, so
  the jobs, stages and tasks of any window are counted exactly, whichever
  thread submitted them.
* ``CpuMeter`` reads host busy/steal ticks and JVM CPU with bench.py's
  /proc readers, the JVM's peak RSS from /proc, and JVM GC time from the
  GC MXBeans.
* ``run_workload`` is the loop every workload shares: repeated set-up,
  warm-up, the timed window (with a traced half in traced mode), gates.
"""

from __future__ import annotations

import itertools
import os
import resource
import statistics
import threading
import time
from contextlib import contextmanager

from bench import _host_cpu_ticks, _jvm_cpu_sec

CLK_TCK = os.sysconf("SC_CLK_TCK")
SETUP_REPEATS = 3


# -- statistics --------------------------------------------------------------
def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, min_beyond: int = 10):
    """Value at the highest percentile that has at least ``min_beyond``
    samples beyond it, with that percentile; ``(None, None)`` when there are
    too few samples for one."""
    n = len(values)
    if n <= min_beyond:
        return None, None
    k = n - min_beyond - 1
    return sorted(values)[k], round(100.0 * (k + 1) / n, 2)


def latency_summary(values) -> dict:
    value, pct = tail(values)
    return {
        "n": len(values),
        "p50_s": median(values),
        "tail_s": value,
        "tail_pct": pct,
    }


# -- /proc readers -------------------------------------------------------------
# Host busy/steal ticks and JVM CPU come from bench.py's readers; only the
# peak-RSS and GC readers below are the benchmark's own.
def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def self_peak_rss_kb() -> int:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss


class CpuMeter:
    """Host busy/steal ticks and JVM CPU, read around each op."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self.spark = spark
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        _jvm_cpu_sec(spark)  # caches the JVM pid while this session is live

    def read(self) -> tuple:
        busy, steal = _host_cpu_ticks()
        return busy, steal, _jvm_cpu_sec(self.spark)

    @staticmethod
    def delta(a: tuple, b: tuple) -> dict:
        return {
            "host_cpu_s": (b[0] - a[0]) / CLK_TCK,
            "host_steal_ticks": b[1] - a[1],
            "jvm_cpu_s": b[2] - a[2],
        }

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def peak_rss_mb(self) -> tuple:
        """(JVM VmHWM, benchmark process peak RSS) in MB."""
        return vm_hwm_kb(self.jvm_pid) / 1024.0, self_peak_rss_kb() / 1024.0


# -- Spark counters ------------------------------------------------------------
class SparkCounters:
    """Jobs/stages/tasks between two marks. Job and stage ids are one
    sequence per SparkContext, so ``mark()`` is two counter reads and a
    window covers jobs from every thread (web handlers, async flushes)."""

    def __init__(self, sc):
        self.sc = sc
        self._dag = sc._jsc.sc().dagScheduler()

    def mark(self) -> tuple:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def drain(self) -> None:
        """Wait until the status store has seen every finished task."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def window(self, start: tuple, end: tuple) -> dict:
        tracker = self.sc.statusTracker()
        stages = tasks = 0
        for sid in range(start[1], end[1]):
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        return {"jobs": end[0] - start[0], "stages": stages, "tasks": tasks}


# -- tracing -------------------------------------------------------------------
class Tracer:
    """In-memory spans. ``span()`` nests per thread; a span opened on a
    thread with no open span (a web handler thread) nests under the op
    thread's innermost open span. Spans are written out when the run ends."""

    def __init__(self, sc, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list = []
        self._cached: list = []
        self.op_span = None
        self._op_stack = None

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, rec) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span timed without the tracer (e.g. Spark start-up,
        which happens before there is a SparkContext to group jobs in)."""
        if self.enabled:
            with self._lock:
                self.spans.append(
                    {"id": next(self._ids), "name": name, "parent": None,
                     "request": None, "start": start, "end": end, **attrs}
                )

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:  # another thread working for the op: nest under its innermost span
            parent = self._op_stack[-1] if self._op_stack else self.op_span
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": self.op_span["request"] if self.op_span else None,
            **attrs,
        }
        rec["group"] = f"perfbench-span-{rec['id']}"
        stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, request: int, kind: str):
        """Root span of one timed operation (a pass or a request)."""
        if not self.enabled:
            yield None
            return
        with self.span("bench.op", kind=kind) as rec:
            rec["request"] = request
            self.op_span, self._op_stack = rec, self._stack()
            try:
                yield rec
            finally:
                self.op_span, self._op_stack = None, None

    def materialize(self, df, rec=None):
        """Traced runs only: cache + count a stage output so the span that
        produced it also contains its execution."""
        if not self.enabled:
            return df
        df = df.cache()
        rows = df.count()
        if rec is not None:
            rec["rows"] = rows
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def current(self):
        """Name of this thread's innermost open span, or None."""
        stack = self._stack()
        return stack[-1]["name"] if stack else None

    def patch(self, target, attr: str, name: str, materialize: bool = False,
              on_result=None, within: str | None = None) -> None:
        """Wrap ``target.attr`` (a module function, a method of a class or
        of an instance) in a span; ``materialize`` caches + counts the
        returned DataFrame inside the span. With ``within``, only calls made
        directly inside a span of that name get one. Undone by ``unpatch``."""
        orig = getattr(target, attr)
        tracer = self

        def traced(*args, **kwargs):
            if within is not None and tracer.current() != within:
                return orig(*args, **kwargs)
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if materialize:
                    out = tracer.materialize(out, rec)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(target, attr, traced)
        self._patches.append((target, attr, orig))

    def unpatch(self) -> None:
        for target, attr, orig in reversed(self._patches):
            setattr(target, attr, orig)
        self._patches.clear()

    # -- analysis ------------------------------------------------------------
    @staticmethod
    def self_times(spans) -> dict[int, float]:
        """Span id → duration minus the union of its children's intervals
        (children may run on other threads and overlap each other)."""
        children: dict = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in spans:
            ivs = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def spans_of_ops(self, requests) -> list[dict]:
        keep = set(requests)
        return [s for s in self.spans if s.get("request") in keep]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def job_counts(self) -> None:
        """Attach each span's own Spark jobs (its job group) to the span."""
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if "group" in s:
                s["jobs"] = len(tracker.getJobIdsForGroup(s["group"]))


# -- the shared run loop -----------------------------------------------------
LAYERS = (
    "session", "wrapper", "store", "queries", "webapi", "filegroup",
    "blackbox", "artifacts", "dedup", "graph", "textual", "bench",
)
# Counts and ratios of layers a workload may not touch: 0 there, which is
# the "little work on" prediction the README maps for each layer.
LAYER_COUNTS = (
    "wrapper.tasks", "wrapper.overhead_x", "store.elements", "store.deps",
    "store.bytes", "store.files", "queries.walk_hops", "queries.rows_out",
    "queries.walk_useful_hop_ratio", "webapi.bytes_out", "filegroup.jobs",
    "blackbox.execs", "blackbox.bytes_staged", "blackbox.exec_ratio",
    "artifacts.files", "artifacts.blobs_new", "artifacts.new_blob_ratio",
    "dedup.candidate_pairs", "dedup.pair_precision",
)


def _timed_phase(wl, ctx, seconds: float, first_request: int) -> list[dict]:
    """Run ops until ``seconds`` of op time have elapsed and the last
    cycle of the workload's op schedule (``wl.cycle`` ops) is complete, so
    every window holds the same mix. Bookkeeping between ops is not
    timed."""
    recs: list[dict] = []
    elapsed = 0.0
    i = first_request
    while elapsed < seconds or len(recs) % wl.cycle:
        kind = wl.kind(i)
        mark0 = ctx.counters.mark()
        cpu0 = ctx.meter.read()
        failure = None
        t0 = time.perf_counter()
        with ctx.tracer.op(i, kind):
            try:
                info = wl.op(i)
            except Exception as e:  # noqa: BLE001 — a failed op is a result
                info, failure = {}, f"{type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t0
        rec = {"request": i, "kind": kind, "seconds": dt,
               "items": info.get("items", 1), "failure": failure,
               "marks": (mark0, ctx.counters.mark()),
               **ctx.meter.delta(cpu0, ctx.meter.read())}
        if failure is None:
            try:
                wl.after_op(i, info, rec)
            except Exception as e:  # noqa: BLE001
                rec["failure"] = f"check {type(e).__name__}: {str(e)[:300]}"
        ctx.tracer.release()
        recs.append(rec)
        elapsed += dt
        i += 1
        if len(recs) >= 5 and all(r["failure"] for r in recs):
            break  # every op failing: stop, the result is already wrong
    return recs


def phase_summary(wl, recs: list[dict]) -> dict:
    """``ops_per_s`` is the rate of the workload's fixed mix: items per
    op over seconds per op, each the mix-weighted mean over op kinds.
    ``op_p50_s`` is the mix-weighted mean of each kind's median latency
    (the median pass for a batch workload), so a median never lands on
    the boundary between two kinds of different cost."""
    items = seconds = p50 = 0.0
    for kind, share in wl.mix.items():
        mine = [r for r in recs if r["kind"] == kind]
        if mine:
            items += share * statistics.mean(r["items"] for r in mine)
            seconds += share * statistics.mean(r["seconds"] for r in mine)
            p50 += share * median([r["seconds"] for r in mine])
    return {
        "ops": len(recs),
        "ops_per_s": items / seconds if seconds else 0.0,
        "op_p50_s": p50,
    }


def run_workload(wl, ctx) -> dict:
    """Set up ``SETUP_REPEATS`` times (a SparkSession restart plus the
    workload's inputs and store; the median is ``setup_s``), warm up, run
    the timed window, then the correctness gates. In traced mode the window
    is split: an untraced half, then a traced half for the per-layer
    numbers; their ratio is the tracing overhead."""
    tracer, meter = ctx.tracer, ctx.meter
    setups = []
    for k in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        with tracer.span("session.restart"):
            ctx.restart_spark()
        with tracer.span("bench.setup", repeat=k):
            wl.setup(k)
        setups.append(time.perf_counter() - t0)
        tracer.release()
    counters = ctx.counters
    wl.warmup()
    tracer.release()

    gc0 = meter.gc_s()
    if ctx.traced:
        tracer.enabled = False
        plain = _timed_phase(wl, ctx, ctx.seconds / 2, 0)
        tracer.enabled = True
        wl.install_tracing(tracer)
        try:
            traced = _timed_phase(wl, ctx, ctx.seconds / 2, len(plain))
        finally:
            tracer.unpatch()
    else:
        plain = _timed_phase(wl, ctx, ctx.seconds, 0)
        traced = []
    gc_s = meter.gc_s() - gc0
    jvm_mb, py_mb = meter.peak_rss_mb()

    failures = [f"op {r['request']}: {r['failure']}"
                for r in plain + traced if r["failure"]]
    gate_failures = wl.gate()
    counters.drain()
    for r in plain + traced:
        r.update(counters.window(*r.pop("marks")))

    summary = phase_summary(wl, plain)
    ops = plain + traced
    attempted = len(ops) + len(gate_failures)
    failed = len(failures) + len(gate_failures)
    out = {
        "workload": wl.name,
        "seed": ctx.seed,
        "traced": ctx.traced,
        "item": wl.item,
        "loop": wl.loop,
        "sizes": wl.sizes,
        "setup_runs_s": setups,
        "setup_s": median(setups),
        "ops_per_s": summary["ops_per_s"],
        "op_p50_s": summary["op_p50_s"],
        "peak_rss_mb": jvm_mb + py_mb,
        "peak_rss_split_mb": {"jvm": jvm_mb, "benchmark": py_mb},
        "failed_ratio": failed / attempted if attempted else 1.0,
        "attempted": attempted,
        "failed": failed,
        "failures": (failures + gate_failures)[:20],
        "by_kind": {
            kind: latency_summary([r["seconds"] for r in plain if r["kind"] == kind])
            for kind in sorted({r["kind"] for r in plain})
        },
        "ops": ops,
        "jvm_gc_s": gc_s,
    }
    out.update(wl.extra_metrics(plain))
    if ctx.traced:
        out["layers"] = layer_report(wl, ctx, plain, traced)
    return out


def layer_report(wl, ctx, plain, traced) -> dict:
    """Per-layer numbers from the traced half: self time per layer (and
    its share of op time), counts, Spark/host/JVM per op, overhead."""
    tracer = ctx.tracer
    tracer.job_counts()
    spans = tracer.spans_of_ops([r["request"] for r in traced])
    selfs = tracer.self_times(spans)
    op_time = sum(r["seconds"] for r in traced) or 1.0
    n_ops = max(len(traced), 1)
    per_op: dict[str, float] = {}  # span name → self seconds per traced op
    for s in spans:
        per_op[s["name"]] = per_op.get(s["name"], 0.0) + selfs[s["id"]] / n_ops
    layers: dict = {}
    for layer in LAYERS:
        t = sum(v for k, v in per_op.items() if k.split(".")[0] == layer)
        layers[f"{layer}.self_share"] = t * n_ops / op_time
    for name, t in sorted(per_op.items()):
        layers[f"{name}_self_s_per_op"] = t
    traced_rate = phase_summary(wl, traced)["ops_per_s"]
    plain_rate = phase_summary(wl, plain)["ops_per_s"]
    layers.update({
        "session.start_s": median(tracer.durations("session.start")),
        "session.open_s": median(tracer.durations("session.open")),
        "session.stop_s": median(tracer.durations("session.stop")),
        "store.flush_s": median(tracer.durations("store.flush")),
        "spark.jobs": median([r["jobs"] for r in traced]),
        "spark.stages": median([r["stages"] for r in traced]),
        "spark.tasks": median([r["tasks"] for r in traced]),
        "host.cpu_s": median([r["host_cpu_s"] for r in traced]),
        "host.steal_ticks": sum(r["host_steal_ticks"] for r in plain + traced),
        "jvm.cpu_s": median([r["jvm_cpu_s"] for r in traced]),
        "jvm.gc_s": ctx.meter.gc_s(),
        "trace.overhead_x": plain_rate / traced_rate if traced_rate else 0.0,
    })
    layers.update(dict.fromkeys(LAYER_COUNTS, 0))
    layers.update(wl.layer_metrics(per_op, spans, plain, traced))
    return layers


def store_summary(recs: list[dict]) -> dict:
    """``prov_bytes_per_element`` (median over ops) and the last op's store
    counts, for the full record of workloads that capture elements."""
    stats = [r["store"] for r in recs if "store" in r]
    return {
        "prov_bytes_per_element": median(
            [s["bytes"] / s["elements"] for s in stats if s["elements"]]),
        "store": stats[-1] if stats else {},
    }


def store_metrics(recs: list[dict]) -> dict:
    """Per-layer counts of the store the last checked op wrote
    (``oracles.store_stats`` of it, kept in the op record)."""
    stats = next((r["store"] for r in reversed(recs) if "store" in r), {})
    return {
        "wrapper.tasks": stats.get("tasks", 0),
        "store.elements": stats.get("elements", 0),
        "store.deps": stats.get("deps", 0),
        "store.bytes": stats.get("bytes", 0),
        "store.files": stats.get("files", 0),
    }
