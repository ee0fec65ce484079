#!/usr/bin/env python
"""Benchmark: run every declared query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with the noop sink (full pipeline runs, no driver
collect cost). One untimed warmup amortizes JVM/codegen startup.

Position-robustness flags (VERDICT r8 what's-wrong #2: suite-position
sensitivity was the dominant source of false bench signals five rounds
running — per-query numbers were only interpretable with per-round
isolated probes):

* ``--order=declared`` (default) runs ALL_QUERIES in registration
  order (CONTRACT window first) — the historical, comparable ordering.
* ``--order=seeded-shuffle --seed N`` runs the same suite in a
  deterministic shuffled order: two runs with DIFFERENT seeds whose
  per-query medians agree bound the position effect empirically
  instead of re-litigating it query by query every round.
* ``--only q1,q2`` benches a subset — launch one process per suspect
  query for a genuinely fresh-JVM sentinel probe (in-process "fresh
  session" is impossible: a restarted SparkSession reuses the warm
  JVM, JIT state, and codegen cache, which is exactly the contested
  context).
* ``--out NAME`` names the artifact explicitly. Without it the
  auto-name bench_full[_sf*][_runK].json REFUSES to overwrite an
  existing file (appends _runK) — a degraded late-session run can no
  longer clobber the canonical artifact (VERDICT r8
  what's-wrong #1). ``--out`` itself also refuses an existing file
  unless ``--force`` is given (ADVICE r9: --out bypassed the
  no-clobber guard entirely).

Machine-state preflight + postflight (VERDICT r9 item 1, extended in
round 10): before the warm pass AND after the timed pass, the suite
probes the ``SENTINELS`` (warm median-of-3 each) against pinned
clean-state values — x3 for compute throughput, q17 for per-job fixed
latency (two distinct degradation modes; pins and gates documented at
the ``SENTINELS`` definition, sourced from BASELINE.md). A probe over
its gate tags the artifact ``machine_state:"degraded"`` (both probe
dicts are always recorded), and ``--strict-preflight`` refuses a
degraded start — so a canonical-vs-driver disparity is self-diagnosing
in the artifact instead of re-litigated every round. Round 11
(VERDICT r10 item 7): a degraded reading now RETRIES up to 3× with
45 s waits — the proven degradation mode is transient CPU-steal
episodes, so the gate waits them out and the artifact records the
reading history; only a host bad for minutes still tags degraded.
Only applies at sf0.1 (the pins' scale); ``--skip-preflight``
disables it.


The artifact always records ``order_mode``/``order_seed``/
``suite_order`` (execution order) so any per-query comparison across
artifacts can first check the positions being compared.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- host/JVM CPU accounting (VERDICT r11 item 3) -------------------
# Wall-clock alone cannot distinguish a plan regression from a host
# CPU-steal episode (the mechanism behind every disputed number in
# rounds 9-11: dozens of untouched sub-second queries read 2-2.5x in
# one sample while the same code read clean in another). Each timed
# query therefore also records, from /proc:
#   * host_cpu_sec  — aggregate non-idle CPU ticks across all cores
#     (the bench runs alone, so this is attributable to the query);
#   * steal_sec     — the hypervisor steal ticks over the same window
#     (>0 means the host was descheduled: wall inflates, CPU doesn't);
#   * jvm_cpu_sec   — the driver JVM's own process CPU
#     (OperatingSystemMXBean.getProcessCpuTime), excluding Python
#     workers but immune to /proc parsing surprises.
# A reading with wall >> cpu and steal > 0 is a degraded sample, not a
# regression — self-diagnosing in the artifact instead of re-litigated
# round over round. Pure additions: the timed region, methodology and
# stdout contract are unchanged.

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _host_cpu_ticks():
    """(busy_ticks, steal_ticks) from the aggregate /proc/stat cpu line,
    or (None, None) off-linux."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        # cpu user nice system idle iowait irq softirq steal guest ...
        vals = [int(v) for v in parts[1:9]]
        user, nice, system, _idle, _iowait, irq, softirq, steal = vals
        return user + nice + system + irq + softirq, steal
    except Exception:
        return None, None


_JVM_PID = None


def _jvm_cpu_sec(spark):
    """Driver-JVM process CPU seconds from /proc/<pid>/stat (utime +
    stime across all JVM threads), or None. The MXBean route
    (getProcessCpuTime) is blocked by the module system on JDK 17, so
    read the kernel's accounting directly."""
    global _JVM_PID
    try:
        if _JVM_PID is None:
            _JVM_PID = int(
                spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            )
        with open(f"/proc/{_JVM_PID}/stat") as fh:
            parts = fh.read().rsplit(")", 1)[1].split()
        # fields after the comm field: index 11 = utime, 12 = stime
        return (int(parts[11]) + int(parts[12])) / _CLK_TCK
    except Exception:
        return None


class _CpuMeter:
    """Deltas of host busy/steal ticks and JVM CPU around a timed run."""

    def __init__(self, spark):
        self.spark = spark

    def start(self):
        self._busy, self._steal = _host_cpu_ticks()
        self._jvm = _jvm_cpu_sec(self.spark)

    def stop(self):
        busy, steal = _host_cpu_ticks()
        jvm = _jvm_cpu_sec(self.spark)
        out = {}
        if busy is not None and self._busy is not None:
            out["cpu"] = round((busy - self._busy) / _CLK_TCK, 3)
            out["steal"] = round((steal - self._steal) / _CLK_TCK, 3)
        if jvm is not None and self._jvm is not None:
            out["jvm_cpu"] = round(jvm - self._jvm, 3)
        return out


# Two sentinels, two failure modes (round-10: the r9 single-sentinel
# design missed one of them):
# * x3 (COMPUTE-bound, ~3.5 s of shuffle/hash work): catches throughput
#   degradation. Pin from the clean-state r9/r10 canonical artifacts
#   (3.4-4.1 s; degraded late-session reads 7.2-7.6 s) — gate 1.3×.
# * q17 (PER-JOB-LATENCY-bound, a ~0.3 s scalar query whose wall is
#   dominated by fixed job round-trips): catches the many-small-jobs
#   tax that inflated sub-second queries 3-9× in the first r10 run
#   while x3 stayed clean. Steady-state 0.28-0.39 s, early-process
#   (partially JIT-compiled) up to ~0.63 s, degraded 1.3 s — pin 0.45,
#   gate 2.0× (0.9 s) separates legitimate early-process values from
#   the degraded population.
SENTINELS = [
    ("x3_minhash_lsh_dedup", 3.9, 1.3),
    ("q17_scalars", 0.45, 2.0),
]


def run_preflight(spark, sf_dir: str, all_queries, sentinels=None) -> dict:
    """Warm median-of-3 sentinel probes → machine-state verdict dict.

    ``sentinels``: probe subset (default: all). The mid-suite probe
    runs q17 only — the per-job-latency mode is the one documented to
    arise DURING a run (r10 canonical: q17 0.2→1.3 s mid-suite while
    compute-bound x3 stayed clean), and a mid-suite x3 would add ~16 s
    of compute between timed queries for a mode the pre/post pair
    already brackets."""
    probes = []
    state = "ok"
    for name, pinned, max_ratio in (sentinels or SENTINELS):
        fn = all_queries[name].fn
        force(fn(spark, sf_dir))  # untimed: absorb codegen/caches
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        med = sorted(samples)[1]
        ratio = med / pinned
        if ratio > max_ratio:
            state = "degraded"
        probes.append(
            {
                "sentinel": name,
                "pinned_sec": pinned,
                "measured_sec": round(med, 3),
                "samples": [round(s, 3) for s in samples],
                "ratio": round(ratio, 3),
                "max_ratio": max_ratio,
            }
        )
    return {"probes": probes, "machine_state": state}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--order", choices=["declared", "seeded-shuffle"], default="declared"
    )
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument(
        "--only", default=None,
        help="comma-separated query names: bench only these",
    )
    ap.add_argument(
        "--out", default=None,
        help="artifact filename (default: auto bench_full[_sf*].json, "
        "never overwriting an existing file)",
    )
    ap.add_argument(
        "--skip-overhead", action="store_true",
        help="skip the prov/element overhead probes (subset/shuffle runs "
        "re-measure query time only)",
    )
    ap.add_argument(
        "--force", action="store_true",
        help="allow --out to overwrite an existing artifact",
    )
    ap.add_argument(
        "--skip-preflight", action="store_true",
        help="skip the machine-state sentinel probe",
    )
    ap.add_argument(
        "--strict-preflight", action="store_true",
        help="refuse to run (exit 3) when the sentinel probe reads "
        "degraded, instead of tagging the artifact",
    )
    ap.add_argument(
        "--cold", action="store_true",
        help="skip the full untimed warm pass (pre-r9 behavior): timings "
        "then include each query's one-time codegen-compile latency, "
        "charged to whichever query in the suite order first uses each "
        "expression shape",
    )
    args = ap.parse_args()

    here = os.path.dirname(os.path.abspath(__file__))
    if args.out and not args.force and os.path.exists(
        os.path.join(here, args.out)
    ):
        # fail BEFORE the ~20-minute suite, not at artifact-write time
        # (review finding: the late check threw the whole run away)
        raise SystemExit(
            f"--out {args.out} exists; pass --force to overwrite"
        )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from samba_spark.queries import ALL_QUERIES
    from samba_spark.session import get_spark

    spark = get_spark(app_name="samba_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup (untimed): JVM JIT, whole-stage-codegen compilation, parquet
    # footer caches, OS page cache for every fixture file, the streaming
    # replay machinery, and the higher-order-function expression shapes
    # (~5 s one-time codegen each). Without this the first few timed
    # queries absorb one-time costs that have nothing to do with their
    # plans — measured: a fully cold suite reads ~1.5× slower end-to-end.
    from samba_spark.sources.tables import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.count()
    for warm_q in ("q1_scan_count", "q31_stream_tumbling", "x6_text_stats"):
        if warm_q in ALL_QUERIES:
            force(ALL_QUERIES[warm_q].fn(spark, sf_dir))

    # machine-state preflight (VERDICT r9 item 1): only at sf0.1 (the
    # pin's scale) and only when the sentinel is in the suite
    preflight = None
    if (
        not args.skip_preflight
        and sf == 0.1
        and all(n in ALL_QUERIES for n, _, _ in SENTINELS)
        and not args.only
    ):
        # self-healing gate (VERDICT r10 item 7: the driver's r10
        # artifact was a degraded-host sample — proven 16-18% CPU-steal
        # EPISODES, i.e. transient): a degraded first reading waits the
        # episode out and re-probes before tagging, so the committed
        # artifact is degraded only if the host stays bad for minutes
        history = []
        preflight = run_preflight(spark, sf_dir, ALL_QUERIES)
        history.append(preflight["machine_state"])
        while preflight["machine_state"] == "degraded" and len(history) <= 3:
            print(
                f"preflight degraded (reading {len(history)}): waiting "
                "45 s for the steal episode to pass",
                file=sys.stderr,
            )
            time.sleep(45)
            preflight = run_preflight(spark, sf_dir, ALL_QUERIES)
            history.append(preflight["machine_state"])
        preflight = {**preflight, "readings": history}
        print(
            f"preflight: {json.dumps(preflight, separators=(',', ':'))}",
            file=sys.stderr,
        )
        if preflight["machine_state"] == "degraded" and args.strict_preflight:
            print(
                json.dumps(
                    {"error": "preflight_degraded", "preflight": preflight},
                    separators=(",", ":"),
                )
            )
            raise SystemExit(3)

    # Sub-2 s queries are re-run and reported as the MEDIAN of 3 samples:
    # at that duration single-shot VM scheduling noise is ±0.3-0.5 s, which
    # round-over-round reads as a fake >15% regression (VERDICT r3: x42
    # 1.00→1.97 s and q29 0.35→0.62 s were indistinguishable from real
    # ones). Queries ≥2 s keep the single timed run — their signal already
    # dominates the noise and re-running them would triple suite cost
    # exactly where it is most expensive.
    # q41 is 10 fixed power iterations = ~11 scheduled jobs; its absolute
    # jitter is the suite's largest (measured: 4.78-6.99 s across three
    # identical isolated runs at sf0.1), so it always gets the median
    # treatment even though it exceeds the 2 s cutoff.
    always_median = {"q41_pagerank"}
    names = list(ALL_QUERIES)
    if args.only:
        wanted = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = [n for n in wanted if n not in ALL_QUERIES]
        if unknown:
            raise SystemExit(f"--only: unknown queries {unknown}")
        names = [n for n in names if n in set(wanted)]
    if args.order == "seeded-shuffle":
        random.Random(args.seed).shuffle(names)

    # WARM-SUITE pass (default since r9; --cold restores the old
    # behavior): execute every query once UNTIMED before the timed
    # pass. Root cause of five rounds of position-sensitivity noise
    # (VERDICT r8 what's-wrong #2), established by isolated probes this
    # round: whole-stage-codegen compilation of each expression shape
    # is paid ONCE per JVM by the FIRST query that uses it (x44 cold
    # 7.7 s → warm 1.0 s), so window rotation silently reassigns those
    # costs to different queries every round; worse, when a sub-2 s
    # query pays, its median-of-3 HIDES the cost (median of [7.7, 1.2,
    # 1.2] = 1.2) while a ≥2 s single-sample payer keeps it — the suite
    # TOTAL itself depended on the rotation. The warm pass charges
    # codegen to nobody, making per-query numbers position-independent
    # plan costs — the number a 100 TB capacity decision actually
    # needs, where per-job codegen milliseconds amortize to nothing.
    if not args.cold:
        for name in names:
            force(ALL_QUERIES[name].fn(spark, sf_dir))
        # settle barrier (round-10): the warm pass leaves cleanup debt
        # behind — ContextCleaner queues for ~261 queries of shuffles/
        # broadcasts/localCheckpoints, streaming state-store maintenance,
        # JVM GC backlog — and without a drain it leaks into whichever
        # queries the timed pass runs FIRST (run3: the first ~8 timed
        # queries read 2-7x their steady state with clean sentinels on
        # both sides; run1's mid-pass q31 9.5x is the same debt arriving
        # later). Two explicit GCs with settle sleeps give the cleaner
        # and maintenance threads a window to drain before timing starts.
        jvm_system = spark.sparkContext._jvm.java.lang.System
        for _ in range(2):
            jvm_system.gc()
            time.sleep(10)

    timings: dict[str, float] = {}
    query_diag: dict[str, dict] = {}
    total = 0.0
    meter = _CpuMeter(spark)
    # midflight sentinel (VERDICT r11 items 1/3): the pre/postflight
    # gates cannot see a steal episode that starts and ends DURING the
    # timed pass; one q17 probe at the suite midpoint (between queries,
    # never inside a timed window) bounds when a mid-run degradation
    # began. Recorded as its own artifact key; total/queries unchanged.
    midflight = None
    mid_at = len(names) // 2 if preflight is not None and len(names) > 40 else None
    for qi, name in enumerate(names):
        if mid_at is not None and qi == mid_at:
            midflight = run_preflight(
                spark, sf_dir, ALL_QUERIES, sentinels=SENTINELS[1:]
            )
        spec = ALL_QUERIES[name]
        samples = []
        diag = {"wall": [], "cpu": [], "steal": [], "jvm_cpu": []}

        def _one_sample():
            meter.start()
            t0 = time.perf_counter()
            force(spec.fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            c = meter.stop()
            samples.append(dt)
            diag["wall"].append(round(dt, 4))
            for k in ("cpu", "steal", "jvm_cpu"):
                if k in c:
                    diag[k].append(c[k])

        _one_sample()
        if samples[0] < 2.0 or name in always_median:
            for _ in range(2):
                _one_sample()
        dt = sorted(samples)[len(samples) // 2]
        timings[name] = round(dt, 4)
        query_diag[name] = {k: v for k, v in diag.items() if v}
        total += dt

    # POSTFLIGHT (round-10): the r10 canonical retry found a mode the
    # PRE-flight cannot see — per-job fixed-latency inflation arising
    # DURING the run (q31 1.2→11.2 s, q17 0.2→1.3 s mid-suite while
    # compute-bound x3 stayed clean). Re-probing the sentinel after the
    # timed pass bounds when the degradation started: preflight ok +
    # postflight degraded = the run itself is suspect; both ok = the
    # numbers are attributable to the plans.
    postflight = None
    if preflight is not None:
        postflight = run_preflight(spark, sf_dir, ALL_QUERIES)

    if args.skip_overhead:
        prov_ratio = elem_ratio = elem_ratio_10x = None
    else:
        prov_ratio = measure_prov_overhead(spark, sf_dir)
        elem_ratio = measure_element_overhead(spark, sf_dir)
        elem_ratio_10x = measure_element_overhead(spark, sf_dir, replicate=10)

    payload = {
        "metric": "declared_query_suite_wall_clock",
        "value": round(total, 4),
        "unit": "sec",
        "queries": timings,
        "n_queries": len(timings),
        "sf": sf,
        "warmth": "cold" if args.cold else "warm",
        "preflight": preflight,
        "postflight": postflight,
        "machine_state": (
            None
            if preflight is None
            else (
                "ok"
                if preflight["machine_state"] == "ok"
                and (postflight is None or postflight["machine_state"] == "ok")
                else "degraded"
            )
        ),
        "midflight": midflight,
        "order_mode": args.order,
        "order_seed": args.seed if args.order == "seeded-shuffle" else None,
        "suite_order": names,
        # per-query CPU/steal diagnostics (full artifact only — the
        # bounded stdout window gets the same 20-slowest treatment as
        # the queries map via the compact-line filter below)
        "query_diag": query_diag,
        "prov_overhead_ratio": prov_ratio,
        "element_overhead_ratio": elem_ratio,
        # The SCALE-TRACKING element-capture number (VERDICT r7 what's-
        # wrong #1): the same pipeline at 10× rows. The plain ratio's
        # denominator is a 0.54 s pipeline where two constant ~0.15 s
        # parquet-append JOB latencies are 78% of the measured "cost" —
        # its round-over-round drift (1.53→1.76→1.83) tracked the
        # denominator shrinking, not capture getting slower. At 10× rows
        # fixed job latency is <20% of wall and the ratio reads the
        # per-row cost the ≤2× budget is actually about.
        "element_overhead_ratio_10x": elem_ratio_10x,
    }

    # stdout is read through a bounded window: a full 200+-entry
    # per-query map once pushed the JSON line past it. The FULL payload
    # is persisted to bench_full[_sf*].json below; stdout gets ONE
    # compact final line — same metric/value/unit/queries/sf contract,
    # with the per-query map bounded to the 20 slowest queries and a
    # pointer to the full file.
    here = os.path.dirname(os.path.abspath(__file__))
    # The canonical artifact is the sf0.1 run. Ad-hoc runs at other SFs
    # get an SF-qualified name so they can never clobber the baseline.
    suffix = "" if sf == 0.1 else f"_sf{sf}"
    if args.out:
        full_name = args.out
        if os.path.exists(os.path.join(here, full_name)) and not args.force:
            # ADVICE r9: --out must never clobber silently. The early
            # pre-suite check already refused this case; if the file
            # appeared DURING the run (concurrent runner), fall back to
            # a non-clobber name rather than losing 20 minutes of
            # measurements to a SystemExit at write time.
            base = full_name[:-5] if full_name.endswith(".json") else full_name
            k = 2
            while os.path.exists(os.path.join(here, full_name)):
                full_name = f"{base}_run{k}.json"
                k += 1
            print(
                f"--out target existed; writing {full_name} instead",
                file=sys.stderr,
            )
    else:
        full_name = f"bench_full{suffix}.json"
        # NEVER overwrite an existing artifact (VERDICT r8 what's-wrong
        # #1: a degraded end-of-session run clobbered the canonical
        # best-of-3 under the same name) — later runs get distinct _runK
        # names; promoting one to canonical is a deliberate rename, not
        # a side effect.
        k = 2
        while os.path.exists(os.path.join(here, full_name)):
            full_name = f"bench_full{suffix}_run{k}.json"
            k += 1
    with open(os.path.join(here, full_name), "w") as fh:
        json.dump(payload, fh, indent=1)

    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:20]
    )
    # suite_order (252 names) would blow the driver's bounded stdout
    # window the same way the full per-query map did in round 4
    compact = {
        **{
            k: v
            for k, v in payload.items()
            if k not in ("queries", "suite_order", "query_diag")
        },
        "queries": {k: round(v, 2) for k, v in slowest.items()},
        "queries_shown": "20 slowest",
        "queries_full": full_name,
    }
    print(json.dumps(compact, separators=(",", ":")))


def measure_prov_overhead(spark, sf_dir: str) -> float:
    """BASELINE.md bound: task-level provenance ON must stay ≤ 2× OFF.
    Runs a representative pipeline (scan→filter→join→agg→sort) through
    ProvSession both ways and reports the wall-clock ratio."""
    import tempfile

    from pyspark.sql import functions as F

    from samba_spark.session import ProvSession

    def pipeline(enabled: bool) -> float:
        eng = ProvSession(
            spark,
            name="bench_prov",
            provenance=enabled,
            prov_dir=tempfile.mkdtemp(),
        )
        t0 = time.perf_counter()
        orders = eng.read_parquet(f"{sf_dir}/orders.parquet", "orders")
        customer = eng.read_parquet(f"{sf_dir}/customer.parquet", "customer")
        big = orders.where(F.col("o_totalprice") > 50000)
        joined = big.join(
            customer,
            on=big.raw.o_custkey == customer.raw.c_custkey,
            how="inner",
        )
        agged = joined.group_by("c_mktsegment").agg(
            F.round(F.sum("o_totalprice"), 2).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        agged.order_by("c_mktsegment").collect()
        eng.store.flush()  # task rows are driver-buffered; count their write
        dt = time.perf_counter() - t0
        eng.stop()
        return dt

    # min-of-3 after a warmup: the VM's scheduling noise is ±20% on a
    # single ~1 s pipeline run, and min() is the standard noise-floor
    # estimator for a deterministic workload.
    pipeline(False)  # warm
    off = min(pipeline(False) for _ in range(3))
    on = min(pipeline(True) for _ in range(3))
    return round(on / off, 3) if off > 0 else -1.0


def measure_element_overhead(spark, sf_dir: str, replicate: int = 1) -> float:
    """SURVEY §6's ≤2× budget where it actually bites: ELEMENT-level
    capture (``with_elements()`` + ``persist_elements()``) vs the same
    pipeline with provenance fully off. Task-level overhead (above) is
    ~1.0×; element capture adds per-row id columns, dep tracking, and the
    parquet append of elements/element_deps — this pins that cost
    explicitly instead of inferring it from the task-level number.

    ``replicate`` scales the input ROW COUNT (each order row explodes
    into N copies) without touching the plan shape: at replicate=1 the
    sf0.1 pipeline is ~0.5 s of which two constant ~0.15 s write-JOB
    latencies dominate, so the ratio reads fixed latency, not per-row
    cost; replicate=10 is the scale-tracking variant reported as
    ``element_overhead_ratio_10x``."""
    import tempfile

    from pyspark.sql import functions as F

    from samba_spark.session import ProvSession

    def pipeline(elements: bool) -> float:
        eng = ProvSession(
            spark,
            name="bench_elem",
            provenance=elements,
            prov_dir=tempfile.mkdtemp(),
        )
        t0 = time.perf_counter()
        orders = eng.read_parquet(f"{sf_dir}/orders.parquet", "orders")
        if replicate > 1:
            # row-count scaling via a literal-array explode: one scan,
            # same operators, N× rows on BOTH the off and on paths
            orders = orders.with_column(
                "_reps", F.array(*[F.lit(i) for i in range(replicate)])
            ).explode_col("_reps", "_rep")
        if elements:
            orders = orders.with_elements()
        big = orders.where(F.col("o_totalprice") > 150000)
        proj = big.select("o_orderkey", "o_custkey", "o_totalprice")
        if elements:
            proj.persist_elements()
        # BOTH paths materialize the result, and the ON path flushes the
        # store INSIDE the timed window: persist_elements only buffers
        # lazy element/dep plans (ProvStore defers the parquet appends to
        # one job per table), so without the flush the capture cost would
        # escape the timer entirely — an earlier version of this function
        # made exactly that mistake and reported ratios below 1.
        proj.collect()
        eng.store.flush()
        dt = time.perf_counter() - t0
        eng.stop()
        return dt

    pipeline(False)  # warm
    off = min(pipeline(False) for _ in range(3))
    on = min(pipeline(True) for _ in range(3))
    return round(on / off, 3) if off > 0 else -1.0


if __name__ == "__main__":
    main()
