#!/usr/bin/env python
"""Deterministic job/stage counts per declared query (VERDICT r11 item 5).

Host wall-clock on this sandbox is noisy (documented CPU-steal episodes,
r9-r11); Spark job and stage counts are not. This harness runs each named
query inside its own job group and reports, from the public
SparkStatusTracker API:

* n_jobs   — jobs the query's action(s) launched
* n_stages — total stages across those jobs (including skipped/reused)
* per_job  — [(job_id, n_stages), ...] in submission order

The per_job breakdown is the evidence VERDICT r11's what's-wrong #3
asked for: a convergence loop fused to "one job per round" must show
exactly one job per peel/hop/round, and an isEmpty-materialized lazy
localCheckpoint whose remaining partitions backfilled in a LATER job
would appear as extra jobs here. (Stage counts bound the same thing one
level down: a hidden second materialization of a round's checkpoint
shows up as repeated stage subtrees.)

Usage: python tools/job_stage_counts.py [sf_dir] q40_connected_components x124_k_core ...
Writes one line per query to stdout; redirect it into a file of your choice.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = [a for a in sys.argv[1:] if a]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args
    if not names:
        raise SystemExit("usage: job_stage_counts.py [sf_dir] query ...")

    from samba_spark.queries import ALL_QUERIES
    from samba_spark.session import get_spark

    unknown = [n for n in names if n not in ALL_QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="job_stage_counts")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # one untimed warm pass per query: codegen/broadcast warmup jobs
    # must not be charged to the measured run (bench.py's warm-suite
    # rationale; job counts are deterministic AFTER shapes are warm)
    for name in names:
        ALL_QUERIES[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    def _marker(group):
        """A trivial 1-partition job inside ``group`` — brackets the
        query's job-id window. Jobs launched from streaming/pool
        threads do NOT inherit the (thread-local) job group, so the
        group count alone under-reads multi-threaded queries; the
        bracket delta counts EVERY job the query ran regardless of
        submitting thread."""
        sc.setJobGroup(group, "marker")
        spark.range(1).count()
        sc.setJobGroup(None, None)
        return max(tracker.getJobIdsForGroup(group))

    print(f"# job/stage counts at {sf_dir} (warm), spark {spark.version}")
    for name in names:
        group = f"count_{name}_{int(time.time())}"
        lo = _marker(f"{group}_lo")
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        ALL_QUERIES[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        hi = _marker(f"{group}_hi")
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        per_job = []
        n_stages = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            k = len(info.stageIds) if info else -1
            per_job.append((jid, k))
            n_stages += max(k, 0)
        print(
            f"{name}: n_jobs_total={hi - lo - 1} "
            f"n_jobs_grouped={len(job_ids)} n_stages_grouped={n_stages} "
            f"wall={wall:.2f}s per_job={per_job}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
