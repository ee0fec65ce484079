#!/usr/bin/env python
"""Empirical scaling probe: time representative heavy queries at
sf0.001 / sf0.01 / sf0.1 (100× data span) and report the growth ratio per
10× data step. A plan that would melt at 100 TB shows superlinear growth
already at these sizes (the x60 bucket-degeneration regression showed
17× per 10× step before its rebuild); healthy plans show ≤10× (linear in
data) and usually much less while fixed job-scheduling overhead
dominates. Writes a markdown table (default scaling.md). Run from the
repo root:

    python tools/scaling_probe.py [out.md]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# One representative per heavy family: dedup, verify, ANN, sessionize,
# star join, windowed agg, graph iteration, blocking join, CDC, BPE.
PROBES = [
    "x3_minhash_lsh_dedup",
    "x5_ngram_jaccard",
    "x14_ivf_topk",
    "x22_sessionize",
    "q23_star_join",
    "q48_tpch_q1",
    "q16_running_sum",
    "q41_pagerank",
    "x60_rare_token_pairs",
    "q73_stream_cdc",
    "x75_bpe_merge_round",
    # session-3 families: sketch rollups, sequence patterns, stratified
    # split, chained stateful streaming, arrow boundary
    "x80_hll_rollup",
    "x82_bitmap_distinct",
    "x78_sequence_pattern",
    "x79_stratified_split",
    "q84_chained_stateful",
    "x85_arrow_stats",
    # round-4 family: semantic prune (pair graph + CC over embeddings,
    # which scale with SF). x89_phash_dedup is deliberately absent: its
    # declared query runs on a fixed 21-image fixture at every SF, so the
    # probe would measure nothing — its scale argument is analytic
    # (SCALE.md round-4 section: band keys shuffle, image bytes don't).
    "x88_semantic_prune",
    # session-4 families: itemset mining (basket fan-out), exact NDV
    # profile (expand rewrite), deletion-neighborhood string join
    # (dictionary-sized, should be FLAT across SF once distinct names
    # saturate), label propagation (iterative vote rounds), CUSUM
    # change-point (day-carry ladder), TWAP (lead-window + agg).
    "x95_frequent_itemsets",
    "x100_table_profile",
    "x103_levenshtein_pairs",
    "x105_lpa_communities",
    "x108_changepoint",
    "q92_twap",
    "x110_sliding_distinct",
    "x111_incremental_lsh",
    "x112_containment",
    # round-5 replacement for the worst r4 step: bucket-bitmap sliding
    # distinct (shuffle bounded by id-space density, not window x
    # triples). x117 (HLL approx profile) is deliberately absent: its
    # declared query computes the EXACT profile alongside the sketch for
    # the est_ok gate, so probing the query would time the Expand pass
    # it exists to avoid; time table_profile(exact=False) directly
    # instead.
    "x118_sliding_distinct_bitmap",
    # round-6 additions: regime-dispatched sliding distinct (probe +
    # chosen path), Bloom ingest skip-list (bitmap build + broadcast
    # probe), KMV set algebra (bottom-k sketch then metadata-scale pair
    # ops), k-core peeling (degree-agg rounds to the fixed point), Benford digit
    # profile (one hash agg), daily ACF (day rollup + window leads).
    "x121_sliding_distinct_auto",
    "x122_bloom_ingest",
    "x123_kmv_set_ops",
    "x124_k_core",
    "x125_benford",
    "x126_acf",
    # round-7 additions: the JPEG codec pipeline (mapInPandas decode of
    # a fixed 8-image fixture — probes the codec path's fixed cost, the
    # pixel work is SF-independent by design), length-bucket batching
    # economics (one hash agg), winnowed common-substring pairs (dense
    # window hashing + winnowing window + df-capped pair join — the new
    # heavy family),
    # Theil-Sen trend (orders scan + month rollup; the pairwise stage is
    # metadata-scale), SQ8 quantized ANN (two embeddings scans: scale
    # calibration + scoring — embeddings scale with SF).
    "x128_jpeg_pixel_pipeline",
    "x129_length_bucket_packing",
    "x132_common_substring_pairs",
    "x133_theil_sen",
    "x134_int8_ann",
    # round-8 additions: PQ ADC top-k (two embeddings scans: encode +
    # broadcast-query scoring — embeddings scale with SF), frozen
    # MinHash probe (corpus signature/band build + delta-only probe —
    # documents scale with SF; at production scale the build half is
    # amortized, the probe half is the serving cost). x138 quality
    # model is deliberately absent: a single zero-shuffle projection,
    # nothing to probe beyond the scan itself.
    "x136_pq_ann",
    "x137_minhash_probe",
    # composed IVF-PQ (cell gate + ADC over probed cells) and the
    # two-stage truncated rerank (prefix scoring + post-shortlist exact
    # dot) — both scale with the embeddings scan. x140 metrics is
    # absent: its inputs are O(queries × k) tables at every SF.
    "x139_truncated_rerank",
    "x141_ivf_pq_ann",
    # round-8 curation/analytics wave: Lloyd k-means (T assignment +
    # update jobs over the embeddings scan), segment dedup + span
    # decontamination (segment explode + anti join + reassembly —
    # documents scale with SF), JL two-stage retrieval (map-side
    # projection + broadcast-query scoring), char entropy (positional
    # char explode — the corpus in rows), n-gram novelty (shingle
    # explode + three hash aggs). x146/x147/x150/x151 are deliberately
    # absent: their data-bearing pass is one partial-aggregated hash
    # agg (daily rollup / scatter row / contingency / per-source
    # counts) and everything after runs on metadata-scale tables.
    "x142_kmeans",
    "x143_segment_dedup",
    "x144_random_projection",
    "x145_char_entropy",
    "x148_ngram_novelty",
    "x149_decontaminate_spans",
    # round-9 additions: loaded-index IVF-PQ probe (fixed-size store
    # round-trip + the x141-shaped scoring scan — embeddings scale with
    # SF; the save/load half is fixed cost, amortized in production),
    # ExactSubstr dedup (stride-1 window explode + global count +
    # covered-position explode over the DUPLICATED subset + reassembly
    # — the heaviest new family, linear in tokens by construction),
    # session-trajectory dedup (sessionize exchange + per-session fold
    # + session-count-sized election window).
    "x155_index_probe",
    "x156_exact_substring_dedup",
    "x157_session_dedup",
    # round-10 additions: index DELETE (save + tombstone append +
    # tombstone-filtered probe — the save half is the amortized offline
    # cost, the delete itself is O(delete-size)), index COMPACT (the
    # full lifecycle composition: save + append + delete + rewrite-swap
    # + probe — the rewrite is a full index shuffle BY DESIGN, a
    # scheduled-maintenance verb), keep-one ExactSubstr (x156's shape
    # plus a ROW_NUMBER window over the DUPLICATED occurrences only),
    # SFT curation (x157's sessionize exchange + session-grained
    # screens + the first_type cap window over session rows).
    "x160_index_delete",
    "x161_index_compact",
    "x162_exact_substring_keep_one",
    "x163_sft_curation",
    # shard merge (two in-query saves + the persisted-row move — the
    # moved rows scale with documents) and incremental sessionization
    # (two maintenance steps over the split event log + the session
    # roll-up of the persisted table)
    "x164_index_merge",
    "x165_incremental_sessionize",
    # round-11 additions: session-store compact lifecycle (two bucketed
    # incremental steps + the compact rewrite-swap + a post-compact
    # append + the session roll-up — the compact is a full store
    # shuffle BY DESIGN, a scheduled-maintenance verb; the incremental
    # steps are delta-sized with bucket-pruned tail reads), and the
    # IVF-PQ shard merge (two shard encodes over the split embeddings
    # scan + the persisted-posting move + the postings-served ADC
    # probe — encode scales with embeddings, the probe reads only
    # posting rows).
    "x166_session_store_compact",
    "x167_vector_shard_merge",
    # streaming sessionize (three micro-batch splices + the roll-up —
    # per-trigger work is delta-sized; the fixed micro-batch overhead
    # dominates at these SFs) and the vector-store delete+compact
    # lifecycle (full-corpus encode + O(delete) tombstones + the
    # bounded rewrite swap + postings-served probe)
    "x168_sessionize_stream",
    "x169_vector_delete_compact",
    # session-store user delete (two splices + the partial bucketed
    # rewrite — bounded by the doomed users' buckets + the roll-up)
    "x170_session_store_delete",
]

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "scaling.md"
    from samba_spark.queries import ALL_QUERIES
    from samba_spark.session import get_spark

    spark = get_spark(app_name="scaling_probe")
    spark.sparkContext.setLogLevel("ERROR")

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    times: dict[str, list[float]] = {}
    for sf_dir in SFS:
        # warm the page cache + codegen per SF so ratios compare plans,
        # not cold-start noise
        from samba_spark.sources.tables import load_tables

        for df in load_tables(spark, sf_dir).values():
            df.count()
        for name in PROBES:
            force(ALL_QUERIES[name].fn(spark, sf_dir))  # untimed warm run
            t0 = time.perf_counter()
            force(ALL_QUERIES[name].fn(spark, sf_dir))
            times.setdefault(name, []).append(time.perf_counter() - t0)

    with open(out, "w") as fh:
        fh.write(
            "# SCALING — growth per 10x data step (warm, local[32])\n\n"
            "Ratio t(next_sf)/t(sf) for each 10x data increase; 10 = "
            "linear in data, <10 = fixed-overhead-dominated (expected at "
            "these sizes), >10 sustained = superlinear red flag.\n\n"
            "| query | t(sf0.001) s | t(sf0.01) s | t(sf0.1) s | "
            "x0.001->0.01 | x0.01->0.1 |\n|---|---|---|---|---|---|\n"
        )
        for name in PROBES:
            a, b, c = times[name]
            fh.write(
                f"| {name} | {a:.2f} | {b:.2f} | {c:.2f} "
                f"| {b / a:.1f}x | {c / b:.1f}x |\n"
            )
        worst = max(times, key=lambda n: times[n][2] / times[n][1])
        w = times[worst][2] / times[worst][1]
        fh.write(
            f"\nWorst 10x-step ratio: {worst} at {w:.1f}x"
            + (" — superlinear, investigate.\n" if w > 12 else
               " — within the linear envelope.\n")
        )
    print(f"wrote {out}")
    for name in PROBES:
        a, b, c = times[name]
        print(f"{name}: {a:.2f} / {b:.2f} / {c:.2f}  (x{b/a:.1f}, x{c/b:.1f})")
    spark.stop()


if __name__ == "__main__":
    main()
