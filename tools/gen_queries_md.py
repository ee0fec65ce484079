#!/usr/bin/env python
"""Regenerate QUERIES.md — the one-row-per-declared-query catalog — from
``samba_spark.queries.ALL_QUERIES``. Run from the repo root."""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from samba_spark.queries import ALL_QUERIES, CONTRACT_QUERIES

# FIXTURES.md / SURVEY §2.4 one-liners for the docstring-less core set
_CORE = {
    "q1_scan_count": "scan + project + count over nation/orders",
    "q2_filter": "predicate filter with pushdown (both conjuncts reach the scan)",
    "q3_string_funcs": "string scalars: substr/upper/LIKE",
    "q4_distinct": "distinct over a projected column set",
    "q5_groupby_aggs": "group-by sum/avg/min/max/count",
    "q6_count_distinct": "exact count-distinct per group",
    "q7_rollup": "ROLLUP grouping sets with grouping() discriminators",
    "q8_inner_join": "inner equi-join orders x customer",
    "q9_outer_join": "left/right/full outer join with null sides",
    "q10_semi_anti_join": "left-semi + left-anti join",
    "q11_cross_join": "cartesian product of small dims",
    "q12_topk": "ORDER BY + LIMIT top-k (TakeOrderedAndProject)",
    "q13_set_ops": "union / intersect / except",
    "q14_rank_window": "ranking window (row_number/rank/dense_rank)",
    "q15_lag_window": "lag/lead analytic window",
    "q16_running_sum": "framed running aggregate (ROWS UNBOUNDED PRECEDING)",
    "q17_scalars": "date/math/conditional scalar catalog",
    "q18_array_agg": "sorted array aggregation per key",
    "q19_null_semantics": "coalesce/nullif/null-safe comparisons",
    "q20_scalar_subquery": "scalar subquery broadcast into the outer query",
    "q21_cte": "common table expression chain",
    "q22_having": "HAVING post-aggregate filter",
    "q23_star_join": "TPC-H-Q3-like star join flagship (broadcast dims)",
    "q27_cogroup": "two-sided cogroup with per-key group sizes",
    "q28_zip": "positional zip via two-pass partition-offset indexing",
    "q29_approx_count_distinct": "HLL++ approximate count-distinct (est_ok estimator-gate oracle: Spark estimate within \u00b15% of DuckDB exact)",
    "q30_sample_by": "stratified sampling per key (rows-only: seeded RNG)",
    "q33_cube": "CUBE grouping sets",
    "q34_global_agg": "global reduce/fold aggregates",
    "q36_pivot": "pivot wide aggregation",
    "q37_percentiles": "exact per-group percentiles",
    "q38_string_agg": "ordered string aggregation",
    "q42_salted_join": "skew-salted join on a hot key",
    "q45_exists_subqueries": "correlated EXISTS / NOT EXISTS",
    "q46_lateral_join": "LATERAL correlated join",
    "q25_asof_join": "backward as-of join (latest right at-or-before each left row)",
    "q26_range_join": "range join: equi key + time band",
    "q31_stream_tumbling": "streaming tumbling-window counts (availableNow replay)",
    "q32_stream_sessions": "streaming session windows with watermark",
    "q35_stream_sliding": "streaming sliding-window aggregates",
    "q39_training_pipeline": "corpus-prep chain: lang-ID -> quality gate -> dedup -> rollup",
    "q40_connected_components": "connected components via union-find over the collected edges",
    "q41_pagerank": "PageRank power iteration with dangling-mass redistribution",
    "q43_stream_join": "stream-stream interval join, watermark-bounded state",
    "q44_stream_dedup": "streaming deduplication within the watermark horizon",
    "q47_pipe": "line-mode pipe through an external process (all-to-all partition lineage)",
    "q48_tpch_q1": "TPC-H Q1 pricing summary (integer-quantized money)",
    "q49_tpch_q6": "TPC-H Q6 forecast-revenue filter aggregate",
    "q50_tpch_q3": "TPC-H Q3 shipping-priority top-10",
    "q51_stream_static_join": "stream-static enrichment join (per-batch dim broadcast)",
    "q55_asof_forward": "forward as-of join (earliest right at-or-after each left row)",
    "x1_dedup_exact": "exact dedup: one md5-keyed shuffle, keep lowest doc_id",
    "x2_dedup_normalized": "exact dedup after whitespace/case normalization",
    "x6_text_stats": "quality stats: length/punct/stopword ratios + integer keep-gate",
    "x7_token_count": "whitespace + BPE-ish regex token counts",
    "x8_lang_id": "n-gram-heuristic language ID",
    "x9_fingerprint": "rolling-hash document fingerprints",
    "x10_cosine_topk": "brute-force cosine top-k (broadcast queries, partition-local merge)",
}


def one_liner(name, fn):
    if name in _CORE:
        return _CORE[name]
    d = (fn.__doc__ or "").strip()
    if not d:
        return "(see FIXTURES.md)"
    line = " ".join(d.split())
    return line if len(line) <= 220 else line[:217] + "…"


def key(name):
    m = re.match(r"([qx])(\d+)", name)
    return (m.group(1), int(m.group(2)))


def main():
    lines = [
        "# QUERIES — declared query catalog",
        "",
        "Auto-generated by `tools/gen_queries_md.py`. One row per declared",
        "query: oracle status (`O` = DuckDB hash-match oracle, `R` =",
        "rows-only by design) and driver-window membership (`W` = inside",
        "the 50-entry correctness window this round).",
        "",
        "| query | chk | win | what it does |",
        "|---|---|---|---|",
    ]
    for name in sorted(ALL_QUERIES, key=key):
        spec = ALL_QUERIES[name]
        chk = "O" if spec.oracle else "R"
        win = "W" if name in CONTRACT_QUERIES else ""
        lines.append(f"| {name} | {chk} | {win} | {one_liner(name, spec.fn)} |")
    lines.append("")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "QUERIES.md",
    )
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out}: {len(ALL_QUERIES)} queries")


if __name__ == "__main__":
    main()
