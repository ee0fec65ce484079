"""Declared query surface (SURVEY.md §2.3/§2.4, FIXTURES.md).

``ALL_QUERIES`` maps query name → QuerySpec(spark_fn, oracle_sql). The
spark_fn is idiomatic DataFrame code (the operator under test); oracle_sql
is the ANSI-SQL equivalent DuckDB runs on the same parquet for the
correctness gate.

Ordering contract: the driver's correctness artifact records the FIRST 50
entries of ``ALL_QUERIES``. Round-3 rotation (VERDICT r2 item 2): queries
that were driver-green in rounds 1–2 move to ``AUX_QUERIES``; a 5-query
sentinel core stays in-window (prov contract q24, fixed-oracle q39, perf
canaries q41/q43/x3 — the twice-green family representatives
q7/q9/q14/q21/q23/q25/q31/q47 rotated out to maximize first-time rows);
the freed 45 slots hold every previously never-driver-checked query
(x14–x43, q48–q62). Every AUX entry remains under the local DuckDB parity
harness in tests/test_declared_queries.py, which runs ALL oracle-bearing
queries regardless of window position.

Round-4 rotation (VERDICT r3 item 1): every round-3 rotated-in entry came
back green in the round-3 correctness record (45 green + q24/x14
rows-only by design; in git history at 92ce187), so all 45 moved to
``AUX_QUERIES``; the freed slots now hold 45 of the 67
never-driver-checked round-3 additions, prioritized per the verdict:
streaming state (q73/q78/q83/q84/q85), codecs (x44/x63/x73/x74), the
Spark-4 surface (x70/x83–x86, q77/q79–q82), TPC-H completion (q63–q72),
the r3 sketch family (x80–x82/x87), and the highest-risk remaining ops
(x48/x49/x53/x55/x60/x65/x71/x72/x75/x77/x79, q75).

Round-5 rotation (VERDICT r4 item 1): the round-4 window came back
50/50 green (49 full + q24 rows-only by design), so all 45 rotated-in
entries moved to ``AUX_QUERIES``; the freed slots hold 45 of the
62-query backlog, oldest-first per the verdict: every round-2/3
residual (x45–x47, x50–x52, x54, x56–x59, x61, x62, x64, x66–x69,
x76, x78, q74, q76 — 22 entries) then the highest-risk round-4
additions (multimodal dedup x88–x92, mining/profiling
x95/x96/x100/x107, graph x105/x114, events x108–x110, dedup
x111–x113, q87–q92 — 23 entries).

Round-6 rotation (VERDICT r5 items 1–2): the round-5 window came back
48 green + 2 canonicalizer errors (x57/x113 — array-typed outputs the
driver's pandas sort cannot order; both now serialize those columns via
array_join/array_to_string and stay IN-window for re-attestation). The
other 43 rotated-in entries moved to ``AUX_QUERIES``; the freed slots
hold the ENTIRE residual never-driver-checked backlog — x93, x94,
x97–x99, x101–x104, x106, x115, x116, q93–q97, plus the round-5
additions x117–x120 (21 queries) — after which every query in the
engine has had a driver row at least once. The remaining 22 slots
backfill with the oldest single-green rows (round-3 window, x14–x35).
Every query stays under the local DuckDB parity harness
(tools/parity_sweep.py + tests) in every round regardless of window
position.

Round-7 rotation (VERDICT r6 item 1): the round-6 window came back
50/50 full-green (first zero-error window), so all 45 rotated-in
entries moved to ``AUX_QUERIES``. The freed slots hold the 9 round-6
additions born after the r6 window pin (x121–x127, q98, q99 — the only
queries without a driver row), then 28 backfills of the oldest
single-green rows — the 23 round-3-window entries the r6 backfill did
not reach (x36–x43, q48–q62) and the 5 oldest round-4-window entries
(streaming state q73/q78/q83–q85) — then the 8
round-7 additions built BEFORE this window was pinned (x128 JPEG
pixels, x129 length-bucket packing, x130 temperature mixture, x131
chi-square screen, x132 winnowed common-substring pairs, x133
Theil–Sen robust trend, x134 SQ8 int8 ANN, x135 BPE-apply
tokenizer serving) — standing
policy: new queries before backfill, and these need not wait a round.
Round-9 rotation (VERDICT r8 item 4): the round-8 window came back
50/50 full-green (third consecutive all-green window), so all 45
rotated-in entries moved to ``AUX_QUERIES``. The freed slots hold the
5 round-9 additions (x155 loaded-index IVF-PQ probe, x156 ExactSubstr
dedup, x157 session-trajectory dedup, x158 persisted-index append,
x159 streaming admission), the 16 r4-window backfills the r8 additions
displaced, and the 24 oldest round-5-window single-green rows —
single-green backlog ~101 after this window (the r8 item-4 target was
<= 100; the one-over is the price of five day-one-oracled additions).
Remaining backfill debt after r7: the rest of the round-4 window (x44,
x63, x73, x74, x70, x83–x86, q77, q79–q82, TPC-H q63–q72, sketches x80–x82/x87,
extensions x48/x49/x53/x55/x60/x65/x71/x72/x75/x77/x79, q75), then
the round-5 window.

Round-8 rotation (VERDICT r7 items 2/6): the round-7 window came back
50/50 full-green, so all 45 rotated-in entries moved to
``AUX_QUERIES``. The first two freed slots go to q29/q30 — the ONLY
queries whose driver rows predate their oracle graduation (their sole
rows are round-1 ``no_oracle`` stubs; q29 gained the est_ok gate in
r3, q30 the sampling contract in r6 — this gives both their first
full-green hash row). The next 24 slots take the round-4-window
backfill in r4 order; the 19 round-8 additions (x136–x141, the
serving-mode wave, then x142–x154, the curation/analytics wave) take
the final slots per the new-before-backfill standing policy,
displacing the 16 newest r4 backfills (x80, x81, x82, x87, x48, x49,
x53, x55, x60, x65, x71, x72, x75, x77, x79, q75) to round 9 — after
which the single-green debt is those 16 plus the round-5 window. x42/q59 rotate
to AUX per VERDICT item 6 — their bench suite position changes
(CONTRACT entries run first), which is the deliberate re-attestation
of the suite-context hypothesis for their r7 slowdown.

Round-10 rotation (VERDICT r9 item 5): the round-9 window came back
50/50 full-green (fourth consecutive), so all 45 rotated-in entries
moved to ``AUX_QUERIES``. The freed slots hold the 4 round-10
additions (x160 tombstone delete, x161 crash-safe compact, x162
keep-one ExactSubstr, x163 SFT curation) and 41 oldest-single-green
backfills in strict single-green-round order — see the _ROTATED_IN
comment for the exact arithmetic (expected backlog after green: 69).
"""

from samba_spark.queries.declared import DECLARED, QuerySpec
from samba_spark.queries.extensions import EXTENSIONS
from samba_spark.queries.extras import EXTRAS
from samba_spark.queries.modern import MODERN
from samba_spark.queries.patterns import PATTERNS
from samba_spark.queries.tpch import TPCH

# Sentinel core: kept in-window as regression canaries across rounds.
# Trimmed to 5 this round (q7/q9/q14/q21/q23/q25/q31/q47 have been
# driver-green twice; the local DuckDB parity harness still runs them every
# round) so the freed slots go to queries that have NEVER had a driver row.
_SENTINELS = [
    "q24_provenance_lineage",  # provenance contract (rows-only by design)
    "q39_training_pipeline",   # pipeline composition (oracle cast fixed r3)
    "q41_pagerank",            # graph family + perf canary
    "q43_stream_join",         # stream-stream join + perf canary
    "x3_minhash_lsh_dedup",    # dedup family + perf canary
]

# Round-11 rotation (VERDICT r10 item 4; the round-10 window came back
# 50/50 full-green — fifth consecutive all-green window — so all 45
# rotated-in entries moved to ``AUX_QUERIES``). The freed slots: the 2
# round-11 additions first (standing new-before-backfill policy — x166
# session-store compact lifecycle, x167 vector-index shard merge), then
# 40 oldest-single-green backfills in strict single-green-round order,
# recomputed from the round 1-10 correctness records (in git history at
# 92ce187; matches the judge's 73 count):
# x114 (the r5 single, queued since r10), all 23 round-6 singles, and
# 16 of the 17 round-7 singles (q29/q30/x135 were displaced by the
# late additions x168/x169/x170 and queue for r12).
# Expected backlog after this window returns green: 73 - 40 + 5 new =
# 38 (the r10 item-4 target was <= 50).
_ROTATED_IN = [
    # round-11 additions (new-before-backfill; x168/x169/x170 landed
    # after the first window pin and displace the three newest
    # backfills — q29/q30/x135 queue for round 12, the r10 precedent)
    "x166_session_store_compact",
    "x167_vector_shard_merge",
    "x168_sessionize_stream",
    "x169_vector_delete_compact",
    "x170_session_store_delete",
    # round-5 single-green (queued from r10's displaced backfills)
    "x114_personalized_pagerank",
    # round-6 single-green rows, r6 order
    "q93_grouping_sets",
    "q94_identifier_clause",
    "q95_group_by_all",
    "q96_bag_setops",
    "q97_nullsafe_join",
    "x101_interval_overlap",
    "x102_k_anonymity",
    "x103_levenshtein_pairs",
    "x104_mad_outliers",
    "x106_strip_boilerplate",
    "x113_feature_hashing",
    "x115_skyline",
    "x116_pandas_udaf",
    "x117_table_profile_approx",
    "x118_sliding_distinct_bitmap",
    "x119_url_dedup",
    "x120_xml_roundtrip",
    "x14_ivf_topk",
    "x93_lm_fluency",
    "x94_count_min",
    "x97_join_size_estimate",
    "x98_ewma",
    "x99_hybrid_rrf",
    # round-7 single-green rows, r7 order
    "q98_sql_udf",
    "q99_scd2",
    "x121_sliding_distinct_auto",
    "x122_bloom_ingest",
    "x123_kmv_set_ops",
    "x124_k_core",
    "x125_benford",
    "x126_acf",
    "x127_inclusion_profile",
    "x128_jpeg_pixel_pipeline",
    "x129_length_bucket_packing",
    "x130_temperature_mixture",
    "x131_chi_square_screen",
    "x132_common_substring_pairs",
    "x133_theil_sen",
    "x134_int8_ann",
]

_WINDOW_NAMES = _SENTINELS + _ROTATED_IN

_FULL = {**DECLARED, **EXTRAS, **EXTENSIONS, **TPCH, **MODERN, **PATTERNS}

CONTRACT_QUERIES = {k: _FULL[k] for k in _WINDOW_NAMES}
AUX_QUERIES = {k: v for k, v in _FULL.items() if k not in CONTRACT_QUERIES}

ALL_QUERIES = {**CONTRACT_QUERIES, **AUX_QUERIES}

__all__ = [
    "DECLARED",
    "EXTRAS",
    "EXTENSIONS",
    "CONTRACT_QUERIES",
    "AUX_QUERIES",
    "ALL_QUERIES",
    "QuerySpec",
]
