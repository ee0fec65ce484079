"""Q24–Q30: provenance lineage (engine-internal oracle) + the operator
families beyond the core declared set — as-of join, range join, cogroup,
zip, approximate count-distinct, stratified sampling (SURVEY.md §2.3 rows
marked extension / not-oracle-declared).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from samba_spark.operators import relational as R
from samba_spark.queries.declared import QuerySpec, scratch_dir
from samba_spark.sources.tables import load_tables


# Q24 provenance lineage invariant summary (engine-internal oracle —
# FIXTURES.md Q24; rows-only for the driver, asserted in tests/)
# q24's provenance store lands at a FIXED path (cleared per invocation)
# so the DuckDB oracle can re-derive the lineage rollup from the raw
# element/dep parquet the engine wrote — an EXTERNAL check of the capture
# semantics (map 1-1, filter sentinel, join two-sided, agg n-1), not a
# self-assertion. The dir holds exactly one run whenever the SQL reads
# it, and the pipeline is SF-INDEPENDENT by construction (nation/region
# are fixed at 25/5 rows at every TPC-H SF), so SEQUENTIAL interleaving
# of q24 executions at different SFs still leaves matching content.
# Limits, stated honestly: (1) the oracle only BINDS after the Spark
# side has run once (every consumer — driver, parity sweep, pytest —
# runs Spark-then-oracle per query; the schema-only sweep test seeds the
# dir explicitly); (2) CONCURRENT q24 runs from separate processes race
# on the shared path (rmtree under a reader) — the driver, bench, and
# test harness are all sequential, and a clash merely fails loudly.
# The dir lives under the repo's own gitignored scratch dir (NOT a fixed
# world-writable /tmp path another local user could pre-create or
# symlink to poison the oracle input).
_Q24_PROV_DIR = scratch_dir("q24_prov")


def seed_q24_oracle_dir() -> None:
    """Make every fixture-path oracle *bindable* before its Spark side
    has ever run (q24/q53/q59 prov stores, x53's parquet-metadata
    dataset, x83's file-group tree): write empty-or-stub, schema-correct
    files into any missing dir (pyarrow only — no Spark needed).
    DESCRIBE/validation passes against the seed; the real comparison
    always reads the files the query's own run just wrote (each one's
    first step is rmtree + full rewrite). Called by
    __spark_entry__.oracle_sql() and the schema-only sweep test, so no
    consumer ordering can hit 'no files match the pattern'. (Generalized
    r12 from q24-only: the scratch dirs are per-checkout and wiped
    between sessions, and a fresh tree failed the DESCRIBE sweep on
    q53/x53/x83 until those queries had run once.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from samba_spark.prov import model
    from samba_spark.prov.store import _write_rows_parquet
    from samba_spark.queries.declared import scratch_dir

    from samba_spark.queries.modern import Q75_PROV_DIR

    for prov_dir, tables in (
        (_Q24_PROV_DIR, ("tasks", "elements", "element_deps")),
        (scratch_dir("q53_prov"), ("tasks", "elements", "element_deps")),
        (scratch_dir("q59_prov"), ("tasks", "elements", "element_deps")),
        (Q75_PROV_DIR, ("tasks", "executions")),
    ):
        for t in tables:
            d = os.path.join(prov_dir, t)
            if not (os.path.isdir(d) and os.listdir(d)):
                _write_rows_parquet(
                    os.path.join(d, "seed.parquet"), [], model.TABLES[t]
                )

    # x53: parquet_file_metadata()/parquet_metadata() need >=1 parquet
    # file under the glob; schema is irrelevant (metadata functions have
    # a fixed result shape), so one empty single-column file suffices.
    x53 = scratch_dir("x53_files")
    if not (os.path.isdir(x53) and any(
        f.endswith(".parquet") for f in os.listdir(x53)
    )):
        os.makedirs(x53, exist_ok=True)
        pq.write_table(
            pa.table({"n_nationkey": pa.array([], type=pa.int64())}),
            os.path.join(x53, "file_0.parquet"),
        )

    # x83: read_text('<root>/*/*.txt') needs >=1 matching file.
    x83 = scratch_dir("x83_filegroups")
    g0 = os.path.join(x83, "g0")
    import glob as _glob

    if not _glob.glob(os.path.join(x83, "*", "*.txt")):
        os.makedirs(g0, exist_ok=True)
        with open(os.path.join(g0, "seed.txt"), "w") as fh:
            fh.write("seed\n")


def q24_provenance_lineage(spark, sf_dir):
    """Runs an instrumented scan→filter→join→agg pipeline and returns the
    deterministic lineage profile: per transformation type, #elements and
    #lineage edges. The oracle recomputes the same rollup with DuckDB
    directly over the provenance parquet this run writes (see
    ``_Q24_PROV_DIR``) — graduating q24 from rows-only self-assertion to
    an externally-oracled row (VERDICT r4 item 7)."""
    import shutil

    from samba_spark.session import ProvSession

    shutil.rmtree(_Q24_PROV_DIR, ignore_errors=True)
    eng = ProvSession(spark, name="q24", prov_dir=_Q24_PROV_DIR)
    try:
        nation = eng.read_parquet(f"{sf_dir}/nation.parquet", "nation").with_elements()
        region = eng.read_parquet(f"{sf_dir}/region.parquet", "region").with_elements()
        nation.persist_elements()
        region.persist_elements()
        filt = nation.where(F.col("n_nationkey") >= 5, track_dropped=True)
        filt.persist_elements()
        joined = filt.join(
            region, on=filt.raw.n_regionkey == region.raw.r_regionkey, how="inner"
        )
        joined.persist_elements()
        agg = joined.group_by("r_name").agg(F.count(F.lit(1)).alias("cnt"))
        agg.persist_elements()
        agg.collect()
        tasks = eng.store.table("tasks").select("task_id", "transformation_type")
        elements = eng.store.table("elements").groupBy("task_id").agg(
            F.count(F.lit(1)).alias("n_elements")
        )
        edges = eng.store.table("element_deps").groupBy("task_id").agg(
            F.count(F.lit(1)).alias("n_edges")
        )
        out = (
            tasks.join(elements, "task_id", "left")
            .join(edges, "task_id", "left")
            .groupBy("transformation_type")
            .agg(
                F.sum(F.coalesce("n_elements", F.lit(0))).alias("n_elements"),
                F.sum(F.coalesce("n_edges", F.lit(0))).alias("n_edges"),
            )
            .orderBy("transformation_type")
        )
        out = out.localCheckpoint()  # materialize before the engine stops
        return out
    finally:
        eng.stop()


Q24_SQL = f"""
WITH t AS (
  SELECT task_id, transformation_type
  FROM read_parquet('{_Q24_PROV_DIR}/tasks/*.parquet')),
e AS (
  SELECT task_id, COUNT(*)::BIGINT AS n_elements
  FROM read_parquet('{_Q24_PROV_DIR}/elements/*.parquet') GROUP BY task_id),
d AS (
  SELECT task_id, COUNT(*)::BIGINT AS n_edges
  FROM read_parquet('{_Q24_PROV_DIR}/element_deps/*.parquet')
  GROUP BY task_id)
SELECT t.transformation_type,
       COALESCE(SUM(e.n_elements), 0)::BIGINT AS n_elements,
       COALESCE(SUM(d.n_edges), 0)::BIGINT AS n_edges
FROM t LEFT JOIN e USING (task_id) LEFT JOIN d USING (task_id)
GROUP BY t.transformation_type ORDER BY t.transformation_type
"""


# Q25 as-of join — the union+window composition vs DuckDB's native ASOF.
# Right side deduped to unique (user, ts) in both engines (tie contract).
def q25_asof_join(spark, sf_dir):
    events = load_tables(spark, sf_dir, ["events"])["events"]
    errors = events.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    joined = R.asof_join(
        errors,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_id"],
    )
    return joined.select(
        "event_id", "user_id", F.col("click_id_asof").alias("prev_click_id")
    ).orderBy("event_id")


Q25_SQL = """
WITH errors AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'error'),
clicks AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, CAST(ts AS TIMESTAMP))
SELECT e.event_id, e.user_id, c.click_id AS prev_click_id
FROM errors e ASOF LEFT JOIN clicks c
  ON e.user_id = c.user_id AND e.ts >= c.ts
ORDER BY e.event_id
"""


# Q55 forward as-of join: the mirror direction (earliest right at-or-after
# each left row) — DuckDB has no forward ASOF, so the oracle is the
# correlated ORDER BY/LIMIT 1 subquery, which is the operator's definition.
def q55_asof_forward(spark, sf_dir):
    events = load_tables(spark, sf_dir, ["events"])["events"]
    errors = events.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    joined = R.asof_join(
        errors,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_id"],
        direction="forward",
    )
    return joined.select(
        "event_id", "user_id", F.col("click_id_asof").alias("next_click_id")
    ).orderBy("event_id")


Q55_SQL = """
WITH errors AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'error'),
clicks AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, CAST(ts AS TIMESTAMP))
SELECT e.event_id, e.user_id,
       (SELECT c.click_id FROM clicks c
        WHERE c.user_id = e.user_id AND c.ts >= e.ts
        ORDER BY c.ts LIMIT 1) AS next_click_id
FROM errors e ORDER BY e.event_id
"""


# Q26 range join: equi key + time band
def q26_range_join(spark, sf_dir):
    events = load_tables(spark, sf_dir, ["events"])["events"]
    errors = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("user_id").alias("u"), "ts"
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("ts").alias("c_ts")
    )
    joined = R.range_join(
        errors,
        clicks,
        on="u",
        left_point="ts",
        right_point="c_ts",
        lower=F.expr("INTERVAL -1 HOUR"),
        upper=F.expr("INTERVAL 0 SECONDS"),
    )
    return (
        joined.groupBy("err_id")
        .agg(F.count(F.lit(1)).alias("n_recent_clicks"))
        .orderBy("err_id")
    )


Q26_SQL = """
SELECT e.event_id AS err_id, COUNT(*) AS n_recent_clicks
FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'error') e
JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id
 AND c.ts BETWEEN e.ts - INTERVAL 1 HOUR AND e.ts
GROUP BY e.event_id ORDER BY err_id
"""


# Q27 cogroup (reference PairRDDFunctions.scala:785) — oracle checks the
# per-key group sizes (array payloads are engine-representation-specific)
def q27_cogroup(spark, sf_dir):
    customer, supplier = (
        load_tables(spark, sf_dir, ["customer", "supplier"])[t]
        for t in ("customer", "supplier")
    )
    cg = R.cogroup_collect(
        customer.select(F.col("c_nationkey").alias("k"), "c_custkey"),
        supplier.select(F.col("s_nationkey").alias("k"), "s_suppkey"),
        "k",
    )
    return cg.select(
        "k",
        F.size("left_values").cast("long").alias("n_customers"),
        F.size("right_values").cast("long").alias("n_suppliers"),
    ).orderBy("k")


Q27_SQL = """
WITH c AS (SELECT c_nationkey AS k, COUNT(*) AS n_customers
           FROM customer GROUP BY c_nationkey),
     s AS (SELECT s_nationkey AS k, COUNT(*) AS n_suppliers
           FROM supplier GROUP BY s_nationkey)
SELECT COALESCE(c.k, s.k) AS k,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.k = s.k
ORDER BY k
"""


# Q28 zip (reference rdd/RDD.scala:1053): positional alignment under
# explicit total orders
def q28_zip(spark, sf_dir):
    region, nation = (
        load_tables(spark, sf_dir, ["region", "nation"])[t]
        for t in ("region", "nation")
    )
    top_nations = nation.orderBy("n_nationkey").limit(5).select("n_name", "n_nationkey")
    zipped = R.zip_dataframes(
        region.select("r_name", "r_regionkey"),
        top_nations,
        left_order=[F.col("r_regionkey")],
        right_order=[F.col("n_nationkey")],
    )
    return zipped.select("r_name", "n_name").orderBy("r_name", "n_name")


Q28_SQL = """
WITH r AS (SELECT r_name, ROW_NUMBER() OVER (ORDER BY r_regionkey) AS i FROM region),
     n AS (SELECT n_name, ROW_NUMBER() OVER (ORDER BY n_nationkey) AS i
           FROM (SELECT * FROM nation ORDER BY n_nationkey LIMIT 5))
SELECT r_name, n_name FROM r JOIN n USING (i) ORDER BY r_name, n_name
"""


# Q29 approx count-distinct (reference countApproxDistinct,
# rdd/RDD.scala:1449, HLL++) — excluded from the duckdb oracle per
# BASELINE.md (estimator-specific); deterministic per engine
def q29_approx_count_distinct(spark, sf_dir):
    """HLL++ approximate distinct with an in-query error gate (the x80
    est_ok contract, retrofitted round-3 to upgrade this from rows-only
    to a full oracle row): the exact count rides along and the output
    asserts the rsd=0.05 estimate landed within ±15% (3σ), so the DuckDB
    hash match verifies the estimator, not just the exact path."""
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.05).alias("_approx"),
            F.count_distinct("o_custkey").cast("long").alias("exact_custs"),
        )
        .select(
            "o_orderstatus",
            "exact_custs",
            (
                F.abs(F.col("_approx") - F.col("exact_custs")) * 100
                <= F.col("exact_custs") * 15
            ).alias("est_ok"),
        )
        .orderBy("o_orderstatus")
    )


Q29_SQL = """
SELECT o_orderstatus, COUNT(DISTINCT o_custkey)::BIGINT AS exact_custs,
       TRUE AS est_ok
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# Q30 stratified sample (reference sampleByKey). The DRAW is seeded and
# engine-specific, so the declared output is the sampling CONTRACT
# instead (VERDICT r5 item 7): per stratum — the exact population count
# (oracle-recomputable), the count of sampled rows NOT present in the
# population (a real anti-join, must be 0), rows from unrequested strata
# (must be 0 overall — folded into subset_violations), and whether the
# draw size sits inside 6-sigma binomial bounds of frac·n (a
# deterministic TRUE for any sane sampler; Bernoulli sampling at these
# n puts the probability of a violation below 1e-9). DuckDB recomputes
# n_total exactly and pins the two invariants, giving q30 a full
# value-hash row while the draw itself stays engine-local.
def q30_sample_by(spark, sf_dir):
    customer = load_tables(spark, sf_dir, ["customer"])["customer"]
    fracs = {"BUILDING": 0.5, "AUTOMOBILE": 0.1}
    sampled = R.sample_by(customer, "c_mktsegment", fracs, seed=42)

    # subset check: every sampled row must exist in the population, and
    # carry one of the requested stratum keys
    viol = (
        sampled.join(
            customer.select("c_custkey"), "c_custkey", "left_anti"
        ).count()
        + sampled.where(
            ~F.col("c_mktsegment").isin(*fracs.keys())
        ).count()
    )
    frac_col = F.create_map(
        *[x for k, v in fracs.items() for x in (F.lit(k), F.lit(v))]
    )
    pop = (
        customer.where(F.col("c_mktsegment").isin(*fracs.keys()))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    )
    drawn = sampled.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled")
    )
    f = frac_col[F.col("c_mktsegment")]
    mu = F.col("n_total") * f
    sigma = F.sqrt(F.col("n_total") * f * (1 - f))
    return (
        pop.join(drawn, "c_mktsegment", "left")
        .select(
            "c_mktsegment",
            "n_total",
            F.lit(viol).cast("long").alias("subset_violations"),
            (
                F.abs(F.coalesce(F.col("n_sampled"), F.lit(0)) - mu)
                <= 6 * sigma + 1
            ).alias("within_bounds"),
        )
        .orderBy("c_mktsegment")
    )


Q30_SQL = """
SELECT c_mktsegment, COUNT(*)::BIGINT AS n_total,
       CAST(0 AS BIGINT) AS subset_violations,
       TRUE AS within_bounds
FROM customer
WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# Q31 streaming tumbling window — run as an availableNow replay over the
# fixture file and return the drained result. Deterministic, so it IS
# oracle-checkable (DuckDB time_bucket); this upgrades streaming from the
# "rows-only" bucket BASELINE.md anticipated.
def q31_stream_tumbling(spark, sf_dir):
    import uuid

    from samba_spark.streaming import ops as S

    stream = S.read_events_stream(
        spark, sf_dir, nanos=True, path_glob="events.parquet"
    )
    name = "q31_" + uuid.uuid4().hex[:8]
    out = S.run_to_memory(
        S.tumbling_counts(stream, "10 minutes"), name, "complete",
        state_partitions=8,
    )
    return out.orderBy("w_start", "event_type")


Q31_SQL = """
SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS w_start,
       time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))
         + INTERVAL '10 minutes' AS w_end,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2, 3
ORDER BY w_start, event_type
"""


# Q32 streaming session windows — oracle via gaps-and-islands: a session
# breaks after >5 min silence; Spark's session_window end = last_ts + gap.
def q32_stream_sessions(spark, sf_dir):
    import uuid

    from samba_spark.streaming import ops as S

    stream = S.read_events_stream(
        spark, sf_dir, nanos=True, path_glob="events.parquet"
    )
    name = "q32_" + uuid.uuid4().hex[:8]
    out = S.run_to_memory(
        S.session_counts(stream, "5 minutes"), name, "complete",
        state_partitions=8,
    )
    return out.orderBy("user_id", "s_start")


Q32_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '5 minutes'
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM e),
sessions AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT MIN(ts) AS s_start,
       MAX(ts) + INTERVAL '5 minutes' AS s_end,
       user_id,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
ORDER BY user_id, s_start
"""


# Q33 grouping-sets cube (Q7 covers rollup; reference capability is the
# stock SQL GroupingSets analyzer — SURVEY §2.3 aggregations table)
def q33_cube(spark, sf_dir):
    customer = load_tables(spark, sf_dir, ["customer"])["customer"]
    return (
        customer.cube("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("c_nationkey").asc_nulls_first(),
        )
    )


Q33_SQL = """
SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt
FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)
ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST
"""


# Q34 global aggregate — reduce/fold/aggregate/treeAggregate/count/max/min
# (reference rdd/RDD.scala:1219-1360,1656-1668): no grouping key, partial
# aggregation collapses everything map-side
def q34_global_agg(spark, sf_dir):
    lineitem = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    return lineitem.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


Q34_SQL = """
SELECT COUNT(*) AS n_rows,
       ROUND(SUM(l_quantity), 2) AS total_qty,
       ROUND(MIN(l_extendedprice), 2) AS min_price,
       ROUND(MAX(l_extendedprice), 2) AS max_price,
       COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem
"""


# Q35 streaming sliding window — each event lands in duration/slide
# windows; oracle enumerates the candidate window starts per event.
# Metric is ROUND(SUM,2), not AVG: averaging two 2-decimal values lands on
# .xx5 ties where Spark (HALF_UP) and DuckDB (HALF_EVEN) round apart.
def q35_stream_sliding(spark, sf_dir):
    import uuid

    from pyspark.sql import functions as FF

    from samba_spark.streaming import ops as S

    stream = S.read_events_stream(
        spark, sf_dir, nanos=True, path_glob="events.parquet"
    )
    windowed = (
        stream.groupBy(FF.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            FF.round(FF.sum("value"), 2).alias("sum_value"),
            FF.count(FF.lit(1)).alias("n"),
        )
        .select(
            FF.col("w.start").alias("w_start"),
            FF.col("w.end").alias("w_end"),
            "sum_value",
            "n",
        )
    )
    name = "q35_" + uuid.uuid4().hex[:8]
    out = S.run_to_memory(windowed, name, "complete", state_partitions=8)
    return out.orderBy("w_start")


Q35_SQL = """
WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
cand AS (
  SELECT ts, value, w_start
  FROM e, UNNEST([time_bucket(INTERVAL '5 minutes', ts),
                  time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
                 ]) AS t(w_start)
  WHERE ts >= w_start AND ts < w_start + INTERVAL '10 minutes')
SELECT w_start,
       w_start + INTERVAL '10 minutes' AS w_end,
       ROUND(SUM(value), 2) AS sum_value,
       COUNT(*) AS n
FROM cand GROUP BY w_start ORDER BY w_start
"""


# Q39 end-to-end training-data pipeline: language filter → quality filter
# → normalized dedup → per-source doc/token totals. The composition query:
# every stage is one of the x-operators, chained the way a 100 TB corpus
# prep job would chain them (all pure Catalyst, one shuffle for the dedup
# and one for the final rollup).
def q39_training_pipeline(spark, sf_dir):
    from samba_spark.operators import textual as X

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    lang = X.lang_id(docs).select("doc_id", "lang_pred")
    toks = X.token_count(docs).select("doc_id", "ws_tokens")
    # Quality gate in exact integer arithmetic (quality >= 11/20) — no
    # ROUND, so Spark HALF_UP vs DuckDB HALF_EVEN can never flip a doc
    # across the threshold (round-1 hash-fail root cause).
    kept = (
        docs.join(lang, "doc_id")
        .where(
            (F.col("lang_pred") == "en")
            & X.quality_keep(F.col("text"), num=11, den=20)
        )
    )
    surviving = (
        kept.select(
            "doc_id",
            F.md5(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
            ).alias("_fp"),
        )
        .groupBy("_fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        surviving.join(docs.select("doc_id", "source"), "doc_id")
        .join(toks, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )


def _q39_sql() -> str:
    from samba_spark.operators.textual import (
        LANG_MARKERS,
        STOPWORDS,
        quality_keep_sql,
    )

    stop = "[" + ",".join(f"'{w}'" for w in STOPWORDS) + "]"
    m = {
        k: "[" + ",".join(f"'{w}'" for w in v) + "]"
        for k, v in LANG_MARKERS.items()
    }
    gate = quality_keep_sql(
        w="len(toks)", c="n_chars", p="n_punct", s="n_stop", num=11, den=20
    )
    return rf"""
WITH t AS (
  SELECT doc_id, text, source,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks,
         length(text) AS n_chars
  FROM documents),
scored AS (
  SELECT doc_id, text, source, toks, n_chars,
         len(list_filter(toks, w -> list_contains({m['en']}, w))) AS s_en,
         len(list_filter(toks, w -> list_contains({m['es']}, w))) AS s_es,
         len(list_filter(toks, w -> list_contains({m['fr']}, w))) AS s_fr,
         length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS n_punct,
         len(list_filter(toks, w -> list_contains({stop}, w))) AS n_stop
  FROM t),
kept AS (
  SELECT doc_id, text, source, len(toks) AS ws_tokens
  FROM scored
  WHERE s_en >= s_es AND s_en >= s_fr
    AND {gate}),
surviving AS (
  SELECT MIN(doc_id) AS doc_id
  FROM kept
  GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
SELECT k.source, COUNT(*) AS n_docs,
       CAST(SUM(k.ws_tokens) AS BIGINT) AS total_tokens
FROM surviving s JOIN kept k ON k.doc_id = s.doc_id
GROUP BY k.source ORDER BY k.source
"""


# Q40 connected components over an edge DataFrame (operators/graph.py) —
# union-find over the collected edge list; the oracle resolves the same
# components with a recursive transitive closure. Edge set: the nation
# "path graph" per region (consecutive nation keys within a region),
# diameter 4.
def q40_connected_components(spark, sf_dir):
    from pyspark.sql import Window

    from samba_spark.operators.graph import connected_components

    nation = load_tables(spark, sf_dir, ["nation"])["nation"]
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    edges = nation.select(
        F.col("n_nationkey").alias("src"),
        F.lead("n_nationkey").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    return connected_components(edges).orderBy("vertex")


Q40_SQL = """
WITH RECURSIVE e0 AS (
  SELECT n_nationkey AS src,
         LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
                                 ORDER BY n_nationkey) AS dst
  FROM nation),
e1 AS (SELECT src, dst FROM e0 WHERE dst IS NOT NULL),
edges AS (SELECT src AS a, dst AS b FROM e1
          UNION SELECT dst, src FROM e1),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a AND e.b <> r.src)
SELECT src AS vertex, LEAST(src, MIN(dst))::BIGINT AS component
FROM reach GROUP BY src ORDER BY vertex
"""


# Q41 PageRank over the customer↔supplier interaction graph (edges both
# directions, so no dangling mass and the oracle's recursive term
# references the working table exactly once — the SQL-standard limit).
def q41_pagerank(spark, sf_dir):
    from samba_spark.operators.graph import pagerank

    tables = load_tables(spark, sf_dir, ["orders", "lineitem"])
    pairs = (
        tables["lineitem"]
        .join(
            tables["orders"],
            tables["lineitem"].l_orderkey == tables["orders"].o_orderkey,
        )
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(10_000_000)).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank(edges, iterations=5).orderBy("vertex")


Q41_SQL = """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS (SELECT src, dst FROM pairs
          UNION ALL SELECT dst, src FROM pairs),
verts AS (SELECT DISTINCT src AS vertex FROM edges),
params AS (SELECT COUNT(*)::DOUBLE AS n FROM verts),
outdeg AS (SELECT src, COUNT(*)::DOUBLE AS d FROM edges GROUP BY src),
pr(it, vertex, rank) AS (
  SELECT 0, vertex, 1.0 / (SELECT n FROM params) FROM verts
  UNION ALL
  -- every vertex of this graph has in-edges (edges are symmetric), so one
  -- aggregation over (verts ⟕ edges ⟕ working-table) references the
  -- recursive table exactly once, as the SQL standard requires
  SELECT it + 1, vertex,
         (1 - 0.85) / (SELECT n FROM params) + 0.85 * inflow
  FROM (
    SELECT v.vertex,
           MAX(p.it) AS it,
           SUM(p.rank / o.d) AS inflow
    FROM verts v
    JOIN edges e ON e.dst = v.vertex
    JOIN pr p ON p.vertex = e.src
    JOIN outdeg o ON o.src = e.src
    GROUP BY v.vertex)
  WHERE it < 5)
SELECT vertex, ROUND(rank, 6) AS rank
FROM pr WHERE it = 5 ORDER BY vertex
"""
# Q36 pivot with a declared value list (no extra scan to discover values;
# at scale the value list must be declared anyway).
def q36_pivot(spark, sf_dir):
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("cnt_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("cnt_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("cnt_p"),
    ).orderBy("o_orderpriority")


Q36_SQL = """
SELECT o_orderpriority,
       COUNT(*) FILTER (o_orderstatus = 'F') AS cnt_f,
       COUNT(*) FILTER (o_orderstatus = 'O') AS cnt_o,
       COUNT(*) FILTER (o_orderstatus = 'P') AS cnt_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# Q37 exact percentiles — Spark percentile() and DuckDB quantile_cont share
# the linear-interpolation definition (pos = p*(n-1) over the sorted set).
def q37_percentiles(spark, sf_dir):
    lineitem = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    # one percentile agg with an array argument: the per-group sort is paid
    # once for all three quantiles, not three times
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
            ).alias("_p"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            F.round(F.col("_p")[0], 6).alias("p25"),
            F.round(F.col("_p")[1], 6).alias("p50"),
            F.round(F.col("_p")[2], 6).alias("p75"),
            "n",
        )
        .orderBy("l_returnflag")
    )


Q37_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# Q38 ordered string aggregation — deterministic via explicit sort of the
# collected set (collect_list order is nondeterministic under parallelism;
# array_sort makes the contract total).
def q38_string_agg(spark, sf_dir):
    tables = load_tables(spark, sf_dir, ["region", "nation"])
    joined = tables["nation"].join(
        F.broadcast(tables["region"]),
        tables["nation"].n_regionkey == tables["region"].r_regionkey,
    )
    return (
        joined.groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("r_name")
    )


Q38_SQL = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       COUNT(*) AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# Q43 stream-stream interval join — errors joined to same-user clicks in
# the preceding 2 hours, replayed availableNow; the oracle is the plain
# interval join (inner-join emission is complete, so the sets agree).
def q43_stream_join(spark, sf_dir):
    import uuid

    from samba_spark.streaming import ops as S

    stream = S.read_events_stream(
        spark, sf_dir, nanos=True, path_glob="events.parquet"
    )
    errors = stream.where(F.col("event_type") == "error")
    clicks = stream.where(F.col("event_type") == "click")
    joined = S.interval_join_errors_clicks(errors, clicks, lookback="2 hours")
    name = "q43_" + uuid.uuid4().hex[:8]
    out = S.run_to_memory(joined, name, "append", state_partitions=8)
    return out.orderBy("err_id", "click_id")


Q43_SQL = """
WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'error'),
c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click')
SELECT e.event_id AS err_id, c.event_id AS click_id, e.user_id
FROM e JOIN c ON e.user_id = c.user_id
              AND c.ts BETWEEN e.ts - INTERVAL '2 hours' AND e.ts
ORDER BY err_id, click_id
"""


# Q44 streaming deduplication — dropDuplicates state over the key columns;
# projecting to the key first makes the append-mode output a deterministic
# set (no arbitrary first-seen payload).
def q44_stream_dedup(spark, sf_dir):
    import uuid

    from samba_spark.streaming import ops as S

    stream = S.read_events_stream(
        spark, sf_dir, nanos=True, path_glob="events.parquet"
    )
    distinct = S.streaming_distinct(stream, "user_id", "event_type")
    name = "q44_" + uuid.uuid4().hex[:8]
    out = S.run_to_memory(distinct, name, "append", state_partitions=8)
    return out.orderBy("user_id", "event_type")


Q44_SQL = """
SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type
"""


# Q42 skew-salted join — the layout.salted_join path: the fact side gets a
# random salt, the dimension side is replicated per salt value, so one hot
# key spreads over `salt` tasks. Semantics are exactly the plain join's
# (the oracle IS the plain join) — salting only changes the partitioning.
def q42_salted_join(spark, sf_dir):
    from samba_spark.plans.layout import salted_join

    tables = load_tables(spark, sf_dir, ["orders", "customer"])
    orders = tables["orders"].withColumnRenamed("o_custkey", "c_custkey")
    joined = salted_join(orders, tables["customer"], "c_custkey", salt=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


Q42_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# Q45 correlated subqueries — EXISTS and NOT EXISTS through spark.sql;
# Catalyst rewrites both into semi/anti joins (the SQL-string surface of
# Layer B: identical text runs on both engines).
_Q45_SQL = """
SELECT c.c_custkey, c.c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 100000)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'P')
ORDER BY c.c_custkey
"""


def q45_exists_subqueries(spark, sf_dir):
    tables = load_tables(spark, sf_dir, ["customer", "orders"])
    tables["customer"].createOrReplaceTempView("customer")
    tables["orders"].createOrReplaceTempView("orders")
    return spark.sql(_Q45_SQL)


# Q46 LATERAL join — per-region top-2 nations by key, the lateral-subquery
# form (Catalyst plans a correlated limited subquery per outer row).
_Q46_SQL = """
SELECT r.r_name, t.n_name, t.n_nationkey
FROM region r,
LATERAL (SELECT n_name, n_nationkey FROM nation n
         WHERE n.n_regionkey = r.r_regionkey
         ORDER BY n.n_nationkey LIMIT 2) AS t
ORDER BY r.r_name, t.n_nationkey
"""


def q46_lateral_join(spark, sf_dir):
    tables = load_tables(spark, sf_dir, ["region", "nation"])
    tables["region"].createOrReplaceTempView("region")
    tables["nation"].createOrReplaceTempView("nation")
    return spark.sql(_Q46_SQL)


# Q47 line-mode pipe (reference rdd/RDD.scala:887-945, PipedRDD.scala:
# 70-236): rows stream through a native `sed` as stdin/stdout lines, one
# process per partition. The oracle replays the same per-line rewrite with
# DuckDB string functions. LC_ALL=C makes sed byte-wise — the ASCII-only
# pattern can't match UTF-8 continuation bytes, so it equals DuckDB's
# character-wise regexp_replace. Output order is partition-dependent (as in
# the reference), so both sides sort by value.
def q47_pipe(spark, sf_dir):
    from samba_spark.operators.pipe import pipe_lines

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    lines = docs.select(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("|"),
            F.translate(F.col("text"), "\n\t\r", "   "),
        ).alias("line")
    )
    out = pipe_lines(
        lines, "sed -E 's/[aeiou]//g'", env={"LC_ALL": "C"}
    )
    return out.orderBy("value")


Q47_SQL = """
SELECT regexp_replace(
         doc_id::VARCHAR || '|' ||
         replace(replace(replace(text, chr(10), ' '),
                         chr(9), ' '), chr(13), ' '),
         '[aeiou]', '', 'g') AS value
FROM documents ORDER BY value
"""


# Q51 stream-static enrichment join — the lookup-table pattern: each
# micro-batch of the events stream joins the (batch) customer dimension;
# stateless, so availableNow replay emits exactly the batch-join rows and
# the plain-SQL oracle agrees.
def q51_stream_static_join(spark, sf_dir):
    import uuid

    from samba_spark.streaming import ops as S

    stream = S.read_events_stream(
        spark, sf_dir, nanos=True, path_glob="events.parquet"
    )
    purchases = stream.where(F.col("event_type") == "purchase")
    dim = load_tables(spark, sf_dir, ["customer"])["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = S.enrich_with_dimension(purchases, dim, on="user_id").select(
        "event_id", "user_id", "c_mktsegment"
    )
    name = "q51_" + uuid.uuid4().hex[:8]
    out = S.run_to_memory(enriched, name, "append")
    return out.orderBy("event_id")


Q51_SQL = """
SELECT e.event_id, e.user_id, c.c_mktsegment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
ORDER BY e.event_id
"""


# --- q48–q50: the classic TPC-H showcase trio (Q1, Q6, Q3) over the
# TPC-H-ish fixture. Money columns are exact 2-decimal values, so every
# aggregate is quantized to integer cents (×100 / ×10⁴ / ×10⁶ per the
# factor count) BEFORE summing — engine-exact, no float-sum-order or
# rounding-mode exposure (the x21/x25 pattern). Catalyst plan: pushed
# shipdate filter + partial aggregation; Q3 is a broadcast-dim star join
# with TakeOrderedAndProject for the top-10.


def q48_tpch_q1(spark, sf_dir):
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    cents = lambda c: F.round(c * 100).cast("long")
    e4 = lambda c: F.round(c * 10000).cast("long")
    e6 = lambda c: F.round(c * 1000000).cast("long")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # ROUND before the cast (like the money columns): Spark's
            # cast('long') truncates toward zero while DuckDB's CAST
            # rounds, so parity must not hinge on integral fixtures
            F.sum(F.round("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_price_c"),
            F.sum(e4(disc_price)).alias("sum_disc_price_e4"),
            F.sum(e6(charge)).alias("sum_charge_e6"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q48_SQL = """
SELECT l_returnflag, l_linestatus,
       SUM(CAST(ROUND(l_quantity) AS BIGINT))::BIGINT AS sum_qty,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))::BIGINT AS sum_base_price_c,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))::BIGINT AS sum_disc_price_e4,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT))::BIGINT AS sum_charge_e6,
       COUNT(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q49_tpch_q6(spark, sf_dir):
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000).cast(
                    "long"
                )
            ).alias("revenue_e4"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


Q49_SQL = """
SELECT SUM(CAST(ROUND(l_extendedprice * l_discount * 10000) AS BIGINT))::BIGINT AS revenue_e4,
       COUNT(*)::BIGINT AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q50_tpch_q3(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    cust = t["customer"].where(F.col("c_mktsegment") == "BUILDING")
    cutoff = F.lit("1997-03-15").cast("timestamp")
    orders = t["orders"].where(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].where(F.col("l_shipdate") > cutoff)
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(
            orders, li.l_orderkey == orders.o_orderkey
        )
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.asc("l_orderkey"))
        .limit(10)
    )


Q50_SQL = """
SELECT l_orderkey, o_orderdate,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))::BIGINT AS revenue_e4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15'
  AND l_shipdate  > TIMESTAMP '1997-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue_e4 DESC, l_orderkey ASC
LIMIT 10
"""


def q56_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): HAVING subquery reduces
    lineitem to the big-order keys FIRST (partial-agg shuffle on
    l_orderkey, output ≪ input), then orders semi-join that small set and
    the customer dim broadcasts. Integer-quantized qty/price sums; top-100
    via TakeOrderedAndProject. Completes the TPC-H showcase trio
    (q48–q50) with the HAVING-subquery join shape."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return (
        t["orders"]
        .join(big, t["orders"].o_orderkey == big.l_orderkey)
        .join(
            F.broadcast(t["customer"]),
            t["orders"].o_custkey == t["customer"].c_custkey,
        )
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("o_totalprice_c"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice_c"), "o_orderkey")
        .limit(100)
    )


Q56_SQL = """
WITH big AS (
  SELECT l_orderkey,
         SUM(CAST(ROUND(l_quantity) AS BIGINT))::BIGINT AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 250)
SELECT c_custkey, o_orderkey, o_orderdate,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS o_totalprice_c, total_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice_c DESC, o_orderkey LIMIT 100
"""


def q57_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promo revenue share): lineitem ⋈ part with a one-month
    shipdate slice. part is the broadcast side; revenue quantized to
    integer e-4 units per row before the sum so both engines aggregate
    order-independently, the promo share then a deterministic division of
    two BIGINTs."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    joined = li.join(F.broadcast(t["part"]), li.l_partkey == t["part"].p_partkey)
    return joined.agg(
        F.sum(
            F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("promo_revenue_e4"),
        F.sum(rev).cast("long").alias("total_revenue_e4"),
        F.round(
            F.lit(100.0)
            * F.sum(
                F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
                    F.lit(0)
                )
            )
            / F.sum(rev),
            6,
        ).alias("promo_pct"),
    )


Q57_SQL = """
SELECT
  SUM(CASE WHEN p_type LIKE 'PROMO%'
           THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
           ELSE 0 END)::BIGINT AS promo_revenue_e4,
  SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))::BIGINT
    AS total_revenue_e4,
  ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                         THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
                         ELSE 0 END)
        / SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)),
        6) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
"""


def q58_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local-supplier volume): six-table star — lineitem fans
    out to orders/customer on one side and supplier on the other, with
    the c_nationkey = s_nationkey locality constraint; nation/region
    broadcast. Revenue summed as integer e-4 units."""
    t = load_tables(
        spark,
        sf_dir,
        ["customer", "orders", "lineitem", "supplier", "nation", "region"],
    )
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    nr = t["nation"].join(
        F.broadcast(t["region"].where(F.col("r_name") == "ASIA")),
        t["nation"].n_regionkey == t["region"].r_regionkey,
    )
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("long").alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), "n_name")
    )


Q58_SQL = """
SELECT n_name,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))::BIGINT
         AS revenue_e4
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name ORDER BY revenue_e4 DESC, n_name
"""


def q60_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): one-quarter order slice joins
    returned lineitems, customer dim enriched with broadcast nation;
    top-20 by integer e-4 revenue via TakeOrderedAndProject."""
    t = load_tables(
        spark, sf_dir, ["customer", "orders", "lineitem", "nation"]
    )
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t["lineitem"].where(F.col("l_returnflag") == "R")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("long").alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), "c_custkey")
        .limit(20)
    )


Q60_SQL = """
SELECT c_custkey, c_name, n_name,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))::BIGINT
         AS revenue_e4
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_e4 DESC, c_custkey LIMIT 20
"""


def q61_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape adapted to the fixture (no partsupp table — the
    distinct (partkey, suppkey) pairs come from lineitem): supplier
    variety per (brand, type-prefix, size), excluding one brand and a
    type family; DISTINCT-inside-COUNT + anti-predicates."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    pairs = t["lineitem"].select("l_partkey", "l_suppkey").distinct()
    part = t["part"].where(
        (F.col("p_brand") != "Brand#13")
        & ~F.col("p_type").startswith("PROMO")
        & (F.col("p_size") <= 25)
    )
    return (
        pairs.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(
            F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt")
        )
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
        .limit(100)
    )


Q61_SQL = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM pairs JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13' AND p_type NOT LIKE 'PROMO%' AND p_size <= 25
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 100
"""


# q88: bounded-hop weighted shortest paths — the fourth iterative graph
# operator (CC q40, PageRank q41, triangles x55). Distributed
# Bellman-Ford with frontier pruning over the customer↔supplier graph,
# weight = the pair's minimum line-item quantity (integer-exact). The
# oracle enumerates every <=3-edge walk in a recursive CTE and takes the
# min — path-cost semantics proved equal to the relaxation fixpoint.
def q88_shortest_paths(spark, sf_dir):
    from samba_spark.operators.graph import shortest_paths

    tables = load_tables(spark, sf_dir, ["orders", "lineitem"])
    pairs = (
        tables["lineitem"]
        .join(
            tables["orders"],
            tables["lineitem"].l_orderkey == tables["orders"].o_orderkey,
        )
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(10_000_000)).alias("dst"),
        )
        .agg(F.min(F.col("l_quantity").cast("long")).alias("weight"))
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )
    sources = pairs.select("src").where(F.col("src") <= 5).distinct()
    return shortest_paths(edges, sources, max_hops=3).orderBy("vertex")


Q88_SQL = """
WITH RECURSIVE pairs AS (
  SELECT o_custkey AS src, l_suppkey + 10000000 AS dst,
         MIN(CAST(l_quantity AS BIGINT)) AS weight
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2),
edges AS (SELECT src, dst, weight FROM pairs
          UNION ALL SELECT dst, src, weight FROM pairs),
srcs AS (SELECT DISTINCT src AS vertex FROM pairs WHERE src <= 5),
walk(vertex, dist, hops) AS (
  SELECT vertex, CAST(0 AS BIGINT) AS dist, 0 AS hops FROM srcs
  UNION ALL
  SELECT e.dst, w.dist + e.weight, w.hops + 1
  FROM walk w JOIN edges e ON e.src = w.vertex
  WHERE w.hops < 3)
SELECT vertex, MIN(dist)::BIGINT AS dist
FROM walk GROUP BY vertex ORDER BY vertex
"""


# q89: incremental JOIN maintenance — x71's sibling for the other
# stateful-view shape. x71 proves agg(old) ⊕ agg(delta) == agg(all);
# this proves (A_old⋈B_old) ∪ delta_join(ΔA, ΔB) == A⋈B, with inserts
# on BOTH join sides (orders by date, customers by key residue). The
# oracle computes the full join directly, so a hash match IS the IVM
# identity check.
def q89_delta_join(spark, sf_dir):
    from samba_spark.operators.merge import delta_join

    t = load_tables(spark, sf_dir, ["orders", "customer"])
    cutoff = F.lit("1998-01-01").cast("timestamp")
    o_old = t["orders"].where(F.col("o_orderdate") < cutoff)
    o_new = t["orders"].where(F.col("o_orderdate") >= cutoff)
    cust = t["customer"].withColumnRenamed("c_custkey", "o_custkey")
    c_old = cust.where(F.col("o_custkey") % 5 < 4)
    c_new = cust.where(F.col("o_custkey") % 5 == 4)

    snapshot = o_old.join(c_old, "o_custkey")
    fresh = delta_join(o_old, o_new, c_old, c_new, ["o_custkey"])
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        snapshot.unionByName(fresh)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents).cast("long").alias("total_cents"),
        )
        .orderBy("c_mktsegment")
    )


Q89_SQL = """
SELECT c_mktsegment, COUNT(*)::BIGINT AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


EXTRAS: dict[str, QuerySpec] = {
    "q24_provenance_lineage": QuerySpec(q24_provenance_lineage, Q24_SQL),
    "q25_asof_join": QuerySpec(q25_asof_join, Q25_SQL),
    "q26_range_join": QuerySpec(q26_range_join, Q26_SQL),
    "q27_cogroup": QuerySpec(q27_cogroup, Q27_SQL),
    "q28_zip": QuerySpec(q28_zip, Q28_SQL),
    "q29_approx_count_distinct": QuerySpec(q29_approx_count_distinct, Q29_SQL),
    "q30_sample_by": QuerySpec(q30_sample_by, Q30_SQL),
    "q31_stream_tumbling": QuerySpec(q31_stream_tumbling, Q31_SQL),
    "q32_stream_sessions": QuerySpec(q32_stream_sessions, Q32_SQL),
    "q33_cube": QuerySpec(q33_cube, Q33_SQL),
    "q34_global_agg": QuerySpec(q34_global_agg, Q34_SQL),
    "q35_stream_sliding": QuerySpec(q35_stream_sliding, Q35_SQL),
    "q36_pivot": QuerySpec(q36_pivot, Q36_SQL),
    "q37_percentiles": QuerySpec(q37_percentiles, Q37_SQL),
    "q38_string_agg": QuerySpec(q38_string_agg, Q38_SQL),
    "q39_training_pipeline": QuerySpec(q39_training_pipeline, _q39_sql()),
    "q40_connected_components": QuerySpec(q40_connected_components, Q40_SQL),
    "q41_pagerank": QuerySpec(q41_pagerank, Q41_SQL),
    "q88_shortest_paths": QuerySpec(q88_shortest_paths, Q88_SQL),
    "q89_delta_join": QuerySpec(q89_delta_join, Q89_SQL),
    "q42_salted_join": QuerySpec(q42_salted_join, Q42_SQL),
    "q43_stream_join": QuerySpec(q43_stream_join, Q43_SQL),
    "q44_stream_dedup": QuerySpec(q44_stream_dedup, Q44_SQL),
    "q45_exists_subqueries": QuerySpec(q45_exists_subqueries, _Q45_SQL),
    "q46_lateral_join": QuerySpec(q46_lateral_join, _Q46_SQL),
    "q47_pipe": QuerySpec(q47_pipe, Q47_SQL),
    "q48_tpch_q1": QuerySpec(q48_tpch_q1, Q48_SQL),
    "q49_tpch_q6": QuerySpec(q49_tpch_q6, Q49_SQL),
    "q50_tpch_q3": QuerySpec(q50_tpch_q3, Q50_SQL),
    "q51_stream_static_join": QuerySpec(q51_stream_static_join, Q51_SQL),
    "q55_asof_forward": QuerySpec(q55_asof_forward, Q55_SQL),
    "q56_tpch_q18": QuerySpec(q56_tpch_q18, Q56_SQL),
    "q57_tpch_q14": QuerySpec(q57_tpch_q14, Q57_SQL),
    "q58_tpch_q5": QuerySpec(q58_tpch_q5, Q58_SQL),
    "q60_tpch_q10": QuerySpec(q60_tpch_q10, Q60_SQL),
    "q61_tpch_q16": QuerySpec(q61_tpch_q16, Q61_SQL),
}
