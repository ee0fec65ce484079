"""Round-3 Spark-4 + multimodal + pipeline surface block (x70–x75, q73):
VARIANT semi-structured columns, incremental aggregate maintenance, the
Python UDTF leg of the UDF/UDAF/UDTF triad, audio frame features, MP4
container metadata, streaming CDC snapshot maintenance, and the BPE
merge-selection round — each DuckDB-oracle-checked like every other
declared query."""

from __future__ import annotations

from pyspark.sql import functions as F

from samba_spark.queries.declared import QuerySpec
from samba_spark.sources.tables import load_tables


def x70_variant_extract(spark, sf_dir):
    """VARIANT payload analytics (Spark 4): parse the events JSON payload
    ONCE into the binary VARIANT encoding, then read fields as offset
    lookups — at 100 TB this replaces per-access JSON re-parsing (the
    get_json_object path of x23) with a single parse at the scan. Buckets
    the extracted integer into deciles per event type; integer-only
    output."""
    from samba_spark.operators import semistructured as J

    events = load_tables(spark, sf_dir, ["events"])["events"]
    v = J.to_variant(events, "props")
    k = J.variant_field("props_v", "k", "long")
    return (
        v.select("event_type", k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("event_type", (F.col("k") / 10).cast("long").alias("k_decile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
        )
        .orderBy("event_type", "k_decile")
    )


X70_SQL = """
WITH p AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type, CAST(k // 10 AS BIGINT) AS k_decile,
       COUNT(*)::BIGINT AS n, SUM(k)::BIGINT AS sum_k
FROM p WHERE k IS NOT NULL
GROUP BY event_type, k_decile
ORDER BY event_type, k_decile
"""


def x71_incremental_agg(spark, sf_dir):
    """Incremental aggregate maintenance: a maintained per-priority order
    rollup (history before 1999) is folded together with the aggregate of
    only the new batch (1999+) via merge_partial_aggs — O(delta + groups)
    instead of a full history rescan. The oracle recomputes the rollup
    from ALL orders, so a hash match proves agg(old) ⊕ agg(delta) ==
    agg(all) exactly."""
    from samba_spark.operators.merge import merge_partial_aggs

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cutoff = F.lit("1999-01-01").cast("timestamp")

    def part(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )

    snapshot = part(orders.where(F.col("o_orderdate") < cutoff))
    delta = part(orders.where(F.col("o_orderdate") >= cutoff))
    merged = merge_partial_aggs(
        snapshot, delta, ["o_orderpriority"], ["n_orders", "total_cents"]
    )
    return merged.orderBy("o_orderpriority")


X71_SQL = """
SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS total_cents
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def x72_udtf_leading_tokens(spark, sf_dir):
    """Python UDTF surface: LATERAL table-function call expanding each
    document into its first-10 tokens with positions, then a corpus-level
    head-token frequency table. The UDTF is the deliberate slow path (one
    Python call per row) kept off hot paths — this query pins its
    semantics and the SQL-lateral integration; the JVM-side equivalent for
    scale is posexplode(slice(split(...))) (operators/chunking.py)."""
    from samba_spark.functions.udtf_ops import register_udtfs

    register_udtfs(spark)
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    docs.createOrReplaceTempView("x72_documents")
    return spark.sql(
        """
        SELECT t.token, COUNT(*) AS n, MIN(t.pos) AS min_pos
        FROM x72_documents d, LATERAL leading_tokens(d.text, 10) t
        GROUP BY t.token
        ORDER BY n DESC, t.token
        LIMIT 25
        """
    ).select(
        "token",
        F.col("n").cast("long").alias("n"),
        F.col("min_pos").cast("long").alias("min_pos"),
    )


X72_SQL = """
WITH s AS (SELECT string_split(text, ' ') AS l FROM documents),
pos AS (SELECT unnest(generate_series(1, LEAST(10, len(l)))) AS i, l FROM s),
tok AS (SELECT l[i] AS token, i FROM pos WHERE l[i] <> '')
SELECT token, COUNT(*)::BIGINT AS n, CAST(MIN(i) AS BIGINT) AS min_pos
FROM tok GROUP BY token ORDER BY n DESC, token LIMIT 25
"""


def x73_audio_frames(spark, sf_dir):
    """Audio frame features end-to-end through the REAL WAV codec:
    deterministic 16-bit PCM synthesis (sample i of doc d =
    ((d*31 + i*17) % 4096) - 2048) → RIFF/WAVE encode → decode + 20 ms
    framing → per-frame integer energy (sum|s|, peak). The oracle replays
    the waveform formula in pure SQL, so a hash match proves the binary
    encode/decode round-trip AND the framing math, not just the
    plumbing. 50 blobs × 5 frames; payload bytes never leave the
    executor batch."""
    from samba_spark.operators.multimodal import frame_features, synth_pcm_wavs

    docs = (
        load_tables(spark, sf_dir, ["documents"])["documents"]
        .select("doc_id")
        .where(F.col("doc_id") < 50)
    )
    wavs = synth_pcm_wavs(docs, sample_rate=8000, n_samples=800)
    return frame_features(wavs, frame_len=160).orderBy("media_id", "frame_idx")


X73_SQL = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
s AS (SELECT doc_id, unnest(generate_series(0, 799)) AS i FROM d),
v AS (SELECT doc_id, i // 160 AS frame_idx,
             ((doc_id * 31 + i * 17) % 4096) - 2048 AS smp
      FROM s)
SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       SUM(ABS(smp))::BIGINT AS sum_abs, MAX(ABS(smp))::BIGINT AS peak
FROM v GROUP BY media_id, frame_idx
ORDER BY media_id, frame_idx
"""


def x74_mp4_boxes(spark, sf_dir):
    """Video-container metadata through the REAL ISO-BMFF codec (the video
    leg of the multimodal trio — frame DECODE stays stubbed per the
    no-codec-libs container policy, the box walk is real): deterministic
    MP4 synthesis (ftyp + free(16 + d%64) + mdat(16 + (d*7)%128)) →
    big-endian box walk → one row per top-level box with size and byte
    offset. Oracle replays the size formulas and the running-offset
    arithmetic in SQL, proving the binary round-trip."""
    from samba_spark.operators.multimodal import parse_mp4_boxes, synth_mp4s

    docs = (
        load_tables(spark, sf_dir, ["documents"])["documents"]
        .select("doc_id")
        .where(F.col("doc_id") < 50)
    )
    return (
        parse_mp4_boxes(synth_mp4s(docs))
        .withColumnRenamed("offset", "box_offset")
        .orderBy("media_id", "box_offset")
    )


X74_SQL = """
WITH d AS (SELECT doc_id, 16 + doc_id % 64 AS free_sz,
                  16 + (doc_id * 7) % 128 AS mdat_sz
           FROM documents WHERE doc_id < 50)
SELECT doc_id AS media_id, box_type,
       CAST(box_size AS BIGINT) AS box_size,
       CAST(box_offset AS BIGINT) AS box_offset
FROM (
  SELECT doc_id, 'ftyp' AS box_type, 16 AS box_size, 0 AS box_offset FROM d
  UNION ALL
  SELECT doc_id, 'free', free_sz, 16 FROM d
  UNION ALL
  SELECT doc_id, 'mdat', mdat_sz, 16 + free_sz FROM d)
ORDER BY media_id, box_offset
"""


def q73_stream_cdc(spark, sf_dir):
    """Streaming CDC into a maintained snapshot: the events table is split
    into 4 parquet files, streamed one micro-batch per file, and each
    batch folds into a parquet-backed latest-row-per-user snapshot via
    merge_latest (max_by on (ts, event_id) — batch-order independent, so
    retries/backfills can't clobber newer rows). The oracle computes
    latest-per-user over ALL events in one window, so a hash match proves
    4 incremental folds == the full recompute."""
    import tempfile
    import uuid

    from samba_spark.sources.tables import load_tables as _lt
    from samba_spark.streaming.ops import run_cdc_snapshot

    events = _lt(spark, sf_dir, ["events"])["events"]
    work = tempfile.mkdtemp(prefix=f"q73_{uuid.uuid4().hex[:8]}_")
    src = f"{work}/events_in"
    events.repartition(4).write.mode("overwrite").parquet(src)
    snap = run_cdc_snapshot(spark, src, work)
    return snap.select("user_id", "event_id", "ts", "event_type").orderBy(
        "user_id"
    )


Q73_SQL = """
SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
ORDER BY user_id
"""


def x75_bpe_merge_round(spark, sf_dir):
    """Distributed tokenizer-induction primitive: one BPE merge-selection
    round over the documents corpus (see textual.bpe_merge_round — pair
    extraction in the scan stage, one pair-keyed shuffle, broadcast top-1
    accounting). Restricted to distinct-token pairs so merge count ==
    adjacency count exactly on both engines."""
    from samba_spark.operators.textual import bpe_merge_round

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return bpe_merge_round(docs)


X75_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents),
pos AS (
  SELECT doc_id, unnest(generate_series(1, len(l) - 1)) AS i, l
  FROM toks WHERE len(l) >= 2),
pairs AS (
  SELECT doc_id, l[i] AS a, l[i + 1] AS b FROM pos WHERE l[i] <> l[i + 1]),
top AS (
  SELECT a, b, COUNT(*)::BIGINT AS pair_count
  FROM pairs GROUP BY a, b
  ORDER BY pair_count DESC, a, b LIMIT 1),
tot AS (SELECT SUM(len(l))::BIGINT AS tokens_before FROM toks),
aff AS (
  SELECT COUNT(DISTINCT p.doc_id)::BIGINT AS docs_affected
  FROM pairs p JOIN top t ON p.a = t.a AND p.b = t.b)
SELECT t.a AS pair_left, t.b AS pair_right, t.pair_count,
       tot.tokens_before,
       (tot.tokens_before - t.pair_count)::BIGINT AS tokens_after,
       aff.docs_affected
FROM top t, tot, aff
"""


MODERN: dict[str, QuerySpec] = {
    "q73_stream_cdc": QuerySpec(q73_stream_cdc, Q73_SQL),
    "x70_variant_extract": QuerySpec(x70_variant_extract, X70_SQL),
    "x71_incremental_agg": QuerySpec(x71_incremental_agg, X71_SQL),
    "x72_udtf_leading_tokens": QuerySpec(x72_udtf_leading_tokens, X72_SQL),
    "x73_audio_frames": QuerySpec(x73_audio_frames, X73_SQL),
    "x74_mp4_boxes": QuerySpec(x74_mp4_boxes, X74_SQL),
    "x75_bpe_merge_round": QuerySpec(x75_bpe_merge_round, X75_SQL),
}


def q74_point_in_time(spark, sf_dir):
    """Point-in-time feature assembly (the feature-store correctness
    pattern): for each purchase label event, attach (a) the user's most
    recent click value at-or-before the label time — an as-of join, and
    (b) the user's view count in the trailing hour before the label — a
    range-join aggregate. Both features are leakage-free by construction:
    nothing after the label timestamp can influence its features. Plan:
    one user-keyed exchange for the as-of window; the range join shuffles
    on user and aggregates per label key; at 100 TB both follow key skew,
    not time span. Tie contract: clicks deduped to unique (user, ts) by
    max value (cents-quantized)."""
    from samba_spark.operators import relational as R

    events = load_tables(spark, sf_dir, ["events"])["events"]
    labels = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max(F.round(F.col("value") * 100).cast("long")).alias(
                "click_cents"
            )
        )
    )
    with_click = R.asof_join(
        labels,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_cents"],
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("click_cents_asof").alias("last_click_cents"),
    )
    views = events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    view_counts = (
        with_click.join(
            views,
            (F.col("v_user") == F.col("user_id"))
            & (F.col("v_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("v_ts") < F.col("ts")),
            "left",
        )
        .groupBy("event_id")
        .agg(F.count("v_ts").cast("long").alias("views_1h"))
    )
    return (
        with_click.join(view_counts, "event_id")
        .select("event_id", "user_id", "last_click_cents", "views_1h")
        .orderBy("event_id")
    )


Q74_SQL = """
WITH labels AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'),
clicks AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         MAX(CAST(ROUND(value * 100) AS BIGINT)) AS click_cents
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, CAST(ts AS TIMESTAMP))
SELECT l.event_id, l.user_id,
       (SELECT c.click_cents FROM clicks c
        WHERE c.user_id = l.user_id AND c.ts <= l.ts
        ORDER BY c.ts DESC LIMIT 1) AS last_click_cents,
       (SELECT COUNT(*) FROM events v
        WHERE v.event_type = 'view' AND v.user_id = l.user_id
          AND CAST(v.ts AS TIMESTAMP) >= l.ts - INTERVAL 1 HOUR
          AND CAST(v.ts AS TIMESTAMP) < l.ts)::BIGINT AS views_1h
FROM labels l
ORDER BY l.event_id
"""


MODERN["q74_point_in_time"] = QuerySpec(q74_point_in_time, Q74_SQL)


import os as _os
import tempfile as _tempfile

Q75_PROV_DIR = _os.path.join(_tempfile.gettempdir(), "samba_q75_prov")


def q75_run_diff(spark, sf_dir):
    """Provenance run diff — the A/B pipeline-evolution query the
    reference's web UI answers by eyeballing two executions side by side
    (DataflowProvenance executions list): run pipeline v1 (scan → filter →
    agg) and v2 (scan → filter → join → agg) as two instrumented
    executions into one prov store, then diff their operator-type counts
    straight off the tasks ⋈ executions tables. The oracle reads the same
    parquet store, so the hash match proves the store's written content,
    not just the Spark-side arithmetic. Both sides join executions raw:
    the store writes exactly one executions row per run, however often
    it flushes."""
    import shutil

    from samba_spark.session import ProvSession

    shutil.rmtree(Q75_PROV_DIR, ignore_errors=True)

    v1 = ProvSession(spark, name="v1", prov_dir=Q75_PROV_DIR)
    n1 = v1.read_parquet(f"{sf_dir}/nation.parquet", "nation")
    a1 = n1.where(F.col("n_nationkey") >= 5).group_by("n_regionkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    a1.collect()
    v1.stop()

    v2 = ProvSession(spark, name="v2", prov_dir=Q75_PROV_DIR)
    n2 = v2.read_parquet(f"{sf_dir}/nation.parquet", "nation")
    r2 = v2.read_parquet(f"{sf_dir}/region.parquet", "region")
    f2 = n2.where(F.col("n_nationkey") >= 5)
    j2 = f2.join(r2, on=f2.raw.n_regionkey == r2.raw.r_regionkey, how="inner")
    a2 = j2.group_by("r_name").agg(F.count(F.lit(1)).alias("cnt"))
    a2.collect()
    v2.stop()

    tasks = spark.read.parquet(f"{Q75_PROV_DIR}/tasks")
    # read raw, like the oracle: ProvStore rewrites a run's executions
    # file whole on every flush, so each run has one row and the join
    # counts each task once
    execs = spark.read.parquet(f"{Q75_PROV_DIR}/executions").select(
        "run_id", F.col("name").alias("run_name")
    )
    per = (
        tasks.join(execs, "run_id")
        .groupBy("transformation_type")
        .agg(
            F.sum(F.when(F.col("run_name") == "v1", 1).otherwise(0))
            .cast("long")
            .alias("n_v1"),
            F.sum(F.when(F.col("run_name") == "v2", 1).otherwise(0))
            .cast("long")
            .alias("n_v2"),
        )
    )
    return per.select(
        "transformation_type",
        "n_v1",
        "n_v2",
        (F.col("n_v2") - F.col("n_v1")).cast("long").alias("delta"),
    ).orderBy("transformation_type")


Q75_SQL = f"""
WITH t AS (
  SELECT run_id, transformation_type
  FROM read_parquet('{Q75_PROV_DIR}/tasks/*.parquet')),
e AS (
  SELECT run_id, name
  FROM read_parquet('{Q75_PROV_DIR}/executions/*.parquet'))
SELECT transformation_type,
       SUM(CASE WHEN name = 'v1' THEN 1 ELSE 0 END)::BIGINT AS n_v1,
       SUM(CASE WHEN name = 'v2' THEN 1 ELSE 0 END)::BIGINT AS n_v2,
       (SUM(CASE WHEN name = 'v2' THEN 1 ELSE 0 END)
        - SUM(CASE WHEN name = 'v1' THEN 1 ELSE 0 END))::BIGINT AS delta
FROM t JOIN e USING (run_id)
GROUP BY transformation_type
ORDER BY transformation_type
"""


MODERN["q75_run_diff"] = QuerySpec(q75_run_diff, Q75_SQL)


def x76_corpus_report(spark, sf_dir):
    """Dataset-card report: everything a training-mix decision needs about
    each source in one query — doc count, whitespace-token volume,
    language diversity, exact-duplicate pressure (docs whose normalized
    md5 repeats within the source), and character volume. Two partial-agg
    shuffles total: one keyed on (source, digest) for the dup pressure,
    one on source for the rest; both map-side combined. The composition
    sibling of q39 — individual signals are x1/x6/x7/x8, this is the
    one-stop roll-up a 100 TB corpus publishes as its card."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    d = docs.select(
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("chars"),
        F.size(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).cast("long").alias("toks"),
        F.md5("text").alias("h"),
    )
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("chars").cast("long").alias("total_chars"),
    )
    dups = (
        d.groupBy("source", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_dup_docs")
        )
    )
    return (
        base.join(dups, "source")
        .select(
            "source", "n_docs", "total_tokens", "n_langs", "total_chars",
            "n_dup_docs",
        )
        .orderBy("source")
    )


X76_SQL = """
WITH d AS (
  SELECT source, lang, CAST(n_chars AS BIGINT) AS chars,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS toks,
         md5(text) AS h
  FROM documents),
base AS (
  SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(toks)::BIGINT AS total_tokens,
         COUNT(DISTINCT lang)::BIGINT AS n_langs,
         SUM(chars)::BIGINT AS total_chars
  FROM d GROUP BY source),
dups AS (
  SELECT source,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS n_dup_docs
  FROM (SELECT source, h, COUNT(*)::BIGINT AS c FROM d GROUP BY source, h)
  GROUP BY source)
SELECT base.source, n_docs, total_tokens, n_langs, total_chars, n_dup_docs
FROM base JOIN dups ON base.source = dups.source
ORDER BY base.source
"""


MODERN["x76_corpus_report"] = QuerySpec(x76_corpus_report, X76_SQL)


def x77_scd2_lookup(spark, sf_dir):
    """SCD2 point-in-time dimension lookup — the classic warehouse
    temporal join: build the type-2 customer-tier history from pre-1999
    orders (scd2_history, gaps-and-islands on one customer-keyed
    exchange), derive half-open validity intervals [valid_from,
    next valid_from) with LEAD, then join each purchase event to the
    tier version in effect at its timestamp. Left join keeps facts with
    no valid version (user inactive before the event, or event before
    the first version) with NULL tier — the audit-friendly contract.
    Scale shape: the interval join shuffles on the user key, so cost
    follows key skew; version count per key is tiny by construction
    (islands ≪ rows)."""
    from pyspark.sql import Window

    from samba_spark.operators.merge import scd2_history

    t = load_tables(spark, sf_dir, ["orders", "events"])
    hist_src = t["orders"].where(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    tier = F.floor(F.col("o_totalprice") / 50000).cast("long")
    dim = scd2_history(
        hist_src, "o_custkey", ["o_orderdate", "o_orderkey"], tier, "tier"
    )
    w = Window.partitionBy("o_custkey").orderBy("version")
    versions = dim.select(
        "o_custkey",
        "version",
        "tier",
        F.col("effective_from").alias("valid_from"),
        F.lead("effective_from").over(w).alias("valid_to"),
    )
    facts = t["events"].where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return (
        facts.join(
            versions,
            (F.col("user_id") == F.col("o_custkey"))
            & (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
            "left",
        )
        .select(
            "event_id",
            "user_id",
            F.col("tier").cast("long").alias("tier"),
            F.col("version").cast("long").alias("version"),
        )
        .orderBy("event_id")
    )


X77_SQL = """
WITH t AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS tier
  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
flags AS (
  SELECT *, CASE WHEN ROW_NUMBER() OVER w = 1 THEN 1
                 WHEN LAG(tier) OVER w IS NOT DISTINCT FROM tier
                 THEN 0 ELSE 1 END AS chg
  FROM t
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
isl AS (
  SELECT *, SUM(chg) OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS UNBOUNDED PRECEDING) AS version
  FROM flags),
hist AS (
  SELECT o_custkey, version::BIGINT AS version, MIN(tier) AS tier,
         MIN(o_orderdate) AS effective_from
  FROM isl GROUP BY o_custkey, version),
versions AS (
  SELECT o_custkey, version, tier,
         effective_from AS valid_from,
         LEAD(effective_from) OVER (
           PARTITION BY o_custkey ORDER BY version) AS valid_to
  FROM hist),
facts AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase')
SELECT f.event_id, f.user_id,
       CAST(v.tier AS BIGINT) AS tier, CAST(v.version AS BIGINT) AS version
FROM facts f LEFT JOIN versions v
  ON f.user_id = v.o_custkey AND f.ts >= v.valid_from
     AND (v.valid_to IS NULL OR f.ts < v.valid_to)
ORDER BY f.event_id
"""


MODERN["x77_scd2_lookup"] = QuerySpec(x77_scd2_lookup, X77_SQL)


def q76_unpivot(spark, sf_dir):
    """Wide-to-long UNPIVOT (melt) — the missing inverse of q36's pivot:
    conditional per-status counts per priority form the wide frame, then
    DataFrame.unpivot turns the three measure columns into
    (status, n_orders) rows. Zero extra shuffle: unpivot is a projection
    (each input row fans to #measures rows in place), so the only
    exchange is the one aggregation."""
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    wide = orders.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
        .cast("long")
        .alias("n_open"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_filled"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0))
        .cast("long")
        .alias("n_partial"),
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["n_open", "n_filled", "n_partial"],
        "status",
        "n_orders",
    ).orderBy("o_orderpriority", "status")


Q76_SQL = """
WITH wide AS (
  SELECT o_orderpriority,
         SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_open,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_filled,
         SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS n_partial
  FROM orders GROUP BY o_orderpriority)
SELECT o_orderpriority, status, n_orders FROM (
  SELECT o_orderpriority, 'n_open' AS status, n_open AS n_orders FROM wide
  UNION ALL
  SELECT o_orderpriority, 'n_filled', n_filled FROM wide
  UNION ALL
  SELECT o_orderpriority, 'n_partial', n_partial FROM wide)
ORDER BY o_orderpriority, status
"""


MODERN["q76_unpivot"] = QuerySpec(q76_unpivot, Q76_SQL)


# q87: parameterized SQL — Spark 4's named parameter markers plus
# DataFrame template binding (spark.sql("... {orders} ... :min_price",
# orders=df, min_price=...)). The parameters reach Catalyst as literals
# AFTER parsing, so this is the injection-safe path a query service would
# expose; the oracle inlines the same constant.
def q87_parameterized_sql(spark, sf_dir):
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n,
               CAST(ROUND(SUM(o_totalprice), 2) AS DOUBLE) AS revenue
        FROM {orders}
        WHERE o_totalprice > :min_price AND o_orderpriority <> :skip
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """,
        args={"min_price": 100000.0, "skip": "5-LOW"},
        orders=orders,
    )


Q87_SQL = """
SELECT o_orderstatus, COUNT(*) AS n,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
WHERE o_totalprice > 100000.0 AND o_orderpriority <> '5-LOW'
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

MODERN["q87_parameterized_sql"] = QuerySpec(q87_parameterized_sql, Q87_SQL)


# x91: mergeable quantile sketch — Spark's approx_percentile is a
# Greenwald-Khanna rank summary that MERGES across partitions: O(1/eps)
# sketch bytes shuffle per group instead of a per-group sort, THE 100 TB
# quantile pattern (q37 is the exact-sort twin). Oracle contract is the
# q29/x80 est_ok gate: the exact quantile rides along (hash-matched
# against DuckDB) and the output asserts the accuracy=10000 estimate
# lands within ±2% of it, so the driver row verifies the ESTIMATOR, not
# just the exact path.
def x91_approx_percentile(spark, sf_dir):
    lineitem = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    qs = F.array(F.lit(0.5), F.lit(0.9))
    est_ok = None
    out = (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", qs, 10000).alias("_a"),
            F.percentile("l_extendedprice", qs).alias("_e"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    for i in range(2):
        ok_i = (
            F.abs(F.col("_a")[i] - F.col("_e")[i]) * 100
            <= F.col("_e")[i] * 2
        )
        est_ok = ok_i if est_ok is None else (est_ok & ok_i)
    return out.select(
        "l_returnflag",
        F.round(F.col("_e")[0], 6).alias("p50_exact"),
        F.round(F.col("_e")[1], 6).alias("p90_exact"),
        est_ok.alias("est_ok"),
        "n",
    ).orderBy("l_returnflag")


X91_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50_exact,
       ROUND(quantile_cont(l_extendedprice, 0.90), 6) AS p90_exact,
       TRUE AS est_ok,
       COUNT(*)::BIGINT AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""

MODERN["x91_approx_percentile"] = QuerySpec(x91_approx_percentile, X91_SQL)


# x92: video FRAME SAMPLING through real ISO-BMFF sample tables — the
# missing piece between x74's flat box walk and an actual video training
# pipeline: which byte range is frame i and when is it presented. The
# synthesizer emits a full moov/trak/mdia/minf/stbl tree (two stts runs,
# two chunks via stsc/stco, per-sample stsz); the operator parses those
# tables back and extracts every 3rd frame's payload from mdat. byte_sum
# totals the EXTRACTED bytes, so a hash match proves the chunk-walk
# offsets address the real frame data, not just replayed arithmetic.
# Reference has no video surface (opaque FileGroup bytes only,
# core/src/main/java/br/uff/spark/advancedpipe/FileGroup.java:20-29).
def x92_frame_sample(spark, sf_dir):
    from samba_spark.operators.multimodal import (
        sample_video_frames,
        synth_mp4_videos,
    )

    docs = (
        load_tables(spark, sf_dir, ["documents"])["documents"]
        .select("doc_id")
        .where(F.col("doc_id") < 60)
    )
    return sample_video_frames(synth_mp4_videos(docs), every_k=3).orderBy(
        "media_id", "sample_idx"
    )


# Oracle replays the video_params arithmetic: n = 6 + d%5 samples, two
# stts runs (n//2 at delta1 = 1000 + (d%3)*250, rest at 2*delta1), sample
# i is 12 + ((d*31 + i*7)%48) bytes of fill (d+i)%251, and the fixed box
# layout puts the mdat payload at 412 + 4n (asserted against the real
# encoder in tests/test_multimodal.py).
X92_SQL = """
WITH p AS (
  SELECT doc_id AS media_id,
         6 + doc_id % 5 AS n,
         (6 + doc_id % 5) // 2 AS n1,
         1000 + (doc_id % 3) * 250 AS delta1
  FROM documents WHERE doc_id < 60),
s AS (
  SELECT media_id, n, n1, delta1, CAST(i AS BIGINT) AS i,
         12 + ((media_id * 31 + i * 7) % 48) AS fsize,
         (media_id + i) % 251 AS fill
  FROM p, UNNEST(range(0, n)) AS u(i)),
o AS (
  SELECT media_id, i, n1, delta1, fsize, fill,
         412 + 4 * n + COALESCE(SUM(fsize) OVER (
           PARTITION BY media_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS foffset
  FROM s)
SELECT media_id, i AS sample_idx,
       CAST(CASE WHEN i < n1 THEN i * delta1
                 ELSE n1 * delta1 + (i - n1) * delta1 * 2 END AS BIGINT)
         AS dts,
       CAST(30000 AS BIGINT) AS timescale,
       CAST(fsize AS BIGINT) AS frame_size,
       CAST(foffset AS BIGINT) AS frame_offset,
       CAST(fsize * fill AS BIGINT) AS byte_sum
FROM o WHERE i % 3 = 0
ORDER BY media_id, sample_idx
"""

MODERN["x92_frame_sample"] = QuerySpec(x92_frame_sample, X92_SQL)


# q98: SQL user-defined functions — Spark 4's CREATE FUNCTION ... RETURN
# (SPARK-46246 SQL scalar UDFs + SQL table functions). Unlike Python
# UDFs, the body INLINES into the Catalyst plan (whole-stage-codegen'd,
# optimizer sees through it — zero serialization boundary), which is why
# a warehouse keeps its business logic in SQL UDFs: shared semantics at
# builtin speed. Demonstrates both forms — two scalar fns used inside an
# aggregate and a table function joined as a dimension; the oracle
# inlines every body.
def q98_sql_udf(spark, sf_dir):
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    li.createOrReplaceTempView("q98_lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION q98_disc_cents(
            p DOUBLE, d DOUBLE) RETURNS BIGINT
        RETURN CAST(ROUND(p * (1 - d) * 100) AS BIGINT)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION q98_band(d DOUBLE)
        RETURNS BIGINT
        RETURN CAST(FLOOR(d * 20) AS BIGINT)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION q98_band_labels()
        RETURNS TABLE(band BIGINT, label STRING)
        RETURN SELECT id AS band, concat('disc_band_', id) AS label
               FROM range(21)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag, b.label AS band_label,
               COUNT(*) AS n,
               SUM(q98_disc_cents(l_extendedprice, l_discount))
                 AS sum_disc_cents
        FROM q98_lineitem l
        JOIN q98_band_labels() b ON b.band = q98_band(l.l_discount)
        GROUP BY l_returnflag, b.label
        ORDER BY l_returnflag, band_label
        """
    )


Q98_SQL = """
SELECT l_returnflag,
       'disc_band_' || CAST(CAST(FLOOR(l_discount * 20) AS BIGINT)
                            AS VARCHAR) AS band_label,
       COUNT(*)::BIGINT AS n,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           )::BIGINT AS sum_disc_cents
FROM lineitem
GROUP BY l_returnflag, band_label
ORDER BY l_returnflag, band_label
"""

MODERN["q98_sql_udf"] = QuerySpec(q98_sql_udf, Q98_SQL)
