"""Extension-operator query surface (north-star ops over documents/
embeddings fixtures). Oracle-checked where DuckDB can express the identical
computation (md5/sha256/regex/list functions); hash-family ops (xxhash64
minhash/simhash) and seeded-LSH ops get rows-only checks — deterministic,
but DuckDB has no xxhash64.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from samba_spark.operators import dedup as D
from samba_spark.operators import simsearch as S
from samba_spark.operators import textual as X
from samba_spark.operators import multimodal as M
from samba_spark.queries.declared import QuerySpec, scratch_dir
from samba_spark.sources.tables import load_tables


def _pid_scratch(name: str) -> str:
    """Per-PID wiped scratch dir with atexit removal. A single fixed
    path wiped at entry races any concurrent runner (pytest + the
    parity sweep collided mid-probe); a bare per-PID path leaks one
    corpus-scale index copy per process into .scaling/ (second review
    finding). PID suffix isolates live processes; the atexit hook
    bounds the leak to hard-killed processes."""
    import atexit
    import shutil

    path = scratch_dir(f"{name}_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    if path not in _SCRATCH_CLEANUP:
        _SCRATCH_CLEANUP.add(path)
        atexit.register(shutil.rmtree, path, True)
    return path


_SCRATCH_CLEANUP: "set[str]" = set()


def _stage_stream_batches(work: str, batches_dir: str, dfs) -> None:
    """One parquet FILE per micro-batch with ascending mtimes — the
    FileStream source orders files by (modification time, path), so
    batch order IS the stream's semantics (shared by the x159
    admission and x168 sessionize streaming queries).

    The staging WRITES are independent single-file jobs on disjoint
    dirs, so they overlap from a small thread pool (guide §2.6);
    ordering is untouched because the mtimes are assigned afterwards,
    explicitly and serially."""
    import os

    def _write(k_bdf):
        k, bdf = k_bdf
        tmp = os.path.join(work, f"stage_{k}")
        bdf.coalesce(1).write.mode("overwrite").parquet(tmp)
        return k, tmp

    with ThreadPoolExecutor(max_workers=3) as pool:
        staged = list(pool.map(_write, enumerate(dfs)))
    for k, tmp in staged:
        part = next(
            f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
        )
        dst = os.path.join(batches_dir, f"batch_{k}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        os.utime(dst, (1_000_000_000 + k, 1_000_000_000 + k))


def _docs(spark, sf_dir) -> DataFrame:
    return load_tables(spark, sf_dir, ["documents"])["documents"]


def _embs(spark, sf_dir) -> DataFrame:
    return load_tables(spark, sf_dir, ["embeddings"])["embeddings"]


# -- dedup -----------------------------------------------------------------
def x_dedup_exact(spark, sf_dir):
    return D.dedup_exact(_docs(spark, sf_dir)).orderBy("keep_doc_id")


X_DEDUP_EXACT_SQL = """
SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dups
FROM documents GROUP BY md5(text) ORDER BY keep_doc_id
"""


def x_dedup_normalized(spark, sf_dir):
    return D.dedup_normalized(_docs(spark, sf_dir)).orderBy("keep_doc_id")


X_DEDUP_NORM_SQL = r"""
SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dups
FROM documents
GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
ORDER BY keep_doc_id
"""


def x_minhash_lsh_dedup(spark, sf_dir):
    """Fuzzy dedup clusters via banded MinHash-LSH + connected components.
    md5 hash family → DuckDB replicates the exact pipeline; the oracle's
    connected components is a recursive transitive closure."""
    return D.minhash_lsh_dedup(_docs(spark, sf_dir)).orderBy("doc_id")


def x_simhash(spark, sf_dir):
    """32-bit SimHash signatures (md5 hash family, oracle-checked)."""
    return D.simhash(_docs(spark, sf_dir)).orderBy("doc_id")


def x_ngram_jaccard(spark, sf_dir):
    """LSH candidates verified by exact 3-gram Jaccard ≥ 0.8. The threshold
    compares integers (5·|∩| ≥ 4·|∪|) and the reported jaccard is a raw
    IEEE quotient — both engines divide the same integers, so the doubles
    are bit-identical with no rounding-mode exposure."""
    docs = _docs(spark, sf_dir)
    pairs = D.lsh_candidate_pairs(docs)
    j = D.ngram_jaccard_pairs(docs, pairs)
    return (
        j.where(F.lit(5) * F.col("n_inter") >= F.lit(4) * F.col("n_union"))
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# Shared LSH CTE prefix (DuckDB), mirroring operators/dedup.py defaults:
# 3-gram shingles, 64 hashes, 16 bands × 4 rows, bucket cap 1000.
_A = "[" + ",".join(str(a) for a in D.MINHASH_A) + "]"
_B = "[" + ",".join(str(b) for b in D.MINHASH_B) + "]"

_LSH_PAIRS_CTES = rf"""
toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
sh AS (
  SELECT doc_id, array_to_string(toks[i+1 : i+3], ' ') AS shingle
  FROM toked, UNNEST(range(0, greatest(len(toks)-3, 0) + 1)) AS u(i)),
base AS (
  SELECT doc_id, shingle,
         ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h0
  FROM sh),
hj AS (
  SELECT doc_id, j,
         MIN((({_A})[j+1] * h0 + ({_B})[j+1]) % {D.MINHASH_P}) AS hj
  FROM base, UNNEST(range(0, 64)) AS r(j)
  GROUP BY doc_id, j),
sig AS (
  SELECT doc_id, list(hj ORDER BY j) AS sig FROM hj GROUP BY doc_id),
bandkeys AS (
  SELECT doc_id, b,
         md5(array_to_string(
               list_transform(sig[b*4+1 : b*4+4], x -> x::VARCHAR),
               ',')) AS band_hash
  FROM sig, UNNEST(range(0, 16)) AS rb(b)),
bounded AS (
  SELECT doc_id, b, band_hash FROM bandkeys
  QUALIFY COUNT(*) OVER (PARTITION BY b, band_hash) <= 1000),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bounded x JOIN bounded y
    ON x.b = y.b AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)"""


X_MINHASH_LSH_SQL = rf"""
WITH RECURSIVE {_LSH_PAIRS_CTES},
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT doc_a, doc_b FROM edges
  UNION
  SELECT r.src, e.doc_b
  FROM reach r JOIN edges e ON r.dst = e.doc_a AND e.doc_b <> r.src)
SELECT src AS doc_id, LEAST(src, MIN(dst))::BIGINT AS cluster_id
FROM reach GROUP BY src ORDER BY doc_id
"""


X_NGRAM_JACCARD_SQL = rf"""
WITH {_LSH_PAIRS_CTES},
shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
  FROM pairs p
  JOIN shd a ON a.doc_id = p.doc_a
  JOIN shd b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY p.doc_a, p.doc_b)
SELECT i.doc_a, i.doc_b,
       i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE 5 * i.n_inter >= 4 * (sa.n_sh + sb.n_sh - i.n_inter)
ORDER BY doc_a, doc_b
"""


X_SIMHASH_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
tok AS (SELECT doc_id, t AS tok FROM toked, UNNEST(toks) AS u(t)),
base AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tok),
votes AS (
  SELECT doc_id, i,
         SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM base, UNNEST(range(0, 32)) AS r(i)
  GROUP BY doc_id, i)
SELECT doc_id,
       SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT
         AS simhash
FROM votes GROUP BY doc_id ORDER BY doc_id
"""


# -- text analysis ---------------------------------------------------------
def x_text_stats(spark, sf_dir):
    return X.text_stats(_docs(spark, sf_dir)).orderBy("doc_id")


_STOP = "[" + ",".join(f"'{w}'" for w in X.STOPWORDS) + "]"

X_TEXT_STATS_SQL = rf"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks,
         length(text) AS n_chars
  FROM documents),
r AS (
  SELECT doc_id, n_chars, len(toks) AS n_words,
         length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
               / greatest(n_chars, 1) AS punct_ratio,
         len(list_filter(toks, w -> list_contains({_STOP}, w)))
               / greatest(len(toks), 1) AS stopword_ratio
  FROM t)
SELECT doc_id,
       n_chars AS n_chars_calc,
       n_words,
       punct_ratio,
       stopword_ratio,
       0.5 * least(1.0, n_words / 100.0)
             + 0.3 * (1 - punct_ratio)
             + 0.2 * stopword_ratio AS quality_score
FROM r ORDER BY doc_id
"""


def x_token_count(spark, sf_dir):
    return X.token_count(_docs(spark, sf_dir)).orderBy("doc_id")


X_TOKEN_COUNT_SQL = rf"""
SELECT doc_id,
       len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                       x -> x <> '')) AS ws_tokens,
       len(regexp_extract_all(lower(text), '{X.TOKEN_PATTERN}')) AS bpe_tokens
FROM documents ORDER BY doc_id
"""


def x_lang_id(spark, sf_dir):
    return X.lang_id(_docs(spark, sf_dir)).orderBy("doc_id")


_M = {k: "[" + ",".join(f"'{w}'" for w in v) + "]" for k, v in X.LANG_MARKERS.items()}

X_LANG_ID_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
s AS (
  SELECT doc_id,
         len(list_filter(toks, w -> list_contains({_M['en']}, w))) AS s_en,
         len(list_filter(toks, w -> list_contains({_M['es']}, w))) AS s_es,
         len(list_filter(toks, w -> list_contains({_M['fr']}, w))) AS s_fr
  FROM t)
SELECT doc_id, s_en, s_es, s_fr,
       CASE WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM s ORDER BY doc_id
"""


def x_fingerprint(spark, sf_dir):
    return X.fingerprint(_docs(spark, sf_dir)).orderBy("doc_id")


X_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents ORDER BY doc_id
"""


# -- similarity search -----------------------------------------------------
def _queries_df(embs: DataFrame) -> DataFrame:
    return embs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )


def x_cosine_topk(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    return S.cosine_topk(embs, _queries_df(embs), k=10).orderBy(
        "query_id", "rank"
    )


X_COSINE_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
  FROM embeddings WHERE vec_id < 5),
c AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id,
         ROUND(list_dot_product(q.q_emb, c.emb) /
               (sqrt(list_dot_product(q.q_emb, q.q_emb)) *
                sqrt(list_dot_product(c.emb, c.emb))), 6) AS sim
  FROM c CROSS JOIN q),
ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, sim, rank FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank
"""


def x_ann_lsh_topk(spark, sf_dir):
    """Approximate NN via random-hyperplane LSH. The planes are seeded
    driver-side constants, so the oracle embeds the same plane literals and
    replays bucketing + multi-probe + bucket-local scoring in SQL."""
    embs = _embs(spark, sf_dir)
    return S.lsh_ann_topk(embs, _queries_df(embs), k=10).orderBy(
        "query_id", "rank"
    )


def _plane_sql_list(planes) -> str:
    """DuckDB literal: list of plane vectors (round-trip double reprs)."""
    return (
        "["
        + ",".join("[" + ",".join(repr(v) for v in p) + "]" for p in planes)
        + "]"
    )


def _lsh_bucket_cte(planes, vec_expr: str) -> str:
    """bucket = Σ (1<<i | dot(vec, plane_i) >= 0) as one SQL expression."""
    terms = [
        f"(CASE WHEN list_dot_product({vec_expr}, "
        f"{_plane_sql_list([p])[1:-1]}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")::BIGINT"


def _x11_sql() -> str:
    planes = S.make_planes(64, 6, 42)
    bucket_c = _lsh_bucket_cte(planes, "emb")
    bucket_q = _lsh_bucket_cte(planes, "q_emb")
    probes = "[b0" + "".join(f", xor(b0, {1 << j}::BIGINT)" for j in range(6)) + "]"
    return f"""
WITH c AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
cb AS (SELECT vec_id, emb, {bucket_c} AS bucket FROM c),
q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
  FROM embeddings WHERE vec_id < 5),
qb AS (SELECT query_id, q_emb, {bucket_q} AS b0 FROM q),
qp AS (SELECT query_id, q_emb, UNNEST({probes}) AS bucket FROM qb),
scored AS (
  SELECT DISTINCT qp.query_id, cb.vec_id,
         ROUND(list_dot_product(qp.q_emb, cb.emb) /
               (sqrt(list_dot_product(qp.q_emb, qp.q_emb)) *
                sqrt(list_dot_product(cb.emb, cb.emb))), 6) AS sim
  FROM cb JOIN qp ON cb.bucket = qp.bucket),
ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, sim, rank FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank
"""


def _x12_sql() -> str:
    planes = S.make_planes(64, 6, 7)
    bucket = _lsh_bucket_cte(planes, "emb")
    return f"""
WITH c AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
cb AS (SELECT vec_id, emb, {bucket} AS bucket FROM c)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(a.emb, b.emb) /
             (sqrt(list_dot_product(a.emb, a.emb)) *
              sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.emb, b.emb) /
            (sqrt(list_dot_product(a.emb, a.emb)) *
             sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.4
ORDER BY vec_a, vec_b
"""


def x_semantic_prune(spark, sf_dir):
    """SemDeDup-style semantic dedup: LSH-bucketed cosine pairs →
    connected components → keep the min-id representative per cluster;
    survivors carry n_merged. Threshold 0.4 for the same fixture reason
    as x12 (random embeddings: max pairwise cosine ≈ 0.51)."""
    return (
        S.semantic_prune(_embs(spark, sf_dir), threshold=0.4)
        .select("vec_id", "n_merged")
        .orderBy("vec_id")
    )


def _x88_sql() -> str:
    planes = S.make_planes(64, 6, 7)
    bucket = _lsh_bucket_cte(planes, "emb")
    return f"""
WITH RECURSIVE
c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
cb AS (SELECT vec_id, emb, {bucket} AS bucket FROM c),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.emb, b.emb) /
              (sqrt(list_dot_product(a.emb, a.emb)) *
               sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.4),
sym AS (SELECT va AS u, vb AS w FROM pairs UNION ALL SELECT vb AS u, va AS w FROM pairs),
verts AS (SELECT DISTINCT u AS v FROM sym),
reach(v, u) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.v, s.w FROM reach r JOIN sym s ON s.u = r.u),
comp AS (SELECT v, MIN(u) AS component FROM reach GROUP BY v),
agg AS (SELECT component, MIN(v) AS rep, COUNT(*) AS n_merged
        FROM comp GROUP BY component)
SELECT e.vec_id, COALESCE(a.n_merged, 1)::BIGINT AS n_merged
FROM embeddings e
LEFT JOIN comp cl ON cl.v = e.vec_id
LEFT JOIN agg a ON a.rep = e.vec_id
WHERE cl.v IS NULL OR a.rep IS NOT NULL
ORDER BY vec_id
"""


def x_ivf_topk(spark, sf_dir):
    """IVF approximate NN, TRAINED mode (KMeans coarse quantizer) — kept
    for the recall test (data-adaptive cells must beat sign-LSH); the
    declared x14 query is the PINNED-quantizer variant below, which is
    engine-reproducible and therefore fully oracle-checkable."""
    embs = _embs(spark, sf_dir)
    return S.ivf_topk(embs, _queries_df(embs), k=10).orderBy("query_id", "rank")


# Pinned coarse quantizer for the declared x14 query (VERDICT r5 item 7):
# 8 fixed centroids over the 64-dim embedding space, generated by a pure
# arithmetic formula (no RNG, no training) so BOTH engines embed the same
# literals. Any fixed point set is a valid Voronoi quantizer; pinning is
# the production serving shape (train offline once, ship constants) and
# makes cells — hence probes, hence top-k — deterministic across engines.
X14_CENTROIDS = [
    [(((i * 37 + j * 11 + 5) % 21) - 10) / 10.0 for j in range(64)]
    for i in range(8)
]


def x_ivf_topk_pinned(spark, sf_dir):
    """x14: IVF top-k with the PINNED coarse quantizer (X14_CENTROIDS —
    simsearch.ivf_topk(centroids=...)): nearest-centroid cell assignment
    and probe selection are pure-Catalyst argmin expressions over the
    same literals the DuckDB oracle embeds, so the whole approximate
    result — cells, probes, candidates, rounded cosine ranks — is
    engine-exact. Graduates x14 from rows-only to a full oracle row."""
    embs = _embs(spark, sf_dir)
    return (
        S.ivf_topk(
            embs,
            _queries_df(embs),
            k=10,
            n_probe=3,
            centroids=X14_CENTROIDS,
        )
        .orderBy("query_id", "rank")
    )


def _x14_sql() -> str:
    cents = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ", ".join(repr(v) for v in c)
        )
        for i, c in enumerate(X14_CENTROIDS)
    )
    return f"""
WITH cents(cell, c) AS (VALUES {cents}),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
assigned AS (
  SELECT vec_id, emb, cell FROM (
    SELECT e.vec_id, e.emb, cents.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_sum(list_transform(range(1, 65),
                                         i -> (e.emb[i] - cents.c[i])
                                            * (e.emb[i] - cents.c[i]))),
                                       cents.cell) AS rn
    FROM e CROSS JOIN cents) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 5),
probes AS (
  SELECT query_id, q_emb, cell FROM (
    SELECT q.query_id, q.q_emb, cents.cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY list_sum(list_transform(range(1, 65),
                                         i -> (q.q_emb[i] - cents.c[i])
                                            * (q.q_emb[i] - cents.c[i]))),
                                       cents.cell) AS rn
    FROM q CROSS JOIN cents) WHERE rn <= 3),
scored AS (
  SELECT p.query_id, a.vec_id,
         ROUND(list_dot_product(p.q_emb, a.emb) /
               (sqrt(list_dot_product(p.q_emb, p.q_emb)) *
                sqrt(list_dot_product(a.emb, a.emb))), 6) AS sim
  FROM probes p JOIN assigned a ON a.cell = p.cell),
ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, sim, rank FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank
"""


def x_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, LSH-bucketed. The fixture's
    embeddings are random (max pairwise cosine ≈ 0.51), so the query runs
    at threshold 0.4 to produce a non-empty, oracle-verifiable result; the
    operator's production default stays 0.95."""
    return S.embedding_neardup_pairs(
        _embs(spark, sf_dir), threshold=0.4
    ).orderBy("vec_a", "vec_b")


# -- multimodal ------------------------------------------------------------
def x_multimodal_byte_stats(spark, sf_dir):
    """Binary-column plumbing: documents.text as opaque bytes →
    Arrow-batched feature extraction; oracle checks size + sha256."""
    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
    )
    return (
        M.extract_byte_features(media)
        .select("media_id", "n_bytes", "sha256")
        .orderBy("media_id")
    )


X_MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       length(text) AS n_bytes,
       sha256(text) AS sha256
FROM documents ORDER BY media_id
"""


# -- training-data pipeline ops (packing / decontamination / vocab) --------
def x_sequence_pack(spark, sf_dir):
    """Token-budget sequence packing (concat-and-chunk per source); the
    two-pass grouped running total replaces a single-task global window."""
    from samba_spark.operators import packing as P

    return P.pack_sequences(_docs(spark, sf_dir), budget=256).orderBy(
        "source", "seq_id"
    )


X_SEQUENCE_PACK_SQL = r"""
WITH t AS (
  SELECT source, doc_id,
         len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> ''))::BIGINT AS n_tokens
  FROM documents),
c AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)::BIGINT AS tok_before
  FROM t)
SELECT source, (tok_before // 256)::BIGINT AS seq_id,
       COUNT(*)::BIGINT AS n_docs,
       SUM(n_tokens)::BIGINT AS seq_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM c GROUP BY source, tok_before // 256 ORDER BY source, seq_id
"""


def x_decontaminate(spark, sf_dir):
    """Benchmark-overlap decontamination: src0 plays the eval set; every
    other document reports how many distinct 5-grams it shares with it."""
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("source") != "src0")
    benchmark = docs.where(F.col("source") == "src0")
    return X.decontaminate(corpus, benchmark, n=5).orderBy("doc_id")


X_DECONTAMINATE_SQL = r"""
WITH toked AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
ng AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(toks[i+1 : i+5], ' ') AS ngram
  FROM toked, UNNEST(range(0, greatest(len(toks)-5, 0) + 1)) AS u(i)),
bench AS (SELECT DISTINCT ngram FROM ng WHERE source = 'src0'),
hits AS (
  SELECT c.doc_id, COUNT(*)::BIGINT AS n_overlap
  FROM ng c JOIN bench b ON c.ngram = b.ngram
  WHERE c.source <> 'src0'
  GROUP BY c.doc_id)
SELECT d.doc_id,
       COALESCE(h.n_overlap, 0)::BIGINT AS n_overlap,
       COALESCE(h.n_overlap, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.source <> 'src0'
ORDER BY d.doc_id
"""


def x_top_terms(spark, sf_dir):
    """Per-source top-10 vocabulary terms, integer counts, term tie-break."""
    return X.top_terms(_docs(spark, sf_dir), k=10).orderBy("source", "rank")


X_TOP_TERMS_SQL = r"""
WITH toked AS (
  SELECT source,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
t AS (SELECT source, u.term FROM toked, UNNEST(toks) AS u(term)),
c AS (SELECT source, term, COUNT(*)::BIGINT AS term_count
      FROM t GROUP BY source, term),
r AS (SELECT source, term, term_count,
             row_number() OVER (PARTITION BY source
                                ORDER BY term_count DESC, term) AS rank
      FROM c)
SELECT source, term, term_count, rank::BIGINT AS rank
FROM r WHERE rank <= 10 ORDER BY source, rank
"""


# -- repetition / mixing / vector aggregation (round 2) --------------------
def x_repetition(spark, sf_dir):
    """Gopher-style repetition signals; fractions are raw IEEE quotients of
    exact integers so no rounding-mode exposure."""
    return X.repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


X_REPETITION_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
t AS (SELECT doc_id, u.term FROM toked, UNNEST(toks) AS u(term)),
c AS (SELECT doc_id, term, COUNT(*)::BIGINT AS cnt
      FROM t GROUP BY doc_id, term),
a AS (SELECT doc_id, SUM(cnt)::BIGINT AS n_tokens,
             COUNT(*)::BIGINT AS n_distinct, MAX(cnt)::BIGINT AS top_count
      FROM c GROUP BY doc_id)
SELECT doc_id, n_tokens, n_distinct, top_count,
       (n_tokens - n_distinct) * 1.0 / greatest(n_tokens, 1) AS dup_frac,
       top_count * 1.0 / greatest(n_tokens, 1) AS top_frac
FROM a ORDER BY doc_id
"""


def x_hash_split(spark, sf_dir):
    """Deterministic 90/5/5 train-val-test assignment by md5(doc_id);
    reported as per-(split, source) doc and char totals."""
    from samba_spark.operators import mixing as MX

    s = MX.assign_split(_docs(spark, sf_dir), "doc_id")
    return (
        s.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("split", "source")
    )


def _x19_sql() -> str:
    from samba_spark.operators.mixing import split_bucket_sql

    return f"""
WITH b AS (
  SELECT source, n_chars, {split_bucket_sql('doc_id')} AS bucket
  FROM documents)
SELECT CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split,
       source, COUNT(*)::BIGINT AS n_docs, SUM(n_chars)::BIGINT AS sum_chars
FROM b GROUP BY 1, 2 ORDER BY split, source
"""


def x_source_cap(spark, sf_dir):
    """Per-source deterministic cap (data-mixing downsample): keep the 10
    hash-first docs of each source; stable under any partitioning."""
    from samba_spark.operators import mixing as MX

    return (
        MX.cap_per_group(_docs(spark, sf_dir), "source", 10, "doc_id")
        .select("source", "doc_id", "rk")
        .orderBy("source", "rk")
    )


X_SOURCE_CAP_SQL = """
WITH h AS (
  SELECT source, doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hb
  FROM documents)
SELECT source, doc_id,
       row_number() OVER (PARTITION BY source ORDER BY hb, doc_id)::BIGINT
         AS rk
FROM h QUALIFY rk <= 10 ORDER BY source, rk
"""


def x_label_centroids(spark, sf_dir):
    """Per-label embedding centroid sums, quantized to exact integers
    (floor(double·10^6)) so the distributed sum is associative and the
    oracle matches bit-for-bit; the float centroid op itself is
    vectorops.vector_centroids (tested vs numpy)."""
    from samba_spark.operators import vectorops as V

    return V.centroid_sums_quantized(_embs(spark, sf_dir)).orderBy(
        "label", "pos"
    )


X_LABEL_CENTROIDS_SQL = """
WITH pos AS (
  SELECT label, i AS pos, CAST(embedding[i+1] AS DOUBLE) AS v
  FROM embeddings, UNNEST(range(0, len(embedding))) AS r(i))
SELECT label, pos::BIGINT AS pos,
       SUM(floor(v * 1000000)::BIGINT)::BIGINT AS sum_q,
       COUNT(*)::BIGINT AS n_vecs
FROM pos GROUP BY label, pos ORDER BY label, pos
"""



# -- sessionize / json / redaction / salient terms (round 2, batch 2) ------
def x_sessionize(spark, sf_dir):
    """Batch gap-based sessionization (5-min gap) over the event log; one
    shuffle on user_id shared by lag, session numbering, and the final
    per-session aggregate. Counterpart of the streaming q32."""
    from samba_spark.operators import sessionize as SS

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return SS.session_stats(events, gap_seconds=300).orderBy(
        "user_id", "session_id"
    )


X_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
marked AS (
  SELECT user_id, ts, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w > INTERVAL '300 seconds'
              THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id, session_id::BIGINT AS session_id,
       MIN(ts) AS s_start, MAX(ts) AS s_end,
       COUNT(*)::BIGINT AS n_events,
       COUNT(DISTINCT event_type)::BIGINT AS n_types
FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


def x_json_extract(spark, sf_dir):
    """JSON payload extraction (get_json_object, codegen'd in the scan
    stage) + integer-exact per-type stats of the extracted field."""
    from samba_spark.operators import semistructured as J

    events = load_tables(spark, sf_dir, ["events"])["events"]
    parsed = J.with_json_fields(events, "props", {"k": ("k", "long")})
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count("k").cast("long").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.countDistinct("k").cast("long").alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


X_JSON_EXTRACT_SQL = """
WITH p AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type, COUNT(*)::BIGINT AS n_events,
       COUNT(k)::BIGINT AS n_with_k, SUM(k)::BIGINT AS sum_k,
       MIN(k)::BIGINT AS min_k, MAX(k)::BIGINT AS max_k,
       COUNT(DISTINCT k)::BIGINT AS n_distinct_k
FROM p GROUP BY event_type ORDER BY event_type
"""


def x_redact(spark, sf_dir):
    """PII-pattern scrub over the JSON payload column: chained
    regexp_replace (email/IP/phone/number), zero-shuffle projection;
    audited per event_type with exact integer char deltas."""
    events = load_tables(spark, sf_dir, ["events"])["events"]
    red = X.redaction_stats(events, "props", key="event_type")
    return (
        red.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("was_redacted").cast("long"))
            .cast("long")
            .alias("n_redacted"),
            F.sum("char_delta").cast("long").alias("sum_char_delta"),
            F.countDistinct("props_redacted")
            .cast("long")
            .alias("n_shapes"),
        )
        .orderBy("event_type")
    )


def _x24_sql() -> str:
    from samba_spark.operators.textual import REDACT_PATTERNS

    expr = "props"
    for pat, token in REDACT_PATTERNS:
        # DuckDB single-quoted strings are NOT escape-processed (standard
        # SQL), so the pattern passes through verbatim; only quotes double.
        pat_sql = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{token}', 'g')"
    return f"""
WITH r AS (
  SELECT event_type, props, {expr} AS props_redacted FROM events)
SELECT event_type, COUNT(*)::BIGINT AS n_rows,
       SUM(CASE WHEN props <> props_redacted THEN 1 ELSE 0 END)::BIGINT
         AS n_redacted,
       SUM(length(props) - length(props_redacted))::BIGINT
         AS sum_char_delta,
       COUNT(DISTINCT props_redacted)::BIGINT AS n_shapes
FROM r GROUP BY event_type ORDER BY event_type
"""


def x_salient_terms(spark, sf_dir):
    """Per-document top-3 salient terms: integer-quantized tf-idf-family
    score (tf·N·scale div df·doclen) so ranking is engine-exact."""
    return X.salient_terms(_docs(spark, sf_dir), k=3).orderBy(
        "doc_id", "rank"
    )


X_SALIENT_TERMS_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
t AS (SELECT doc_id, u.term FROM toked, UNNEST(toks) AS u(term)),
tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
tf2 AS (SELECT *, SUM(tf) OVER (PARTITION BY doc_id)::BIGINT AS n_tok
        FROM tf),
df AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
scored AS (
  SELECT tf2.doc_id, tf2.term, tf2.tf, df.df,
         ((tf2.tf * nd.n_docs * 1000000) // (df.df * tf2.n_tok))::BIGINT
           AS score_q
  FROM tf2 JOIN df USING (term) CROSS JOIN nd),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_q DESC, term)::BIGINT
        AS rank
      FROM scored)
SELECT doc_id, term, tf, df, score_q, rank
FROM r WHERE rank <= 3 ORDER BY doc_id, rank
"""



# -- quantile filter / incremental dedup / length histogram (round 2) ------
def x_quantile_filter(spark, sf_dir):
    """Keep the longest quarter of each source's docs by exact rank
    arithmetic (4*rank <= 1*count) — integer score (n_chars), integer
    gate, zero estimation."""
    from samba_spark.operators import mixing as MX

    kept = MX.filter_top_quantile(
        _docs(spark, sf_dir), "source", F.col("n_chars"), 1, 4
    )
    return kept.select("doc_id", "source", "n_chars").orderBy("doc_id")


X_QUANTILE_FILTER_SQL = """
WITH r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents)
SELECT doc_id, source, n_chars FROM r WHERE 4 * rk <= n ORDER BY doc_id
"""


def x_dedup_incremental(spark, sf_dir):
    """Daily-ingest dedup: odd doc_ids are the incoming batch, even the
    accumulated corpus; digest-first anti-join then in-batch dedup."""
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    incoming = docs.where(F.col("doc_id") % 2 == 1)
    return D.dedup_incremental(incoming, corpus).orderBy("keep_doc_id")


X_DEDUP_INCREMENTAL_SQL = """
WITH seen AS (
  SELECT DISTINCT md5(text) AS d FROM documents WHERE doc_id % 2 = 0),
fresh AS (
  SELECT doc_id, md5(text) AS d FROM documents
  WHERE doc_id % 2 = 1 AND md5(text) NOT IN (SELECT d FROM seen))
SELECT MIN(doc_id) AS keep_doc_id, COUNT(*)::BIGINT AS n_batch_dups
FROM fresh GROUP BY d ORDER BY keep_doc_id
"""


def x_bloom_dedup(spark, sf_dir):
    """Bloom-prefiltered daily-ingest dedup: corpus = doc_id %% 3 == 0,
    batch = the rest; a broadcastable position-set bloom rules most of the
    batch out before the exact digest anti-join. Output is EXACT (bloom
    false positives are removed by the verify anti-join), so the oracle is
    the plain anti-join SQL — the bloom is a physical-plan optimization,
    not a semantics change."""
    docs = _docs(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") % 3 == 0)
    incoming = docs.where(F.col("doc_id") % 3 != 0)
    return D.dedup_incremental_bloom(incoming, corpus).orderBy("keep_doc_id")


X_BLOOM_DEDUP_SQL = """
WITH seen AS (
  SELECT DISTINCT md5(text) AS d FROM documents WHERE doc_id % 3 = 0),
fresh AS (
  SELECT doc_id, md5(text) AS d FROM documents
  WHERE doc_id % 3 <> 0 AND md5(text) NOT IN (SELECT d FROM seen))
SELECT MIN(doc_id) AS keep_doc_id, COUNT(*)::BIGINT AS n_batch_dups
FROM fresh GROUP BY d ORDER BY keep_doc_id
"""


def x_length_histogram(spark, sf_dir):
    """Per-source log2 length-bucket profile; bucket = length(bin(n)) —
    floor(log2 n)+1 in pure integer ops, engine-exact at the powers-of-two
    boundaries where float log2 could flip."""
    return X.length_histogram(_docs(spark, sf_dir)).orderBy(
        "source", "len_bucket"
    )


X_LENGTH_HISTOGRAM_SQL = """
SELECT source, length(bin(greatest(n_chars, 1)))::BIGINT AS len_bucket,
       COUNT(*)::BIGINT AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
       MIN(n_chars)::BIGINT AS min_chars, MAX(n_chars)::BIGINT AS max_chars
FROM documents GROUP BY source, len_bucket ORDER BY source, len_bucket
"""


def x_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (chunk=64, stride=32) — the
    fixed-context training-example / RAG-passage splitter. Zero-shuffle
    fan-out: sequence + posexplode inside the scan stage."""
    from samba_spark.operators.chunking import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk=64, stride=32).orderBy(
        "doc_id", "chunk_id"
    )


X_CHUNK_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
n AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM toked WHERE len(toks) > 0),
s AS (
  SELECT doc_id, toks, i AS start, (i // 32)::BIGINT AS chunk_id
  FROM n, UNNEST(range(0, n, 32)) AS u(i))
SELECT doc_id, chunk_id, start,
       len(toks[start+1 : start+64])::BIGINT AS chunk_len,
       md5(array_to_string(toks[start+1 : start+64], ' ')) AS chunk_digest
FROM s ORDER BY doc_id, chunk_id
"""


def x_merge_upsert(spark, sf_dir):
    """Snapshot MERGE (type-1 upsert): a re-crawl batch (every 7th doc,
    re-tagged + size-bumped) replaces its previous version; everything else
    passes through. One anti-join + union — the MERGE INTO plan."""
    from samba_spark.operators.merge import merge_upsert

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    updates = (
        docs.where(F.col("doc_id") % 7 == 0)
        .withColumn("source", F.lit("recrawl"))
        .withColumn("n_chars", F.col("n_chars") + 1000)
    )
    return merge_upsert(docs, updates, ["doc_id"]).orderBy("doc_id")


X_MERGE_UPSERT_SQL = """
WITH updates AS (
  SELECT doc_id, 'recrawl' AS source, n_chars + 1000 AS n_chars
  FROM documents WHERE doc_id % 7 = 0)
SELECT doc_id, source, n_chars FROM updates
UNION ALL
SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 7 <> 0
ORDER BY doc_id
"""


def x_cross_source_overlap(spark, sf_dir):
    """Pairwise source-vocabulary overlap on word bigram shingles — the
    mixing-weight diagnostic that runs before pairwise dedup. Join key is
    the distinct shingle vocabulary, not the corpus."""
    return D.cross_source_overlap(_docs(spark, sf_dir), n=2).orderBy(
        "source_a", "source_b"
    )


X_CROSS_SOURCE_SQL = r"""
WITH toked AS (
  SELECT source,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
sh AS (
  -- full n-token shingles only (docs with < n tokens contribute nothing)
  SELECT DISTINCT source, array_to_string(toks[i+1 : i+2], ' ') AS shingle
  FROM toked, UNNEST(range(0, len(toks) - 2 + 1)) AS u(i)
  WHERE len(toks) >= 2),
sizes AS (SELECT source, COUNT(*)::BIGINT AS n_vocab FROM sh GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*)::BIGINT AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT p.source_a, p.source_b, p.n_shared,
       sa.n_vocab AS n_a, sb.n_vocab AS n_b,
       ROUND(p.n_shared * 1.0 / (sa.n_vocab + sb.n_vocab - p.n_shared), 6) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.source = p.source_a
JOIN sizes sb ON sb.source = p.source_b
ORDER BY source_a, source_b
"""


def x_weighted_sample(spark, sf_dir):
    """Deterministic mixture sampling: downweight three sources (25% /
    50% / 75%), keep the rest — then audit the per-source survivor counts.
    Zero-shuffle keep/drop; the audit agg is the only exchange."""
    from samba_spark.operators.mixing import weighted_sample

    rates = {"src0": 0.25, "src1": 0.5, "src2": 0.75}
    kept = weighted_sample(_docs(spark, sf_dir), "doc_id", rates)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("source")
    )


def _x32_sql() -> str:
    from samba_spark.operators.mixing import split_bucket_sql

    return f"""
WITH b AS (
  SELECT source, n_chars, {split_bucket_sql('doc_id', 10000)} AS bucket
  FROM documents)
SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(n_chars)::BIGINT AS sum_chars
FROM b
WHERE bucket < CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 5000
                           WHEN 'src2' THEN 7500 ELSE 10000 END
GROUP BY source ORDER BY source
"""


def x_collocations(spark, sf_dir):
    """Top-40 corpus bigram collocations with PMI numerator counts —
    integer-exact, TakeOrderedAndProject top-k, unigram counts joined
    onto the k winners only."""
    return X.collocations(_docs(spark, sf_dir), top_k=40).orderBy(
        F.desc("n_ab"), F.asc("w1"), F.asc("w2")
    )


X_COLLOCATIONS_SQL = r"""
WITH toked AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
bg AS (
  SELECT toks[i+1] AS w1, toks[i+2] AS w2
  FROM toked, UNNEST(range(0, greatest(len(toks)-2, 0) + 1)) AS u(i)
  WHERE toks[i+2] IS NOT NULL),
top AS (
  SELECT w1, w2, COUNT(*)::BIGINT AS n_ab
  FROM bg GROUP BY w1, w2
  ORDER BY n_ab DESC, w1 ASC, w2 ASC LIMIT 40),
uni AS (
  SELECT t AS w, COUNT(*)::BIGINT AS n
  FROM toked, UNNEST(toks) AS u(t) GROUP BY t)
SELECT top.w1, top.w2, top.n_ab, a.n AS n_a, b.n AS n_b
FROM top JOIN uni a ON a.w = top.w1 JOIN uni b ON b.w = top.w2
ORDER BY n_ab DESC, w1 ASC, w2 ASC
"""


def x_corpus_diff(spark, sf_dir):
    """Snapshot diff between two corpus versions: v2 drops every 11th
    doc, uppercases every 5th, and the rest pass through — the diff
    reports added/removed/changed only."""
    from samba_spark.operators.merge import snapshot_diff

    docs = _docs(spark, sf_dir)
    v1 = docs.where(F.col("doc_id") % 11 != 3)
    v2 = docs.where(F.col("doc_id") % 11 != 7).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.upper(F.col("text"))).otherwise(
            F.col("text")
        ),
    )
    return snapshot_diff(v1, v2).orderBy("doc_id")


X_CORPUS_DIFF_SQL = """
WITH v1 AS (
  SELECT doc_id, md5(text) AS d FROM documents WHERE doc_id % 11 <> 3),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END) AS d
  FROM documents WHERE doc_id % 11 <> 7)
SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            WHEN v1.d <> v2.d THEN 'changed' END AS status
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
WHERE CASE WHEN v1.doc_id IS NULL THEN 'added'
           WHEN v2.doc_id IS NULL THEN 'removed'
           WHEN v1.d <> v2.d THEN 'changed' END IS NOT NULL
ORDER BY doc_id
"""


def x_repeated_spans(spark, sf_dir):
    """Span-granular exact-dup signal: every 3-token window (stride 2)
    that also occurs in another document — the drop/down-weight targets
    for substring-level dedup."""
    return D.repeated_spans(_docs(spark, sf_dir), n=3, stride=2).orderBy(
        "doc_id", "start"
    )


X_REPEATED_SPANS_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
nn AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM toked WHERE len(toks) > 0),
s AS (
  SELECT doc_id, i AS start,
         md5(array_to_string(toks[i+1 : i+3], ' ')) AS chunk_digest,
         len(toks[i+1 : i+3])::BIGINT AS clen
  FROM nn, UNNEST(range(0, n, 2)) AS u(i)),
f AS (SELECT * FROM s WHERE clen = 3),
cd AS (
  SELECT chunk_digest, COUNT(DISTINCT doc_id)::BIGINT AS n_docs
  FROM f GROUP BY chunk_digest HAVING COUNT(DISTINCT doc_id) >= 2)
SELECT f.doc_id, f.start, f.chunk_digest, cd.n_docs
FROM f JOIN cd USING (chunk_digest)
ORDER BY doc_id, start
"""


def x_token_budget_cap(spark, sf_dir):
    """Token-denominated per-source cap (2000 tokens each) in
    deterministic hash order; audit the kept docs/tokens per source."""
    from samba_spark.operators.mixing import cap_tokens_per_group
    from samba_spark.operators.textual import tokens_col

    kept = cap_tokens_per_group(_docs(spark, sf_dir), "doc_id", 2000)
    return (
        kept.withColumn(
            "_nt", F.size(tokens_col(F.col("text"))).cast("long")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
        )
        .orderBy("source")
    )


def _x36_sql() -> str:
    from samba_spark.operators.mixing import split_bucket_sql

    return rf"""
WITH t AS (
  SELECT source, doc_id,
         len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> ''))::BIGINT AS nt,
         {split_bucket_sql('doc_id', 1 << 16)} AS b
  FROM documents),
c AS (
  SELECT source, doc_id, nt,
         COALESCE(SUM(nt) OVER (PARTITION BY source ORDER BY b, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)::BIGINT AS tok_before
  FROM t)
SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(nt)::BIGINT AS n_tokens
FROM c WHERE tok_before < 2000
GROUP BY source ORDER BY source
"""


def x_norm_stats(spark, sf_dir):
    """Per-label embedding L2-norm health stats, integer-quantized for
    engine-exact parity (floor(x²·10¹²) squares, ×10⁶ norms)."""
    from samba_spark.operators.vectorops import norm_stats

    return norm_stats(_embs(spark, sf_dir)).orderBy("label")


X_NORM_STATS_SQL = """
WITH q AS (
  SELECT label,
         FLOOR(SQRT(list_sum(list_transform(embedding,
                 x -> FLOOR(x::DOUBLE * x::DOUBLE * 1e12)::BIGINT))::DOUBLE
               / 1e12) * 1e6)::BIGINT AS nq
  FROM embeddings)
SELECT label, COUNT(*)::BIGINT AS n_vecs,
       MIN(nq) AS min_norm_e6, MAX(nq) AS max_norm_e6,
       ROUND(SUM(nq) / COUNT(*) / 1e6, 6) AS avg_norm
FROM q GROUP BY label ORDER BY label
"""


def x_search_topk(spark, sf_dir):
    """Keyword search over the corpus: top-15 docs for a 3-term query,
    integer-quantized TF·IDF ranking, ties on doc_id."""
    return X.search_topk(
        _docs(spark, sf_dir), ["table", "stream", "vector"], k=15
    )


X_SEARCH_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
tf AS (
  SELECT doc_id,
         len(list_filter(toks, x -> x = 'table'))::BIGINT AS tf0,
         len(list_filter(toks, x -> x = 'stream'))::BIGINT AS tf1,
         len(list_filter(toks, x -> x = 'vector'))::BIGINT AS tf2
  FROM toked),
stats AS (
  SELECT COUNT(*)::BIGINT AS n,
         SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
         SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
         SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
  FROM tf)
SELECT doc_id,
       (CASE WHEN df0 > 0 THEN tf0 * FLOOR(1e6 * n / df0)::BIGINT ELSE 0 END
      + CASE WHEN df1 > 0 THEN tf1 * FLOOR(1e6 * n / df1)::BIGINT ELSE 0 END
      + CASE WHEN df2 > 0 THEN tf2 * FLOOR(1e6 * n / df2)::BIGINT ELSE 0 END
       )::BIGINT AS score
FROM tf, stats
WHERE (CASE WHEN df0 > 0 THEN tf0 * FLOOR(1e6 * n / df0)::BIGINT ELSE 0 END
     + CASE WHEN df1 > 0 THEN tf1 * FLOOR(1e6 * n / df1)::BIGINT ELSE 0 END
     + CASE WHEN df2 > 0 THEN tf2 * FLOOR(1e6 * n / df2)::BIGINT ELSE 0 END) > 0
ORDER BY score DESC, doc_id ASC
LIMIT 15
"""


def x_skew_profile(spark, sf_dir):
    """Join-key skew diagnostic on lineitem.l_suppkey: top-10 heaviest
    keys with integer ppm shares — the decide-before-you-shuffle tool."""
    from samba_spark.plans.layout import skew_profile

    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    return skew_profile(li, "l_suppkey", top=10)


X_SKEW_SQL = """
WITH c AS (
  SELECT l_suppkey, COUNT(*)::BIGINT AS n_rows FROM lineitem GROUP BY l_suppkey),
t AS (SELECT SUM(n_rows)::BIGINT AS total FROM c)
SELECT l_suppkey, n_rows,
       FLOOR(1000000 * n_rows / total)::BIGINT AS share_ppm
FROM c, t ORDER BY n_rows DESC, l_suppkey ASC LIMIT 10
"""


def q52_integrity_audit(spark, sf_dir):
    """Referential-integrity audit across the star schema: per
    relationship, the row count and the orphan count (children whose
    foreign key has no parent) — each an anti-join that broadcasts the
    parent key set when it fits. The data-quality gate a warehouse runs
    per ingest."""
    t = load_tables(
        spark, sf_dir, ["lineitem", "orders", "customer", "nation", "region"]
    )

    def audit(name, child, fk, parent, pk):
        orphans = child.join(
            parent.select(F.col(pk).alias(fk)).distinct(), fk, "left_anti"
        )
        return child.agg(
            F.lit(name).alias("relationship"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        ).crossJoin(
            orphans.agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        )

    audits = [
        audit("lineitem->orders", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
        audit("orders->customer", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        audit("customer->nation", t["customer"], "c_nationkey", t["nation"], "n_nationkey"),
        audit("nation->region", t["nation"], "n_regionkey", t["region"], "r_regionkey"),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out.orderBy("relationship")


# NOT EXISTS, not NOT IN: the Spark side's left_anti counts a NULL foreign
# key as an orphan, while NOT IN's three-valued NULL semantics would
# silently exclude NULL-keyed children — the two sides must agree even if
# a fixture ever ships NULL FKs.
Q52_SQL = """
SELECT 'customer->nation' AS relationship, (SELECT COUNT(*) FROM customer)::BIGINT AS n_rows,
       (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
          (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))::BIGINT AS n_orphans
UNION ALL
SELECT 'lineitem->orders', (SELECT COUNT(*) FROM lineitem)::BIGINT,
       (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
          (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT
UNION ALL
SELECT 'nation->region', (SELECT COUNT(*) FROM nation)::BIGINT,
       (SELECT COUNT(*) FROM nation na WHERE NOT EXISTS
          (SELECT 1 FROM region r WHERE r.r_regionkey = na.n_regionkey))::BIGINT
UNION ALL
SELECT 'orders->customer', (SELECT COUNT(*) FROM orders)::BIGINT,
       (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
          (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT
ORDER BY relationship
"""


def x_funnel(spark, sf_dir):
    """Ordered 3-step funnel (signup → click → purchase) over events:
    per-step user counts, each step strictly after the previous."""
    from samba_spark.operators.sessionize import funnel_counts

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return funnel_counts(events, ["signup", "click", "purchase"])


X_FUNNEL_SQL = """
WITH s0 AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
s1 AS (
  SELECT e.user_id, MIN(e.ts) AS t1
  FROM events e JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t0
  WHERE e.event_type = 'click' GROUP BY e.user_id),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT 'step0_signup' AS step, COUNT(*)::BIGINT AS n_users FROM s0
UNION ALL SELECT 'step1_click', COUNT(*)::BIGINT FROM s1
UNION ALL SELECT 'step2_purchase', COUNT(*)::BIGINT FROM s2
ORDER BY step
"""


def x_deep_funnel(spark, sf_dir):
    """6-step funnel (repeating step types allowed) — the depth that made
    the round-2 per-prefix implementation O(k²) in events scans; the
    single-pass rewrite holds one collect-list shuffle regardless of k."""
    from samba_spark.operators.sessionize import funnel_counts

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return funnel_counts(
        events, ["signup", "view", "click", "view", "click", "purchase"]
    )


X_DEEP_FUNNEL_SQL = """
WITH s0 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
s1 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t
  WHERE e.event_type = 'view' GROUP BY e.user_id),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
  WHERE e.event_type = 'click' GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
  WHERE e.event_type = 'view' GROUP BY e.user_id),
s4 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t
  WHERE e.event_type = 'click' GROUP BY e.user_id),
s5 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s4 ON e.user_id = s4.user_id AND e.ts > s4.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT 'step0_signup' AS step, COUNT(*)::BIGINT AS n_users FROM s0
UNION ALL SELECT 'step1_view', COUNT(*)::BIGINT FROM s1
UNION ALL SELECT 'step2_click', COUNT(*)::BIGINT FROM s2
UNION ALL SELECT 'step3_view', COUNT(*)::BIGINT FROM s3
UNION ALL SELECT 'step4_click', COUNT(*)::BIGINT FROM s4
UNION ALL SELECT 'step5_purchase', COUNT(*)::BIGINT FROM s5
ORDER BY step
"""


def x_retention(spark, sf_dir):
    """Weekly retention-cohort triangle over events."""
    from samba_spark.operators.sessionize import retention_cohorts

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return retention_cohorts(events)


X_RETENTION_SQL = """
WITH c AS (
  SELECT user_id, date_trunc('week', MIN(ts))::DATE AS cohort
  FROM events GROUP BY user_id),
a AS (
  SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS p FROM events)
SELECT c.cohort, (date_diff('day', c.cohort, a.p) // 7)::BIGINT AS period_offset,
       COUNT(DISTINCT a.user_id)::BIGINT AS n_users
FROM a JOIN c USING (user_id)
GROUP BY c.cohort, period_offset ORDER BY cohort, period_offset
"""


def x_phash_dedup(spark, sf_dir):
    """Perceptual-hash image dedup on the REAL pure-stdlib PNG codec:
    synth 16×16 RGB PNGs whose pixel pattern is keyed by doc_id % 4 (4
    dedup classes), add an 8×8 resized copy of every image (media_id +
    1000), average-hash all of them (decode → luma → nearest 8×8 → bit =
    luma > mean), then banded-Hamming near-dup pairs (4×16-bit bands,
    hamming ≤ 3 — exhaustive by pigeonhole). Nearest resampling composes,
    so each resized copy provably hashes identically to its original —
    scale-invariant dedup, and the oracle recomputes every hash from the
    pattern arithmetic (never touching a PNG), proving codec + hash end
    to end."""
    docs = (
        _docs(spark, sf_dir)
        .where("doc_id <= 20")
        .select(
            "doc_id",
            F.lit(16).cast("int").alias("_w"),
            F.lit(16).cast("int").alias("_h"),
            (F.col("doc_id") % 4).cast("int").alias("_seed"),
        )
    )
    originals = M.synth_pixel_pngs(docs, pattern_col="_seed")
    resized = M.resize_images(originals, width=8, height=8).select(
        (F.col("media_id") + 1000).alias("media_id"), "content"
    )
    hashed = M.image_perceptual_hash(
        originals.select("media_id", "content").unionByName(resized)
    )
    return M.phash_neardup_pairs(hashed, max_hamming=3, bands=4).orderBy(
        "media_a", "media_b"
    )


X_PHASH_SQL = """
WITH px AS (
  SELECT s.s, j.j, i.i,
         (299 * ((2*i.i*7 + 2*j.j*13 +  0 + s.s*31) % 256)
        + 587 * ((2*i.i*7 + 2*j.j*13 + 29 + s.s*31) % 256)
        + 114 * ((2*i.i*7 + 2*j.j*13 + 58 + s.s*31) % 256)) // 1000 AS luma
  FROM range(4) s(s), range(8) j(j), range(8) i(i)),
mean AS (SELECT s, SUM(luma) // 64 AS m FROM px GROUP BY s),
hashes AS (
  SELECT px.s,
         SUM(CASE WHEN luma > m AND (j*8+i) < 32
                  THEN (1::BIGINT << (31 - (j*8+i))) ELSE 0 END) AS hi,
         SUM(CASE WHEN luma > m AND (j*8+i) >= 32
                  THEN (1::BIGINT << (63 - (j*8+i))) ELSE 0 END) AS lo
  FROM px JOIN mean USING (s) GROUP BY px.s),
media AS (
  SELECT doc_id + off.o AS media_id, (doc_id % 4)::INTEGER AS s
  FROM documents, (VALUES (0), (1000)) off(o)
  WHERE doc_id <= 20),
hashed AS (SELECT media_id, hi, lo FROM media JOIN hashes USING (s))
SELECT a.media_id AS media_a, b.media_id AS media_b,
       (bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)))::INTEGER
         AS hamming
FROM hashed a JOIN hashed b ON a.media_id < b.media_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
ORDER BY media_a, media_b
"""


def x_audio_fingerprint_dedup(spark, sf_dir):
    """Audio fingerprint dedup on the REAL pure-stdlib WAV codec: synth
    16-bit PCM sawtooth clips whose waveform is keyed by doc_id % 3 (3
    dedup classes), fingerprint each (frame 32-sample windows → Σ|s|
    energies → bit = E[t] > E[t+1], 64 bits), then the SAME banded-Hamming
    near-dup join as x89 (phash_neardup_pairs is representation-agnostic).
    The oracle recomputes every sample, energy, and bit from the sawtooth
    arithmetic — never touching a WAV."""
    docs = (
        _docs(spark, sf_dir)
        .where("doc_id <= 15")
        .select("doc_id", (F.col("doc_id") % 3).cast("int").alias("_seed"))
    )
    wavs = M.synth_wave_wavs(docs, pattern_col="_seed")
    hashed = M.audio_fingerprint(wavs, frame=32, bits=64)
    return M.phash_neardup_pairs(
        hashed, max_hamming=3, bands=4, hash_col="afp"
    ).orderBy("media_a", "media_b")


X_AUDIO_FP_SQL = """
WITH pcm AS (
  SELECT p.p, i.i,
         abs(((i.i*(2*p.p+3) + p.p*37) % 1000)*60 - 30000) AS mag
  FROM range(3) p(p), range(2080) i(i)),
e AS (
  SELECT p, i // 32 AS t, SUM(mag) AS energy
  FROM pcm GROUP BY p, i // 32),
b AS (
  SELECT a.p, a.t,
         CASE WHEN a.energy > n.energy THEN 1 ELSE 0 END AS bit
  FROM e a JOIN e n ON n.p = a.p AND n.t = a.t + 1
  WHERE a.t < 64),
fp AS (
  SELECT p,
         SUM(CASE WHEN bit = 1 AND t < 32
                  THEN (1::BIGINT << (31 - t)) ELSE 0 END) AS hi,
         SUM(CASE WHEN bit = 1 AND t >= 32
                  THEN (1::BIGINT << (63 - t)) ELSE 0 END) AS lo
  FROM b GROUP BY p),
media AS (
  SELECT doc_id AS media_id, (doc_id % 3)::INTEGER AS p
  FROM documents WHERE doc_id <= 15),
hashed AS (SELECT media_id, hi, lo FROM media JOIN fp USING (p))
SELECT a.media_id AS media_a, b.media_id AS media_b,
       (bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)))::INTEGER
         AS hamming
FROM hashed a JOIN hashed b ON a.media_id < b.media_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
ORDER BY media_a, media_b
"""


def x_png_pixel_pipeline(spark, sf_dir):
    """Pixel-level image pipeline on the REAL pure-stdlib PNG codec (no
    PIL, no stubs): synth full PNGs (IDAT pixels, filter cycling over all
    five types) from document params, decode the dimensions back, resize
    to 4×4, decode the resized payloads. The oracle recomputes every
    dimension arithmetically — proving decode inverts encode AND resize
    emits valid PNGs at the target size, distributed."""
    docs = (
        _docs(spark, sf_dir)
        .where("doc_id <= 5")
        .select(
            "doc_id",
            (F.lit(8) + F.col("doc_id") % 8).cast("int").alias("_w"),
            (F.lit(6) + F.col("doc_id") % 6).cast("int").alias("_h"),
        )
    )
    media = M.synth_pixel_pngs(docs)
    orig = M.decode_images(media)
    resized = M.decode_images(M.resize_images(media, width=4, height=4)).select(
        "media_id",
        F.col("width").alias("r_width"),
        F.col("height").alias("r_height"),
        F.col("channels").alias("r_channels"),
    )
    return orig.join(resized, "media_id").orderBy("media_id")


X_PNG_PIXEL_SQL = """
SELECT doc_id::BIGINT AS media_id,
       (8 + doc_id % 8)::INTEGER AS width,
       (6 + doc_id % 6)::INTEGER AS height,
       3::INTEGER AS channels,
       4::INTEGER AS r_width,
       4::INTEGER AS r_height,
       3::INTEGER AS r_channels
FROM documents WHERE doc_id <= 5 ORDER BY media_id
"""


def x_jpeg_pixel_pipeline(spark, sf_dir):
    """Pixel-VALUE image pipeline on the REAL pure-stdlib baseline-JPEG
    codec (jpegcodec.py — no PIL, no stubs; VERDICT r6 item 6): synth
    entropy-coded JPEGs from document ids (four constant even-valued
    8x8 blocks each, restart interval cycling 0/1/2 so the DRI/RSTn
    resync path runs distributed), full-decode them for exact pixel
    sums (multimodal.image_pixel_stats — Huffman, dequant, IDCT), then
    resize to 4x4 through the JPEG→PNG resample path and decode THOSE
    pixels too. Even-valued constant blocks make the lossy DCT pipeline
    exactly invertible (quantized DC = (v-128)/2, every AC quantizes to
    0 — jpegcodec.decoded_constant_block_value), so the oracle replays
    decoded pixel VALUES with plain integer arithmetic, not just
    dimensions: px_sum = 64·Σv_b, and the 4x4 nearest resample keeps
    pixels (0,4,8,12)² — one per block quadrant — so r_px_sum = 4·Σv_b."""
    docs = _docs(spark, sf_dir).where("doc_id <= 7").select("doc_id")
    media = M.synth_jpegs(docs)
    stats = M.image_pixel_stats(media)
    resized = M.image_pixel_stats(
        M.resize_images(media, width=4, height=4)
    ).select(
        "media_id",
        F.col("width").alias("r_width"),
        F.col("height").alias("r_height"),
        F.col("channels").alias("r_channels"),
        F.col("px_sum").alias("r_px_sum"),
    )
    return stats.join(resized, "media_id").orderBy("media_id")


X_JPEG_PIXEL_SQL = """
WITH v AS (
  SELECT doc_id,
         2*((doc_id*37 +   0) % 128) AS v0,
         2*((doc_id*37 +  53) % 128) AS v1,
         2*((doc_id*37 + 106) % 128) AS v2,
         2*((doc_id*37 + 159) % 128) AS v3
  FROM documents WHERE doc_id <= 7)
SELECT doc_id::BIGINT AS media_id,
       16::INTEGER AS width,
       16::INTEGER AS height,
       1::INTEGER AS channels,
       (64*(v0+v1+v2+v3))::BIGINT AS px_sum,
       LEAST(v0,v1,v2,v3)::INTEGER AS px_min,
       GREATEST(v0,v1,v2,v3)::INTEGER AS px_max,
       4::INTEGER AS r_width,
       4::INTEGER AS r_height,
       1::INTEGER AS r_channels,
       (4*(v0+v1+v2+v3))::BIGINT AS r_px_sum
FROM v ORDER BY media_id
"""


# q53: the provenance surface's hard driver signal. q24 is rows-only by
# design (its invariants are engine-internal); here the same capture
# semantics are re-expressed as a deterministic COUNT query over the
# persisted prov parquet, and the DuckDB oracle reads the SAME store —
# a real value-hash row for the provenance family.
Q53_PROV_DIR = scratch_dir("q53_prov")


def q53_provenance_counts(spark, sf_dir):
    """scan(nation)+scan(region) → filter(track_dropped) → join → agg with
    element capture, then per-transformation-type element/dep counts read
    back from the prov store. nation/region are fixed-size at every SF, so
    the counts are SF-independent and deterministic (element ids are
    uuids, but only counts are compared)."""
    import shutil

    from samba_spark.session import ProvSession

    shutil.rmtree(Q53_PROV_DIR, ignore_errors=True)
    ps = ProvSession(spark, name="q53", prov_dir=Q53_PROV_DIR)
    nation = ps.read_parquet(f"{sf_dir}/nation.parquet", "nation").with_elements()
    region = ps.read_parquet(f"{sf_dir}/region.parquet", "region").with_elements()
    nation.persist_elements()
    region.persist_elements()
    filtered = nation.where(F.col("n_nationkey") >= 5, track_dropped=True)
    filtered.persist_elements()
    joined = filtered.join(
        region, on=filtered.raw.n_regionkey == region.raw.r_regionkey, how="inner"
    )
    joined.persist_elements()
    agged = joined.group_by("r_name").agg(F.count(F.lit(1)).alias("cnt"))
    agged.persist_elements()
    agged.collect()
    ps.stop()

    tasks = spark.read.parquet(f"{Q53_PROV_DIR}/tasks").select(
        "task_id", "transformation_type"
    )
    els = spark.read.parquet(f"{Q53_PROV_DIR}/elements")
    deps = spark.read.parquet(f"{Q53_PROV_DIR}/element_deps")
    e_per = (
        els.join(tasks, "task_id")
        .groupBy("transformation_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_elements"))
    )
    d_per = (
        deps.join(tasks, "task_id")
        .groupBy("transformation_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_deps"))
    )
    return (
        e_per.join(d_per, "transformation_type", "full_outer")
        .select(
            "transformation_type",
            F.coalesce("n_elements", F.lit(0)).cast("long").alias("n_elements"),
            F.coalesce("n_deps", F.lit(0)).cast("long").alias("n_deps"),
        )
        .orderBy("transformation_type")
    )


Q53_SQL = f"""
WITH t AS (
  SELECT task_id, transformation_type
  FROM read_parquet('{Q53_PROV_DIR}/tasks/*.parquet')),
e AS (
  SELECT t.transformation_type, COUNT(*)::BIGINT AS n_elements
  FROM read_parquet('{Q53_PROV_DIR}/elements/*.parquet') el
  JOIN t ON t.task_id = el.task_id
  GROUP BY 1),
d AS (
  SELECT t.transformation_type, COUNT(*)::BIGINT AS n_deps
  FROM read_parquet('{Q53_PROV_DIR}/element_deps/*.parquet') dp
  JOIN t ON t.task_id = dp.task_id
  GROUP BY 1)
SELECT COALESCE(e.transformation_type, d.transformation_type) AS transformation_type,
       COALESCE(e.n_elements, 0)::BIGINT AS n_elements,
       COALESCE(d.n_deps, 0)::BIGINT AS n_deps
FROM e FULL OUTER JOIN d ON e.transformation_type = d.transformation_type
ORDER BY transformation_type
"""


def q54_skew_window(spark, sf_dir):
    """Skew-stress window: 70% of orders funneled onto one synthetic hot
    key, then per-key top-3 by (o_totalprice, o_orderkey) via
    plans.layout.bucketed_rank — the hot key's window runs as 32 bucket
    tasks instead of one straggler. Oracle is the plain ROW_NUMBER()."""
    from samba_spark.plans.layout import bucketed_rank

    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    skewed = o.withColumn(
        "skew_key",
        F.when(F.col("o_custkey") % 10 < 7, F.lit(0))
        .otherwise(F.col("o_custkey"))
        .cast("long"),
    )
    ranked = bucketed_rank(
        skewed, "skew_key", "o_totalprice", "o_orderkey", buckets=32
    )
    return (
        ranked.where(F.col("rnk") <= 3)
        .select("skew_key", "o_orderkey", "rnk")
        .orderBy("skew_key", "rnk")
    )


Q54_SQL = """
WITH s AS (
  SELECT o_orderkey, o_totalprice,
         (CASE WHEN o_custkey % 10 < 7 THEN 0 ELSE o_custkey END)::BIGINT AS skew_key
  FROM orders)
SELECT skew_key, o_orderkey, rnk FROM (
  SELECT skew_key, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY skew_key
                            ORDER BY o_totalprice, o_orderkey)::BIGINT AS rnk
  FROM s) z
WHERE rnk <= 3 ORDER BY skew_key, rnk
"""


def x_retention_monthly(spark, sf_dir):
    """Monthly retention-cohort triangle — exercises the calendar-month
    offset path (fixed this round: datediff div 30 misbucketed Jan→Mar
    as offset 1; now (year*12+month) deltas). The fixture spans ONE
    calendar month, which would make the triangle a single vacuous cell,
    so activity is deterministically spread across three months first
    (event_id % 3 month shift, so every user spans months; both engines clamp end-of-month the same
    way — Jan 30/31 + 1 month = Feb 29, verified)."""
    from samba_spark.operators.sessionize import retention_cohorts

    events = load_tables(spark, sf_dir, ["events"])["events"]
    spread = events.withColumn(
        "ts", F.expr("timestampadd(MONTH, CAST(event_id % 3 AS INT), ts)")
    )
    return retention_cohorts(spread, granularity="month")


X_RETENTION_MONTHLY_SQL = """
WITH e AS (
  SELECT user_id,
         CAST(ts AS TIMESTAMP) + to_months(CAST(event_id % 3 AS INT)) AS ts
  FROM events),
c AS (
  SELECT user_id, date_trunc('month', MIN(ts))::DATE AS cohort
  FROM e GROUP BY user_id),
a AS (
  SELECT DISTINCT user_id, date_trunc('month', ts)::DATE AS p FROM e)
SELECT c.cohort,
       ((year(a.p) * 12 + month(a.p))
        - (year(c.cohort) * 12 + month(c.cohort)))::BIGINT AS period_offset,
       COUNT(DISTINCT a.user_id)::BIGINT AS n_users
FROM a JOIN c USING (user_id)
GROUP BY c.cohort, period_offset ORDER BY cohort, period_offset
"""


def x_trailing_window(spark, sf_dir):
    """Trailing 1-hour per-user event counts (RANGE frame over epoch
    micros) — the frame family q16's ROWS frame doesn't cover."""
    from samba_spark.operators.sessionize import trailing_window_count

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return trailing_window_count(events).select(
        "event_id", "user_id", "n_trailing"
    ).orderBy("event_id")


X_TRAILING_SQL = """
SELECT event_id, user_id,
       COUNT(*) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
       )::BIGINT AS n_trailing
FROM events ORDER BY event_id
"""


def x_scd2_history(spark, sf_dir):
    """Type-2 SCD history build: each customer's order-value tier
    (floor(o_totalprice/50000)) over time, consecutive equal tiers
    collapsed into validity ranges. Gaps-and-islands: LAG change flags +
    running-SUM island ids + one aggregate, all on a single customer-keyed
    exchange. (o_orderdate, o_orderkey) is the total order — the fixture
    has same-day orders per customer."""
    from samba_spark.operators.merge import scd2_history

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    tier = F.floor(F.col("o_totalprice") / 50000).cast("long")
    return scd2_history(
        orders, "o_custkey", ["o_orderdate", "o_orderkey"], tier, "tier"
    ).orderBy("o_custkey", "version")


X_SCD2_SQL = """
WITH t AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS tier
  FROM orders),
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
  FROM flags)
SELECT o_custkey, version::BIGINT AS version, MIN(tier) AS tier,
       MIN(o_orderdate) AS effective_from, MAX(o_orderdate) AS effective_to,
       COUNT(*)::BIGINT AS n_rows
FROM isl GROUP BY o_custkey, version ORDER BY o_custkey, version
"""


def x_quantization_stats(spark, sf_dir):
    """int8 quantization audit over the embedding store: per-label codebook
    usage + worst reconstruction error. Explode-free per-vector math
    (higher-order functions), one #labels-key partial aggregate."""
    from samba_spark.operators.vectorops import quantization_stats

    return quantization_stats(_embs(spark, sf_dir)).orderBy("label")


X_QUANT_STATS_SQL = """
WITH m AS (
  SELECT label, embedding,
         NULLIF(list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))), 0.0) AS maxabs
  FROM embeddings),
p AS (
  SELECT label,
    COALESCE(CAST(list_sum(list_transform(embedding,
      x -> CAST(round(CAST(x AS DOUBLE)*127/maxabs) AS BIGINT))) AS BIGINT), 0) AS qs,
    COALESCE(CAST(list_min(list_transform(embedding,
      x -> CAST(round(CAST(x AS DOUBLE)*127/maxabs) AS BIGINT))) AS BIGINT), 0) AS qmin,
    COALESCE(CAST(list_max(list_transform(embedding,
      x -> CAST(round(CAST(x AS DOUBLE)*127/maxabs) AS BIGINT))) AS BIGINT), 0) AS qmx,
    COALESCE(CAST(list_max(list_transform(embedding,
      x -> CAST(floor(abs(CAST(x AS DOUBLE)
             - round(CAST(x AS DOUBLE)*127/maxabs)*maxabs/127)*1e9) AS BIGINT)))
      AS BIGINT), 0) AS err
  FROM m)
SELECT label, COUNT(*)::BIGINT AS n_vecs, SUM(qs)::BIGINT AS sum_q,
       MIN(qmin)::BIGINT AS min_q, MAX(qmx)::BIGINT AS max_q,
       MAX(err)::BIGINT AS max_err_e9
FROM p GROUP BY label ORDER BY label
"""


def x_filtered_topk(spark, sf_dir):
    """Metadata-filtered exact top-k: each query vector searches only its
    own label's partition of the corpus — broadcast equi-join candidate
    generation instead of a cross join."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        "label",
    )
    return S.filtered_topk(embs, queries, k=10).orderBy("query_id", "rank")


X_FILTERED_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
  FROM embeddings WHERE vec_id < 5),
c AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id,
         ROUND(list_dot_product(q.q_emb, c.emb) /
               (sqrt(list_dot_product(q.q_emb, q.q_emb)) *
                sqrt(list_dot_product(c.emb, c.emb))), 6) AS sim
  FROM c JOIN q USING (label)),
ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, sim, rank FROM ranked
WHERE rank <= 10 ORDER BY query_id, rank
"""


def x_time_rollup(spark, sf_dir):
    """Minute/hour/day/total continuous aggregate in one ROLLUP pass —
    one shuffle with map-side partial aggs instead of three scans."""
    from samba_spark.operators.sessionize import time_rollup

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return time_rollup(events).orderBy("grain", "bucket_ts")


X_TIME_ROLLUP_SQL = """
WITH b AS (
  SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hour,
         date_trunc('minute', ts) AS minute,
         CAST(FLOOR(value * 100) AS BIGINT) AS cents
  FROM events)
SELECT CASE WHEN GROUPING(minute) = 0 THEN 'minute'
            WHEN GROUPING(hour) = 0 THEN 'hour'
            WHEN GROUPING(day) = 0 THEN 'day'
            ELSE 'all' END AS grain,
       COALESCE(minute, hour, day) AS bucket_ts,
       COUNT(*)::BIGINT AS n_events,
       SUM(cents)::BIGINT AS sum_cents
FROM b GROUP BY ROLLUP(day, hour, minute)
ORDER BY grain, bucket_ts
"""


X53_DIR = scratch_dir("x53_files")


def x_parquet_manifest(spark, sf_dir):
    """Distributed footer-only manifest, fully oracle-checked: the query
    first lays down a deterministic 4-file parquet dataset (nation sorted
    by key, sliced, fixed 3-row row groups — identical at every SF since
    nation is fixed-size), then manifests the files with the distributed
    footer reader; DuckDB replays the identical manifest via
    parquet_file_metadata()/parquet_metadata(), the dataset path embedded
    in the SQL the same way q53 embeds its prov-store path."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from samba_spark.sources.manifest import parquet_manifest

    shutil.rmtree(X53_DIR, ignore_errors=True)
    os.makedirs(X53_DIR)
    tbl = pq.read_table(f"{sf_dir}/nation.parquet").sort_by("n_nationkey")
    n = tbl.num_rows
    paths = []
    for i in range(4):
        lo, hi = i * n // 4, (i + 1) * n // 4
        p = os.path.join(X53_DIR, f"file_{i}.parquet")
        pq.write_table(tbl.slice(lo, hi - lo), p, row_group_size=3)
        paths.append(p)
    return parquet_manifest(spark, paths, stats_column="n_nationkey").orderBy(
        "file_name"
    )


X53_SQL = f"""
WITH f AS (
  SELECT parse_filename(file_name) AS file_name,
         num_rows::BIGINT AS n_rows, num_row_groups::BIGINT AS n_row_groups
  FROM parquet_file_metadata('{X53_DIR}/*.parquet')),
c AS (
  SELECT parse_filename(file_name) AS file_name,
         COUNT(DISTINCT path_in_schema)::BIGINT AS n_columns,
         MIN(CASE WHEN path_in_schema = 'n_nationkey'
                  THEN CAST(stats_min_value AS BIGINT) END) AS min_key,
         MAX(CASE WHEN path_in_schema = 'n_nationkey'
                  THEN CAST(stats_max_value AS BIGINT) END) AS max_key
  FROM parquet_metadata('{X53_DIR}/*.parquet') GROUP BY 1)
SELECT f.file_name, n_rows, n_row_groups, n_columns, min_key, max_key
FROM f JOIN c USING (file_name) ORDER BY file_name
"""


def x_binned_quantiles(spark, sf_dir):
    """Histogram-sketch quantile estimates (p50/p95/p99 per event type):
    shuffle bounded by #groups × #buckets regardless of row count — the
    bounded-state substitute for q37's exact per-group percentile sort."""
    from samba_spark.operators.sketch import binned_quantiles

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return binned_quantiles(events, "value", "event_type").orderBy(
        "event_type", "p_pct"
    )


X_BINNED_QUANTILES_SQL = """
WITH hist AS (
  SELECT event_type, CAST(FLOOR(value * 100 / 25) AS BIGINT) AS bucket,
         COUNT(*)::BIGINT AS n
  FROM events GROUP BY event_type, bucket),
cum AS (
  SELECT event_type, bucket,
         SUM(n) OVER (PARTITION BY event_type ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS total
  FROM hist),
hits AS (
  SELECT event_type, bucket, p.p_pct
  FROM cum CROSS JOIN (VALUES (50), (95), (99)) AS p(p_pct)
  WHERE cum * 100 >= p.p_pct * total)
SELECT event_type, CAST(p_pct AS BIGINT) AS p_pct,
       CAST((MIN(bucket) + 1) * 25 AS BIGINT) AS est_cents
FROM hits GROUP BY event_type, p_pct
ORDER BY event_type, p_pct
"""


def x_wav_roundtrip(spark, sf_dir):
    """Audio metadata extraction — REAL codec path (RIFF/WAV struct
    parse, no stubs): synthesize deterministic PCM blobs from document
    params, parse the headers back distributed. The oracle recomputes the
    parameters arithmetically, so the check proves parse inverts encode."""
    from samba_spark.operators.multimodal import parse_wav_headers, synth_wavs

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        (F.lit(8000) * (1 + F.col("doc_id") % 3)).alias("_rate"),
        (1 + F.col("doc_id") % 2).alias("_ch"),
        (64 + F.col("n_chars") % 128).alias("_n"),
    )
    wavs = synth_wavs(docs)
    return parse_wav_headers(wavs).orderBy("media_id")


X_WAV_SQL = """
SELECT doc_id AS media_id,
       (8000 * (1 + doc_id % 3))::BIGINT AS sample_rate,
       (1 + doc_id % 2)::BIGINT AS channels,
       16::BIGINT AS bits_per_sample,
       (64 + n_chars % 128)::BIGINT AS n_samples,
       ((64 + n_chars % 128) * 1000 // (8000 * (1 + doc_id % 3)))::BIGINT
         AS duration_ms
FROM documents ORDER BY media_id
"""


def x_png_roundtrip(spark, sf_dir):
    """Image metadata extraction — REAL codec path (PNG IHDR struct
    parse + CRC check, no PIL): synthesize deterministic PNGs from
    document params, parse headers back distributed; the oracle
    recomputes the parameters, proving parse inverts encode."""
    from samba_spark.operators.multimodal import parse_png_headers, synth_pngs

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        (16 + F.col("doc_id") % 240).alias("_w"),
        (16 + F.col("n_chars") % 240).alias("_h"),
    )
    return parse_png_headers(synth_pngs(docs)).orderBy("media_id")


X_PNG_SQL = """
SELECT doc_id AS media_id,
       (16 + doc_id % 240)::BIGINT AS width,
       (16 + n_chars % 240)::BIGINT AS height,
       8::BIGINT AS bit_depth,
       2::BIGINT AS color_type
FROM documents ORDER BY media_id
"""


# -- graph / attribution / search-index (round 3, post-rotation) ----------
def x_triangle_count(spark, sf_dir):
    """Per-vertex triangle counts via degree-ordered wedge closure on a
    deterministic mod-499 order/customer graph; oracle replays the same
    count with id-ordered 3-way joins (count per triangle is
    ordering-invariant)."""
    from samba_spark.operators.graph import triangle_count

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    edges = (
        orders.select(
            (F.col("o_orderkey") % 499).alias("src"),
            (F.col("o_custkey") % 499).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return triangle_count(edges).orderBy("vertex")


X_TRIANGLE_SQL = """
WITH raw AS (
  SELECT DISTINCT o_orderkey % 499 AS s, o_custkey % 499 AS d
  FROM orders WHERE o_orderkey % 499 <> o_custkey % 499),
e AS (SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b FROM raw),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
v AS (
  SELECT x AS vertex FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri)
SELECT vertex::BIGINT AS vertex, COUNT(*)::BIGINT AS n_triangles
FROM v GROUP BY vertex ORDER BY vertex
"""


def x_attribution(spark, sf_dir):
    """First/last-touch purchase attribution over the event log — both
    touch lookups share one user-keyed sort via ignorenulls window
    aggregates over the same preceding-rows frame."""
    from samba_spark.operators.sessionize import attribution

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return attribution(events).orderBy("first_touch", "last_touch")


X_ATTRIBUTION_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value
  FROM events),
a AS (
  SELECT event_type, value,
    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                IGNORE NULLS) OVER w AS first_touch,
    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS) OVER w AS last_touch
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT first_touch, last_touch, COUNT(*)::BIGINT AS n_conversions,
       SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS value_cents
FROM a WHERE event_type = 'purchase' AND first_touch IS NOT NULL
GROUP BY first_touch, last_touch ORDER BY first_touch, last_touch
"""


def x_inverted_index(spark, sf_dir):
    """Posting-list build: term → sorted doc-id array + df, min_df-pruned,
    top-50 by df. array_distinct happens before the explode so the term
    shuffle carries each (term, doc) once. The declared output serializes
    the posting array as a comma-joined string (the operator itself keeps
    the real array) so external canonicalizers that cannot order list
    values — e.g. a pandas sort — can attest the result (VERDICT r5 #1)."""
    from samba_spark.operators.textual import inverted_index

    return (
        inverted_index(_docs(spark, sf_dir), min_df=5)
        .select(
            "term",
            F.array_join(
                F.transform("postings", lambda x: x.cast("string")), ","
            ).alias("postings"),
            "df",
        )
        .orderBy(F.desc("df"), "term")
        .limit(50)
    )


X_INVERTED_INDEX_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(trim(text)),
                                                      '\s+'),
                       x -> x <> '')) AS toks
  FROM documents),
t AS (SELECT doc_id, u.term FROM toked, UNNEST(toks) AS u(term)),
p AS (SELECT term, list_sort(list(doc_id)) AS postings,
             COUNT(*)::BIGINT AS df
      FROM t GROUP BY term)
SELECT term, array_to_string(postings, ',') AS postings, df
FROM p WHERE df >= 5
ORDER BY df DESC, term LIMIT 50
"""


def x_anomaly(spark, sf_dir):
    """Exact-integer trailing z-score outlier flags (k=3, 20-event frame
    per event type) — the float-free formulation makes the flag boundary
    engine-exact."""
    from samba_spark.operators.sessionize import sliding_zscore_anomalies

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return sliding_zscore_anomalies(events).orderBy("event_type", "event_id")


X_ANOMALY_SQL = """
WITH e AS (
  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events),
s AS (
  SELECT event_type, event_id, c,
         COUNT(c) OVER w AS n,
         CAST(SUM(c) OVER w AS BIGINT) AS s,
         CAST(SUM(c * c) OVER w AS BIGINT) AS q
  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
SELECT event_type, event_id, c AS value_cents
FROM s
WHERE n = 20
  AND (n*c - s) * (n*c - s) * (n - 1) > 9 * n * (n*q - s*s)
ORDER BY event_type, event_id
"""


def x_concurrency(spark, sf_dir):
    """Per-day max concurrency of [ts, ts+300s) event intervals — the
    sweep-line pattern distributed as day-bucketed running sums plus a
    #days-row carry ladder; the oracle replays it with one naive global
    running sum."""
    from samba_spark.operators.sessionize import concurrency_profile

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return concurrency_profile(events).orderBy("day")


X_CONCURRENCY_SQL = """
WITH pts AS (
  SELECT CAST(ts AS TIMESTAMP) AS t, 1 AS delta, event_id FROM events
  UNION ALL
  SELECT CAST(ts AS TIMESTAMP) + INTERVAL 300 SECOND, -1, event_id
  FROM events),
r AS (
  SELECT CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
         SUM(delta) OVER (ORDER BY t, delta, event_id
                          ROWS UNBOUNDED PRECEDING) AS run
  FROM pts)
SELECT day, MAX(run)::BIGINT AS max_concurrency
FROM r GROUP BY day ORDER BY day
"""


Q59_PROV_DIR = scratch_dir("q59_prov")


def q59_transitive_lineage(spark, sf_dir):
    """Transitive element lineage as a hop histogram: capture a
    source→join→agg pipeline with element provenance, then BFS upward
    from the aggregate's output elements with the transitive_lineage
    operator (prov/queries.py: a BFS in driver memory, as reference
    DataElementAPICtrl.kt:140-179 walks the same closure in server
    memory). Element ids are uuids, so the comparable surface is
    (hop, count): agg outputs at hop 0, join rows at 1, source rows at
    2 — nation/region are fixed-size at every SF, making the histogram
    deterministic. The oracle replays the BFS as a DuckDB recursive CTE
    over the same parquet store (min-hop per element = first BFS visit).
    """
    import shutil

    from samba_spark.prov.queries import transitive_lineage
    from samba_spark.prov.store import ProvStore
    from samba_spark.session import ProvSession

    shutil.rmtree(Q59_PROV_DIR, ignore_errors=True)
    ps = ProvSession(spark, name="q59", prov_dir=Q59_PROV_DIR)
    nation = ps.read_parquet(f"{sf_dir}/nation.parquet", "nation").with_elements()
    region = ps.read_parquet(f"{sf_dir}/region.parquet", "region").with_elements()
    nation.persist_elements()
    region.persist_elements()
    joined = nation.join(
        region, on=nation.raw.n_regionkey == region.raw.r_regionkey, how="inner"
    )
    joined.persist_elements()
    agged = joined.group_by("r_name").agg(F.count(F.lit(1)).alias("cnt"))
    agged.persist_elements()
    agged.collect()
    ps.stop()

    store = ProvStore(spark, Q59_PROV_DIR)
    run_id = store.table("executions").select("run_id").collect()[0].run_id
    agg_task = (
        store.table("tasks")
        .where(F.col("transformation_type") == "reduceByKey")
        .select("task_id")
        .collect()[0]
        .task_id
    )
    seeds = [
        r.element_id
        for r in store.table("elements")
        .where(F.col("task_id") == agg_task)
        .select("element_id")
        .collect()
    ]
    lineage = transitive_lineage(store, run_id, seeds, direction="up")
    return (
        lineage.groupBy("hop")
        .agg(F.count(F.lit(1)).cast("long").alias("n_elements"))
        .select(F.col("hop").cast("long").alias("hop"), "n_elements")
        .orderBy("hop")
    )


Q59_SQL = f"""
WITH RECURSIVE seeds AS (
  SELECT el.element_id
  FROM read_parquet('{Q59_PROV_DIR}/elements/*.parquet') el
  JOIN read_parquet('{Q59_PROV_DIR}/tasks/*.parquet') t
    ON t.task_id = el.task_id
  WHERE t.transformation_type = 'reduceByKey'),
walk AS (
  SELECT element_id, 0 AS hop FROM seeds
  UNION
  SELECT d.dep_element_id, w.hop + 1
  FROM walk w
  JOIN read_parquet('{Q59_PROV_DIR}/element_deps/*.parquet') d
    ON d.element_id = w.element_id),
m AS (SELECT element_id, MIN(hop) AS hop FROM walk GROUP BY element_id)
SELECT hop::BIGINT AS hop, COUNT(*)::BIGINT AS n_elements
FROM m GROUP BY hop ORDER BY hop
"""


def x_zorder_stats(spark, sf_dir):
    """Z-order (Morton) clustering audit: interleave the low 16 bits of
    (o_custkey, o_orderkey) into the curve value — one codegen'd 32-term
    bit expression — and report per-curve-segment counts and dimension
    ranges; tight per-segment min/max on BOTH columns is exactly what
    makes footer-stats pruning fire on either predicate after
    plans/layout.write_zordered lays files out along the curve."""
    from samba_spark.plans.layout import zorder_value

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    z = zorder_value("o_custkey", "o_orderkey", bits=16)
    return (
        orders.select(
            z.alias("z"), F.col("o_custkey"), F.col("o_orderkey")
        )
        .groupBy(F.shiftright(F.col("z"), 26).cast("long").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("z").cast("long").alias("min_z"),
            F.max("z").cast("long").alias("max_z"),
            F.min("o_custkey").cast("long").alias("min_cust"),
            F.max("o_custkey").cast("long").alias("max_cust"),
        )
        .orderBy("segment")
    )


def _x64_sql() -> str:
    terms = []
    for i in range(16):
        terms.append(f"((((o_custkey & 65535) >> {i}) & 1) << {2 * i})")
        terms.append(f"((((o_orderkey & 65535) >> {i}) & 1) << {2 * i + 1})")
    z = " | ".join(terms)
    return f"""
WITH zed AS (
  SELECT ({z})::BIGINT AS z, o_custkey, o_orderkey FROM orders)
SELECT (z >> 26)::BIGINT AS segment,
       COUNT(*)::BIGINT AS n,
       MIN(z)::BIGINT AS min_z, MAX(z)::BIGINT AS max_z,
       MIN(o_custkey)::BIGINT AS min_cust, MAX(o_custkey)::BIGINT AS max_cust
FROM zed GROUP BY segment ORDER BY segment
"""


def x_covariance(spark, sf_dir):
    """8-dim covariance matrix of the embeddings in ONE pass of exact
    integer partial aggregates — distributed PCA prep without MLlib."""
    from samba_spark.operators.vectorops import covariance_matrix

    return covariance_matrix(_embs(spark, sf_dir), dims=8).orderBy("i", "j")


def _x65_sql() -> str:
    dims, scale = 8, 10**6
    qs = ", ".join(
        f"CAST(ROUND(embedding[{i + 1}] * {scale}) AS BIGINT) AS x{i}"
        for i in range(dims)
    )
    sums = ", ".join(
        f"CAST(SUM(x{i}) AS BIGINT) AS s_{i}" for i in range(dims)
    )
    pairs = ", ".join(
        f"CAST(SUM(x{i} * x{j}) AS BIGINT) AS p_{i}_{j}"
        for i in range(dims)
        for j in range(i, dims)
    )
    cells = "\nUNION ALL ".join(
        f"SELECT {i}::BIGINT AS i, {j}::BIGINT AS j, n, "
        f"ROUND((n::DOUBLE * p_{i}_{j}::DOUBLE - s_{i}::DOUBLE * s_{j}::DOUBLE)"
        f" / (n::DOUBLE * (n::DOUBLE - 1)) / {float(scale) ** 2}, 9) AS cov "
        f"FROM s"
        for i in range(dims)
        for j in range(i, dims)
    )
    return f"""
WITH q AS (SELECT {qs} FROM embeddings),
s AS (SELECT COUNT(*)::BIGINT AS n, {sums}, {pairs} FROM q)
SELECT i, j, n, cov FROM ({cells}) ORDER BY i, j
"""


def x_quality_audit(spark, sf_dir):
    """Five expectation checks over orders in ONE scan (conditional
    partial aggregates) — the ingest gate pattern; integer counts only."""
    from samba_spark.operators.quality import quality_audit

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    checks = {
        "orderkey_not_null": F.col("o_orderkey").isNull(),
        "totalprice_positive": ~(F.col("o_totalprice") > 0),
        "status_in_domain": ~F.col("o_orderstatus").isin("F", "O", "P"),
        "date_in_range": ~F.col("o_orderdate").between(
            F.lit("1990-01-01").cast("timestamp"),
            F.lit("2010-01-01").cast("timestamp"),
        ),
        "priority_not_blank": F.trim(F.col("o_orderpriority")) == "",
    }
    return quality_audit(orders, checks).orderBy("check_name")


X_QUALITY_SQL = """
WITH s AS (
  SELECT COUNT(*)::BIGINT AS n,
    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS v1,
    SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END)::BIGINT AS v2,
    SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END)::BIGINT AS v3,
    SUM(CASE WHEN o_orderdate NOT BETWEEN TIMESTAMP '1990-01-01'
                                      AND TIMESTAMP '2010-01-01'
             THEN 1 ELSE 0 END)::BIGINT AS v4,
    SUM(CASE WHEN TRIM(o_orderpriority) = '' THEN 1 ELSE 0 END)::BIGINT AS v5
  FROM orders)
SELECT check_name, n_violations, n AS n_rows, n_violations = 0 AS passed
FROM (
  SELECT 'orderkey_not_null' AS check_name, v1 AS n_violations, n FROM s
  UNION ALL SELECT 'totalprice_positive', v2, n FROM s
  UNION ALL SELECT 'status_in_domain', v3, n FROM s
  UNION ALL SELECT 'date_in_range', v4, n FROM s
  UNION ALL SELECT 'priority_not_blank', v5, n FROM s)
ORDER BY check_name
"""


def q62_column_lineage(spark, sf_dir):
    """Column-level lineage read off the analyzed Catalyst plan (the
    third provenance axis beyond the reference's element/task grain):
    join + derived column + aggregate with a multi-source expression,
    resolved transitively to (source_table, source_column) edges. The
    mapping is a function of the PLAN, not the data, so the oracle is
    the literal expected edge set."""
    from samba_spark.prov.column_lineage import column_lineage

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    df = (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .withColumn("key2", F.col("n_nationkey") * 2)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("key2").alias("max_key2"),
            F.max(F.concat("n_name", F.lit("-"), "r_name")).alias("tag"),
        )
    )
    return column_lineage(df, spark).orderBy("out_col", "src_table", "src_col")


Q62_SQL = """
SELECT * FROM (VALUES
  ('cnt', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
  ('max_key2', 'nation', 'n_nationkey'),
  ('r_name', 'region', 'r_name'),
  ('tag', 'nation', 'n_name'),
  ('tag', 'region', 'r_name')
) AS v(out_col, src_table, src_col)
ORDER BY out_col, src_table, src_col
"""


def x_edit_distance(spark, sf_dir):
    """Edit-distance verification stage: Levenshtein over normalized
    80-char prefixes of within-source adjacent doc pairs. The cap is the
    scale contract — levenshtein is O(L²) per pair, so a verify stage
    always bounds L (and pair count upstream via blocking); both engines
    ship the same classic DP, oracle-exact."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    norm = F.substring(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), 1, 80
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    base = docs.select(
        "source", norm.alias("p"), F.row_number().over(w).alias("rn")
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("b.rn") == F.col("a.rn") + 1),
    ).select(
        F.col("a.source").alias("source"),
        F.levenshtein(F.col("a.p"), F.col("b.p")).cast("long").alias("d"),
    )
    return (
        pairs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("d").cast("long").alias("sum_dist"),
            F.min("d").cast("long").alias("min_dist"),
            F.max("d").cast("long").alias("max_dist"),
        )
        .orderBy("source")
    )


X_EDIT_DISTANCE_SQL = r"""
WITH base AS (
  SELECT source,
         substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 80) AS p,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents),
pairs AS (
  SELECT a.source, levenshtein(a.p, b.p)::BIGINT AS d
  FROM base a JOIN base b
    ON a.source = b.source AND b.rn = a.rn + 1)
SELECT source, COUNT(*)::BIGINT AS n_pairs,
       CAST(SUM(d) AS BIGINT)::BIGINT AS sum_dist,
       MIN(d)::BIGINT AS min_dist, MAX(d)::BIGINT AS max_dist
FROM pairs GROUP BY source ORDER BY source
"""


def x_cooccurrence(spark, sf_dir):
    """Market-basket pair mining: part brands co-ordered within one order
    — distinct (order, brand) first so the per-order self-join is bounded
    by brands-per-order (≤ #brands, not #lineitems), then pair counts and
    top-25. The within-group pair explosion is the same bounded-bucket
    discipline as LSH: quadratic only inside a small, capped group."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    ob = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"]),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a, b = ob.alias("a"), ob.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.p_brand") < F.col("b.p_brand")),
    ).select(
        F.col("a.p_brand").alias("brand_a"),
        F.col("b.p_brand").alias("brand_b"),
    )
    return (
        pairs.groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "brand_a", "brand_b")
        .limit(25)
    )


X_COOCCURRENCE_SQL = """
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand)
SELECT brand_a, brand_b, COUNT(*)::BIGINT AS n_orders
FROM pairs GROUP BY brand_a, brand_b
ORDER BY n_orders DESC, brand_a, brand_b LIMIT 25
"""


def x_gap_fill(spark, sf_dir):
    """Dense per-user daily cumulative series via the time-spine pattern
    (sequence+explode bounded by each user's active span, zero-filled
    gaps, one user-keyed exchange end to end)."""
    from samba_spark.operators.sessionize import gap_filled_daily

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return gap_filled_daily(events).orderBy("user_id", "day")


X_GAP_FILL_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events),
daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(SUM(c) AS BIGINT) AS day_cents
  FROM e GROUP BY user_id, date_trunc('day', ts)),
bounds AS (
  SELECT user_id, date_trunc('day', MIN(ts)) AS d0,
         date_trunc('day', MAX(ts)) AS d1
  FROM e GROUP BY user_id),
spine AS (
  SELECT user_id,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM bounds)
SELECT s.user_id, s.day,
       COALESCE(d.day_cents, 0)::BIGINT AS day_cents,
       CAST(SUM(COALESCE(d.day_cents, 0)) OVER (
            PARTITION BY s.user_id ORDER BY s.day
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
FROM spine s LEFT JOIN daily d
  ON d.user_id = s.user_id AND d.day = s.day
ORDER BY s.user_id, s.day
"""


X63_DIR = scratch_dir("x63_avro")


def x_avro_roundtrip(spark, sf_dir):
    """Clean-room Avro container codec, oracle-checked end-to-end: a
    deterministic orders slice goes out through write_avro (deflate) and
    back through read_avro, then aggregates per order status; the oracle
    computes the identical aggregate straight from the parquet — any
    codec bug (value corruption, dropped rows, schema drift) breaks the
    hash."""
    import shutil

    from samba_spark.sources.avro import read_avro, write_avro

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    subset = orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    shutil.rmtree(X63_DIR, ignore_errors=True)
    write_avro(subset, X63_DIR, codec="deflate")
    back = read_avro(spark, X63_DIR)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
        .orderBy("o_orderstatus")
    )


X63_SQL = """
SELECT o_orderstatus,
       COUNT(*)::BIGINT AS n,
       CAST(SUM(o_orderkey) AS BIGINT)::BIGINT AS sum_key,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS sum_cents
FROM orders WHERE o_orderkey % 7 = 0
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# Repo-scratch, not a fixed world-writable /tmp path (a hostile local
# user could otherwise pre-create/symlink it to redirect the writes).
X120_DIR = scratch_dir("x120_xml")


def x_xml_roundtrip(spark, sf_dir):
    """Spark 4's NATIVE XML source (the spark-xml package folded into
    core — SPARK-44265), completing the source/sink matrix beside
    csv/json/parquet/orc/avro/JDBC: a deterministic customer slice goes
    out through `.write.format("xml")` (rowTag records) and back through
    `.read.format("xml")` with an explicit schema (inference would
    widen types), then aggregates per market segment; the oracle
    computes the identical aggregate straight from the parquet, so any
    XML escaping/type round-trip bug breaks the hash. Exact integer
    cents via round-before-cast, same contract as x63."""
    import shutil

    cust = load_tables(spark, sf_dir, ["customer"])["customer"]
    subset = cust.where(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    shutil.rmtree(X120_DIR, ignore_errors=True)
    (
        subset.write.format("xml")
        .option("rootTag", "customers")
        .option("rowTag", "customer")
        .mode("overwrite")
        .save(X120_DIR)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema("c_custkey long, c_mktsegment string, bal_cents long")
        .load(X120_DIR)
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c_custkey").cast("long").alias("sum_key"),
            F.sum("bal_cents").cast("long").alias("sum_bal_cents"),
        )
        .orderBy("c_mktsegment")
    )


X120_SQL = """
SELECT c_mktsegment,
       COUNT(*)::BIGINT AS n,
       CAST(SUM(c_custkey) AS BIGINT)::BIGINT AS sum_key,
       SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))::BIGINT AS sum_bal_cents
FROM customer WHERE c_custkey % 5 = 0
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def x_transition_matrix(spark, sf_dir):
    """Per-user event-type bigram transitions (Markov chain estimate):
    one user-keyed sort feeds LAG, then a tiny (#types²) count matrix
    with row-normalized probabilities — integer counts, one final
    deterministic division."""
    events = load_tables(spark, sf_dir, ["events"])["events"]
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = (
        events.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    row_w = Window.partitionBy("from_type")
    return bigrams.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.lit(100.0) * F.col("n") / F.sum("n").over(row_w), 6
        ).alias("pct"),
    ).orderBy("from_type", "to_type")


X_TRANSITION_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
  FROM events),
b AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM e),
c AS (
  SELECT from_type, to_type, COUNT(*)::BIGINT AS n
  FROM b WHERE from_type IS NOT NULL GROUP BY from_type, to_type)
SELECT from_type, to_type, n,
       ROUND(100.0 * n / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT),
             6) AS pct
FROM c ORDER BY from_type, to_type
"""


def x_trend_slope(spark, sf_dir):
    """Per-type OLS trend of event value over time WITHOUT MLlib: the
    five sufficient statistics (n, Σx, Σy, Σxy, Σx²) are exact integer
    partial aggregates — x rebased to seconds since the corpus epoch so
    Σx² stays inside int64 — and the closed-form slope/intercept are one
    deterministic double expression per group."""
    events = load_tables(spark, sf_dir, ["events"])["events"]
    # epoch-micros → integer seconds since the corpus epoch: tz-proof on
    # both engines (the x47 discipline) and small enough that sum(x*x)
    # stays inside int64
    x = (F.unix_micros(F.col("ts")) / F.lit(1_000_000)).cast("long") - F.lit(
        1_704_067_200
    )
    y = F.round(F.col("value") * 100).cast("long")
    stats = (
        events.select(F.col("event_type"), x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    return stats.select(
        "event_type",
        "n",
        F.round(F.lit(86400.0) * slope, 6).alias("slope_cents_per_day"),
        F.round((syd - slope * sxd) / nd, 2).alias("intercept_cents"),
    ).orderBy("event_type")


X_TREND_SQL = """
WITH e AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 1000000 - 1704067200 AS BIGINT) AS x,
         CAST(ROUND(value * 100) AS BIGINT) AS y
  FROM events),
s AS (
  SELECT event_type,
         COUNT(*)::BIGINT AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM e GROUP BY event_type)
SELECT event_type, n,
       ROUND(86400.0 * ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)), 6)
         AS slope_cents_per_day,
       ROUND((sy::DOUBLE - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)) * sx::DOUBLE)
             / n::DOUBLE, 2) AS intercept_cents
FROM s ORDER BY event_type
"""


def x_rare_token_pairs(spark, sf_dir):
    """Near-dup pairs via rare-shingle blocking (prefix-filtering family)
    + exact shingle-Jaccard verify — the hash-free complement to the
    MinHash-LSH path. Shingle keys, not token keys: on this
    template-heavy fixture the max token bucket is corpus-sized while
    the max 3-shingle bucket is single digits."""
    return D.rare_token_blocking_pairs(_docs(spark, sf_dir)).orderBy(
        "doc_a", "doc_b"
    )


X_RARE_TOKEN_SQL = r"""
WITH toked AS (
  SELECT doc_id AS doc,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
t AS (
  SELECT DISTINCT doc,
         ('0x' || substr(md5(array_to_string(toks[i+1 : i+3], ' ')), 1, 15))::BIGINT AS term
  FROM toked, UNNEST(range(0, len(toks) - 2)) AS u(i)
  WHERE len(toks) >= 3),
dfreq AS (SELECT term, COUNT(*)::BIGINT AS df FROM t GROUP BY term),
rare AS (
  SELECT doc, term FROM (
    SELECT t.doc, t.term, df,
           row_number() OVER (PARTITION BY t.doc ORDER BY df, t.term) AS rk
    FROM t JOIN dfreq USING (term))
  WHERE rk <= 2 AND df <= 100),
cand AS (
  SELECT DISTINCT ra.doc AS doc_a, rb.doc AS doc_b
  FROM rare ra JOIN rare rb USING (term) WHERE ra.doc < rb.doc),
sizes AS (SELECT doc, COUNT(*)::BIGINT AS n FROM t GROUP BY doc),
inter AS (
  SELECT doc_a, doc_b, COUNT(*)::BIGINT AS n_common
  FROM cand
  JOIN t ta ON ta.doc = cand.doc_a
  JOIN t tb ON tb.doc = cand.doc_b AND tb.term = ta.term
  GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b, n_common,
       (sa.n + sb.n - n_common)::BIGINT AS n_union
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE n_common * 100 >= 50 * (sa.n + sb.n - n_common)
ORDER BY doc_a, doc_b
"""


def x_lm_fluency(spark, sf_dir):
    """Corpus-trained bigram-LM fluency gate (operators/textual.lm_fluency)
    — the CCNet-style "score every doc under a corpus LM, keep the fluent
    tail" filter, integer-exact via fixed-point add-one-smoothed bigram
    probabilities (no float log, so the oracle matches bit-for-bit).
    Returns the 25 LEAST fluent docs — the ones a quality gate drops."""
    from samba_spark.operators.textual import lm_fluency

    return (
        lm_fluency(_docs(spark, sf_dir))
        .orderBy(F.asc("avg_fluency"), F.asc("doc_id"))
        .limit(25)
    )


X_LM_FLUENCY_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
bg AS (
  SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
  FROM toked, UNNEST(range(0, greatest(len(toks)-2, 0) + 1)) AS u(i)
  WHERE toks[i+2] IS NOT NULL),
cab AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY w1, w2),
ca AS (
  SELECT t AS w, COUNT(*) AS c_a
  FROM toked, UNNEST(toks) AS u(t) GROUP BY t),
v AS (SELECT COUNT(DISTINCT t) AS vsz FROM toked, UNNEST(toks) AS u(t)),
scored AS (
  SELECT bg.doc_id, (1000000 * (c_ab + 1)) // (c_a + vsz) AS p
  FROM bg JOIN cab USING (w1, w2) JOIN ca ON ca.w = bg.w1 CROSS JOIN v)
SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams, SUM(p)::BIGINT AS fluency,
       (SUM(p) // COUNT(*))::BIGINT AS avg_fluency
FROM scored GROUP BY doc_id
ORDER BY avg_fluency ASC, doc_id ASC LIMIT 25
"""


def x_frequent_itemsets(spark, sf_dir):
    """A-priori frequent-itemset mining (operators/mining.py) over brand
    baskets: itemsets of size 1–3 held by >= 2% of orders. Level-wise
    candidate pruning (broadcast L1/L2 semi-joins, downward closure) is
    the 100 TB path — on TPC-H's uniform brand mix the L2 tier proves no
    triple can be frequent, so the 3-way join never materializes rows;
    the crafted-basket unit tests exercise a non-empty L3. Distinct from
    x68 (top-k pair counts, no support pruning, no candidate tiers)."""
    from samba_spark.operators.mining import frequent_itemsets

    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    # dedup to distinct (basket, item) ONCE and materialize: the same
    # relation feeds the threshold count below and every A-priori tier
    # inside frequent_itemsets (assume_distinct skips the operator's
    # own distinct) — previously the scan+join+distinct lineage
    # re-executed for the count and again per tier.
    ob = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("bk"), F.col("p_brand").alias("it"))
        .distinct()
        .localCheckpoint()
    )
    n_baskets = ob.select("bk").distinct().count()
    min_sup = (2 * n_baskets + 99) // 100  # ceil(2% of baskets), int-exact
    return frequent_itemsets(
        ob, "bk", "it", min_sup, assume_distinct=True
    ).orderBy("size", F.desc("support"), "itemset")


X_FREQUENT_ITEMSETS_SQL = """
WITH ob AS (
  SELECT DISTINCT l_orderkey AS bk, p_brand AS it
  FROM lineitem JOIN part ON l_partkey = p_partkey),
ms AS (SELECT (2 * COUNT(DISTINCT bk) + 99) // 100 AS min_sup FROM ob),
l1 AS (
  SELECT it, COUNT(*)::BIGINT AS support FROM ob GROUP BY it
  HAVING COUNT(*) >= (SELECT min_sup FROM ms)),
pair_occ AS (
  SELECT a.bk, a.it AS x, b.it AS y
  FROM ob a JOIN ob b ON a.bk = b.bk AND a.it < b.it
  WHERE a.it IN (SELECT it FROM l1) AND b.it IN (SELECT it FROM l1)),
l2 AS (
  SELECT x, y, COUNT(*)::BIGINT AS support FROM pair_occ GROUP BY x, y
  HAVING COUNT(*) >= (SELECT min_sup FROM ms)),
tri_occ AS (
  SELECT p.bk, p.x, p.y, c.it AS z
  FROM pair_occ p
  JOIN l2 ON l2.x = p.x AND l2.y = p.y
  JOIN ob c ON c.bk = p.bk AND p.y < c.it
  WHERE EXISTS (SELECT 1 FROM l2 q WHERE q.x = p.x AND q.y = c.it)
    AND EXISTS (SELECT 1 FROM l2 q WHERE q.x = p.y AND q.y = c.it)),
l3 AS (
  SELECT x, y, z, COUNT(*)::BIGINT AS support FROM tri_occ GROUP BY x, y, z
  HAVING COUNT(*) >= (SELECT min_sup FROM ms))
SELECT itemset, size, support FROM (
  SELECT it AS itemset, 1 AS size, support FROM l1
  UNION ALL
  SELECT x || '|' || y, 2, support FROM l2
  UNION ALL
  SELECT x || '|' || y || '|' || z, 3, support FROM l3)
ORDER BY size, support DESC, itemset
"""


def x_fd_profile(spark, sf_dir):
    """Functional-dependency discovery (operators/quality.fd_profile)
    across the star schema: keys that must determine (o_orderkey →
    o_custkey; p_name → p_brand when names are unique) and dependencies
    that fail with measurable violation counts (l_partkey → l_suppkey:
    each part has several suppliers; p_type → p_brand: one type spans
    brands). The schema-normalization / dedup-key-design profiling
    pass, output aggregation-sized."""
    from samba_spark.operators.quality import fd_profile

    t = load_tables(spark, sf_dir, ["orders", "lineitem", "part", "customer"])
    rows = [
        fd_profile(t["orders"], {"o_orderkey->o_custkey": (["o_orderkey"], "o_custkey")}),
        fd_profile(t["part"], {"p_name->p_brand": (["p_name"], "p_brand")}),
        fd_profile(t["part"], {"p_type->p_brand": (["p_type"], "p_brand")}),
        fd_profile(t["lineitem"], {"l_partkey->l_suppkey": (["l_partkey"], "l_suppkey")}),
        fd_profile(t["customer"], {"c_nationkey->c_mktsegment": (["c_nationkey"], "c_mktsegment")}),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("fd")


X_FD_PROFILE_SQL = """
WITH fd1 AS (
  SELECT 'o_orderkey->o_custkey' AS fd, g.* FROM (
    SELECT COUNT(*)::BIGINT AS n_groups,
           SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS violating_groups,
           MAX(nd)::BIGINT AS max_rhs_distinct
    FROM (SELECT COUNT(DISTINCT o_custkey) AS nd FROM orders GROUP BY o_orderkey)) g),
fd2 AS (
  SELECT 'p_name->p_brand' AS fd, g.* FROM (
    SELECT COUNT(*)::BIGINT, SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT,
           MAX(nd)::BIGINT
    FROM (SELECT COUNT(DISTINCT p_brand) AS nd FROM part GROUP BY p_name)) g),
fd3 AS (
  SELECT 'p_type->p_brand' AS fd, g.* FROM (
    SELECT COUNT(*)::BIGINT, SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT,
           MAX(nd)::BIGINT
    FROM (SELECT COUNT(DISTINCT p_brand) AS nd FROM part GROUP BY p_type)) g),
fd4 AS (
  SELECT 'l_partkey->l_suppkey' AS fd, g.* FROM (
    SELECT COUNT(*)::BIGINT, SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT,
           MAX(nd)::BIGINT
    FROM (SELECT COUNT(DISTINCT l_suppkey) AS nd FROM lineitem GROUP BY l_partkey)) g),
fd5 AS (
  SELECT 'c_nationkey->c_mktsegment' AS fd, g.* FROM (
    SELECT COUNT(*)::BIGINT, SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT,
           MAX(nd)::BIGINT
    FROM (SELECT COUNT(DISTINCT c_mktsegment) AS nd FROM customer GROUP BY c_nationkey)) g)
SELECT fd, n_groups, violating_groups, max_rhs_distinct,
       violating_groups = 0 AS holds
FROM (SELECT * FROM fd1 UNION ALL SELECT * FROM fd2 UNION ALL
      SELECT * FROM fd3 UNION ALL SELECT * FROM fd4 UNION ALL
      SELECT * FROM fd5)
ORDER BY fd
"""


def x_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (simsearch.rrf_fuse) of
    a LEXICAL ranking (x38's integer TF·IDF, top-50) and a VECTOR
    ranking (x10's rounded-cosine top-50 against doc 0's embedding) —
    the standard two-tower search combiner. rrf = Σ 10⁶ div (60+rank),
    absent-from-a-ranking contributes 0; top-15 fused. Both input
    rankings and the fusion arithmetic are integer/rounded-exact, so
    the whole hybrid stack is oracle-replayable."""
    from samba_spark.operators.simsearch import rrf_fuse
    from samba_spark.operators.textual import search_topk
    from pyspark.sql import Window

    docs, embs = _docs(spark, sf_dir), _embs(spark, sf_dir)
    lex = search_topk(docs, ["table", "stream", "vector"], k=50)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex_rank = lex.select(
        "doc_id", F.row_number().over(w).cast("long").alias("rank")
    )
    qdf = embs.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    vec_rank = S.cosine_topk(embs, qdf, k=50).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    fused = rrf_fuse([lex_rank, vec_rank], "doc_id")
    return (
        fused.select(
            "doc_id",
            F.col("rank_0").alias("rank_lex"),
            F.col("rank_1").alias("rank_vec"),
            "rrf",
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(15)
    )


X_HYBRID_RRF_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
tf AS (
  SELECT doc_id,
         len(list_filter(toks, x -> x = 'table'))::BIGINT AS tf0,
         len(list_filter(toks, x -> x = 'stream'))::BIGINT AS tf1,
         len(list_filter(toks, x -> x = 'vector'))::BIGINT AS tf2
  FROM toked),
stats AS (
  SELECT COUNT(*)::BIGINT AS n,
         SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
         SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
         SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
  FROM tf),
lex_scored AS (
  SELECT doc_id,
       (CASE WHEN df0 > 0 THEN tf0 * FLOOR(1e6 * n / df0)::BIGINT ELSE 0 END
      + CASE WHEN df1 > 0 THEN tf1 * FLOOR(1e6 * n / df1)::BIGINT ELSE 0 END
      + CASE WHEN df2 > 0 THEN tf2 * FLOOR(1e6 * n / df2)::BIGINT ELSE 0 END
       )::BIGINT AS score
  FROM tf, stats),
lex_rank AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)::BIGINT AS r
  FROM lex_scored WHERE score > 0
  ORDER BY score DESC, doc_id ASC LIMIT 50),
q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
  FROM embeddings WHERE vec_id = 0),
c AS (
  SELECT vec_id AS doc_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
vec_scored AS (
  SELECT c.doc_id,
         ROUND(list_dot_product(q.q_emb, c.emb) /
               (sqrt(list_dot_product(q.q_emb, q.q_emb)) *
                sqrt(list_dot_product(c.emb, c.emb))), 6) AS sim
  FROM c CROSS JOIN q),
vec_rank AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id ASC)::BIGINT AS r
  FROM vec_scored ORDER BY sim DESC, doc_id ASC LIMIT 50),
fused AS (
  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         l.r AS rank_lex, v.r AS rank_vec,
         (COALESCE(1000000 // (60 + l.r), 0)
        + COALESCE(1000000 // (60 + v.r), 0))::BIGINT AS rrf
  FROM lex_rank l FULL OUTER JOIN vec_rank v ON l.doc_id = v.doc_id)
SELECT doc_id, rank_lex, rank_vec, rrf
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 15
"""


def x_ewma(spark, sf_dir):
    """Per-user EWMA of event values (sessionize.ewma): integer α=1/2
    fold ``s_t = (x_t + s_{t-1}) div 2`` over each user's (ts,
    event_id)-ordered history — the smoothing baseline an anomaly
    monitor tracks per entity, bit-exact in every engine (no float
    decay). One shuffle, codegen'd higher-order fold, no global
    window. Top-25 users by smoothed level."""
    from samba_spark.operators.sessionize import ewma

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ewma(ev, "user_id", ["ts", "event_id"], cents)
        .orderBy(F.desc("ewma"), "user_id")
        .limit(25)
    )


X_EWMA_SQL = """
WITH ev AS (
  SELECT user_id,
         list(CAST(ROUND(value * 100) AS BIGINT) ORDER BY ts, event_id)
           AS vals
  FROM events GROUP BY user_id)
SELECT user_id, len(vals)::BIGINT AS n_events,
       vals[-1]::BIGINT AS last_value,
       list_reduce(vals, (a, b) -> (a + b) // 2)::BIGINT AS ewma
FROM ev ORDER BY ewma DESC, user_id ASC LIMIT 25
"""


def x_table_profile(spark, sf_dir):
    """ANALYZE-style statistics pass (quality.table_profile, exact mode)
    over lineitem: exact NDV + null count per column in one aggregate —
    via Catalyst's Expand rewrite, i.e. an N-column-fold row expansion
    and a shuffle keyed by (column, value), NOT a free scan: exact mode
    is the narrow-table / maintenance-window tool; x117 is the HLL
    approx mode for wide tables at scale. These are the table statistics
    x97's sketch estimator and any cost-based join reorder consume; with
    x96 (FDs) and x39 (skew) this completes the profiling shelf."""
    from samba_spark.operators.quality import table_profile

    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    return table_profile(li).orderBy("column")


X_TABLE_PROFILE_SQL = """
WITH s AS (SELECT COUNT(*)::BIGINT AS n FROM lineitem)
SELECT col AS "column", n AS n_rows, n_distinct, n_null FROM (
  SELECT 'l_orderkey' AS col, COUNT(DISTINCT l_orderkey)::BIGINT AS n_distinct,
         SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null FROM lineitem
  UNION ALL SELECT 'l_partkey', COUNT(DISTINCT l_partkey)::BIGINT,
         SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)::BIGINT FROM lineitem
  UNION ALL SELECT 'l_suppkey', COUNT(DISTINCT l_suppkey)::BIGINT,
         SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END)::BIGINT FROM lineitem
  UNION ALL SELECT 'l_linenumber', COUNT(DISTINCT l_linenumber)::BIGINT,
         SUM(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END)::BIGINT FROM lineitem
  UNION ALL SELECT 'l_quantity', COUNT(DISTINCT l_quantity)::BIGINT,
         SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT FROM lineitem
  UNION ALL SELECT 'l_extendedprice', COUNT(DISTINCT l_extendedprice)::BIGINT,
         SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::BIGINT FROM lineitem
  UNION ALL SELECT 'l_discount', COUNT(DISTINCT l_discount)::BIGINT,
         SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)::BIGINT FROM lineitem
  UNION ALL SELECT 'l_tax', COUNT(DISTINCT l_tax)::BIGINT,
         SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END)::BIGINT FROM lineitem
  UNION ALL SELECT 'l_returnflag', COUNT(DISTINCT l_returnflag)::BIGINT,
         SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT FROM lineitem
  UNION ALL SELECT 'l_linestatus', COUNT(DISTINCT l_linestatus)::BIGINT,
         SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END)::BIGINT FROM lineitem
  UNION ALL SELECT 'l_shipdate', COUNT(DISTINCT l_shipdate)::BIGINT,
         SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)::BIGINT FROM lineitem
) AS s2 CROSS JOIN s
ORDER BY col
"""


def x_table_profile_approx(spark, sf_dir):
    """quality.table_profile(exact=False) — the wide-table / 100 TB
    profiling mode: per-column NDV via HyperLogLog++ sketches
    (approx_count_distinct, rsd=0.05) in ONE aggregate with NO Expand
    rewrite — one scan, one 1-row exchange of sketch registers, vs
    exact x100's N-fold row expansion + per-value shuffle. est_ok
    contract (same as x80): the oracle carries the exact NDV; Spark
    returns the exact NDV too AND asserts its HLL estimate lands within
    ±20% (4× the configured rsd), so a hash match verifies the
    estimator, not just the exact path. n_rows/n_null are exact in both
    modes."""
    from samba_spark.operators.quality import table_profile

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    approx = table_profile(orders, cols, exact=False).select(
        "column", F.col("n_distinct").alias("_approx_nd")
    )
    exact = table_profile(orders, cols, exact=True)
    return (
        exact.join(approx, "column")
        .select(
            "column",
            "n_rows",
            "n_distinct",
            "n_null",
            (
                F.abs(F.col("_approx_nd") - F.col("n_distinct")) * 5
                <= F.col("n_distinct")
            ).alias("est_ok"),
        )
        .orderBy("column")
    )


X_TABLE_PROFILE_APPROX_SQL = """
WITH s AS (SELECT COUNT(*)::BIGINT AS n FROM orders)
SELECT col AS "column", n AS n_rows, n_distinct, n_null, TRUE AS est_ok
FROM (
  SELECT 'o_custkey' AS col, COUNT(DISTINCT o_custkey)::BIGINT AS n_distinct,
         SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null
  FROM orders
  UNION ALL SELECT 'o_orderstatus', COUNT(DISTINCT o_orderstatus)::BIGINT,
         SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM orders
  UNION ALL SELECT 'o_totalprice', COUNT(DISTINCT o_totalprice)::BIGINT,
         SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM orders
  UNION ALL SELECT 'o_orderdate', COUNT(DISTINCT o_orderdate)::BIGINT,
         SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM orders
) AS s2 CROSS JOIN s
ORDER BY col
"""


def x_interval_overlap(spark, sf_dir):
    """Interval × interval overlap join (relational.interval_overlap_join)
    — cross-USER temporal correlation: for each (user, day) build the
    click-activity interval and the error interval, then find every
    pair of DIFFERENT users whose intervals overlap in wall time. The
    naive plan is a non-equi cross join; the operator turns it into an
    hourly-bucket equi-join + exact predicate + distinct (see operator
    docstring for the 100 TB posture). Overlap length in integer
    microseconds; top-50 longest."""
    from samba_spark.operators.relational import interval_overlap_join

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    day = F.date_trunc("day", F.col("ts"))

    def per_user_day(etype, prefix):
        return (
            ev.where(F.col("event_type") == etype)
            .groupBy(
                F.col("user_id").alias(f"{prefix}_user"),
                day.alias(f"{prefix}_day"),
            )
            .agg(
                F.min("ts").alias(f"{prefix}_start"),
                F.max("ts").alias(f"{prefix}_end"),
            )
        )

    clicks = per_user_day("click", "c")
    errors = per_user_day("error", "e")
    pairs = interval_overlap_join(
        clicks, errors, "c_start", "c_end", "e_start", "e_end"
    ).where(F.col("c_user") != F.col("e_user"))
    overlap_us = F.unix_micros(
        F.least(F.col("c_end"), F.col("e_end"))
    ) - F.unix_micros(F.greatest(F.col("c_start"), F.col("e_start")))
    return (
        pairs.select(
            "c_user",
            "e_user",
            F.col("c_day").cast("date").alias("c_day"),
            overlap_us.cast("long").alias("overlap_us"),
        )
        .orderBy(F.desc("overlap_us"), "c_user", "e_user", "c_day")
        .limit(50)
    )


X_INTERVAL_OVERLAP_SQL = """
WITH c AS (
  SELECT user_id AS c_user, date_trunc('day', ts) AS c_day,
         MIN(ts) AS c_start, MAX(ts) AS c_end
  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
e AS (
  SELECT user_id AS e_user, date_trunc('day', ts) AS e_day,
         MIN(ts) AS e_start, MAX(ts) AS e_end
  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
SELECT c_user, e_user, CAST(c_day AS DATE) AS c_day,
       (epoch_us(LEAST(c_end, e_end))
      - epoch_us(GREATEST(c_start, e_start)))::BIGINT AS overlap_us
FROM c JOIN e ON c_start <= e_end AND e_start <= c_end
WHERE c_user <> e_user
ORDER BY overlap_us DESC, c_user, e_user, c_day
LIMIT 50
"""


def x_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit (quality.k_anonymity) over the
    customer table: quasi-identifiers someone could know externally
    (nation, market segment), sensitive attribute = account-balance
    bucket. One O(classes) aggregation flags every equivalence class an
    attacker could pin below k=5 members — the governance gate before a
    user-derived corpus ships. Balance bucket uses shifted integer
    division so negative balances bucket identically in every engine."""
    from samba_spark.operators.quality import k_anonymity

    cust = load_tables(spark, sf_dir, ["customer"])["customer"]
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    quasi = cust.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        ((cents + F.lit(10_000_000)) / F.lit(100_000))
        .cast("long")
        .alias("bal_bucket"),
    )
    return (
        k_anonymity(
            quasi, ["nationkey", "mktsegment"], "bal_bucket", k=5
        )
        .orderBy("class_size", "nationkey", "mktsegment")
        .limit(100)
    )


X_K_ANONYMITY_SQL = """
WITH q AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
         c_mktsegment AS mktsegment,
         ((CAST(ROUND(c_acctbal * 100) AS BIGINT) + 10000000) // 100000)
           AS bal_bucket
  FROM customer)
SELECT nationkey, mktsegment,
       COUNT(*)::BIGINT AS class_size,
       COUNT(DISTINCT bal_bucket)::BIGINT AS l_diversity,
       COUNT(*) < 5 AS at_risk
FROM q GROUP BY nationkey, mktsegment
ORDER BY class_size, nationkey, mktsegment
LIMIT 100
"""


def x_levenshtein_pairs(spark, sf_dir):
    """Edit-distance-1 spelling join (dedup.deletion_neighborhood_pairs,
    SymSpell blocking): the dictionary is the distinct part names plus,
    for each, a deterministically perturbed copy (one character deleted
    at an ascii-derived position), and the operator must rediscover
    every within-distance-1 pair through the deletion-neighborhood
    equi-join — no distance cross join anywhere. Exact ``levenshtein``
    verification on candidates only."""
    from samba_spark.operators.dedup import deletion_neighborhood_pairs

    part = load_tables(spark, sf_dir, ["part"])["part"]
    names = part.select(F.col("p_name").alias("s")).distinct()
    perturbed = names.select(
        F.expr(
            "concat(substring(s, 1, ascii(substring(s, 1, 1)) % length(s)),"
            " substring(s, ascii(substring(s, 1, 1)) % length(s) + 2,"
            " length(s)))"
        ).alias("s")
    )
    dictionary = names.union(perturbed).distinct()
    return (
        deletion_neighborhood_pairs(dictionary, "s")
        .orderBy("s_a", "s_b")
        .limit(200)
    )


X_LEVENSHTEIN_SQL = """
WITH names AS (SELECT DISTINCT p_name AS s FROM part),
perturbed AS (
  SELECT DISTINCT
         substr(s, 1, ascii(substr(s, 1, 1)) % length(s))
      || substr(s, ascii(substr(s, 1, 1)) % length(s) + 2) AS s
  FROM names),
dict AS (SELECT s FROM names UNION SELECT s FROM perturbed),
vars AS (
  SELECT s,
         unnest(list_append(
           list_transform(range(1, length(s) + 1),
                          i -> substr(s, 1, i - 1) || substr(s, i + 1)),
           s)) AS v
  FROM dict),
pairs AS (
  SELECT DISTINCT a.s AS s_a, b.s AS s_b
  FROM vars a JOIN vars b ON a.v = b.v AND a.s < b.s)
SELECT s_a, s_b, levenshtein(s_a, s_b)::BIGINT AS distance
FROM pairs WHERE levenshtein(s_a, s_b) <= 1
ORDER BY s_a, s_b LIMIT 200
"""


def x_mad_outliers(spark, sf_dir):
    """Robust median/MAD outliers (sessionize.mad_outliers) per event
    type — the 50%-breakdown complement to x58's trailing z-score: the
    median pair cannot be dragged by the very outliers under test.
    Integer-exact flag boundary (doubled medians, k = 3·1.4826 scaled
    ×10⁴) so Spark and the oracle agree bit-for-bit; group stats
    broadcast back, the event table never shuffles on data."""
    from samba_spark.operators.sessionize import mad_outliers

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return mad_outliers(ev).orderBy(
        F.desc("dev4"), "event_type", "event_id"
    ).limit(50)


X_MAD_OUTLIERS_SQL = """
WITH e AS (
  SELECT event_type, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events),
med AS (
  SELECT event_type,
         CAST(ROUND(2 * quantile_cont(cents, 0.5)) AS BIGINT) AS med2
  FROM e GROUP BY event_type),
dev AS (
  SELECT e.event_type, e.event_id, e.cents, med.med2,
         abs(2 * e.cents - med.med2) AS dev2
  FROM e JOIN med USING (event_type)),
mad AS (
  SELECT event_type,
         CAST(ROUND(2 * quantile_cont(dev2, 0.5)) AS BIGINT) AS mad4
  FROM dev GROUP BY event_type)
SELECT dev.event_type, dev.event_id, dev.cents, dev.med2, mad.mad4,
       (2 * dev.dev2)::BIGINT AS dev4
FROM dev JOIN mad USING (event_type)
WHERE 2 * dev.dev2 * 10000 > 44478 * mad.mad4
ORDER BY dev4 DESC, event_type, event_id LIMIT 50
"""


def q90_interpolate_daily(spark, sf_dir):
    """Linear-interpolation gap fill (sessionize.interpolate_daily_counts)
    — per-user daily event-count series where missing days get the exact
    integer straight line between surrounding observations (x69 zero-
    fills; this repairs). One user-keyed exchange for aggregate, spine
    join and both direction windows; 1/1000-unit integer output."""
    from samba_spark.operators.sessionize import interpolate_daily_counts

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return (
        interpolate_daily_counts(ev)
        .orderBy("user_id", "day")
        .limit(365)
    )


Q90_INTERPOLATE_SQL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day, COUNT(*)::BIGINT AS n_obs
  FROM events GROUP BY 1, 2),
bounds AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
spine AS (
  SELECT user_id,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM bounds),
sparse AS (
  SELECT s.user_id, s.day, d.n_obs
  FROM spine s LEFT JOIN daily d USING (user_id, day)),
filled AS (
  SELECT user_id, day, n_obs,
         LAST_VALUE(n_obs IGNORE NULLS) OVER w AS pv,
         LAST_VALUE(CASE WHEN n_obs IS NOT NULL THEN day END IGNORE NULLS)
           OVER w AS pd,
         FIRST_VALUE(n_obs IGNORE NULLS) OVER wf AS nv,
         FIRST_VALUE(CASE WHEN n_obs IS NOT NULL THEN day END IGNORE NULLS)
           OVER wf AS nd
  FROM sparse
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, CAST(day AS DATE) AS day,
       n_obs IS NOT NULL AS observed,
       (CASE WHEN n_obs IS NOT NULL THEN n_obs * 1000
             ELSE (pv * 1000 * GREATEST(date_diff('day', pd, nd), 1)
                 + (nv - pv) * 1000 * date_diff('day', pd, day))
                // GREATEST(date_diff('day', pd, nd), 1)
        END)::BIGINT AS count_x1000
FROM filled ORDER BY user_id, day LIMIT 365
"""



def _trading_pairs(t, min_trades: int):
    """Customer–supplier repeat-trade edge list shared by the graph
    queries (x105 LPA / x124 k-core / x154 modularity): one Python
    definition so the builders cannot drift from each other or from the
    shared _X105_CORE oracle (the SQL side was deduplicated for the
    same reason). ``min_trades`` is each query's declared sparsity
    threshold."""
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + F.lit(10_000_000)).alias(
                "dst"
            ),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_trades)
        .select("src", "dst")
    )


def x_lpa_communities(spark, sf_dir):
    """Deterministic synchronous label propagation (graph.
    label_propagation, 4 rounds, ties to the smallest label) over the
    customer–supplier trading graph — community structure the CC/
    PageRank/triangle family cannot see. The oracle unrolls the same 4
    votes as chained CTEs with a ROW_NUMBER tie-break, so every round is
    engine-exact. Top-50 communities by size."""
    from samba_spark.operators.graph import label_propagation

    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    # min_trades=3: sparse enough for community structure, not one blob
    pairs = _trading_pairs(t, 3)
    comm = label_propagation(pairs, iterations=4)
    return (
        comm.groupBy(F.col("community").cast("long").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("vertex").cast("long").alias("min_vertex"),
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(50)
    )


def _lpa_round_sql(i):
    return f"""
v{i} AS (
  SELECT e.s AS v, l.label AS nl, COUNT(*) AS c
  FROM edges e JOIN l{i - 1} l ON e.d = l.v GROUP BY 1, 2),
l{i} AS (
  SELECT v, nl AS label FROM (
    SELECT v, nl,
           ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, nl ASC) AS rn
    FROM v{i}) WHERE rn = 1)"""


# shared by x105 (community sizes) and x154 (modularity contributions):
# the trading-graph build + unrolled 4-round LPA chain through ``l4``
_X105_CORE = (
    """
WITH pairs AS (
  SELECT CAST(o_custkey AS BIGINT) AS src,
         CAST(l_suppkey AS BIGINT) + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
und AS (SELECT src AS s, dst AS d FROM pairs
        UNION SELECT dst, src FROM pairs),
edges AS (SELECT s, d FROM und
          UNION SELECT DISTINCT s, s FROM und),
l0 AS (SELECT DISTINCT s AS v, s AS label FROM edges),"""
    + ",".join(_lpa_round_sql(i) for i in (1, 2, 3, 4))
)

X_LPA_SQL = _X105_CORE + """
SELECT label AS community, COUNT(*)::BIGINT AS n_members,
       MIN(v)::BIGINT AS min_vertex
FROM l4 GROUP BY label
ORDER BY n_members DESC, community LIMIT 50
"""

X154_MODULARITY_SQL = _X105_CORE + """,
m AS (SELECT COUNT(*)::BIGINT AS m FROM pairs),
deg AS (
  SELECT v, COUNT(*)::BIGINT AS d
  FROM (SELECT src AS v FROM pairs UNION ALL SELECT dst FROM pairs)
  GROUP BY v),
vcomm AS (SELECT v, label AS community FROM l4),
intra AS (
  SELECT c1.community, COUNT(*)::BIGINT AS l_c
  FROM pairs p
  JOIN vcomm c1 ON c1.v = p.src
  JOIN vcomm c2 ON c2.v = p.dst
  WHERE c1.community = c2.community
  GROUP BY c1.community),
dsum AS (
  SELECT c.community, SUM(d)::BIGINT AS d_c
  FROM deg JOIN vcomm c ON c.v = deg.v
  GROUP BY c.community)
SELECT ds.community,
       CAST(COALESCE(i.l_c, 0) AS BIGINT) AS intra_edges,
       ds.d_c AS degree_sum,
       ROUND(CAST(COALESCE(i.l_c, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
             - (CAST(ds.d_c AS DOUBLE)
                / (CAST(2 AS DOUBLE) * CAST(m.m AS DOUBLE)))
               * (CAST(ds.d_c AS DOUBLE)
                  / (CAST(2 AS DOUBLE) * CAST(m.m AS DOUBLE))), 6)
         AS contribution
FROM dsum ds LEFT JOIN intra i USING (community), m
ORDER BY ds.community
"""


def x_modularity(spark, sf_dir):
    """Per-community modularity contributions of the x105 LPA partition
    over the trading graph (graph.modularity_contributions): the graph
    sibling of x150's clustering metrics — LPA produces communities,
    nothing scored the partition. One row per community with exact
    integer L_c/d_c and the per-row double contribution Q_c = L_c/m −
    (d_c/2m)² (the x131 cells-table design: no cross-row float sum)."""
    from samba_spark.operators.graph import (
        label_propagation,
        modularity_contributions,
    )

    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    pairs = _trading_pairs(t, 3)  # the x105 graph, scored
    comm = label_propagation(pairs, iterations=4)
    return modularity_contributions(pairs, comm)


def x_strip_boilerplate(spark, sf_dir):
    """Corpus boilerplate removal (textual.strip_boilerplate): cut every
    non-overlapping 3-token chunk shared by more than 2 documents and
    reassemble the survivors in order — the repair half of x35's
    repeated-span detection. Chunking is pure Catalyst; only the
    O(distinct frequent chunks) relation broadcasts back. Docs with the
    most boilerplate first."""
    from samba_spark.operators.textual import strip_boilerplate

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        strip_boilerplate(docs, n=3, max_df=2)
        .orderBy(F.desc("n_removed"), "doc_id")
        .limit(100)
    )


X_STRIP_BOILERPLATE_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         (len(string_split(text, ' ')) + 2) // 3 AS n_chunks
  FROM documents),
expl AS (
  SELECT doc_id, n_chunks,
         unnest(list_transform(range(1, n_chunks + 1),
           j -> struct_pack(idx := j,
                chunk := array_to_string(toks[(j-1)*3+1 : (j-1)*3+3], ' '))))
           AS u
  FROM base),
flat AS (SELECT doc_id, n_chunks, u.idx AS idx, u.chunk AS chunk FROM expl),
freq AS (
  SELECT chunk FROM (
    SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM flat GROUP BY chunk)
  WHERE df > 2),
kept AS (
  SELECT * FROM flat WHERE chunk NOT IN (SELECT chunk FROM freq)),
rebuilt AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_kept,
         string_agg(chunk, ' ' ORDER BY idx) AS cleaned
  FROM kept GROUP BY doc_id)
SELECT b.doc_id, CAST(b.n_chunks AS BIGINT) AS n_chunks,
       (b.n_chunks - COALESCE(r.n_kept, 0))::BIGINT AS n_removed,
       COALESCE(r.cleaned, '') AS cleaned
FROM base b LEFT JOIN rebuilt r USING (doc_id)
ORDER BY n_removed DESC, doc_id LIMIT 100
"""



def x_linear_model(spark, sf_dir):
    """In-engine closed-form regression (vectorops.linear_model_2f):
    per event type, fit value-cents ~ hour-of-day + days-since-epoch
    (diurnal + trend) by Cramer-solved normal equations — exact integer
    numerator/determinant strings (DECIMAL(38,0) vs the oracle's
    HUGEINT) plus IEEE-double slopes. One partial-aggregated scan; the
    fit itself is O(groups)."""
    from samba_spark.operators.vectorops import linear_model_2f

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return linear_model_2f(
        ev,
        "event_type",
        F.hour("ts"),
        F.expr("datediff(CAST(ts AS DATE), DATE'2024-01-01')"),
        F.round(F.col("value") * 100),
    ).orderBy("event_type")


X_LINEAR_MODEL_SQL = """
WITH e AS (
  SELECT event_type,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x1,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS x2,
         CAST(ROUND(value * 100) AS BIGINT) AS y
  FROM events),
s AS (
  SELECT event_type, COUNT(*)::BIGINT AS n,
         SUM(x1)::BIGINT AS s1, SUM(x2)::BIGINT AS s2,
         SUM(y)::BIGINT AS sy,
         SUM(x1 * x1)::BIGINT AS s11, SUM(x2 * x2)::BIGINT AS s22,
         SUM(x1 * x2)::BIGINT AS s12,
         SUM(x1 * y)::BIGINT AS s1y, SUM(x2 * y)::BIGINT AS s2y
  FROM e GROUP BY event_type),
h AS (
  SELECT event_type, n,
         n::HUGEINT * s11 - s1::HUGEINT * s1 AS a11,
         n::HUGEINT * s12 - s1::HUGEINT * s2 AS a12,
         n::HUGEINT * s22 - s2::HUGEINT * s2 AS a22,
         n::HUGEINT * s1y - s1::HUGEINT * sy AS b1,
         n::HUGEINT * s2y - s2::HUGEINT * sy AS b2
  FROM s)
SELECT event_type, n,
       CAST(a11 * a22 - a12 * a12 AS VARCHAR) AS det,
       CAST(b1 * a22 - b2 * a12 AS VARCHAR) AS beta1_num,
       CAST(b2 * a11 - b1 * a12 AS VARCHAR) AS beta2_num,
       CASE WHEN a11 * a22 - a12 * a12 <> 0 THEN
         CAST(b1 * a22 - b2 * a12 AS DOUBLE)
           / CAST(a11 * a22 - a12 * a12 AS DOUBLE) END AS slope1,
       CASE WHEN a11 * a22 - a12 * a12 <> 0 THEN
         CAST(b2 * a11 - b1 * a12 AS DOUBLE)
           / CAST(a11 * a22 - a12 * a12 AS DOUBLE) END AS slope2
FROM h ORDER BY event_type
"""



def x_changepoint(spark, sf_dir):
    """Exact CUSUM change-point per event type (sessionize.
    cusum_changepoint): the (ts, id)-ordered drift D_k = n·S_k − k·T in
    pure 64-bit integers, argmax with earliest-k ties. The global prefix
    sum is built from a within-day window plus a day-level carry ladder
    — no global per-group window task anywhere (the oracle, at audit
    scale, uses the naive single window)."""
    from samba_spark.operators.sessionize import cusum_changepoint

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return cusum_changepoint(ev).orderBy("event_type")


X_CHANGEPOINT_SQL = """
WITH e AS (
  SELECT event_type, ts, event_id, CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events),
w AS (
  SELECT event_type,
         SUM(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS k
  FROM e),
t AS (SELECT event_type, SUM(c)::BIGINT AS tot, COUNT(*)::BIGINT AS n
      FROM e GROUP BY 1),
d AS (
  SELECT w.event_type, t.n, w.k,
         abs(t.n * w.s - w.k * t.tot) AS dd
  FROM w JOIN t USING (event_type)),
r AS (
  SELECT event_type, n, k, dd,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY dd DESC, k ASC) AS rn
  FROM d)
SELECT event_type, n::BIGINT AS n, k::BIGINT AS k_star, dd::BIGINT AS d_abs
FROM r WHERE rn = 1 ORDER BY event_type
"""



def x_winsorize(spark, sf_dir):
    """Exact-percentile winsorization audit (sessionize.winsorize_audit):
    clamp event values to each type's [P5, P95] with integer-exact ×20
    bounds, reporting per-tail clip counts and the winsorized sum — the
    clip-don't-drop complement to x26's quantile filter."""
    from samba_spark.operators.sessionize import winsorize_audit

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return winsorize_audit(ev).orderBy("event_type")


X_WINSORIZE_SQL = """
WITH e AS (
  SELECT event_type,
         CAST(ROUND(value * 100) AS BIGINT) * 20 AS c20
  FROM events),
s AS (
  SELECT event_type,
         CAST(ROUND(quantile_cont(c20 / 20, 0.05) * 20) AS BIGINT) AS lo20,
         CAST(ROUND(quantile_cont(c20 / 20, 0.95) * 20) AS BIGINT) AS hi20
  FROM e GROUP BY event_type)
SELECT e.event_type, COUNT(*)::BIGINT AS n,
       MAX(s.lo20)::BIGINT AS lo20, MAX(s.hi20)::BIGINT AS hi20,
       SUM(CASE WHEN e.c20 < s.lo20 THEN 1 ELSE 0 END)::BIGINT
         AS n_clipped_low,
       SUM(CASE WHEN e.c20 > s.hi20 THEN 1 ELSE 0 END)::BIGINT
         AS n_clipped_high,
       SUM(GREATEST(LEAST(e.c20, s.hi20), s.lo20))::BIGINT
         AS sum_winsorized20
FROM e JOIN s USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""



def q92_twap(spark, sf_dir):
    """Per-user-day time-weighted average (sessionize.
    time_weighted_average): values weighted by how long they were the
    user's latest reading, not by tick count. Exact integer
    numerator/denominator plus an IEEE ratio; one (user, day)-keyed
    exchange. Top-100 held-time days."""
    from samba_spark.operators.sessionize import time_weighted_average

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return (
        time_weighted_average(ev)
        .orderBy(F.desc("twap_den"), "user_id", "day")
        .limit(100)
    )


Q92_TWAP_SQL = """
WITH e AS (
  SELECT user_id, date_trunc('day', ts) AS day, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS c
  FROM events),
h AS (
  SELECT user_id, day, c,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id, day
                                 ORDER BY ts, event_id))
           - epoch_us(ts) AS held_us
  FROM e),
a AS (
  SELECT user_id, CAST(day AS DATE) AS day,
         COALESCE(SUM(c * held_us), 0)::BIGINT AS twap_num,
         COALESCE(SUM(held_us), 0)::BIGINT AS twap_den
  FROM h GROUP BY 1, 2)
SELECT user_id, day, twap_num, twap_den,
       CASE WHEN twap_den > 0
            THEN CAST(twap_num AS DOUBLE) / twap_den END AS twap_cents
FROM a ORDER BY twap_den DESC, user_id, day LIMIT 100
"""



def x_sliding_distinct(spark, sf_dir):
    """Exact trailing-hour unique users per (event_type, minute)
    (sketches.sliding_distinct): dedup to (group, minute, id) triples,
    a bounded offset fan-out equi-join to the observed output minutes,
    one distinct-count aggregate — COUNT(DISTINCT) over a sliding window
    without ever re-shuffling raw events (the Druid panel-metric
    pattern; the oracle recomputes each window from raw rows). The
    shuffle carries window × |triples| id rows — right at telemetry
    sparsity; x118 is the bit-identical bucket-bitmap variant whose
    shuffle is bounded by id-space density instead (the dense-regime /
    100 TB plan). First 200 minutes."""
    from samba_spark.operators.sketches import sliding_distinct

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return (
        sliding_distinct(ev)
        .orderBy("event_type", "minute")
        .limit(200)
    )


X_SLIDING_DISTINCT_SQL = """
WITH e AS (
  SELECT event_type, date_trunc('minute', ts) AS m, user_id FROM events),
t AS (SELECT DISTINCT event_type, m FROM e)
SELECT t.event_type, t.m AS minute,
       COUNT(DISTINCT e.user_id)::BIGINT AS n_distinct
FROM t JOIN e
  ON e.event_type = t.event_type
 AND e.m BETWEEN t.m - INTERVAL '59 minutes' AND t.m
GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 200
"""


def x_sliding_distinct_bitmap(spark, sf_dir):
    """x110's exact trailing-hour unique-user metric on the bucket-bitmap
    path (sketches.sliding_distinct_bitmap): ids compress into 4 KiB
    position bitmaps per (event_type, minute, 32768-id bucket) BEFORE
    the window fan-out, so the fanned shuffle carries fixed-width
    bitmaps bounded by id-space density instead of window × |triples| id
    rows. Bit-identical semantics (asserted against x110 on raw events
    in tests/test_sketches.py); the benched query runs the operator in
    its TARGET regime — events deterministically folded onto one 4-hour
    axis (epoch % 14400), giving 240 dense minutes per type — because on
    the raw sparse fixture (~2.6 events/minute) the triple path is the
    right tool and the bitmap path would bench its worst case. Shuffle
    volume here is groups × 240 minutes × 4 KiB × window — FLAT in SF
    (density-bounded), which is the whole point. First 200 minutes."""
    from samba_spark.operators.sketches import sliding_distinct_bitmap

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    dense = ev.withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1767225600) + F.unix_timestamp(F.col("ts")) % 14400
        ),
    )
    return (
        sliding_distinct_bitmap(dense)
        .orderBy("event_type", "minute")
        .limit(200)
    )


X118_SLIDING_BITMAP_SQL = """
WITH e AS (
  SELECT event_type,
         date_trunc('minute',
           TIMESTAMP '2026-01-01 00:00:00'
           + (CAST(epoch(date_trunc('second', ts)) AS BIGINT) % 14400)
             * INTERVAL 1 SECOND) AS m,
         user_id
  FROM events),
t AS (SELECT DISTINCT event_type, m FROM e)
SELECT t.event_type, t.m AS minute,
       COUNT(DISTINCT e.user_id)::BIGINT AS n_distinct
FROM t JOIN e
  ON e.event_type = t.event_type
 AND e.m BETWEEN t.m - INTERVAL '59 minutes' AND t.m
GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 200
"""


def x_sliding_distinct_auto(spark, sf_dir):
    """x110's exact trailing-hour unique-user metric through the
    regime-dispatching entry point (sketches.sliding_distinct_auto,
    VERDICT r5 item 4): a one-pass approx-distinct density probe picks
    the triple fan-out (sparse) or the bucket-bitmap fan-out (dense).
    The declared query feeds the DENSE fold (the same deterministic
    4-hour epoch fold x118 benches — VERDICT r6 item 4): the probe then
    selects the bitmap path, so the suite exercises the OTHER dispatch
    outcome end-to-end (x110/x121-sparse already cover the triple
    path, and the sparse-choice dispatch stays plan-pinned in
    tests/test_sketches.py). Because the two paths are bit-identical by
    contract, x118's oracle holds whichever regime the probe picks.
    First 200 minutes."""
    from samba_spark.operators.sketches import sliding_distinct_auto

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    dense = ev.withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1767225600) + F.unix_timestamp(F.col("ts")) % 14400
        ),
    )
    return (
        sliding_distinct_auto(dense)
        .orderBy("event_type", "minute")
        .limit(200)
    )


def x_bloom_ingest(spark, sf_dir):
    """Bloom-filter ingest skip-list (sketches.bloom_filter_table +
    bloom_probe): the corpus 2/3 of documents builds an m=2^18-bit
    sharded-bitmap filter over text content; the delta 1/3 probes it and
    every doc gets a definitely_new / maybe_dup verdict — the O(bytes)
    crawl-ingest fast path that gates the expensive content-dedup
    pipeline. Bit positions are md5-derived, so the oracle recomputes
    the exact position sets and every verdict (false positives included)
    bit-for-bit. Filter state: 8 bitmap rows; probe joins broadcast."""
    from samba_spark.operators.sketches import (
        bloom_filter_table,
        bloom_probe,
    )

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    # the delta is new docs PLUS a re-crawled slice of the corpus itself
    # (doc_id % 21 == 1 ⊂ corpus), so the declared output exercises BOTH
    # verdicts: re-crawls must read maybe_dup, new docs definitely_new
    delta = docs.where(
        (F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 21 == 1)
    )
    bloom = bloom_filter_table(corpus, "text")
    return (
        bloom_probe(bloom, delta, "text", "doc_id")
        .orderBy("doc_id")
        .limit(300)
    )


X122_BLOOM_SQL = """
WITH js AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(j)),
setbits AS (
  SELECT DISTINCT
         ('0x' || substr(md5('bloom' || j || ':' || text), 1, 8))::BIGINT
           % 262144 AS pos
  FROM (SELECT DISTINCT text FROM documents WHERE doc_id % 3 <> 0)
  CROSS JOIN js),
dpos AS (
  SELECT doc_id,
         ('0x' || substr(md5('bloom' || j || ':' || text), 1, 8))::BIGINT
           % 262144 AS pos
  FROM documents CROSS JOIN js
  WHERE doc_id % 3 = 0 OR doc_id % 21 = 1),
miss AS (
  SELECT d.doc_id, COUNT(*) FILTER (WHERE s.pos IS NULL) AS n_miss
  FROM dpos d LEFT JOIN setbits s USING (pos) GROUP BY d.doc_id)
SELECT doc_id,
       CASE WHEN n_miss > 0 THEN 'definitely_new'
            ELSE 'maybe_dup' END AS status
FROM miss ORDER BY doc_id LIMIT 300
"""


def x_kmv_set_ops(spark, sf_dir):
    """Theta-style distinct set algebra (sketches.kmv_sketch +
    kmv_set_ops_pairwise): per event_type, the bottom-256 52-bit hashes
    of distinct user_ids; for every type pair — estimated |A|, |B|,
    |A∪B| and |A∩B|. The set-overlap question HLL cannot answer
    (union-only registers); audience-overlap / segment-intersection is
    the canonical use. Sketch state O(groups × k); every estimate is a
    deterministic function of exact ≤2^52 integers, so the DuckDB oracle
    replays sketch AND estimates bit-for-bit."""
    from samba_spark.operators.sketches import (
        kmv_set_ops_pairwise,
        kmv_sketch,
    )

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    sk = kmv_sketch(ev, "event_type", "user_id", k=256)
    return kmv_set_ops_pairwise(sk, k=256).orderBy("ga", "gb")


X123_KMV_SQL = """
WITH h AS (
  SELECT DISTINCT event_type AS g,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
  FROM events),
sk AS (
  SELECT g, h FROM (
    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
    FROM h) WHERE rn <= 256),
est_g AS (
  SELECT g, CASE WHEN COUNT(*) < 256 THEN COUNT(*)
                 ELSE CAST(FLOOR(CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
                                 / CAST(MAX(h) AS DOUBLE))
                           AS BIGINT) END AS est
  FROM sk GROUP BY g),
gs AS (SELECT DISTINCT g FROM sk),
pairs AS (SELECT x.g AS ga, y.g AS gb FROM gs x, gs y WHERE x.g < y.g),
sides AS (
  SELECT p.ga, p.gb, s.h,
         MAX(CASE WHEN s.g = p.ga THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.g = p.gb THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sk s ON s.g IN (p.ga, p.gb)
  GROUP BY p.ga, p.gb, s.h),
bk AS (
  SELECT * FROM (
    SELECT ga, gb, h, in_a, in_b,
           ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
    FROM sides) WHERE rn <= 256),
pp AS (
  SELECT ga, gb, COUNT(*) AS n_comb, MAX(h) AS kth,
         SUM(in_a * in_b) AS n_both
  FROM bk GROUP BY ga, gb),
es AS (
  SELECT ga, gb, n_comb, n_both,
         CASE WHEN n_comb < 256 THEN n_comb
              ELSE CAST(FLOOR(CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
                              / CAST(kth AS DOUBLE))
                        AS BIGINT) END AS est_union
  FROM pp)
SELECT e.ga, e.gb, a.est::BIGINT AS est_a, b.est::BIGINT AS est_b,
       e.est_union::BIGINT AS est_union,
       CAST(FLOOR(CAST(e.est_union AS DOUBLE) * e.n_both / e.n_comb)
            AS BIGINT) AS est_inter
FROM es e
JOIN est_g a ON a.g = e.ga
JOIN est_g b ON b.g = e.gb
ORDER BY ga, gb
"""


def x_k_core(spark, sf_dir):
    """k-core decomposition (graph.k_core, k=3) over the repeat-trade
    customer–supplier graph — the density filter that strips the
    low-degree fringe CC and LPA keep. The operator peels to the FIXED
    POINT (short-circuits when a round removes nothing, keeps peeling
    while the frontier shrinks — r7 convergence fix); peeling is
    monotone and deterministic, so the oracle's fixed CTE unroll
    matches exactly when it, too, reaches the fixed point. The oracle unrolls 26 rounds — at sf0.1 the repeat-trade
    graph needs 24 peel rounds to converge (measured round-7), so the
    original 8-round unroll was silently a SUPERSET there: exactly the
    under-peel hazard the r7 convergence fix exists to catch. Extra
    rounds past the fixed point are no-ops, so one deep unroll is
    correct at every SF. Top-100 core vertices by in-core degree."""
    from samba_spark.operators.graph import k_core

    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    pairs = _trading_pairs(t, 2)
    return (
        k_core(pairs, k=3)
        .orderBy(F.desc("degree"), "vertex")
        .limit(100)
    )


def _x124_sql(k: int = 3, rounds: int = 26) -> str:
    head = """
WITH pairs AS (
  SELECT CAST(o_custkey AS BIGINT) AS src,
         CAST(l_suppkey AS BIGINT) + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
sym AS MATERIALIZED (
  SELECT DISTINCT _s, _d FROM (
    SELECT src AS _s, dst AS _d FROM pairs
    UNION ALL SELECT dst, src FROM pairs) WHERE _s <> _d),
a0 AS MATERIALIZED (SELECT DISTINCT _s AS v FROM sym)"""
    parts = [head]
    for r in range(1, rounds + 1):
        parts.append(f""",
d{r} AS MATERIALIZED (
  SELECT e._s AS v, COUNT(*)::BIGINT AS degree
  FROM sym e
  JOIN a{r - 1} x ON e._s = x.v
  JOIN a{r - 1} y ON e._d = y.v
  GROUP BY e._s),
a{r} AS MATERIALIZED (SELECT v FROM d{r} WHERE degree >= {k})""")
    # self-verifying unroll: if the last round still removed vertices,
    # the unroll did NOT reach the k-core fixed point and the oracle
    # would silently be a superset (the pre-r7 bug) — fail loudly
    # instead, at ANY scale factor.
    parts.append(f""",
guard AS (
  SELECT CASE WHEN (SELECT COUNT(*) FROM a{rounds})
              <> (SELECT COUNT(*) FROM a{rounds - 1})
         THEN error('x124 oracle: {rounds}-round unroll did not reach '
                    'the k-core fixed point - deepen rounds')
         ELSE 1 END AS ok)
SELECT v AS vertex, degree FROM d{rounds}, guard
WHERE degree >= {k} AND guard.ok = 1
ORDER BY degree DESC, vertex LIMIT 100""")
    return "".join(parts)


def x_benford(spark, sf_dir):
    """Benford first-digit screen (quality.benford_profile) over order
    totals per order priority — the fraud/quality anomaly check for
    amount columns. Exact counts + ppm shares (floor(1e6·n/total)) +
    the Benford expectation as shared integer literals; one hash
    aggregate keyed by (group, digit)."""
    from samba_spark.operators.quality import benford_profile

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    return benford_profile(
        orders, "o_totalprice", group_col="o_orderpriority"
    ).orderBy("grp", "digit")


def _x125_sql() -> str:
    import math

    benford_rows = ", ".join(
        f"({d}, {int(math.log10(1 + 1 / d) * 1_000_000)})"
        for d in range(1, 10)
    )
    return f"""
WITH b(digit, benford_e6) AS (VALUES {benford_rows}),
d AS (
  SELECT o_orderpriority AS grp,
         TRY_CAST(substr(regexp_replace(
                CAST(CAST(abs(o_totalprice) AS DECIMAL(38,6)) AS VARCHAR),
                '[0.]*', '', 'g'), 1, 1) AS INT) AS digit
  FROM orders WHERE abs(o_totalprice) > 0),
g AS (
  SELECT grp, digit, COUNT(*)::BIGINT AS n FROM d
  WHERE digit IS NOT NULL GROUP BY grp, digit),
t AS (
  SELECT grp, digit, n, SUM(n) OVER (PARTITION BY grp) AS w FROM g)
SELECT t.grp, t.digit, t.n,
       CAST((1000000 * t.n) // t.w AS BIGINT) AS pct_e6,
       b.benford_e6::BIGINT AS benford_e6
FROM t JOIN b ON b.digit = t.digit
ORDER BY t.grp, t.digit
"""


def x_acf(spark, sf_dir):
    """Daily-total autocorrelation at lags 1–5 per event type
    (sessionize.autocorrelation) — the seasonality/persistence
    diagnostic before any forecasting model choice. n²-scaled
    mean-centered sums stay DECIMAL(38,0)/HUGEINT-exact and travel as
    digit strings; the ratio is the only float. One day-rollup
    exchange, then window leads over a single (group, day) sort."""
    from samba_spark.operators.sessionize import autocorrelation

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return autocorrelation(ev, "event_type", "ts", "value").orderBy(
        "event_type", "lag"
    )


def _x126_sql(max_lag: int = 5) -> str:
    lead_cols = ", ".join(
        f"LEAD(x, {l}) OVER w AS x_{l}" for l in range(1, max_lag + 1)
    )
    stat_cols = ", ".join(
        f"SUM(CASE WHEN x_{l} IS NOT NULL THEN x * x_{l} END) AS cross_{l}, "
        f"SUM(CASE WHEN x_{l} IS NOT NULL THEN x END) AS sa_{l}, "
        f"SUM(x_{l}) AS sb_{l}"
        for l in range(1, max_lag + 1)
    )
    lag_selects = "\n  UNION ALL ".join(
        f"SELECT g, {l} AS lag, "
        f"(n*n*cross_{l} - n*s1*(sa_{l}+sb_{l}) + (n-{l})*s1*s1) AS num, "
        f"(n*n*s2 - n*s1*s1) AS den FROM stats"
        for l in range(1, max_lag + 1)
    )
    return f"""
WITH daily AS (
  SELECT event_type AS g, date_trunc('day', ts) AS d,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS HUGEINT) AS x
  FROM events GROUP BY 1, 2),
leads AS (
  SELECT g, x, {lead_cols}
  FROM daily WINDOW w AS (PARTITION BY g ORDER BY d)),
stats AS (
  SELECT g, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s1,
         SUM(x * x) AS s2, {stat_cols}
  FROM leads GROUP BY g),
lags AS (
  {lag_selects})
SELECT g AS event_type, CAST(lag AS BIGINT) AS lag,
       CAST(num AS VARCHAR) AS num_str, CAST(den AS VARCHAR) AS den_str,
       ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf
FROM lags ORDER BY event_type, lag
"""


def q99_scd2(spark, sf_dir):
    """Type-2 SCD history build (relational.scd2_collapse): collapse each
    user's consecutive same-event-type runs into validity intervals with
    valid_from/valid_to/version — the CDC-to-dimension-history step
    q74/q89's point-in-time joins consume. One user-keyed exchange
    shared by all four window functions; oracle replays the identical
    gaps-and-islands SQL. Users 0–49."""
    from samba_spark.operators.relational import scd2_collapse

    ev = load_tables(spark, sf_dir, ["events"])["events"]
    return scd2_collapse(
        ev.where(F.col("user_id") < 50),
        "user_id",
        "event_type",
        "ts",
        tiebreak=["event_id"],
    ).orderBy("user_id", "version")


Q99_SCD2_SQL = """
WITH e AS (
  SELECT user_id, event_type AS st, ts, event_id
  FROM events WHERE user_id < 50),
f AS (
  SELECT user_id, st, ts, event_id,
         CASE WHEN LAG(st) OVER w IS NOT DISTINCT FROM st
              THEN 0 ELSE 1 END AS chg
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
i AS (
  SELECT user_id, st, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS isl
  FROM f),
g AS (
  SELECT user_id, isl, MIN(st) AS event_type, MIN(ts) AS valid_from
  FROM i GROUP BY user_id, isl)
SELECT user_id, event_type, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY isl)
         AS valid_to,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY isl) AS version
FROM g ORDER BY user_id, version
"""


# Inclusion-dependency candidates for x127 — the TPC-H FK edges plus one
# deliberate NON-key direction (customers without orders) so the profile
# shows a <1.0 coefficient too.
_X127_PAIRS = [
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("customer.c_custkey->orders.o_custkey", "customer", "c_custkey",
     "orders", "o_custkey"),
]


def x_inclusion_profile(spark, sf_dir):
    """Inclusion-dependency (foreign-key candidate) profile
    (quality.inclusion_coefficient) over the TPC-H join edges plus one
    deliberate reverse direction: per candidate, distinct-child count,
    contained count, and the ppm inclusion coefficient — the schema-
    discovery complement to x96's FD profile. Each candidate reduces
    both sides to distinct key sets before a semi-join, so the joins
    run at NDV scale."""
    from samba_spark.operators.quality import inclusion_coefficient

    tables = load_tables(
        spark, sf_dir, ["orders", "customer", "lineitem", "part", "supplier"]
    )
    parts = [
        inclusion_coefficient(
            tables[ct], cc, tables[pt], pc, name=label
        )
        for label, ct, cc, pt, pc in _X127_PAIRS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("dependency")


def _x127_sql() -> str:
    selects = []
    for label, ct, cc, pt, pc in _X127_PAIRS:
        selects.append(f"""
SELECT '{label}' AS dependency,
       n_child_distinct::BIGINT AS n_child_distinct,
       n_contained::BIGINT AS n_contained,
       CASE WHEN n_child_distinct = 0 THEN NULL
            ELSE (1000000 * n_contained) // n_child_distinct
       END::BIGINT AS coeff_e6
FROM (
  SELECT COUNT(*) AS n_child_distinct,
         COUNT(*) FILTER (
           WHERE k IN (SELECT {pc} FROM {pt} WHERE {pc} IS NOT NULL)
         ) AS n_contained
  FROM (SELECT DISTINCT {cc} AS k FROM {ct} WHERE {cc} IS NOT NULL))""")
    return "\nUNION ALL\n".join(selects) + "\nORDER BY dependency"


def x_url_dedup(spark, sf_dir):
    """Canonical-URL dedup (textual.canonicalize_url + url_dedup_groups):
    the crawl-pipeline fetch-dedup step. URLs are synthesized
    deterministically from the documents table with every raw-variant
    axis a crawler actually sees — upper/lower-cased scheme+host,
    explicit default :443 port, trailing path slash, UTM/ref tracking
    params, shuffled param order, fragments — and canonicalization must
    collapse them onto one group key. The oracle is ANALYTIC: it
    constructs the expected canonical form directly from the synthesis
    arithmetic, so a hash match proves the operator's normalization
    semantics, not just engine agreement. Canonicalization is one
    codegen'd projection (zero shuffle); the dedup is one hash
    aggregate on the canonical string."""
    from samba_spark.operators.textual import url_dedup_groups

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS://WWW.Example")).otherwise(
            F.lit("https://www.example")
        ),
        (d % 50).cast("string"),
        F.when(d % 2 == 0, F.lit(".COM")).otherwise(F.lit(".com")),
        F.when(d % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Docs/"),
        F.col("source"),
        F.lit("/page"),
        (d % 100).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("?b=2&utm_source=tw&a=1")).otherwise(
            F.lit("?a=1&ref=feed&b=2")
        ),
        F.when(d % 5 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    return (
        url_dedup_groups(
            docs.withColumn("url", url), "url", "doc_id"
        )
        .withColumnRenamed("keep_id", "keep_doc_id")
        .orderBy("canonical_url")
        .limit(300)
    )


X119_URL_DEDUP_SQL = """
WITH u AS (
  SELECT 'https://www.example' || (doc_id % 50) || '.com/Docs/' || source
         || '/page' || (doc_id % 100) || '?a=1&b=2' AS canonical_url,
         doc_id
  FROM documents)
SELECT canonical_url, COUNT(*)::BIGINT AS n_dups,
       MIN(doc_id) AS keep_doc_id
FROM u GROUP BY canonical_url ORDER BY canonical_url LIMIT 300
"""


def q93_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with GROUPING() provenance bits — the
    arbitrary-subset sibling of q7's ROLLUP / q34-style CUBE: exactly
    the three requested groupings ((flag, status), (flag), ()) in ONE
    Expand + aggregate pass, each output row tagged with its grouping_id
    so consumers can tell a real NULL from a rolled-up one. Integer-cent
    sums."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    li.createOrReplaceTempView("q93_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
                 AS gid,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_price_cents
        FROM q93_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        ORDER BY gid, l_returnflag, l_linestatus
        """
    )


Q93_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       COUNT(*)::BIGINT AS n_rows,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))::BIGINT
         AS sum_price_cents
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY gid, l_returnflag, l_linestatus
"""



def x_incremental_lsh(spark, sf_dir):
    """Ingest-time fuzzy dedup (dedup.dedup_incremental_lsh): the
    even-doc_id half of the corpus is the PERSISTED band-bucket index
    (lsh_band_index — only its bucket table exists at ingest time), the
    odd half arrives as the delta, and the operator surfaces every
    near-dup candidate pair the delta creates — delta↔corpus and
    delta↔delta — without re-signaturing the corpus. Bucket cap
    evaluated over index ∪ delta, exactly as a full rebuild would; the
    oracle runs the full x3 LSH pipeline and keeps pairs with ≥1 odd
    member."""
    from samba_spark.operators.dedup import (
        dedup_incremental_lsh,
        lsh_band_index,
    )

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    index = lsh_band_index(docs.where(F.col("doc_id") % 2 == 0))
    delta = docs.where(F.col("doc_id") % 2 == 1)
    return dedup_incremental_lsh(index, delta).orderBy("doc_a", "doc_b")


def _x111_sql():
    return rf"""
WITH {_LSH_PAIRS_CTES}
SELECT doc_a, doc_b FROM pairs
WHERE doc_a % 2 = 1 OR doc_b % 2 = 1
ORDER BY doc_a, doc_b
"""



def x_containment(spark, sf_dir):
    """Containment near-dup detection (dedup.ngram_containment_pairs):
    |A∩B|/min ≥ 0.9 over 3-gram shingles, candidates from asymmetric
    rare-shingle prefix blocking — the quoted-paragraph case Jaccard
    and MinHash both miss. Integer threshold; IEEE quotient reported."""
    from samba_spark.operators.dedup import ngram_containment_pairs

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return ngram_containment_pairs(docs).orderBy("doc_a", "doc_b")


X_CONTAINMENT_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
shs AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(array_to_string(toks[i+1 : i+3], ' ')),
                         1, 15))::BIGINT AS term
  FROM toked, UNNEST(range(0, greatest(len(toks)-3, 0) + 1)) AS u(i)),
dfreq AS (SELECT term, COUNT(*) AS df FROM shs GROUP BY term),
ranked AS (
  SELECT s.doc_id, s.term, d.df,
         ROW_NUMBER() OVER (PARTITION BY s.doc_id
                            ORDER BY d.df, s.term) AS rk
  FROM shs s JOIN dfreq d USING (term)),
blocks AS (SELECT doc_id AS ba, term FROM ranked
           WHERE rk <= 5 AND df <= 100),
probe AS (SELECT doc_id AS bb, term FROM ranked WHERE df <= 100),
cand AS (
  SELECT DISTINCT LEAST(ba, bb) AS doc_a, GREATEST(ba, bb) AS doc_b
  FROM blocks JOIN probe USING (term) WHERE ba <> bb),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shs GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN shs a ON a.doc_id = c.doc_a
  JOIN shs b ON b.doc_id = c.doc_b AND b.term = a.term
  GROUP BY c.doc_a, c.doc_b)
SELECT i.doc_a, i.doc_b, i.n_inter::BIGINT AS n_inter,
       LEAST(sa.n, sb.n)::BIGINT AS n_small,
       CAST(i.n_inter AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE 10 * i.n_inter >= 9 * LEAST(sa.n, sb.n)
ORDER BY doc_a, doc_b
"""



def x_feature_hashing(spark, sf_dir):
    """Hashing-trick featurizer (textual.feature_hash_vectors): 32-dim
    token-count vectors with no vocabulary pass — slot = md5(token) mod
    32, engine-reproducible. One scan, zero shuffles before the final
    order. First 100 docs. The declared output comma-joins the vector
    (the operator keeps the real array<long>) so list-blind
    canonicalizers can sort and hash the rows (VERDICT r5 #1)."""
    from samba_spark.operators.textual import feature_hash_vectors

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return (
        feature_hash_vectors(docs)
        .select(
            "doc_id",
            F.array_join(
                F.transform("vec", lambda x: x.cast("string")), ","
            ).alias("vec"),
            "nnz",
            "max_count",
        )
        .orderBy("doc_id")
        .limit(100)
    )


X_FEATURE_HASHING_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
slots AS (
  SELECT doc_id,
         list_transform(toks,
           t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 32) AS sl
  FROM toked),
vecs AS (
  SELECT doc_id,
         list_transform(range(0, 32),
           i -> len(list_filter(sl, s -> s = i))::BIGINT) AS vec
  FROM slots)
SELECT doc_id, array_to_string(vec, ',') AS vec,
       len(list_filter(vec, c -> c > 0))::BIGINT AS nnz,
       list_max(vec)::BIGINT AS max_count
FROM vecs ORDER BY doc_id LIMIT 100
"""



def x_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank (graph.personalized_pagerank): the random
    walk restarts into customers 0–5, so rank = proximity to those
    seeds — the related-items primitive q41's global PageRank cannot
    express. Same 3-exchange loop and unrolled recursive-CTE oracle
    pattern as q41 (5 iterations, damping 0.85, symmetric trading
    graph: no dangling mass)."""
    from samba_spark.operators.graph import personalized_pagerank

    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    pairs = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + F.lit(10_000_000)).alias(
                "dst"
            ),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sources = pairs.select(F.col("src").alias("vertex")).where(
        F.col("vertex") <= 5
    ).distinct()
    return (
        personalized_pagerank(edges, sources, iterations=5)
        .orderBy("vertex")
    )


X_PPR_SQL = """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
         CAST(l_suppkey AS BIGINT) + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS (SELECT src, dst FROM pairs
          UNION ALL SELECT dst, src FROM pairs),
verts AS (SELECT DISTINCT src AS vertex FROM edges),
s AS (SELECT vertex FROM verts WHERE vertex <= 5),
params AS (SELECT COUNT(*)::DOUBLE AS ns FROM s),
outdeg AS (SELECT src, COUNT(*)::DOUBLE AS d FROM edges GROUP BY src),
restart AS (
  SELECT v.vertex,
         CASE WHEN sv.vertex IS NOT NULL
              THEN 1.0 / (SELECT ns FROM params) ELSE 0.0 END AS r
  FROM verts v LEFT JOIN s sv ON sv.vertex = v.vertex),
pr(it, vertex, rank) AS (
  SELECT 0, vertex, r FROM restart
  UNION ALL
  SELECT it + 1, vertex, (1 - 0.85) * r + 0.85 * inflow
  FROM (
    SELECT v.vertex, v.r, MAX(p.it) AS it, SUM(p.rank / o.d) AS inflow
    FROM restart v
    JOIN edges e ON e.dst = v.vertex
    JOIN pr p ON p.vertex = e.src
    JOIN outdeg o ON o.src = e.src
    GROUP BY v.vertex, v.r)
  WHERE it < 5)
SELECT vertex, ROUND(rank, 6) AS rank
FROM pr WHERE it = 5 ORDER BY vertex
"""



def q94_identifier_clause(spark, sf_dir):
    """IDENTIFIER() clause (Spark 4): table and column names bound from
    parameters WITHOUT string-splicing SQL — the injection-safe path for
    query services that template object names (q87 covers value
    parameters; this covers identifiers). The oracle inlines the same
    names."""
    t = load_tables(spark, sf_dir, ["orders"])["orders"]
    t.createOrReplaceTempView("q94_orders")
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp) AS status,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(IDENTIFIER(:val) * 100) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp)
        ORDER BY status
        """,
        args={
            "tbl": "q94_orders",
            "grp": "o_orderstatus",
            "val": "o_totalprice",
        },
    )


Q94_IDENTIFIER_SQL = """
SELECT o_orderstatus AS status, COUNT(*)::BIGINT AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS sum_cents
FROM orders GROUP BY o_orderstatus ORDER BY status
"""


def q95_group_by_all(spark, sf_dir):
    """GROUP BY ALL + ORDER BY ALL (Spark 4 / modern-SQL ergonomics):
    every non-aggregate select item becomes a grouping key and the full
    select list the sort key — resolved at analysis time to the
    identical plan as the explicit form (which is what the oracle
    runs)."""
    t = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    t.createOrReplaceTempView("q95_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM q95_lineitem
        GROUP BY ALL
        ORDER BY ALL
        """
    )


Q95_GROUP_BY_ALL_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*)::BIGINT AS n_rows,
       SUM(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus, n_rows, sum_qty
"""



def x_skyline(spark, sf_dir):
    """2-D Pareto frontier over parts (relational.skyline_2d): cheapest-
    yet-largest — no other part is at-most-as-expensive AND at-least-as-
    large with one strict. The operator's two-level bucket ladder
    replaces the O(n²) NOT-EXISTS self-join the oracle runs; duplicate
    (price, size) points keep the min-partkey representative."""
    from samba_spark.operators.relational import skyline_2d

    part = load_tables(spark, sf_dir, ["part"])["part"]
    p = part.select(
        "p_partkey",
        "p_name",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    return skyline_2d(p, "price_cents", "size", "p_partkey").orderBy(
        "price_cents", "p_partkey"
    )


X_SKYLINE_SQL = """
WITH p AS (
  SELECT p_partkey, p_name,
         CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS size
  FROM part),
nd AS (
  SELECT * FROM p r WHERE NOT EXISTS (
    SELECT 1 FROM p s
    WHERE s.price_cents <= r.price_cents AND s.size >= r.size
      AND (s.price_cents < r.price_cents OR s.size > r.size)))
SELECT p_partkey, p_name, price_cents, size FROM (
  SELECT nd.*, ROW_NUMBER() OVER (PARTITION BY price_cents, size
                                  ORDER BY p_partkey) AS rn
  FROM nd)
WHERE rn = 1 ORDER BY price_cents, p_partkey
"""



def x_pandas_udaf(spark, sf_dir):
    """Completes the Python-boundary matrix with the two @pandas_udf
    cells the suite's Arrow surface didn't yet pin: a SCALAR pandas UDF
    (Arrow-batched column transform) and a GROUPED-AGG pandas UDF (a
    user-defined aggregate riding the normal hash aggregate). Integer
    cents end to end, so the Python boundary is oracle-exact — the
    documented slow path beside the Catalyst equivalents, here to prove
    the API, not to win the benchmark."""
    from samba_spark.functions.pandas_ops import (
        make_int_count,
        make_int_sum,
        make_to_cents,
    )

    to_cents = make_to_cents()
    int_sum = make_int_sum()
    int_count = make_int_count()
    ev = load_tables(spark, sf_dir, ["events"])["events"]
    # pandas UDAFs cannot share an agg with built-in aggregates, so the
    # count is a pandas reduction too
    return (
        ev.withColumn("_c", to_cents("value"))
        .groupBy("event_type")
        .agg(
            int_count("_c").alias("n"),
            int_sum("_c").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


X_PANDAS_UDAF_SQL = """
SELECT event_type, COUNT(*)::BIGINT AS n,
       SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS sum_cents
FROM events GROUP BY event_type ORDER BY event_type
"""



def q96_bag_setops(spark, sf_dir):
    """INTERSECT ALL / EXCEPT ALL — bag semantics (Q13 covers the
    set-semantics trio): duplicates survive by multiplicity, the form
    reconciliation jobs need when row counts ARE the signal. Two
    derived multisets of (status, priority) rows from split halves of
    orders; output tags each surviving row with its source op."""
    t = load_tables(spark, sf_dir, ["orders"])["orders"]
    a = t.where(F.col("o_orderkey") % 3 != 0).select(
        "o_orderstatus", "o_orderpriority"
    )
    b = t.where(F.col("o_orderkey") % 2 != 0).select(
        "o_orderstatus", "o_orderpriority"
    )
    inter = a.intersectAll(b).withColumn("op", F.lit("intersect_all"))
    diff = a.exceptAll(b).withColumn("op", F.lit("except_all"))
    return (
        inter.unionByName(diff)
        .groupBy("op", "o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .orderBy("op", "o_orderstatus", "o_orderpriority")
    )


Q96_BAG_SETOPS_SQL = """
WITH a AS (SELECT o_orderstatus, o_orderpriority FROM orders
           WHERE o_orderkey % 3 <> 0),
b AS (SELECT o_orderstatus, o_orderpriority FROM orders
      WHERE o_orderkey % 2 <> 0),
i AS (SELECT 'intersect_all' AS op, * FROM (
        SELECT * FROM a INTERSECT ALL SELECT * FROM b)),
d AS (SELECT 'except_all' AS op, * FROM (
        SELECT * FROM a EXCEPT ALL SELECT * FROM b))
SELECT op, o_orderstatus, o_orderpriority, COUNT(*)::BIGINT AS n_rows
FROM (SELECT * FROM i UNION ALL SELECT * FROM d)
GROUP BY op, o_orderstatus, o_orderpriority
ORDER BY op, o_orderstatus, o_orderpriority
"""


def q97_nullsafe_join(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics dimension-key
    reconciliation needs when "unknown" is a real bucket. Keys are
    orders' status with 'P' mapped to NULL on one side and a NULL row
    class on the other; a plain equi-join would silently drop the NULL
    class, which is exactly what the count proves didn't happen."""
    t = load_tables(spark, sf_dir, ["orders"])["orders"]
    a = t.select(
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("k"),
        "o_orderkey",
    )
    dim = (
        t.select(
            F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("k")
        )
        .distinct()
        .withColumn("bucket", F.coalesce(F.col("k"), F.lit("UNKNOWN")))
    )
    return (
        a.join(dim, a["k"].eqNullSafe(dim["k"]))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy("bucket")
    )


Q97_NULLSAFE_SQL = """
WITH a AS (SELECT NULLIF(o_orderstatus, 'P') AS k, o_orderkey FROM orders),
dim AS (SELECT DISTINCT NULLIF(o_orderstatus, 'P') AS k FROM orders),
dim2 AS (SELECT k, COALESCE(k, 'UNKNOWN') AS bucket FROM dim)
SELECT d.bucket, COUNT(*)::BIGINT AS n_orders
FROM a JOIN dim2 d ON a.k IS NOT DISTINCT FROM d.k
GROUP BY d.bucket ORDER BY d.bucket
"""



def x_length_bucket_packing(spark, sf_dir):
    """Power-of-two length-bucket batching economics
    (packing.length_bucket_stats, budget=256): per bucket — doc count,
    real tokens, padding waste, batch count, and utilization in basis
    points. The dynamic-batching planner's view of the corpus; all
    integer arithmetic on whitespace token counts, one hash agg."""
    from samba_spark.operators.packing import length_bucket_stats

    docs = _docs(spark, sf_dir)
    return length_bucket_stats(docs, budget=256).orderBy("bucket_len")


X129_LENGTH_BUCKET_SQL = r"""
WITH t AS (
  SELECT len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> ''))::BIGINT AS nt
  FROM documents),
b AS (
  SELECT CASE WHEN nt <= 16 THEN 16 WHEN nt <= 32 THEN 32
              WHEN nt <= 64 THEN 64 WHEN nt <= 128 THEN 128
              WHEN nt <= 256 THEN 256 WHEN nt <= 512 THEN 512
              WHEN nt <= 1024 THEN 1024 WHEN nt <= 2048 THEN 2048
              WHEN nt <= 4096 THEN 4096 WHEN nt <= 8192 THEN 8192
              WHEN nt <= 16384 THEN 16384 WHEN nt <= 32768 THEN 32768
         END::BIGINT AS bucket_len, nt
  FROM t WHERE nt <= 32768),
per AS (
  SELECT bucket_len, COUNT(*)::BIGINT AS n_docs, SUM(nt)::BIGINT AS total_tokens
  FROM b GROUP BY 1),
s AS (SELECT *, GREATEST(1, 256 // bucket_len) AS cap FROM per),
s2 AS (SELECT *, (n_docs + cap - 1) // cap AS n_batches FROM s)
SELECT bucket_len, n_docs, total_tokens,
       (n_docs * bucket_len - total_tokens)::BIGINT AS pad_tokens,
       n_batches::BIGINT AS n_batches,
       ((10000 * total_tokens) // (n_batches * cap * bucket_len))::BIGINT AS util_bp
FROM s2 ORDER BY bucket_len
"""


def x_temperature_mixture(spark, sf_dir):
    """Temperature-scaled (α=0.5) source mixture
    (mixing.temperature_mixture, budget=100k tokens): per source, its
    isqrt-weighted token allocation and implied epoch count in basis
    points. α pinned to 0.5 because IEEE sqrt is correctly rounded in
    every engine (pow is not), so the weights are engine-exact
    integers."""
    from samba_spark.operators.mixing import temperature_mixture

    docs = _docs(spark, sf_dir)
    return temperature_mixture(docs, token_budget=100_000).orderBy("source")


X130_TEMPERATURE_SQL = r"""
WITH per AS (
  SELECT source,
         SUM(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> x <> '')))::BIGINT AS n_tokens
  FROM documents GROUP BY source),
pos AS (SELECT * FROM per WHERE n_tokens > 0),
w AS (SELECT *, CAST(FLOOR(SQRT(n_tokens)) AS BIGINT) AS w_num FROM pos),
d AS (SELECT SUM(w_num)::BIGINT AS w_den FROM w)
SELECT source, n_tokens, w_num, w_den,
       ((100000 * w_num) // w_den)::BIGINT AS alloc_tokens,
       ((10000 * ((100000 * w_num) // w_den)) // n_tokens)::BIGINT AS epochs_bp
FROM w, d ORDER BY source
"""


def x_chi_square_screen(spark, sf_dir):
    """Categorical-association screen (quality.chi_square_screen): the
    per-cell χ² contribution table of (o_orderpriority ×
    o_orderstatus). Per-cell rows keep the output engine-exact (no
    cross-cell float sum whose order an engine could pick); the top
    contributors ARE the drift signal."""
    from samba_spark.operators.quality import chi_square_screen

    t = load_tables(spark, sf_dir, ["orders"])["orders"]
    return chi_square_screen(t, "o_orderpriority", "o_orderstatus").orderBy(
        "a", "b"
    )


X131_CHI_SQUARE_SQL = """
WITH cells AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*)::BIGINT AS observed
  FROM orders GROUP BY 1, 2),
t AS (
  SELECT *,
         SUM(observed) OVER (PARTITION BY a)::BIGINT AS rt,
         SUM(observed) OVER (PARTITION BY b)::BIGINT AS ct,
         SUM(observed) OVER ()::BIGINT AS n
  FROM cells)
SELECT a, b, observed,
       (((1000 * rt) // n) * ct + (((1000 * rt) % n) * ct) // n)::BIGINT
         AS expected_milli,
       ROUND((CAST(observed * n - rt * ct AS DOUBLE)
              * CAST(observed * n - rt * ct AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)),
             6) AS contrib
FROM t ORDER BY a, b
"""


def x_common_substring_pairs(spark, sf_dir):
    """Cross-document exact-substring overlap (dedup.
    common_substring_pairs — the relational re-expression of
    suffix-array substring dedup with WINNOWING fingerprint selection:
    every 32-char window hashes; each sliding window of 8 hashes
    selects its rightmost minimum (true winnowing), so two docs sharing
    a span select IDENTICAL windows regardless of alignment — a
    fixed-stride sample would only match spans whose alignment
    difference is 0 mod stride. Shared selections on one alignment
    diagonal, grouped into gap<=8 islands, are the maximal shared
    spans). The probed corpus is the documents table plus a derived
    'crawl slice' (each long doc re-appears shifted 20 chars with a new
    suffix), so long misaligned verbatim spans exist by construction on
    top of the fixture's own repeats. min_len=44 catches every true
    span >= 58 by the L - 2*(winnow-1) guarantee (and in practice far
    shorter); max_df=20 drops ubiquitous-vocabulary windows before the
    self-join. Top-100 pairs by longest shared span."""
    from samba_spark.operators.dedup import common_substring_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    derived = docs.where(F.length("text") >= 80).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.expr("substring(text, 21)"),
            F.lit(" crawl slice boilerplate suffix"),
        ).alias("text"),
    )
    corpus = docs.unionByName(derived)
    return (
        common_substring_pairs(
            corpus, window=32, min_len=44, winnow=8, max_df=20
        )
        .orderBy(F.desc("span_len"), "doc_a", "doc_b")
        .limit(100)
    )


X132_COMMON_SUBSTRING_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000, substr(text, 21) || ' crawl slice boilerplate suffix'
  FROM documents WHERE length(text) >= 80),
offs AS (
  SELECT doc_id, unnest(generate_series(0, length(text) - 32)) AS off, text
  FROM corpus WHERE length(text) >= 32),
sh AS (
  SELECT doc_id, off,
         ('0x' || substr(md5(substr(text, off + 1, 32)), 1, 15))::BIGINT AS h
  FROM offs),
ks AS (
  SELECT doc_id, off, h,
         (h // 16777216) * 67108864 + (67108863 - off) AS k
  FROM sh),
selo AS (
  SELECT DISTINCT doc_id,
         67108863 - (MIN(k) OVER (PARTITION BY doc_id ORDER BY off
                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
                     % 67108864) AS off
  FROM ks),
sel AS (
  SELECT s.doc_id, s.off, sh.h
  FROM selo s JOIN sh ON sh.doc_id = s.doc_id AND sh.off = s.off),
keep AS (SELECT h FROM sel GROUP BY h HAVING COUNT(DISTINCT doc_id) <= 20),
kept AS (SELECT sel.* FROM sel JOIN keep USING (h)),
pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.off AS off_a, x.off - y.off AS diag
  FROM kept x JOIN kept y ON x.h = y.h AND x.doc_id < y.doc_id),
isl AS (
  SELECT doc_a, doc_b, diag, off_a,
         SUM(CASE WHEN prev IS NULL OR off_a - prev > 8 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_a, doc_b, diag ORDER BY off_a
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM (
    SELECT *, LAG(off_a) OVER (PARTITION BY doc_a, doc_b, diag
                               ORDER BY off_a) AS prev
    FROM pairs)),
spans AS (
  SELECT doc_a, doc_b, diag, g,
         (MAX(off_a) - MIN(off_a) + 32)::BIGINT AS span_len
  FROM isl GROUP BY 1, 2, 3, 4 HAVING MAX(off_a) - MIN(off_a) + 32 >= 44)
SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
       MAX(span_len)::BIGINT AS span_len, COUNT(*)::BIGINT AS n_spans
FROM spans GROUP BY 1, 2
ORDER BY span_len DESC, doc_a, doc_b LIMIT 100
"""


def x_theil_sen(spark, sf_dir):
    """Per-priority Theil–Sen robust revenue trend
    (sessionize.theil_sen_trend): monthly revenue-cents rollup, then the
    median of all pairwise slopes and the median-residual intercept —
    the outlier-proof complement to x62's OLS slope. The rollup bounds
    the pairwise stage at O(months²) per group (metadata scale); every
    float op (one IEEE division per pair, one add + halving for the
    median) is engine-identical, so round(·,6) is a hash-exact oracle."""
    from samba_spark.operators.sessionize import theil_sen_trend

    t = load_tables(spark, sf_dir, ["orders"])["orders"]
    monthly = t.groupBy(
        "o_orderpriority",
        (
            (F.year("o_orderdate") - F.lit(1992)) * 12
            + F.month("o_orderdate")
            - 1
        ).alias("m"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    return theil_sen_trend(
        monthly, "o_orderpriority", "m", "cents"
    ).orderBy("o_orderpriority")


X133_THEIL_SEN_SQL = """
WITH monthly AS (
  SELECT o_orderpriority AS g,
         ((EXTRACT(year FROM o_orderdate) - 1992) * 12
          + EXTRACT(month FROM o_orderdate) - 1)::BIGINT AS x,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS y
  FROM orders GROUP BY 1, 2),
pairs AS (
  SELECT a.g, CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM monthly a JOIN monthly b ON a.g = b.g AND a.x < b.x),
ranked AS (
  SELECT g, slope,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY slope) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM pairs),
med AS (
  SELECT g, SUM(slope) / COUNT(*) AS slope, MAX(n)::BIGINT AS n_pairs
  FROM ranked
  WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
  GROUP BY g),
resid AS (
  SELECT m.g, m.y - med.slope * m.x AS ic
  FROM monthly m JOIN med ON med.g = m.g),
r2 AS (
  SELECT g, ic,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY ic) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM resid),
med_ic AS (
  SELECT g, SUM(ic) / COUNT(*) AS intercept
  FROM r2 WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
  GROUP BY g)
SELECT med.g AS o_orderpriority, med.n_pairs,
       ROUND(med.slope, 6) AS slope,
       ROUND(med_ic.intercept, 6) AS intercept
FROM med JOIN med_ic ON med.g = med_ic.g
ORDER BY o_orderpriority
"""


def x_int8_ann(spark, sf_dir):
    """SQ8 scalar-quantized similarity top-k (simsearch.int8_quantize_topk):
    per-dimension max-abs int8 codes, INTEGER dot-product ranking — the
    memory-compression leg of the ANN family (4× smaller corpus than
    float32), and the rare approximate method whose output is hash-exact
    across engines (codes and scores are integers; the oracle replays
    the quantizer bit-for-bit). Top-10 per query over the standard
    5-query fixture."""
    embs = _embs(spark, sf_dir)
    return S.int8_quantize_topk(embs, _queries_df(embs), k=10).orderBy(
        "query_id", "rank"
    )


X134_INT8_ANN_SQL = """
WITH t AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
         unnest(embedding) AS x
  FROM embeddings),
sc AS (
  SELECT d, CASE WHEN MAX(ABS(CAST(x AS DOUBLE))) > 0
                 THEN MAX(ABS(CAST(x AS DOUBLE))) ELSE 1.0 END AS m
  FROM t GROUP BY d),
codes AS (
  SELECT vec_id, t.d,
         CAST(ROUND(127.0 * CAST(x AS DOUBLE) / m) AS BIGINT) AS code
  FROM t JOIN sc USING (d)),
q AS (SELECT vec_id AS query_id, d, code AS qc FROM codes WHERE vec_id < 5),
ssq AS (SELECT vec_id, SUM(code * code)::BIGINT AS s2 FROM codes GROUP BY 1),
s AS (
  SELECT query_id, c.vec_id, SUM(qc * c.code)::BIGINT AS qscore
  FROM q JOIN codes c USING (d) GROUP BY 1, 2),
n AS (
  SELECT s.query_id, s.vec_id, s.qscore,
         ROUND(CAST(s.qscore AS DOUBLE)
               / (SQRT(CAST(qs.s2 AS DOUBLE)) * SQRT(CAST(cs.s2 AS DOUBLE))),
               6) AS sim8
  FROM s
  JOIN ssq qs ON qs.vec_id = s.query_id
  JOIN ssq cs ON cs.vec_id = s.vec_id),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim8 DESC, vec_id) AS rank
  FROM n)
SELECT query_id, vec_id, qscore, sim8, rank::BIGINT AS rank
FROM r WHERE rank <= 10 ORDER BY query_id, rank
"""


# x135: the 8-merge vocabulary the fixture ships as constants (trained
# offline in a real deployment — the pinned-quantizer story; these fire
# on the synthetic corpus's scan/table/query vocabulary).
X135_MERGES = [
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le"),
    ("r", "o"),
]


def x_bpe_apply(spark, sf_dir):
    """BPE tokenizer SERVING (textual.bpe_apply_tokens): apply the
    8-merge pinned vocabulary to every lowercase word and count the
    resulting tokens — the online half of the x75 trainer, expressed as
    chained literal string replaces over a wrapped-token encoding
    (adjacent tokens share nothing, so replace() IS the BPE greedy
    pass; fuzz-verified against a reference carry-pass tokenizer).
    Top-40 tokens."""
    from samba_spark.operators.textual import bpe_apply_tokens

    docs = _docs(spark, sf_dir)
    return (
        bpe_apply_tokens(docs, X135_MERGES)
        .orderBy(F.desc("n"), "token")
        .limit(40)
    )


def _x135_sql(merges=X135_MERGES) -> str:
    sep = "chr(31)"
    s = "regexp_replace(w, '(.)', chr(31) || '\\1' || chr(31), 'g')"
    for a, b in merges:
        s = (
            f"replace({s}, {sep} || '{a}' || {sep} || {sep} || '{b}' || {sep}, "
            f"{sep} || '{a}{b}' || {sep})"
        )
    return rf"""
WITH words AS (
  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS w
  FROM documents),
lw AS (SELECT w FROM words WHERE regexp_matches(w, '^[a-z]+$')),
tok AS (
  SELECT unnest(string_split(trim({s}, chr(31)), chr(31) || chr(31))) AS token
  FROM lw)
SELECT token, COUNT(*)::BIGINT AS n
FROM tok GROUP BY 1 ORDER BY n DESC, token LIMIT 40
"""


def x_pq_ann(spark, sf_dir):
    """Product-quantization ADC top-k (simsearch.pq_topk): m=8 subspaces
    × 16 centroids — 4 B/vector codes, 64× smaller than float32 — with
    the deterministic sample quantizer (centroid c of subspace j = the
    j-th subvector of the (c+1)-smallest vec_id; one 16-row driver
    collect, oracle-replayable). Query scoring is asymmetric: the query
    stays exact, scores are ADC COSINE (reconstructed corpus norm),
    every float fold sequential — hash-exact across engines. Top-10
    per query over the standard 5-query fixture."""
    embs = _embs(spark, sf_dir)
    return S.pq_topk(
        embs, _queries_df(embs), k=10, m=8, n_centroids=16
    ).orderBy("query_id", "rank")


X136_PQ_ANN_SQL = """
WITH cbsrc AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
cb AS (
  SELECT u.j, c, emb[u.j*8+1 : u.j*8+8] AS cvec
  FROM cbsrc, UNNEST(range(0, 8)) AS u(j)),
corp AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
diffs AS (
  SELECT v.vec_id, b.j, b.c,
         list_transform(list_zip(v.emb[b.j*8+1 : b.j*8+8], b.cvec),
                        p -> p[1] - p[2]) AS dv
  FROM corp v CROSS JOIN cb b),
dl AS (
  SELECT vec_id, j, list(list_dot_product(dv, dv) ORDER BY c) AS dists
  FROM diffs GROUP BY vec_id, j),
code AS (
  SELECT vec_id, j, list_position(dists, list_min(dists)) - 1 AS code
  FROM dl),
cent AS (
  SELECT e.vec_id, e.j, b.cvec
  FROM code e JOIN cb b ON b.j = e.j AND b.c = e.code),
rs AS (
  SELECT vec_id,
         list_reduce(
           list_prepend(0.0, list(list_dot_product(cvec, cvec) ORDER BY j)),
           (a, b) -> a + b) AS rssq
  FROM cent GROUP BY vec_id),
qn AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe,
         list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                          list_transform(embedding, x -> CAST(x AS DOUBLE)))
           AS q_ssq
  FROM embeddings WHERE vec_id < 5),
terms AS (
  SELECT c.vec_id, q.query_id, c.j,
         list_dot_product(q.qe[c.j*8+1 : c.j*8+8], c.cvec) AS term
  FROM cent c CROSS JOIN qn q),
adc AS (
  SELECT query_id, vec_id,
         list_reduce(list_prepend(0.0, list(term ORDER BY j)),
                     (a, b) -> a + b) AS adc
  FROM terms GROUP BY query_id, vec_id),
scored AS (
  SELECT a.query_id, a.vec_id,
         ROUND(a.adc / (sqrt(q.q_ssq) * sqrt(r.rssq)), 6) AS sim_pq
  FROM adc a JOIN qn q USING (query_id) JOIN rs r USING (vec_id)),
ranked AS (
  SELECT query_id, vec_id, sim_pq,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim_pq DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, sim_pq, rank::BIGINT AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


# Pinned IVF-PQ state for x155 — pure arithmetic formulas (the
# X14_CENTROIDS convention: no RNG, no training; any fixed point set is
# a valid quantizer), distinct from every other pinned set so a mixed-up
# index is detectable: 4 cells over the 64-dim space, 8 subspaces × 8
# codebook centroids of 8 dims each.
X155_CELLS = [
    [(((i * 17 + j * 5 + 2) % 23) - 11) / 11.0 for j in range(64)]
    for i in range(4)
]
X155_BOOKS = [
    [
        [(((j * 29 + c * 13 + d * 7 + 3) % 19) - 9) / 9.0 for d in range(8)]
        for c in range(8)
    ]
    for j in range(8)
]


def x_index_roundtrip_probe(spark, sf_dir):
    """x155: probe from a LOADED frozen index (operators/indexstore.py —
    VERDICT r8 item 5): the composed IVF-PQ state (cell centroids +
    codebooks, the two-table store) is PERSISTED to parquet via
    save_ivf_pq_index, read back via load_ivf_pq_index, and the probe
    runs entirely off the loaded state — the cross-session serving
    loop x137 established for MinHash, completed for the vector stack.
    Because parquet round-trips IEEE doubles losslessly, the loaded
    probe is hash-identical to the oracle replaying the same literals;
    any store/loader corruption (row loss, reordering, precision)
    breaks the hash."""
    from samba_spark.operators import indexstore as IX

    path = _pid_scratch("x155_ivfpq_index")
    IX.save_ivf_pq_index(
        spark, path, X155_CELLS, X155_BOOKS, {"built_for": "x155"}
    )
    cents, books, params = IX.load_ivf_pq_index(spark, path)
    embs = _embs(spark, sf_dir)
    return S.ivf_pq_topk(
        embs,
        _queries_df(embs),
        k=10,
        m=params["m"],
        n_probe=2,
        cell_centroids=cents,
        codebooks=books,
    ).orderBy("query_id", "rank")


def x_vector_shard_merge(spark, sf_dir):
    """x167: shard-parallel IVF-PQ build + MERGE + postings-served
    probe (indexstore.build_ivf_pq_postings / merge_vector_index_shards
    / probe_ivf_pq_store; VERDICT r10 item 6 — the x164 distributed-
    build pattern, ANN instance): two shard stores are saved with the
    SAME pinned quantizer state, each shard encodes ONLY its half of
    the corpus (vec_id parity split) into persisted posting rows, the
    second shard's postings are merged into the first without
    re-encoding a vector, and the probe is served ENTIRELY from the
    merged store's postings — no embedding touched at probe time. The
    oracle replays the one-shot in-query IVF-PQ over the full corpus:
    probe(merge(build(A), build(B))) ≡ probe(build-once)."""
    from samba_spark.operators import indexstore as IX

    embs = _embs(spark, sf_dir)
    dest = _pid_scratch("x167_vec_dest")
    src = _pid_scratch("x167_vec_src")
    # Shard builds are independent (disjoint vec_id halves, disjoint
    # store paths) — overlap save+build per shard from a 2-thread pool
    # (guide §2.6 back-fill; results identical, each writes its own dir)
    def _shard(pth, parity):
        IX.save_ivf_pq_index(
            spark, pth, X155_CELLS, X155_BOOKS, {"built_for": "x167"}
        )
        IX.build_ivf_pq_postings(
            spark, pth, embs.where(F.col("vec_id") % 2 == parity)
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(_shard, dest, 0)
        fb = pool.submit(_shard, src, 1)
        fa.result(), fb.result()
    IX.merge_vector_index_shards(spark, dest, src)
    return IX.probe_ivf_pq_store(
        spark, dest, _queries_df(embs), k=10, n_probe=2
    ).orderBy("query_id", "rank")


def x_sessionize_stream(spark, sf_dir):
    """x168: streaming incremental sessionization
    (streaming/ops.run_sessionize_stream) — the session-store
    maintenance loop as a STREAM (the x159 admission pattern's
    event-analytics instance): the event log is split into three
    time-ordered micro-batch files (one file per trigger, mtimes pin
    the order), each foreachBatch splices only its delta onto the
    persisted BUCKETED store (user_buckets=8 — every trigger's tail
    read prunes to its delta's buckets), and the per-session roll-up
    of the final store is returned. The oracle sessionizes the full
    feed from scratch: stream-of-splices ≡ batch, cutoff-independent,
    in one hash check."""
    import os

    from samba_spark.streaming.ops import run_sessionize_stream

    events = load_tables(spark, sf_dir, ["events"])["events"]
    b = events.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    t1 = b["lo"] + (b["hi"] - b["lo"]) / 3
    t2 = b["lo"] + 2 * (b["hi"] - b["lo"]) / 3
    work = _pid_scratch("x168_session_stream")
    batches_dir = os.path.join(work, "batches")
    os.makedirs(batches_dir, exist_ok=True)
    cols = ["user_id", "event_id", "ts", "event_type"]
    _stage_stream_batches(
        work,
        batches_dir,
        [
            events.where(F.col("ts") < F.lit(t1)).select(*cols),
            events.where(
                (F.col("ts") >= F.lit(t1)) & (F.col("ts") < F.lit(t2))
            ).select(*cols),
            events.where(F.col("ts") >= F.lit(t2)).select(*cols),
        ],
    )
    store = os.path.join(work, "store")
    run_sessionize_stream(
        spark, batches_dir, store, gap_seconds=1800, user_buckets=8
    )
    return (
        spark.read.parquet(store)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s_start"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


def x_vector_store_delete_compact(spark, sf_dir):
    """x169: vector-store tombstone DELETE + crash-safe COMPACT
    (indexstore.delete_from_vector_store / compact_vector_store — the
    x160/x161 MinHash lifecycle completed for the ANN store): postings
    are built once over the full corpus with pinned quantizers, the
    vec_id%7==3 vectors are tombstoned out (O(delete-size) — every
    probe anti-joins them before scoring), the store is compacted
    through the _COMMIT marker swap (tombstones physically removed,
    postings bounded to 4 files, tombstone set cleared), and the probe
    is served from the compacted postings. The oracle replays the
    in-query IVF-PQ over the corpus WITHOUT the deleted vectors:
    probe(compact(delete(S))) ≡ probe(build-on-live)."""
    from samba_spark.operators import indexstore as IX

    embs = _embs(spark, sf_dir)
    path = _pid_scratch("x169_vec_lifecycle")
    IX.save_ivf_pq_index(
        spark, path, X155_CELLS, X155_BOOKS, {"built_for": "x169"}
    )
    IX.build_ivf_pq_postings(spark, path, embs)
    doomed = embs.where(F.col("vec_id") % 7 == 3).select("vec_id")
    IX.delete_from_vector_store(spark, path, doomed)
    IX.compact_vector_store(spark, path, target_files=4)
    return IX.probe_ivf_pq_store(
        spark, path, _queries_df(embs), k=10, n_probe=2
    ).orderBy("query_id", "rank")


def _x155_sql(corpus_pred: "str | None" = None) -> str:
    cells = ", ".join(
        "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(v) for v in c))
        for i, c in enumerate(X155_CELLS)
    )
    books = ", ".join(
        "({}, {}, [{}]::DOUBLE[])".format(
            j, c, ", ".join(repr(v) for v in vec)
        )
        for j, book in enumerate(X155_BOOKS)
        for c, vec in enumerate(book)
    )
    corpus_where = f" WHERE {corpus_pred}" if corpus_pred else ""
    return f"""
WITH cells(c, cv) AS (VALUES {cells}),
cb(j, c, cvec) AS (VALUES {books}),
corp AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings{corpus_where}),
celldiff AS (
  SELECT v.vec_id, ce.c,
         list_transform(list_zip(v.emb, ce.cv), p -> p[1] - p[2]) AS dv
  FROM corp v CROSS JOIN cells ce),
cdl AS (
  SELECT vec_id, list(list_dot_product(dv, dv) ORDER BY c) AS dists
  FROM celldiff GROUP BY vec_id),
vcell AS (
  SELECT vec_id, list_position(dists, list_min(dists)) - 1 AS cell
  FROM cdl),
diffs AS (
  SELECT v.vec_id, b.j, b.c,
         list_transform(list_zip(v.emb[b.j*8+1 : b.j*8+8], b.cvec),
                        p -> p[1] - p[2]) AS dv
  FROM corp v CROSS JOIN cb b),
dl AS (
  SELECT vec_id, j, list(list_dot_product(dv, dv) ORDER BY c) AS dists
  FROM diffs GROUP BY vec_id, j),
code AS (
  SELECT vec_id, j, list_position(dists, list_min(dists)) - 1 AS code
  FROM dl),
cent AS (
  SELECT e.vec_id, e.j, b.cvec
  FROM code e JOIN cb b ON b.j = e.j AND b.c = e.code),
rs AS (
  SELECT vec_id,
         list_reduce(
           list_prepend(0.0, list(list_dot_product(cvec, cvec) ORDER BY j)),
           (a, b) -> a + b) AS rssq
  FROM cent GROUP BY vec_id),
qn AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe,
         list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                          list_transform(embedding, x -> CAST(x AS DOUBLE)))
           AS q_ssq
  FROM embeddings WHERE vec_id < 5),
qcelldiff AS (
  SELECT q.query_id, ce.c,
         list_transform(list_zip(q.qe, ce.cv), p -> p[1] - p[2]) AS dv
  FROM qn q CROSS JOIN cells ce),
probe AS (
  SELECT query_id, c AS cell
  FROM (SELECT query_id, c, list_dot_product(dv, dv) AS d FROM qcelldiff)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, c) <= 2),
cand AS (
  SELECT p.query_id, v.vec_id
  FROM vcell v JOIN probe p ON p.cell = v.cell),
terms AS (
  SELECT cd.query_id, ct.vec_id, ct.j,
         list_dot_product(q.qe[ct.j*8+1 : ct.j*8+8], ct.cvec) AS term
  FROM cand cd
  JOIN cent ct ON ct.vec_id = cd.vec_id
  JOIN qn q ON q.query_id = cd.query_id),
adc AS (
  SELECT query_id, vec_id,
         list_reduce(list_prepend(0.0, list(term ORDER BY j)),
                     (a, b) -> a + b) AS adc
  FROM terms GROUP BY query_id, vec_id),
scored AS (
  SELECT a.query_id, a.vec_id,
         ROUND(a.adc / (sqrt(q.q_ssq) * sqrt(r.rssq)), 6) AS sim_pq
  FROM adc a JOIN qn q USING (query_id) JOIN rs r USING (vec_id)),
ranked AS (
  SELECT query_id, vec_id, sim_pq,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim_pq DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, sim_pq, rank::BIGINT AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


def x_minhash_probe(spark, sf_dir):
    """Frozen-index MinHash probe (dedup.minhash_probe_frozen): the
    whole documents table is the FROZEN corpus (persisted band table +
    signatures); the probe batch is exact copies (doc_id%7==0, +1M ids)
    and suffix-mutated copies (doc_id%7==3, +2M ids). Per probe doc:
    best corpus match by signature agreement (n_agree of 64 positions,
    est_jaccard = n_agree/64), candidates from the frozen (band,
    band_hash) join, min_agree=8. Read-only serving: the corpus is
    never re-signatured — the admission-control question 'is this
    incoming doc already in the corpus?'."""
    from samba_spark.operators.dedup import (
        band_keys_from_signatures,
        minhash_probe_frozen,
        minhash_signatures,
    )

    docs = _docs(spark, sf_dir)
    # ONE signature pass feeds both index tables: localCheckpoint
    # materializes the signatures so banding and verification reuse
    # them (lsh_band_index + minhash_signatures separately would
    # shingle+signature the corpus twice; the persisted-index serving
    # path reads both tables from parquet — this is its in-query
    # analogue, per-run, no cross-run cache)
    frozen_sigs = minhash_signatures(docs).localCheckpoint()
    frozen_bands = band_keys_from_signatures(frozen_sigs)
    return minhash_probe_frozen(
        frozen_bands,
        frozen_sigs,
        _mh_probe_batch(docs, 7, 0, 3),
        min_agree=8,
    ).orderBy("doc_id")


def _mh_probe_batch(docs, mod: int, exact_rem: int, fuzzy_rem: int):
    """The shared probe batch of the x137/x158/x160/x161 family:
    exact copies of doc_id%mod==exact_rem (+1M ids) and suffix-mutated
    copies of doc_id%mod==fuzzy_rem (+2M ids) — the Spark twin of
    _minhash_probe_sql's selectors."""
    d_exact = docs.where(F.col("doc_id") % mod == exact_rem).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    d_fuzzy = docs.where(F.col("doc_id") % mod == fuzzy_rem).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" probe suffix tokens appended")).alias(
            "text"
        ),
    )
    return d_exact.unionByName(d_fuzzy)


def _minhash_probe_sql(
    mod: int, exact_rem: int, fuzzy_rem: int, corpus_pred: str = "TRUE"
) -> str:
    """The x137 frozen-probe oracle, parameterized by the probe-batch
    selectors so x158 (append-then-probe) can replay the identical
    pipeline over its own probe set: exact copies are doc_id%mod==
    exact_rem (+1M ids), suffix-mutated copies doc_id%mod==fuzzy_rem
    (+2M ids). The corpus is ALL documents in both queries — x137
    signatures it in-query, x158 reaches the same union via persisted
    save(A)+append(B), which is exactly what the shared oracle proves
    equivalent. ``corpus_pred`` restricts the INDEX side (band keys,
    hence candidates and bucket-cap counts) to the LIVE corpus — the
    x160/x161 lifecycle queries replay tombstone deletion this way:
    probe-after-delete (and after compact) must be indistinguishable
    from a one-shot build on the surviving documents."""
    return rf"""
WITH alldocs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % {mod} = {exact_rem}
  UNION ALL
  SELECT doc_id + 2000000, text || ' probe suffix tokens appended'
  FROM documents WHERE doc_id % {mod} = {fuzzy_rem}),
toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM alldocs),
sh AS (
  SELECT doc_id, array_to_string(toks[i+1 : i+3], ' ') AS shingle
  FROM toked, UNNEST(range(0, greatest(len(toks)-3, 0) + 1)) AS u(i)),
base AS (
  SELECT doc_id, shingle,
         ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h0
  FROM sh),
hj AS (
  SELECT doc_id, j,
         MIN((({_A})[j+1] * h0 + ({_B})[j+1]) % {D.MINHASH_P}) AS hj
  FROM base, UNNEST(range(0, 64)) AS r(j)
  GROUP BY doc_id, j),
sig AS (
  SELECT doc_id, list(hj ORDER BY j) AS sig FROM hj GROUP BY doc_id),
bandkeys AS (
  SELECT doc_id, b,
         md5(array_to_string(
               list_transform(sig[b*4+1 : b*4+4], x -> x::VARCHAR),
               ',')) AS band_hash
  FROM sig, UNNEST(range(0, 16)) AS rb(b)),
bounded AS (
  SELECT doc_id, b, band_hash FROM bandkeys
  WHERE doc_id < 1000000 AND ({corpus_pred})
  QUALIFY COUNT(*) OVER (PARTITION BY b, band_hash) <= 1000),
dband AS (
  SELECT doc_id, b, band_hash FROM bandkeys WHERE doc_id >= 1000000),
cand AS (
  SELECT DISTINCT d.doc_id, i.doc_id AS match_id
  FROM dband d JOIN bounded i
    ON d.b = i.b AND d.band_hash = i.band_hash),
agree AS (
  SELECT c.doc_id, c.match_id,
         len(list_filter(list_zip(ds.sig, ms.sig),
                         p -> p[1] = p[2]))::BIGINT AS n_agree
  FROM cand c
  JOIN sig ds ON ds.doc_id = c.doc_id
  JOIN sig ms ON ms.doc_id = c.match_id),
best AS (
  SELECT doc_id, match_id, n_agree
  FROM agree WHERE n_agree >= 8
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY n_agree DESC, match_id) = 1)
SELECT doc_id, match_id, n_agree,
       CAST(n_agree AS DOUBLE) / CAST(64.0 AS DOUBLE) AS est_jaccard
FROM best ORDER BY doc_id
"""


X137_MINHASH_PROBE_SQL = _minhash_probe_sql(7, 0, 3)


def x_minhash_index_append(spark, sf_dir):
    """x158: incremental index maintenance — the serving loop's third
    verb (dedup.append_minhash_index): the frozen index is SAVED on the
    src!=src0 corpus, the src0 delta is APPENDED (signatured with the
    persisted layout params, parquet-append of sigs+bands — no
    rebuild), and the probe batch (exact copies doc_id%5==0, mutated
    copies doc_id%5==2) runs against the union index FROM DISK. The
    oracle replays the union corpus in one pass — append-then-probe
    must be indistinguishable from build-once-then-probe."""
    from samba_spark.operators.dedup import (
        append_minhash_index,
        probe_minhash_index,
        save_minhash_index,
    )

    docs = _docs(spark, sf_dir)
    path = _pid_scratch("x158_mh_index")
    save_minhash_index(docs.where(F.col("source") != "src0"), path)
    append_minhash_index(docs.where(F.col("source") == "src0"), path)
    return probe_minhash_index(
        spark, path, _mh_probe_batch(docs, 5, 0, 2), min_agree=8
    ).orderBy("doc_id")


def x_index_delete(spark, sf_dir):
    """x160: index lifecycle verb 4 — takedown / right-to-be-forgotten
    (dedup.delete_from_minhash_index): the frozen index is SAVED on the
    full corpus, every doc_id%7==1 document is tombstone-DELETED
    (O(delete-size) parquet append, no rewrite), and the probe batch
    (exact copies doc_id%4==1, mutated copies doc_id%4==3) runs against
    the live view FROM DISK — tombstones anti-joined out of bands
    before the bucket cap and out of sigs before verification. The
    oracle replays a one-shot build on the SURVIVING documents:
    probe-after-delete must be indistinguishable, and in particular a
    deleted doc can never return as match_id."""
    from samba_spark.operators.dedup import (
        delete_from_minhash_index,
        probe_minhash_index,
        save_minhash_index,
    )

    docs = _docs(spark, sf_dir)
    path = _pid_scratch("x160_mh_index")
    save_minhash_index(docs, path)
    delete_from_minhash_index(
        spark, path, docs.where(F.col("doc_id") % 7 == 1).select("doc_id")
    )
    return probe_minhash_index(
        spark, path, _mh_probe_batch(docs, 4, 1, 3), min_agree=8
    ).orderBy("doc_id")


def x_index_compact(spark, sf_dir):
    """x161: index lifecycle verb 5 — compaction
    (dedup.compact_minhash_index): the full serving-loop composition.
    The index is SAVED on the src!=src0 corpus, the src0 delta is
    APPENDED (accumulating small files), doc_id%9==2 is tombstone-
    DELETED, then COMPACTED — live rows rewritten into a bounded file
    count, tombstones physically applied and cleared — and the probe
    batch (exact copies doc_id%6==1, mutated copies doc_id%6==4) runs
    against the compacted index FROM DISK. The oracle replays a
    one-shot build on the surviving documents: probe(compact(delete(
    append(save)))) ≡ probe(build-once-on-live) is the whole lifecycle
    equivalence in one hash check."""
    from samba_spark.operators.dedup import (
        append_minhash_index,
        compact_minhash_index,
        delete_from_minhash_index,
        probe_minhash_index,
        save_minhash_index,
    )

    docs = _docs(spark, sf_dir)
    path = _pid_scratch("x161_mh_index")
    save_minhash_index(docs.where(F.col("source") != "src0"), path)
    append_minhash_index(docs.where(F.col("source") == "src0"), path)
    delete_from_minhash_index(
        spark, path, docs.where(F.col("doc_id") % 9 == 2).select("doc_id")
    )
    compact_minhash_index(spark, path, target_files=4)
    return probe_minhash_index(
        spark, path, _mh_probe_batch(docs, 6, 1, 4), min_agree=8
    ).orderBy("doc_id")


def x_truncated_rerank(spark, sf_dir):
    """Two-stage Matryoshka-style retrieval (simsearch.
    truncated_rerank_topk): stage 1 shortlists 50 per query by cosine
    over the FIRST 16 of 64 dimensions (4× less vector I/O with a
    prefix column at scale), stage 2 re-ranks the shortlist with the
    exact full-dimension cosine — computed only AFTER the shortlist
    filter. Both stages hash-exact; output carries both scores."""
    embs = _embs(spark, sf_dir)
    return S.truncated_rerank_topk(
        embs, _queries_df(embs), k=10, prefilter_dim=16, shortlist=50
    ).orderBy("query_id", "rank")


X139_TRUNCATED_RERANK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id < 5),
c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
s1 AS (
  SELECT q.query_id, c.vec_id, q.qe, c.emb,
         ROUND(list_dot_product(q.qe[1:16], c.emb[1:16]) /
               (sqrt(list_dot_product(q.qe[1:16], q.qe[1:16])) *
                sqrt(list_dot_product(c.emb[1:16], c.emb[1:16]))),
               6) AS sim_pre
  FROM c CROSS JOIN q),
short AS (
  SELECT * FROM s1
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY sim_pre DESC, vec_id) <= 50),
s2 AS (
  SELECT query_id, vec_id, sim_pre,
         ROUND(list_dot_product(qe, emb) /
               (sqrt(list_dot_product(qe, qe)) *
                sqrt(list_dot_product(emb, emb))), 6) AS sim
  FROM short),
ranked AS (
  SELECT query_id, vec_id, sim_pre, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rank
  FROM s2)
SELECT query_id, vec_id, sim_pre, sim, rank::BIGINT AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


def x_retrieval_metrics(spark, sf_dir):
    """ANN eval harness (simsearch.retrieval_metrics): per-query
    recall@10 and reciprocal rank of the two-stage truncated-prefix
    retriever (prefilter_dim=8, shortlist=20 — deliberately lossy)
    against exact-cosine ground truth. Integer hits, one division per
    metric; no macro-average row (a cross-group float sum has no
    deterministic order — average the integer columns downstream)."""
    embs = _embs(spark, sf_dir)
    qs = _queries_df(embs)
    truth = S.cosine_topk(embs, qs, k=10)
    results = S.truncated_rerank_topk(
        embs, qs, k=10, prefilter_dim=8, shortlist=20
    )
    return S.retrieval_metrics(results, truth, k=10).orderBy("query_id")


X140_RETRIEVAL_METRICS_SQL = """
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id < 5),
c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
s1 AS (
  SELECT q.query_id, c.vec_id,
         ROUND(list_dot_product(q.qe[1:8], c.emb[1:8]) /
               (sqrt(list_dot_product(q.qe[1:8], q.qe[1:8])) *
                sqrt(list_dot_product(c.emb[1:8], c.emb[1:8]))),
               6) AS sim_pre,
         ROUND(list_dot_product(q.qe, c.emb) /
               (sqrt(list_dot_product(q.qe, q.qe)) *
                sqrt(list_dot_product(c.emb, c.emb))), 6) AS sim
  FROM c CROSS JOIN q),
truth AS (
  SELECT query_id, vec_id FROM s1
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY sim DESC, vec_id) <= 10),
short AS (
  SELECT query_id, vec_id, sim FROM s1
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY sim_pre DESC, vec_id) <= 20),
res AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rank
  FROM short
  QUALIFY rank <= 10),
rel AS (SELECT query_id, COUNT(*) AS n_relevant FROM truth GROUP BY 1),
got AS (SELECT query_id, COUNT(*) AS n_retrieved FROM res GROUP BY 1),
hits AS (
  SELECT r.query_id, COUNT(*) AS n_hits, MIN(r.rank) AS first_hit_rank
  FROM res r JOIN truth t
    ON t.query_id = r.query_id AND t.vec_id = r.vec_id
  GROUP BY 1)
SELECT rel.query_id,
       rel.n_relevant::BIGINT AS n_relevant,
       COALESCE(got.n_retrieved, 0)::BIGINT AS n_retrieved,
       COALESCE(hits.n_hits, 0)::BIGINT AS n_hits,
       CAST(COALESCE(hits.n_hits, 0) AS DOUBLE)
         / CAST(rel.n_relevant AS DOUBLE) AS recall_at_k,
       hits.first_hit_rank::BIGINT AS first_hit_rank,
       CASE WHEN hits.first_hit_rank IS NOT NULL
            THEN CAST(1.0 AS DOUBLE) / CAST(hits.first_hit_rank AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END AS reciprocal_rank
FROM rel
LEFT JOIN got USING (query_id)
LEFT JOIN hits USING (query_id)
ORDER BY query_id
"""


def x_ivf_pq_ann(spark, sf_dir):
    """Composed IVF-PQ serving stack (simsearch.ivf_pq_topk,
    non-residual): 4 deterministic-sample cells gate the corpus, each
    query probes its 2 nearest cells, survivors are scored with the
    x136 PQ ADC cosine — candidate pruning × 64× code compression, the
    FAISS-IVFPQ shape with every float fold engine-exact."""
    embs = _embs(spark, sf_dir)
    return S.ivf_pq_topk(
        embs, _queries_df(embs), k=10, m=8
    ).orderBy("query_id", "rank")


X141_IVF_PQ_SQL = """
WITH cells AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 4)),
corp AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
celldiff AS (
  SELECT v.vec_id, ce.c,
         list_transform(list_zip(v.emb, ce.cv), p -> p[1] - p[2]) AS dv
  FROM corp v CROSS JOIN cells ce),
cdl AS (
  SELECT vec_id, list(list_dot_product(dv, dv) ORDER BY c) AS dists
  FROM celldiff GROUP BY vec_id),
vcell AS (
  SELECT vec_id, list_position(dists, list_min(dists)) - 1 AS cell
  FROM cdl),
cbsrc AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
cb AS (
  SELECT u.j, c, emb[u.j*8+1 : u.j*8+8] AS cvec
  FROM cbsrc, UNNEST(range(0, 8)) AS u(j)),
diffs AS (
  SELECT v.vec_id, b.j, b.c,
         list_transform(list_zip(v.emb[b.j*8+1 : b.j*8+8], b.cvec),
                        p -> p[1] - p[2]) AS dv
  FROM corp v CROSS JOIN cb b),
dl AS (
  SELECT vec_id, j, list(list_dot_product(dv, dv) ORDER BY c) AS dists
  FROM diffs GROUP BY vec_id, j),
code AS (
  SELECT vec_id, j, list_position(dists, list_min(dists)) - 1 AS code
  FROM dl),
cent AS (
  SELECT e.vec_id, e.j, b.cvec
  FROM code e JOIN cb b ON b.j = e.j AND b.c = e.code),
rs AS (
  SELECT vec_id,
         list_reduce(
           list_prepend(0.0, list(list_dot_product(cvec, cvec) ORDER BY j)),
           (a, b) -> a + b) AS rssq
  FROM cent GROUP BY vec_id),
qn AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe,
         list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                          list_transform(embedding, x -> CAST(x AS DOUBLE)))
           AS q_ssq
  FROM embeddings WHERE vec_id < 5),
qcelldiff AS (
  SELECT q.query_id, ce.c,
         list_transform(list_zip(q.qe, ce.cv), p -> p[1] - p[2]) AS dv
  FROM qn q CROSS JOIN cells ce),
probe AS (
  SELECT query_id, c AS cell
  FROM (SELECT query_id, c, list_dot_product(dv, dv) AS d FROM qcelldiff)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, c) <= 2),
cand AS (
  SELECT p.query_id, v.vec_id
  FROM vcell v JOIN probe p ON p.cell = v.cell),
terms AS (
  SELECT cd.query_id, ct.vec_id, ct.j,
         list_dot_product(q.qe[ct.j*8+1 : ct.j*8+8], ct.cvec) AS term
  FROM cand cd
  JOIN cent ct ON ct.vec_id = cd.vec_id
  JOIN qn q ON q.query_id = cd.query_id),
adc AS (
  SELECT query_id, vec_id,
         list_reduce(list_prepend(0.0, list(term ORDER BY j)),
                     (a, b) -> a + b) AS adc
  FROM terms GROUP BY query_id, vec_id),
scored AS (
  SELECT a.query_id, a.vec_id,
         ROUND(a.adc / (sqrt(q.q_ssq) * sqrt(r.rssq)), 6) AS sim_pq
  FROM adc a JOIN qn q USING (query_id) JOIN rs r USING (vec_id)),
ranked AS (
  SELECT query_id, vec_id, sim_pq,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim_pq DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, sim_pq, rank::BIGINT AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


# x138: the pinned quality-model weights (trained offline in a real
# deployment; the pinned-model split — these fire on the synthetic
# corpus's feature spread).
X138_WEIGHTS = {
    "length_norm": 1.5,
    "punct_ratio": -4.0,
    "stopword_ratio": 2.0,
    "digit_ratio": -1.0,
    "caps_ratio": -0.5,
}
X138_BIAS = -0.25
X138_THRESHOLD = 0.9


def x_quality_model(spark, sf_dir):
    """Pinned linear quality-model serving (textual.quality_model_score):
    logit = bias + Σ w·feature over the fixed 5-feature catalog (length
    norm, punct/stopword/digit/caps ratios — each one exact-integer
    counts and one IEEE division), keep = logit >= threshold. The
    fasttext-style quality-filter step with offline-trained weights
    shipped as constants; raw logit (no sigmoid — libm exp() is not
    correctly rounded across engines, the logit is the same
    classifier)."""
    from samba_spark.operators.textual import quality_model_score

    return quality_model_score(
        _docs(spark, sf_dir),
        X138_WEIGHTS,
        bias=X138_BIAS,
        threshold=X138_THRESHOLD,
    ).orderBy("doc_id")


X138_QUALITY_MODEL_SQL = rf"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
f AS (
  SELECT doc_id,
         len(toks)::BIGINT AS w,
         greatest(length(text), 1)::BIGINT AS c,
         greatest(len(toks), 1)::BIGINT AS tt,
         length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))::BIGINT AS p,
         len(list_filter(toks, x -> list_contains({_STOP}, x)))::BIGINT AS s,
         length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS d,
         length(regexp_replace(text, '[^A-Z]', '', 'g'))::BIGINT AS u
  FROM t),
scored AS (
  SELECT doc_id,
         CAST(-0.25 AS DOUBLE)
           + CAST(1.5 AS DOUBLE) * (least(w, 100) / CAST(100.0 AS DOUBLE))
           + CAST(-4.0 AS DOUBLE) * (p / c)
           + CAST(2.0 AS DOUBLE) * (s / tt)
           + CAST(-1.0 AS DOUBLE) * (d / c)
           + CAST(-0.5 AS DOUBLE) * (u / c) AS score
  FROM f)
SELECT doc_id, score, score >= CAST(0.9 AS DOUBLE) AS keep
FROM scored ORDER BY doc_id
"""


def x_quantile_normalize(spark, sf_dir):
    """Cross-source quantile normalization of the n_chars quality score
    (quality.quantile_normalize): each document's score is replaced by
    the GLOBAL score at the same within-source quantile (exact
    nearest-rank, all integer arithmetic), so one global threshold
    means the same thing for every source. The global order comes from
    zip_with_index's two-pass offsets — no single-partition window
    anywhere."""
    from samba_spark.operators.quality import quantile_normalize

    return quantile_normalize(_docs(spark, sf_dir), F.col("n_chars"))


X153_QUANTILE_NORMALIZE_SQL = """
WITH base AS (
  SELECT doc_id, source, n_chars::BIGINT AS s FROM documents),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY s, doc_id) AS r
  FROM base),
sizes AS (SELECT source, COUNT(*) AS n FROM base GROUP BY source),
tot AS (SELECT COUNT(*) AS nt FROM base),
g AS (
  SELECT s AS gs, ROW_NUMBER() OVER (ORDER BY s, doc_id) - 1 AS gidx
  FROM base),
t AS (
  SELECT r.doc_id, r.source, r.s, r.r,
         ((r.r * tot.nt + z.n - 1) // z.n) - 1 AS tidx
  FROM ranked r JOIN sizes z USING (source), tot)
SELECT t.doc_id, t.source, t.s AS raw_score, t.r AS src_rank,
       g.gs AS calibrated_score
FROM t JOIN g ON g.gidx = t.tidx
ORDER BY t.doc_id
"""


def x_reshard_plan(spark, sf_dir):
    """Consistent-hash vs mod-hash reshard movement matrix
    (sharding.reshard_plan): growing the orders layout 4 → 6 shards,
    exact per-(strategy, old, new) key counts. The md5-derived vnode
    ring moves ~1/3 of keys (the consistent-hashing guarantee); mod
    moves ~2/3 — the data-movement answer a 100 TB repartition decision
    needs in counts, not folklore. Ring positions are disambiguated to
    strict uniqueness ((md5<<10) | vnode index) so the first-position-≥
    lookup is total in both engines."""
    from samba_spark.operators.sharding import reshard_plan

    t = load_tables(spark, sf_dir, ["orders"])["orders"]
    return reshard_plan(t, "o_orderkey", old_shards=4, new_shards=6)


def _x152_sql(old: int = 4, new: int = 6, vnodes: int = 16) -> str:
    def ring(name: str, shards: int) -> str:
        return (
            f"{name} AS (SELECT ((('0x' || substr(md5('shard_' || s.s || "
            f"'_vnode_' || v.v), 1, 8))::BIGINT << 10) "
            f"| (s.s * {vnodes} + v.v)) AS pos, s.s AS shard "
            f"FROM UNNEST(range(0, {shards})) s(s), "
            f"UNNEST(range(0, {vnodes})) v(v))"
        )

    def assign(name: str, ring_name: str) -> str:
        return (
            f"{name}_sel AS (SELECT k.o_orderkey, k.h32, "
            f"COALESCE(MIN(CASE WHEN r.pos >= k.kp THEN r.pos END), "
            f"MIN(r.pos)) AS cp "
            f"FROM keys k CROSS JOIN {ring_name} r "
            f"GROUP BY k.o_orderkey, k.h32), "
            f"{name} AS (SELECT s.o_orderkey, s.h32, r.shard "
            f"FROM {name}_sel s JOIN {ring_name} r ON r.pos = s.cp)"
        )

    return f"""
WITH {ring('r_old', old)},
{ring('r_new', new)},
keys AS (
  SELECT o_orderkey,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
           AS h32,
         (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
           << 10) AS kp
  FROM orders),
{assign('a_old', 'r_old')},
{assign('a_new', 'r_new')},
ring_m AS (
  SELECT 'ring' AS strategy, o.shard AS old_shard, n.shard AS new_shard,
         COUNT(*) AS n_keys
  FROM a_old o JOIN a_new n USING (o_orderkey)
  GROUP BY o.shard, n.shard),
mod_m AS (
  SELECT 'mod' AS strategy, h32 % {old} AS old_shard,
         h32 % {new} AS new_shard, COUNT(*) AS n_keys
  FROM keys GROUP BY h32 % {old}, h32 % {new})
SELECT strategy, old_shard, new_shard,
       old_shard <> new_shard AS moved, n_keys
FROM (SELECT * FROM ring_m UNION ALL SELECT * FROM mod_m)
ORDER BY strategy, old_shard, new_shard
"""


def x_mixture_plan(spark, sf_dir):
    """Hamilton largest-remainder apportionment of a 1M-token budget
    over α=0.5 temperature weights (mixing.mixture_plan): x130's floor
    allocation silently loses up to (sources−1) tokens; this
    redistributes the leftover one token each to the largest remainders
    (ties to the smallest source), so Σ target_tokens == budget exactly
    — plus the integer epoch ceiling and oversampling rate a training
    config consumes. All apportionment arithmetic exact integers."""
    from samba_spark.operators.mixing import mixture_plan

    return mixture_plan(_docs(spark, sf_dir), token_budget=1_000_000)


X151_MIXTURE_PLAN_SQL = r"""
WITH per AS (
  SELECT source,
         SUM(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> x <> '')))::BIGINT AS n_tokens
  FROM documents GROUP BY source),
pos AS (SELECT * FROM per WHERE n_tokens > 0),
w AS (SELECT *, CAST(FLOOR(SQRT(n_tokens)) AS BIGINT) AS w_num FROM pos),
d AS (SELECT SUM(w_num)::BIGINT AS w_den FROM w),
j AS (
  SELECT w.*, ((1000000 * w_num) // w_den)::BIGINT AS base,
         ((1000000 * w_num) % w_den)::BIGINT AS rem
  FROM w, d),
t AS (SELECT SUM(base)::BIGINT AS tot_base FROM j),
r AS (
  SELECT j.*, t.tot_base,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
  FROM j, t),
f AS (
  SELECT source, n_tokens, w_num,
         (base + CASE WHEN rk <= 1000000 - tot_base THEN 1 ELSE 0 END)::BIGINT
           AS target_tokens
  FROM r)
SELECT source, n_tokens, w_num, target_tokens,
       ((target_tokens + n_tokens - 1) // n_tokens)::BIGINT AS epochs,
       ROUND(CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         AS rate
FROM f ORDER BY source
"""


def x_clustering_metrics(spark, sf_dir):
    """Purity + Adjusted Rand Index of the x142 k-means assignment
    against the gold label column (clustering.clustering_metrics): the
    clustering sibling of x140's retrieval metrics. All pair counting
    is exact integer arithmetic on the contingency table; the two final
    divisions are the only floats, identical in both engines. The
    oracle re-derives the assignment from the shared x142 CTE chain and
    scores it in SQL. The benched query scores a PINNED assignment
    (kmeans_assign against the _KMEANS_MODELS registry centroids, the
    VERDICT r8 what's-wrong #3 fix) instead of re-running Lloyd
    training in-query — identical output by Lloyd determinism, and the
    metric cost no longer double-counts training the x142 entry (or a
    production offline job) already paid."""
    from samba_spark.operators.clustering import (
        clustering_metrics,
        kmeans_assign,
    )

    embs = _embs(spark, sf_dir)
    assign = kmeans_assign(embs, _kmeans_centroids(spark, sf_dir)).select(
        "vec_id", "cluster"
    )
    return clustering_metrics(assign, embs.select("vec_id", "label"))


# NOTE: the SQL for this query is defined AFTER _X142_CORE below (it
# concatenates the shared Lloyd CTE chain) — see X150_CLUSTERING_METRICS_SQL.
_X150_METRICS_TAIL = """,
lab AS (
  SELECT af.cluster AS c, e.label AS l, COUNT(*) AS n
  FROM af JOIN embeddings e USING (vec_id)
  GROUP BY af.cluster, e.label),
tots AS (
  SELECT SUM(n) AS n_rows,
         SUM(n * (n - 1) // 2) AS idx,
         COUNT(DISTINCT c) AS n_clusters,
         COUNT(DISTINCT l) AS n_labels
  FROM lab),
pur AS (
  SELECT SUM(mx) AS purity_num
  FROM (SELECT c, MAX(n) AS mx FROM lab GROUP BY c)),
ra AS (
  SELECT SUM(a * (a - 1) // 2) AS sa
  FROM (SELECT c, SUM(n) AS a FROM lab GROUP BY c)),
rb AS (
  SELECT SUM(b * (b - 1) // 2) AS sb
  FROM (SELECT l, SUM(n) AS b FROM lab GROUP BY l))
SELECT CAST(t.n_rows AS BIGINT) AS n_rows,
       CAST(t.n_clusters AS BIGINT) AS n_clusters,
       CAST(t.n_labels AS BIGINT) AS n_labels,
       CAST(p.purity_num AS BIGINT) AS purity_num,
       ROUND(CAST(p.purity_num AS DOUBLE) / CAST(t.n_rows AS DOUBLE), 6)
         AS purity,
       ROUND(CASE WHEN t.n_rows < 2 THEN CAST(1 AS DOUBLE)
                  WHEN (CAST(a.sa AS DOUBLE) + CAST(b.sb AS DOUBLE))
                       / CAST(2 AS DOUBLE)
                     - CAST(a.sa AS DOUBLE) * CAST(b.sb AS DOUBLE)
                       / CAST(t.n_rows * (t.n_rows - 1) // 2 AS DOUBLE)
                     <> CAST(0 AS DOUBLE)
                  THEN (CAST(t.idx AS DOUBLE)
                        - CAST(a.sa AS DOUBLE) * CAST(b.sb AS DOUBLE)
                          / CAST(t.n_rows * (t.n_rows - 1) // 2 AS DOUBLE))
                       / ((CAST(a.sa AS DOUBLE) + CAST(b.sb AS DOUBLE))
                          / CAST(2 AS DOUBLE)
                          - CAST(a.sa AS DOUBLE) * CAST(b.sb AS DOUBLE)
                            / CAST(t.n_rows * (t.n_rows - 1) // 2 AS DOUBLE))
                  ELSE CAST(1 AS DOUBLE) END, 6) AS ari
FROM tots t, pur p, ra a, rb b
"""


def x_decontaminate_spans(spark, sf_dir):
    """Span-level decontamination with reassembly
    (dedup.decontaminate_spans): src0 plays the eval set (the x16
    convention); every disjoint 8-token window of the other sources'
    documents that appears ANYWHERE in src0 (stride-1 benchmark
    windows — alignment-independent) is cut, and the survivors are
    stitched back in order. x16 reports contamination; this removes it
    without throwing away the clean remainder of the document."""
    docs = _docs(spark, sf_dir)
    return D.decontaminate_spans(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        seg_tokens=8,
    )


X149_DECONTAMINATE_SPANS_SQL = r"""
WITH toked AS (
  SELECT doc_id, source,
         list_filter(
           string_split_regex(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
           x -> x <> '') AS toks
  FROM documents),
corp AS (SELECT doc_id, toks FROM toked WHERE source <> 'src0'),
segs AS (
  SELECT doc_id, u.i AS pos,
         array_to_string(toks[u.i*8+1 : u.i*8+8], ' ') AS seg
  FROM corp, UNNEST(range(0, CAST(ceil(len(toks)/8.0) AS BIGINT))) AS u(i)),
bg AS (
  SELECT DISTINCT
         md5(array_to_string(toks[u.i+1 : u.i+8], ' ')) AS h
  FROM toked, UNNEST(range(0, len(toks) - 8 + 1)) AS u(i)
  WHERE source = 'src0' AND len(toks) >= 8),
kept AS (
  SELECT s.doc_id, s.pos, s.seg
  FROM segs s ANTI JOIN bg v ON md5(s.seg) = v.h),
reass AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id),
totals AS (
  SELECT doc_id, COUNT(*) AS n_segments FROM segs GROUP BY doc_id)
SELECT c.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       COALESCE(t.n_segments, 0) AS n_segments,
       COALESCE(t.n_segments, 0) - COALESCE(r.n_kept, 0) AS n_dropped
FROM corp c
LEFT JOIN totals t USING (doc_id)
LEFT JOIN reass r USING (doc_id)
ORDER BY c.doc_id
"""


def x_ngram_novelty(spark, sf_dir):
    """Marginal n-gram novelty per source (textual.ngram_novelty): under
    the declared lexicographic admission order, how many distinct
    3-grams does each source introduce that no earlier source covers —
    the data-valuation signal for x130-style mixture design (a large but
    low-novelty source is a downweight candidate). x31/x34 measure
    pairwise/two-corpus overlap; nothing attributed first coverage
    under an ordering."""
    return X.ngram_novelty(_docs(spark, sf_dir), n=3)


X148_NGRAM_NOVELTY_SQL = r"""
WITH toked AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
sh AS (
  SELECT source, array_to_string(toks[u.i+1 : u.i+3], ' ') AS shingle
  FROM toked, UNNEST(range(0, greatest(len(toks)-3, 0) + 1)) AS u(i)),
occ AS (SELECT source, COUNT(*) AS n_occurrences FROM sh GROUP BY source),
dp AS (SELECT DISTINCT source, shingle FROM sh),
dist AS (SELECT source, COUNT(*) AS n_distinct FROM dp GROUP BY source),
novel AS (
  SELECT source, COUNT(*) AS n_novel
  FROM (SELECT shingle, MIN(source) AS source FROM dp GROUP BY shingle)
  GROUP BY source)
SELECT o.source, o.n_occurrences, d.n_distinct,
       COALESCE(nv.n_novel, 0) AS n_novel,
       ROUND(CAST(COALESCE(nv.n_novel, 0) AS DOUBLE)
             / CAST(d.n_distinct AS DOUBLE), 6) AS novelty_ratio
FROM occ o
JOIN dist d USING (source)
LEFT JOIN novel nv USING (source)
ORDER BY o.source
"""


def x_pca_power(spark, sf_dir):
    """First-principal-component scores via power iteration
    (vectorops.pca_power_scores): the eigen-decomposition step x65's
    covariance matrix stops short of. The data-bearing pass is one
    exact-integer scatter aggregation; the 16×16 iteration runs on the
    driver in arbitrary-precision-then-double arithmetic with explicit
    left-to-right accumulation, and the oracle replays every operation
    in the same order (HUGEINT centered scatter, left-associative
    double chains), so the eigenvector — and the per-row projection —
    is bit-identical."""
    from samba_spark.operators.vectorops import pca_power_scores

    return pca_power_scores(_embs(spark, sf_dir), dims=16, iters=8)


def _x147_sql(dims: int = 16, iters: int = 8, scale: int = 10**6) -> str:
    """Generate the unrolled power-iteration oracle — the same symbolic
    recipe pca_power_iteration executes, term for term."""
    xs = ", ".join(
        f"CAST(ROUND(CAST(embedding[{i + 1}] AS DOUBLE) * {scale}) "
        f"AS BIGINT) AS x_{i}"
        for i in range(dims)
    )
    sums = ", ".join(
        [f"CAST(COUNT(*) AS HUGEINT) AS n"]
        + [f"CAST(SUM(x_{i}) AS HUGEINT) AS s_{i}" for i in range(dims)]
        + [
            f"CAST(SUM(x_{i} * x_{j}) AS HUGEINT) AS p_{i}_{j}"
            for i in range(dims)
            for j in range(i, dims)
        ]
    )
    cells = ", ".join(
        f"CAST(n * p_{min(i, j)}_{max(i, j)} - s_{i} * s_{j} AS DOUBLE) "
        f"AS c_{i}_{j}"
        for i in range(dims)
        for j in range(dims)
    )
    v0 = ", ".join(f"CAST(1 AS DOUBLE) AS v_{i}" for i in range(dims))
    its = []
    for t in range(1, iters + 1):
        prev = "v0" if t == 1 else f"vt{t - 1}"
        us = ", ".join(
            f"({' + '.join(f'm.c_{i}_{j} * p.v_{j}' for j in range(dims))})"
            f" AS u_{i}"
            for i in range(dims)
        )
        ss = " + ".join(f"u_{i} * u_{i}" for i in range(dims))
        vs = ", ".join(f"u_{i} / nt AS v_{i}" for i in range(dims))
        its.append(
            f"vt{t} AS (SELECT {vs} FROM (SELECT *, sqrt({ss}) AS nt "
            f"FROM (SELECT {us} FROM m, {prev} p)))"
        )
    mx = f"GREATEST({', '.join(f'abs(v_{i})' for i in range(dims))})"
    lead = "CASE " + " ".join(
        f"WHEN abs(v_{i}) = mx THEN v_{i}" for i in range(dims)
    ) + " END"
    dot = " + ".join(
        f"CAST(e.embedding[{i + 1}] AS DOUBLE) * f.fv_{i}"
        for i in range(dims)
    )
    fvs = ", ".join(f"flip * v_{i} AS fv_{i}" for i in range(dims))
    return f"""
WITH qr AS (SELECT vec_id, {xs} FROM embeddings),
agg AS (SELECT {sums} FROM qr),
m AS (SELECT {cells} FROM agg),
v0 AS (SELECT {v0}),
{', '.join(its)},
sgn AS (SELECT *, CASE WHEN ({lead}) < CAST(0 AS DOUBLE)
                       THEN CAST(-1 AS DOUBLE) ELSE CAST(1 AS DOUBLE) END
                  AS flip
        FROM (SELECT *, {mx} AS mx FROM vt{iters})),
fv AS (SELECT {fvs} FROM sgn)
SELECT e.vec_id, ROUND(CAST(0 AS DOUBLE) + {dot}, 6) AS pc1_score
FROM embeddings e, fv f
ORDER BY e.vec_id
"""


def x_holt_trend(spark, sf_dir):
    """Integer-exact Holt double exponential smoothing per event type
    (sessionize.holt_linear_trend): EWMA (x98) tracks a level but lags
    sustained drift; Holt carries an explicit trend state and its
    one-step forecast extrapolates. α=β=1/2 halving keeps the whole
    recursion in 64-bit integers (arithmetic shifts, floor semantics in
    both engines), replayed by the oracle as a recursive CTE over the
    day-indexed series."""
    from samba_spark.operators.sessionize import holt_linear_trend

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return holt_linear_trend(events)


X146_HOLT_TREND_SQL = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
idx AS (
  SELECT event_type, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t
  FROM daily),
r AS (
  SELECT event_type, t, y AS l, CAST(0 AS BIGINT) AS tr
  FROM idx WHERE t = 1
  UNION ALL
  SELECT i.event_type, i.t,
         (i.y + r.l + r.tr) >> 1,
         (((i.y + r.l + r.tr) >> 1) - r.l + r.tr) >> 1
  FROM r JOIN idx i ON i.event_type = r.event_type AND i.t = r.t + 1),
fin AS (
  SELECT event_type, l AS level, tr AS trend FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY t DESC) AS rn
    FROM r) WHERE rn = 1),
stats AS (
  SELECT event_type, COUNT(*) AS n_days, arg_max(y, t) AS last_count
  FROM idx GROUP BY event_type)
SELECT s.event_type, s.n_days, s.last_count, f.level, f.trend,
       f.level + f.trend AS forecast_next
FROM stats s JOIN fin f USING (event_type)
ORDER BY s.event_type
"""


def x_char_entropy(spark, sf_dir):
    """Per-document Shannon character entropy with a keep gate at 4.0
    bits (textual.char_entropy_profile): the degenerate-text screen the
    quality family lacked — x6/x18/x93 measure ratios, repetition and
    fluency but not the character distribution itself. Counts are exact
    integers from a positional substring explode; the entropy sum folds
    per-character terms in character order so both engines add the same
    doubles in the same sequence."""
    return X.char_entropy_profile(_docs(spark, sf_dir), gate_bits=4.0)


X145_CHAR_ENTROPY_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents),
chars AS (
  SELECT doc_id, substr(t, CAST(u.i AS INTEGER), 1) AS ch
  FROM norm, UNNEST(range(1, length(t) + 1)) AS u(i)
  WHERE length(t) > 0),
cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
tot AS (
  SELECT doc_id, SUM(c) AS n, COUNT(*) AS nd FROM cnt GROUP BY doc_id),
prof AS (
  SELECT c.doc_id,
         ROUND(
           -list_reduce(
              list_prepend(CAST(0 AS DOUBLE),
                list((c.c / CAST(t.n AS DOUBLE))
                     * ln(c.c / CAST(t.n AS DOUBLE)) ORDER BY c.ch)),
              (a, b) -> a + b) / ln(CAST(2 AS DOUBLE)), 6) AS entropy_bits
  FROM cnt c JOIN tot t USING (doc_id) GROUP BY c.doc_id)
SELECT n0.doc_id,
       CAST(COALESCE(t.n, 0) AS BIGINT) AS n_chars,
       CAST(COALESCE(t.nd, 0) AS BIGINT) AS n_distinct_chars,
       COALESCE(p.entropy_bits, CAST(0 AS DOUBLE)) AS entropy_bits,
       COALESCE(p.entropy_bits, CAST(0 AS DOUBLE)) >= CAST(4.0 AS DOUBLE)
         AS keep
FROM norm n0
LEFT JOIN tot t USING (doc_id)
LEFT JOIN prof p USING (doc_id)
ORDER BY doc_id
"""


def x_random_projection(spark, sf_dir):
    """Two-stage retrieval through a derived ±1 Johnson–Lindenstrauss
    projection (simsearch.random_projection_topk): stage 1 shortlists
    50 per query by cosine over 16 projected coordinates (the sign
    matrix is md5-derived from (i, j) — no stored quantizer state at
    all), stage 2 re-ranks with the exact 64-dim cosine. The third
    compression leg: SQ8 quantizes values, PQ quantizes subspaces, JL
    reduces dimensionality."""
    embs = _embs(spark, sf_dir)
    return S.random_projection_topk(
        embs, _queries_df(embs), k=10, dim=64, out_dim=16, shortlist=50
    ).orderBy("query_id", "rank")


X144_RANDOM_PROJECTION_SQL = """
WITH s AS (
  SELECT jj.j,
         list(CASE WHEN ('0x' || substr(md5('jl_' || ii.i || '_' || jj.j),
                                        1, 8))::BIGINT % 2 = 0
                   THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END
              ORDER BY ii.i) AS sv
  FROM UNNEST(range(0, 16)) AS jj(j), UNNEST(range(0, 64)) AS ii(i)
  GROUP BY jj.j),
c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
cp AS (
  SELECT c.vec_id, list(list_dot_product(c.emb, s.sv) ORDER BY s.j) AS pv
  FROM c CROSS JOIN s GROUP BY c.vec_id),
q AS (SELECT vec_id AS query_id, emb AS qe FROM c WHERE vec_id < 5),
qp AS (
  SELECT q.query_id, list(list_dot_product(q.qe, s.sv) ORDER BY s.j) AS qv
  FROM q CROSS JOIN s GROUP BY q.query_id),
st1 AS (
  SELECT qp.query_id, cp.vec_id,
         ROUND(list_dot_product(qp.qv, cp.pv) /
               (sqrt(list_dot_product(qp.qv, qp.qv)) *
                sqrt(list_dot_product(cp.pv, cp.pv))), 6) AS sim_proj
  FROM cp CROSS JOIN qp),
short AS (
  SELECT query_id, vec_id, sim_proj FROM (
    SELECT query_id, vec_id, sim_proj,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim_proj DESC, vec_id) AS rn
    FROM st1) WHERE rn <= 50),
st2 AS (
  SELECT sh.query_id, sh.vec_id, sh.sim_proj,
         ROUND(list_dot_product(q.qe, c.emb) /
               (sqrt(list_dot_product(q.qe, q.qe)) *
                sqrt(list_dot_product(c.emb, c.emb))), 6) AS sim
  FROM short sh JOIN q USING (query_id) JOIN c ON c.vec_id = sh.vec_id),
ranked AS (
  SELECT query_id, vec_id, sim_proj, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rank
  FROM st2)
SELECT query_id, vec_id, sim_proj, sim, rank::BIGINT AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


def x_segment_dedup(spark, sf_dir):
    """Corpus-wide segment-level dedup with reassembly
    (operators/dedup.segment_dedup): disjoint 8-token windows of the
    normalized token stream; windows present in >1 distinct document are
    cut from EVERY document and the survivors are stitched back in
    order — the RefinedWeb line-dedup semantic at the third granularity
    (x1/x2 drop whole docs, x35 only reports spans)."""
    return D.segment_dedup(_docs(spark, sf_dir), seg_tokens=8)


X143_SEGMENT_DEDUP_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(
           string_split_regex(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
           x -> x <> '') AS toks
  FROM documents),
segs AS (
  SELECT doc_id, u.i AS pos,
         array_to_string(toks[u.i*8+1 : u.i*8+8], ' ') AS seg
  FROM toked, UNNEST(range(0, CAST(ceil(len(toks)/8.0) AS BIGINT))) AS u(i)),
viol AS (
  SELECT md5(seg) AS h
  FROM segs GROUP BY md5(seg)
  HAVING COUNT(DISTINCT doc_id) > 1),
kept AS (
  SELECT s.doc_id, s.pos, s.seg
  FROM segs s ANTI JOIN viol v ON md5(s.seg) = v.h),
reass AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id),
totals AS (
  SELECT doc_id, COUNT(*) AS n_segments FROM segs GROUP BY doc_id)
SELECT t0.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       COALESCE(t.n_segments, 0) AS n_segments,
       COALESCE(t.n_segments, 0) - COALESCE(r.n_kept, 0) AS n_dropped
FROM toked t0
LEFT JOIN totals t USING (doc_id)
LEFT JOIN reass r USING (doc_id)
ORDER BY doc_id
"""


def x_exact_substring_dedup(spark, sf_dir):
    """x156: exact-substring dedup at the Lee-et-al ExactSubstr
    semantic (dedup.exact_substring_dedup): every token position
    covered by an 8-token window whose normalized text occurs more than
    once in the whole corpus is cut (ALL occurrences — the documented
    conservative variant), survivors reassembled in order. The exact
    form x132's winnowing approximates; stride-1 on BOTH sides, so
    removal is alignment-independent down to single tokens."""
    return D.exact_substring_dedup(_docs(spark, sf_dir), min_tokens=8)


X156_EXACT_SUBSTRING_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(
           string_split_regex(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
           x -> x <> '') AS toks
  FROM documents),
wins AS (
  SELECT doc_id, u.i AS wpos,
         md5(array_to_string(toks[u.i+1 : u.i+8], ' ')) AS h
  FROM toked, UNNEST(range(0, len(toks) - 7)) AS u(i)
  WHERE len(toks) >= 8),
dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1),
cov AS (
  SELECT DISTINCT w.doc_id, w.wpos + u.o AS pos
  FROM wins w JOIN dup USING (h), UNNEST(range(0, 8)) AS u(o)),
tokens AS (
  SELECT doc_id, u.i AS pos, toks[u.i+1] AS tok
  FROM toked, UNNEST(range(0, len(toks))) AS u(i)),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tokens t ANTI JOIN cov c
    ON c.doc_id = t.doc_id AND c.pos = t.pos),
reass AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens FROM toked)
SELECT t.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       t.n_tokens,
       (t.n_tokens - COALESCE(r.n_kept, 0))::BIGINT AS n_removed
FROM tot t LEFT JOIN reass r USING (doc_id)
ORDER BY doc_id
"""


def x_exact_substring_keep_one(spark, sf_dir):
    """x162: the PUBLISHED ExactSubstr semantic
    (dedup.exact_substring_keep_one, VERDICT r9 item 7): one canonical
    occurrence per duplicated 8-token window class survives — elected
    as the class's lowest (doc_id, wpos), the pinned deterministic
    tie-break — and only the other occurrences are cut. The remove-ALL
    sibling is x156; the delta between their n_removed columns is
    exactly the canonical copies this variant preserves."""
    return D.exact_substring_keep_one(_docs(spark, sf_dir), min_tokens=8)


X162_EXACT_SUBSTRING_KEEP_ONE_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(
           string_split_regex(
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
           x -> x <> '') AS toks
  FROM documents),
wins AS (
  SELECT doc_id, u.i AS wpos,
         md5(array_to_string(toks[u.i+1 : u.i+8], ' ')) AS h
  FROM toked, UNNEST(range(0, len(toks) - 7)) AS u(i)
  WHERE len(toks) >= 8),
dupocc AS (
  SELECT doc_id, wpos FROM wins
  QUALIFY COUNT(*) OVER (PARTITION BY h) > 1
      AND ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, wpos) > 1),
cov AS (
  SELECT DISTINCT d.doc_id, d.wpos + u.o AS pos
  FROM dupocc d, UNNEST(range(0, 8)) AS u(o)),
tokens AS (
  SELECT doc_id, u.i AS pos, toks[u.i+1] AS tok
  FROM toked, UNNEST(range(0, len(toks))) AS u(i)),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tokens t ANTI JOIN cov c
    ON c.doc_id = t.doc_id AND c.pos = t.pos),
reass AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens FROM toked)
SELECT t.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       t.n_tokens,
       (t.n_tokens - COALESCE(r.n_kept, 0))::BIGINT AS n_removed
FROM tot t LEFT JOIN reass r USING (doc_id)
ORDER BY doc_id
"""


def x_session_dedup(spark, sf_dir):
    """x157: conversation/session-level dedup over the events log
    (sessionize.session_dedup): 30-min-gap sessions per user, each
    folded to its (ts, event_id)-ordered event-type trajectory; one
    canonical session (lowest user_id, session_id) survives per
    identical trajectory — the SFT-data analogue of document dedup,
    with dup_count kept so a pipeline can downweight instead of drop."""
    from samba_spark.operators.sessionize import session_dedup

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return session_dedup(events, gap_seconds=1800)


X157_SESSION_DEDUP_SQL = """
WITH lagged AS (
  SELECT user_id, event_id, ts, event_type,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ts
  FROM events),
brks AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                 OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                 THEN 1 ELSE 0 END AS brk
  FROM lagged),
s AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM brks),
per AS (
  SELECT user_id, session_id, MIN(ts) AS s_start,
         COUNT(*)::BIGINT AS n_events,
         md5(string_agg(md5(event_type), '|' ORDER BY ts, event_id)) AS sig
  FROM s GROUP BY user_id, session_id),
fin AS (
  SELECT user_id, session_id, s_start, n_events, sig,
         COUNT(*) OVER (PARTITION BY sig) AS dup_count,
         ROW_NUMBER() OVER (PARTITION BY sig
                            ORDER BY user_id, session_id) AS rk
  FROM per)
SELECT user_id, session_id::BIGINT AS session_id, s_start, n_events, sig,
       dup_count::BIGINT AS dup_count, (rk = 1) AS kept
FROM fin ORDER BY user_id, session_id
"""


def x_sft_curation(spark, sf_dir):
    """x163: the SFT curation chain (sessionize.sft_curation, VERDICT
    r9 item 7): session dedup → trajectory quality screens (2-50
    events, >= 2 distinct types) → per-first_type mixture cap (200,
    hash-ordered) over the events log — the interaction-log analogue
    of the document pipeline (dedup → quality → mixing), composed as
    one declarative chain; output is the curated session roster an
    SFT assembly joins back to events."""
    from samba_spark.operators.sessionize import sft_curation

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return sft_curation(events, gap_seconds=1800)


X163_SFT_CURATION_SQL = """
WITH lagged AS (
  SELECT user_id, event_id, ts, event_type,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ts
  FROM events),
brks AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                 OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                 THEN 1 ELSE 0 END AS brk
  FROM lagged),
s AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM brks),
per AS (
  SELECT user_id, session_id, MIN(ts) AS s_start,
         COUNT(*)::BIGINT AS n_events,
         COUNT(DISTINCT event_type)::BIGINT AS n_types,
         md5(string_agg(md5(event_type), '|' ORDER BY ts, event_id)) AS sig,
         (list(event_type ORDER BY ts, event_id))[1] AS first_type
  FROM s GROUP BY user_id, session_id),
deduped AS (
  SELECT *, COUNT(*) OVER (PARTITION BY sig) AS dup_count
  FROM per
  QUALIFY ROW_NUMBER() OVER (PARTITION BY sig
                             ORDER BY user_id, session_id) = 1),
screened AS (
  SELECT * FROM deduped
  WHERE n_events BETWEEN 2 AND 50 AND n_types >= 2),
capped AS (
  SELECT * FROM screened
  QUALIFY ROW_NUMBER() OVER (
      PARTITION BY first_type
      ORDER BY md5(user_id::VARCHAR || ':' || session_id::VARCHAR),
               user_id, session_id) <= 200)
SELECT user_id, session_id::BIGINT AS session_id, s_start, n_events,
       n_types, first_type, sig, dup_count::BIGINT AS dup_count
FROM capped ORDER BY user_id, session_id
"""


def x_index_merge(spark, sf_dir):
    """x164: index lifecycle verb 6 — shard MERGE
    (dedup.merge_minhash_indexes): two shards are built INDEPENDENTLY
    (save on src0; save on the rest — the embarrassingly-parallel
    distributed-build pattern), then the second shard's PERSISTED
    sigs/bands are merged into the first without re-signaturing a
    single document. The probe batch (exact copies doc_id%8==1,
    mutated copies doc_id%8==5) runs against the merged index FROM
    DISK; the oracle replays a one-shot build on the full corpus —
    probe(merge(save(A), save(B))) ≡ probe(save(A∪B))."""
    from samba_spark.operators.dedup import (
        merge_minhash_indexes,
        probe_minhash_index,
        save_minhash_index,
    )

    docs = _docs(spark, sf_dir)
    path_a = _pid_scratch("x164_shard_a")
    path_b = _pid_scratch("x164_shard_b")
    # The two shard builds are INDEPENDENT jobs on disjoint corpus
    # halves and disjoint paths — overlap them from a 2-thread pool
    # (guide §2.6: Spark schedules concurrent jobs FIFO, the second
    # build back-fills executors the first's stage tails leave idle).
    # Results are unaffected: each save writes its own directory.
    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(
            save_minhash_index, docs.where(F.col("source") == "src0"), path_a
        )
        fb = pool.submit(
            save_minhash_index, docs.where(F.col("source") != "src0"), path_b
        )
        fa.result(), fb.result()
    merge_minhash_indexes(spark, path_a, path_b)
    return probe_minhash_index(
        spark, path_a, _mh_probe_batch(docs, 8, 1, 5), min_agree=8
    ).orderBy("doc_id")


def x_incremental_sessionize(spark, sf_dir):
    """x165: incremental sessionization
    (sessionize.sessionize_incremental) — the sessionized event table
    is built in TWO maintenance steps (events before the time
    midpoint, then the rest spliced onto each user's stored tail, no
    history recompute), and the per-session roll-up of the persisted
    table is returned. The oracle sessionizes the FULL event log from
    scratch: incremental-splice ≡ batch is the whole contract in one
    hash check — the result must be independent of where the cutoff
    fell."""
    from samba_spark.operators.sessionize import sessionize_incremental

    events = load_tables(spark, sf_dir, ["events"])["events"]
    b = events.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    cutoff = b["lo"] + (b["hi"] - b["lo"]) / 2
    store = _pid_scratch("x165_session_store")
    sessionize_incremental(
        spark, store, events.where(F.col("ts") < F.lit(cutoff)),
        gap_seconds=1800,
    )
    sessionize_incremental(
        spark, store, events.where(F.col("ts") >= F.lit(cutoff)),
        gap_seconds=1800,
    )
    return (
        spark.read.parquet(store)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s_start"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


def _x165_sql(user_pred: "str | None" = None) -> str:
    """The batch-sessionize oracle over the full feed — parameterized
    with an optional user predicate so lifecycle variants (x170 user
    delete) replay the same contract over the surviving users."""
    user_where = f" WHERE {user_pred}" if user_pred else ""
    return f"""
WITH lagged AS (
  SELECT user_id, event_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ts
  FROM events{user_where}),
brks AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                 OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                 THEN 1 ELSE 0 END AS brk
  FROM lagged),
s AS (
  SELECT user_id, event_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM brks)
SELECT user_id, session_id::BIGINT AS session_id, MIN(ts) AS s_start,
       COUNT(*)::BIGINT AS n_events
FROM s GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


X165_INCREMENTAL_SESSIONIZE_SQL = _x165_sql()


def x_session_store_delete(spark, sf_dir):
    """x170: session-store user DELETE (sessionize.
    delete_from_session_store — the right-to-be-forgotten path for the
    event archive, x160's takedown contract at the session store): the
    bucketed store is built in TWO incremental splices, then every
    event of the users with user_id % 5 == 0 is PHYSICALLY removed —
    the store is read raw by consumers, so there is no tombstone set
    to hide behind; what bounds the rewrite is the bucketed layout
    (only the doomed users' buckets are read and swapped through the
    scope:partial _COMMIT manifest — unaffected buckets are never
    touched). The oracle sessionizes the SURVIVING users' full feed
    from scratch: physical deletion + splice correctness (whole-user
    removal never changes a survivor's tail) in one hash."""
    from samba_spark.operators.sessionize import (
        delete_from_session_store,
        sessionize_incremental,
    )

    events = load_tables(spark, sf_dir, ["events"])["events"]
    b = events.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    cutoff = b["lo"] + (b["hi"] - b["lo"]) / 2
    store = _pid_scratch("x170_session_store")
    kw = dict(gap_seconds=1800, user_buckets=8)
    sessionize_incremental(
        spark, store, events.where(F.col("ts") < F.lit(cutoff)), **kw
    )
    sessionize_incremental(
        spark, store, events.where(F.col("ts") >= F.lit(cutoff)), **kw
    )
    doomed = (
        events.select("user_id")
        .where(F.col("user_id") % 5 == 0)
        .distinct()
    )
    delete_from_session_store(spark, store, doomed)
    return (
        spark.read.parquet(store)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s_start"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


def x_session_store_compact(spark, sf_dir):
    """x166: session-store lifecycle — bucketed layout + COMPACT
    (sessionize.compact_session_store; VERDICT r10 item 1, the x161
    pattern's second instance): the sessionized event table is built
    in TWO incremental steps on the USER-BUCKETED layout (``ubucket =
    pmod(xxhash64(user), 8)`` partition dirs, so each delta's tail
    read statically prunes its store scan to the affected buckets —
    plan-asserted in tests/test_session_store_lifecycle.py), then
    ``compact_session_store`` rewrites the store to one file per live
    bucket through the crash-safe ``_COMMIT`` marker swap, then a
    THIRD delta appends onto the COMPACTED store. The oracle
    sessionizes the full feed from scratch: bucketed-incremental ≡
    batch AND compact ≡ no-op, in one hash check."""
    from samba_spark.operators.sessionize import (
        compact_session_store,
        sessionize_incremental,
    )

    events = load_tables(spark, sf_dir, ["events"])["events"]
    b = events.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    t1 = b["lo"] + (b["hi"] - b["lo"]) / 3
    t2 = b["lo"] + 2 * (b["hi"] - b["lo"]) / 3
    store = _pid_scratch("x166_session_store")
    kw = dict(gap_seconds=1800, user_buckets=8)
    sessionize_incremental(
        spark, store, events.where(F.col("ts") < F.lit(t1)), **kw
    )
    sessionize_incremental(
        spark,
        store,
        events.where((F.col("ts") >= F.lit(t1)) & (F.col("ts") < F.lit(t2))),
        **kw,
    )
    compact_session_store(spark, store)
    sessionize_incremental(
        spark, store, events.where(F.col("ts") >= F.lit(t2)), **kw
    )
    return (
        spark.read.parquet(store)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("s_start"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


# same contract SQL as x165: the full-feed batch sessionization is the
# oracle for the ENTIRE lifecycle (splice + compact + splice)
X166_SESSION_STORE_COMPACT_SQL = X165_INCREMENTAL_SESSIONIZE_SQL


# Trained-centroid registry for the declared clustering queries
# (VERDICT r8 what's-wrong #3): x142 and x150 both need the SAME
# 2-round Lloyd model; before this memo each declared query re-ran
# training in-query, so the benched x150 double-counted ~7 s of
# training the production pipeline amortizes (train once offline, pin,
# serve). Keyed by (sf_dir, k, iters, quant); deterministic Lloyd from
# the smallest-vec_id seeds means "first caller trains" and "every
# caller trains" produce byte-identical centroids, so the cache cannot
# change any result — only how often training runs. Tests that need
# fresh training call clustering.kmeans_train/kmeans_integer directly.
_KMEANS_MODELS: dict = {}


def _kmeans_centroids(spark, sf_dir, k=8, iters=2, quant=1_000_000):
    key = (sf_dir, k, iters, quant)
    if key not in _KMEANS_MODELS:
        from samba_spark.operators.clustering import kmeans_train

        _KMEANS_MODELS[key] = kmeans_train(
            _embs(spark, sf_dir), k=k, iters=iters, quant=quant
        )
    return _KMEANS_MODELS[key]


def x_kmeans(spark, sf_dir):
    """Integer-exact Lloyd k-means (operators/clustering.kmeans_train +
    kmeans_assign): 2 assign/re-center rounds from the k=8 smallest-
    vec_id seeds on the floor(x*1e6) integer grid, then the assignment
    against the final centroids. Every distance and centroid is an
    exact integer, so the unrolled-CTE oracle replays the identical
    computation — the clustering family the embedding surface lacked
    (ivf/pq only SEED centroids; this RE-ESTIMATES them). Training runs
    through the _KMEANS_MODELS registry so the declared clustering
    family trains ONCE per (sf, params) and serves pinned centroids
    thereafter — the offline/online split the rest of the serving
    stack (ivf centroids=/sq8 scales=/pq codebooks=) already follows."""
    from samba_spark.operators.clustering import (
        kmeans_assign,
        with_cluster_sizes,
    )

    embs = _embs(spark, sf_dir)
    return with_cluster_sizes(
        kmeans_assign(embs, _kmeans_centroids(spark, sf_dir))
    )


# shared by x142 (assignment output) and x150 (metrics over the same
# assignment): the unrolled 2-round Lloyd chain through the final
# argmin CTE ``af``
_X142_CORE = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
  FROM embeddings),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
  FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 8)),
d1 AS (
  SELECT q.vec_id, c.cid,
         CAST(list_sum(list_transform(list_zip(q.v, c.cv),
              p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d2
  FROM q CROSS JOIN c0 c),
a1 AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d1) WHERE rn = 1),
s1 AS (
  SELECT a1.cluster, u.i AS dimn, SUM(q.v[u.i+1]) AS s, COUNT(*) AS n
  FROM a1 JOIN q USING (vec_id), UNNEST(range(0, 64)) AS u(i)
  GROUP BY a1.cluster, u.i),
c1 AS (
  SELECT c0.cid, COALESCE(m.cv, c0.cv) AS cv
  FROM c0 LEFT JOIN (
    SELECT cluster AS cid,
           list(CAST(floor(CAST(s AS DOUBLE)/n) AS BIGINT) ORDER BY dimn) AS cv
    FROM s1 GROUP BY cluster) m USING (cid)),
d2r AS (
  SELECT q.vec_id, c.cid,
         CAST(list_sum(list_transform(list_zip(q.v, c.cv),
              p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d2
  FROM q CROSS JOIN c1 c),
a2 AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d2r) WHERE rn = 1),
s2 AS (
  SELECT a2.cluster, u.i AS dimn, SUM(q.v[u.i+1]) AS s, COUNT(*) AS n
  FROM a2 JOIN q USING (vec_id), UNNEST(range(0, 64)) AS u(i)
  GROUP BY a2.cluster, u.i),
c2 AS (
  SELECT c1.cid, COALESCE(m.cv, c1.cv) AS cv
  FROM c1 LEFT JOIN (
    SELECT cluster AS cid,
           list(CAST(floor(CAST(s AS DOUBLE)/n) AS BIGINT) ORDER BY dimn) AS cv
    FROM s2 GROUP BY cluster) m USING (cid)),
df AS (
  SELECT q.vec_id, c.cid,
         CAST(list_sum(list_transform(list_zip(q.v, c.cv),
              p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS d2
  FROM q CROSS JOIN c2 c),
af AS (
  SELECT vec_id, cid AS cluster, d2 FROM (
    SELECT vec_id, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM df) WHERE rn = 1)
"""

X142_KMEANS_SQL = _X142_CORE + """
SELECT af.vec_id, af.cluster, af.d2 AS dist2, cnt.cluster_size
FROM af JOIN (SELECT cluster, COUNT(*) AS cluster_size
              FROM af GROUP BY cluster) cnt USING (cluster)
ORDER BY vec_id
"""

X150_CLUSTERING_METRICS_SQL = _X142_CORE + _X150_METRICS_TAIL


EXTENSIONS: dict[str, QuerySpec] = {
    "x142_kmeans": QuerySpec(x_kmeans, X142_KMEANS_SQL),
    "x143_segment_dedup": QuerySpec(x_segment_dedup, X143_SEGMENT_DEDUP_SQL),
    "x144_random_projection": QuerySpec(
        x_random_projection, X144_RANDOM_PROJECTION_SQL
    ),
    "x145_char_entropy": QuerySpec(x_char_entropy, X145_CHAR_ENTROPY_SQL),
    "x146_holt_trend": QuerySpec(x_holt_trend, X146_HOLT_TREND_SQL),
    "x147_pca_power": QuerySpec(x_pca_power, _x147_sql()),
    "x148_ngram_novelty": QuerySpec(x_ngram_novelty, X148_NGRAM_NOVELTY_SQL),
    "x149_decontaminate_spans": QuerySpec(
        x_decontaminate_spans, X149_DECONTAMINATE_SPANS_SQL
    ),
    "x150_clustering_metrics": QuerySpec(
        x_clustering_metrics, X150_CLUSTERING_METRICS_SQL
    ),
    "x151_mixture_plan": QuerySpec(x_mixture_plan, X151_MIXTURE_PLAN_SQL),
    "x152_reshard_plan": QuerySpec(x_reshard_plan, _x152_sql()),
    "x153_quantile_normalize": QuerySpec(
        x_quantile_normalize, X153_QUANTILE_NORMALIZE_SQL
    ),
    "x154_modularity": QuerySpec(x_modularity, X154_MODULARITY_SQL),
    "x136_pq_ann": QuerySpec(x_pq_ann, X136_PQ_ANN_SQL),
    "x137_minhash_probe": QuerySpec(x_minhash_probe, X137_MINHASH_PROBE_SQL),
    "x138_quality_model": QuerySpec(x_quality_model, X138_QUALITY_MODEL_SQL),
    "x139_truncated_rerank": QuerySpec(
        x_truncated_rerank, X139_TRUNCATED_RERANK_SQL
    ),
    "x140_retrieval_metrics": QuerySpec(
        x_retrieval_metrics, X140_RETRIEVAL_METRICS_SQL
    ),
    "x141_ivf_pq_ann": QuerySpec(x_ivf_pq_ann, X141_IVF_PQ_SQL),
    "x155_index_probe": QuerySpec(x_index_roundtrip_probe, _x155_sql()),
    "x167_vector_shard_merge": QuerySpec(x_vector_shard_merge, _x155_sql()),
    # x168's oracle is x165's: the full-feed batch sessionization
    # contracts the whole stream-of-splices lifecycle
    "x168_sessionize_stream": QuerySpec(
        x_sessionize_stream, X165_INCREMENTAL_SESSIONIZE_SQL
    ),
    "x169_vector_delete_compact": QuerySpec(
        x_vector_store_delete_compact,
        _x155_sql(corpus_pred="vec_id % 7 <> 3"),
    ),
    "x170_session_store_delete": QuerySpec(
        x_session_store_delete,
        _x165_sql(user_pred="user_id % 5 <> 0"),
    ),
    "x156_exact_substring_dedup": QuerySpec(
        x_exact_substring_dedup, X156_EXACT_SUBSTRING_SQL
    ),
    "x157_session_dedup": QuerySpec(x_session_dedup, X157_SESSION_DEDUP_SQL),
    "x162_exact_substring_keep_one": QuerySpec(
        x_exact_substring_keep_one, X162_EXACT_SUBSTRING_KEEP_ONE_SQL
    ),
    "x163_sft_curation": QuerySpec(x_sft_curation, X163_SFT_CURATION_SQL),
    "x164_index_merge": QuerySpec(
        x_index_merge,
        _minhash_probe_sql(8, 1, 5),
    ),
    "x165_incremental_sessionize": QuerySpec(
        x_incremental_sessionize, X165_INCREMENTAL_SESSIONIZE_SQL
    ),
    "x166_session_store_compact": QuerySpec(
        x_session_store_compact, X166_SESSION_STORE_COMPACT_SQL
    ),
    "x158_minhash_index_append": QuerySpec(
        x_minhash_index_append, _minhash_probe_sql(5, 0, 2)
    ),
    "x160_index_delete": QuerySpec(
        x_index_delete,
        _minhash_probe_sql(4, 1, 3, corpus_pred="doc_id % 7 <> 1"),
    ),
    "x161_index_compact": QuerySpec(
        x_index_compact,
        _minhash_probe_sql(6, 1, 4, corpus_pred="doc_id % 9 <> 2"),
    ),
    "x133_theil_sen": QuerySpec(x_theil_sen, X133_THEIL_SEN_SQL),
    "x135_bpe_apply": QuerySpec(x_bpe_apply, _x135_sql()),
    "x134_int8_ann": QuerySpec(x_int8_ann, X134_INT8_ANN_SQL),
    "x129_length_bucket_packing": QuerySpec(
        x_length_bucket_packing, X129_LENGTH_BUCKET_SQL
    ),
    "x130_temperature_mixture": QuerySpec(
        x_temperature_mixture, X130_TEMPERATURE_SQL
    ),
    "x131_chi_square_screen": QuerySpec(
        x_chi_square_screen, X131_CHI_SQUARE_SQL
    ),
    "x132_common_substring_pairs": QuerySpec(
        x_common_substring_pairs, X132_COMMON_SUBSTRING_SQL
    ),
    "q96_bag_setops": QuerySpec(q96_bag_setops, Q96_BAG_SETOPS_SQL),
    "q97_nullsafe_join": QuerySpec(q97_nullsafe_join, Q97_NULLSAFE_SQL),
    "x116_pandas_udaf": QuerySpec(x_pandas_udaf, X_PANDAS_UDAF_SQL),
    "x115_skyline": QuerySpec(x_skyline, X_SKYLINE_SQL),
    "q94_identifier_clause": QuerySpec(
        q94_identifier_clause, Q94_IDENTIFIER_SQL
    ),
    "q95_group_by_all": QuerySpec(q95_group_by_all, Q95_GROUP_BY_ALL_SQL),
    "x114_personalized_pagerank": QuerySpec(
        x_personalized_pagerank, X_PPR_SQL
    ),
    "x113_feature_hashing": QuerySpec(x_feature_hashing, X_FEATURE_HASHING_SQL),
    "x112_containment": QuerySpec(x_containment, X_CONTAINMENT_SQL),
    "x111_incremental_lsh": QuerySpec(x_incremental_lsh, _x111_sql()),
    "q93_grouping_sets": QuerySpec(q93_grouping_sets, Q93_GROUPING_SETS_SQL),
    "x110_sliding_distinct": QuerySpec(
        x_sliding_distinct, X_SLIDING_DISTINCT_SQL
    ),
    "x117_table_profile_approx": QuerySpec(
        x_table_profile_approx, X_TABLE_PROFILE_APPROX_SQL
    ),
    "x118_sliding_distinct_bitmap": QuerySpec(
        x_sliding_distinct_bitmap, X118_SLIDING_BITMAP_SQL
    ),
    "x119_url_dedup": QuerySpec(x_url_dedup, X119_URL_DEDUP_SQL),
    "x121_sliding_distinct_auto": QuerySpec(
        x_sliding_distinct_auto, X118_SLIDING_BITMAP_SQL
    ),
    "x122_bloom_ingest": QuerySpec(x_bloom_ingest, X122_BLOOM_SQL),
    "x123_kmv_set_ops": QuerySpec(x_kmv_set_ops, X123_KMV_SQL),
    "x124_k_core": QuerySpec(x_k_core, _x124_sql()),
    "x125_benford": QuerySpec(x_benford, _x125_sql()),
    "x126_acf": QuerySpec(x_acf, _x126_sql()),
    "q99_scd2": QuerySpec(q99_scd2, Q99_SCD2_SQL),
    "x127_inclusion_profile": QuerySpec(x_inclusion_profile, _x127_sql()),
    "x128_jpeg_pixel_pipeline": QuerySpec(
        x_jpeg_pixel_pipeline, X_JPEG_PIXEL_SQL
    ),
    "x120_xml_roundtrip": QuerySpec(x_xml_roundtrip, X120_SQL),
    "q92_twap": QuerySpec(q92_twap, Q92_TWAP_SQL),
    "x109_winsorize": QuerySpec(x_winsorize, X_WINSORIZE_SQL),
    "x108_changepoint": QuerySpec(x_changepoint, X_CHANGEPOINT_SQL),
    "x107_linear_model": QuerySpec(x_linear_model, X_LINEAR_MODEL_SQL),
    "x105_lpa_communities": QuerySpec(x_lpa_communities, X_LPA_SQL),
    "x106_strip_boilerplate": QuerySpec(
        x_strip_boilerplate, X_STRIP_BOILERPLATE_SQL
    ),
    "x102_k_anonymity": QuerySpec(x_k_anonymity, X_K_ANONYMITY_SQL),
    "x103_levenshtein_pairs": QuerySpec(
        x_levenshtein_pairs, X_LEVENSHTEIN_SQL
    ),
    "x104_mad_outliers": QuerySpec(x_mad_outliers, X_MAD_OUTLIERS_SQL),
    "q90_interpolate_daily": QuerySpec(
        q90_interpolate_daily, Q90_INTERPOLATE_SQL
    ),
    "x1_dedup_exact": QuerySpec(x_dedup_exact, X_DEDUP_EXACT_SQL),
    "x2_dedup_normalized": QuerySpec(x_dedup_normalized, X_DEDUP_NORM_SQL),
    "x3_minhash_lsh_dedup": QuerySpec(x_minhash_lsh_dedup, X_MINHASH_LSH_SQL),
    "x4_simhash": QuerySpec(x_simhash, X_SIMHASH_SQL),
    "x5_ngram_jaccard": QuerySpec(x_ngram_jaccard, X_NGRAM_JACCARD_SQL),
    "x6_text_stats": QuerySpec(x_text_stats, X_TEXT_STATS_SQL),
    "x7_token_count": QuerySpec(x_token_count, X_TOKEN_COUNT_SQL),
    "x8_lang_id": QuerySpec(x_lang_id, X_LANG_ID_SQL),
    "x9_fingerprint": QuerySpec(x_fingerprint, X_FINGERPRINT_SQL),
    "x10_cosine_topk": QuerySpec(x_cosine_topk, X_COSINE_TOPK_SQL),
    "x11_ann_lsh_topk": QuerySpec(x_ann_lsh_topk, _x11_sql()),
    "x14_ivf_topk": QuerySpec(x_ivf_topk_pinned, _x14_sql()),
    "x12_embedding_neardup": QuerySpec(x_embedding_neardup, _x12_sql()),
    "x88_semantic_prune": QuerySpec(x_semantic_prune, _x88_sql()),
    "x13_multimodal_byte_stats": QuerySpec(
        x_multimodal_byte_stats, X_MULTIMODAL_SQL
    ),
    "x15_sequence_pack": QuerySpec(x_sequence_pack, X_SEQUENCE_PACK_SQL),
    "x16_decontaminate": QuerySpec(x_decontaminate, X_DECONTAMINATE_SQL),
    "x17_top_terms": QuerySpec(x_top_terms, X_TOP_TERMS_SQL),
    "x18_repetition": QuerySpec(x_repetition, X_REPETITION_SQL),
    "x19_hash_split": QuerySpec(x_hash_split, _x19_sql()),
    "x20_source_cap": QuerySpec(x_source_cap, X_SOURCE_CAP_SQL),
    "x21_label_centroids": QuerySpec(x_label_centroids, X_LABEL_CENTROIDS_SQL),
    "x22_sessionize": QuerySpec(x_sessionize, X_SESSIONIZE_SQL),
    "x23_json_extract": QuerySpec(x_json_extract, X_JSON_EXTRACT_SQL),
    "x24_redact": QuerySpec(x_redact, _x24_sql()),
    "x25_salient_terms": QuerySpec(x_salient_terms, X_SALIENT_TERMS_SQL),
    "x26_quantile_filter": QuerySpec(x_quantile_filter, X_QUANTILE_FILTER_SQL),
    "x27_dedup_incremental": QuerySpec(x_dedup_incremental, X_DEDUP_INCREMENTAL_SQL),
    "x28_length_histogram": QuerySpec(x_length_histogram, X_LENGTH_HISTOGRAM_SQL),
    "x29_chunk_documents": QuerySpec(x_chunk_documents, X_CHUNK_SQL),
    "x30_merge_upsert": QuerySpec(x_merge_upsert, X_MERGE_UPSERT_SQL),
    "x31_cross_source_overlap": QuerySpec(
        x_cross_source_overlap, X_CROSS_SOURCE_SQL
    ),
    "x32_weighted_sample": QuerySpec(x_weighted_sample, _x32_sql()),
    "x33_collocations": QuerySpec(x_collocations, X_COLLOCATIONS_SQL),
    "x34_corpus_diff": QuerySpec(x_corpus_diff, X_CORPUS_DIFF_SQL),
    "x35_repeated_spans": QuerySpec(x_repeated_spans, X_REPEATED_SPANS_SQL),
    "x36_token_budget_cap": QuerySpec(x_token_budget_cap, _x36_sql()),
    "x37_norm_stats": QuerySpec(x_norm_stats, X_NORM_STATS_SQL),
    "x38_search_topk": QuerySpec(x_search_topk, X_SEARCH_SQL),
    "x39_skew_profile": QuerySpec(x_skew_profile, X_SKEW_SQL),
    "q52_integrity_audit": QuerySpec(q52_integrity_audit, Q52_SQL),
    "q53_provenance_counts": QuerySpec(q53_provenance_counts, Q53_SQL),
    "q54_skew_window": QuerySpec(q54_skew_window, Q54_SQL),
    "x40_funnel": QuerySpec(x_funnel, X_FUNNEL_SQL),
    "x41_retention_cohorts": QuerySpec(x_retention, X_RETENTION_SQL),
    "x42_wav_roundtrip": QuerySpec(x_wav_roundtrip, X_WAV_SQL),
    "x44_png_pixel_pipeline": QuerySpec(x_png_pixel_pipeline, X_PNG_PIXEL_SQL),
    "x89_phash_dedup": QuerySpec(x_phash_dedup, X_PHASH_SQL),
    "x90_audio_fp_dedup": QuerySpec(x_audio_fingerprint_dedup, X_AUDIO_FP_SQL),
    "x93_lm_fluency": QuerySpec(x_lm_fluency, X_LM_FLUENCY_SQL),
    "x95_frequent_itemsets": QuerySpec(
        x_frequent_itemsets, X_FREQUENT_ITEMSETS_SQL
    ),
    "x96_fd_profile": QuerySpec(x_fd_profile, X_FD_PROFILE_SQL),
    "x98_ewma": QuerySpec(x_ewma, X_EWMA_SQL),
    "x100_table_profile": QuerySpec(x_table_profile, X_TABLE_PROFILE_SQL),
    "x101_interval_overlap": QuerySpec(
        x_interval_overlap, X_INTERVAL_OVERLAP_SQL
    ),
    "x99_hybrid_rrf": QuerySpec(x_hybrid_rrf, X_HYBRID_RRF_SQL),
    "x45_deep_funnel": QuerySpec(x_deep_funnel, X_DEEP_FUNNEL_SQL),
    "x46_retention_monthly": QuerySpec(
        x_retention_monthly, X_RETENTION_MONTHLY_SQL
    ),
    "x47_trailing_window": QuerySpec(x_trailing_window, X_TRAILING_SQL),
    "x48_bloom_dedup": QuerySpec(x_bloom_dedup, X_BLOOM_DEDUP_SQL),
    "x49_scd2_history": QuerySpec(x_scd2_history, X_SCD2_SQL),
    "x50_quantization_stats": QuerySpec(x_quantization_stats, X_QUANT_STATS_SQL),
    "x51_time_rollup": QuerySpec(x_time_rollup, X_TIME_ROLLUP_SQL),
    "x52_filtered_topk": QuerySpec(x_filtered_topk, X_FILTERED_TOPK_SQL),
    "x53_parquet_manifest": QuerySpec(x_parquet_manifest, X53_SQL),
    "x54_binned_quantiles": QuerySpec(x_binned_quantiles, X_BINNED_QUANTILES_SQL),
    "x43_png_roundtrip": QuerySpec(x_png_roundtrip, X_PNG_SQL),
    "x55_triangle_count": QuerySpec(x_triangle_count, X_TRIANGLE_SQL),
    "x56_attribution": QuerySpec(x_attribution, X_ATTRIBUTION_SQL),
    "x57_inverted_index": QuerySpec(x_inverted_index, X_INVERTED_INDEX_SQL),
    "x58_anomaly": QuerySpec(x_anomaly, X_ANOMALY_SQL),
    "x59_concurrency": QuerySpec(x_concurrency, X_CONCURRENCY_SQL),
    "x60_rare_token_pairs": QuerySpec(x_rare_token_pairs, X_RARE_TOKEN_SQL),
    "q59_transitive_lineage": QuerySpec(q59_transitive_lineage, Q59_SQL),
    "x61_transition_matrix": QuerySpec(x_transition_matrix, X_TRANSITION_SQL),
    "x62_trend_slope": QuerySpec(x_trend_slope, X_TREND_SQL),
    "x63_avro_roundtrip": QuerySpec(x_avro_roundtrip, X63_SQL),
    "x64_zorder_stats": QuerySpec(x_zorder_stats, _x64_sql()),
    "x65_covariance_matrix": QuerySpec(x_covariance, _x65_sql()),
    "x66_quality_audit": QuerySpec(x_quality_audit, X_QUALITY_SQL),
    "q62_column_lineage": QuerySpec(q62_column_lineage, Q62_SQL),
    "x67_edit_distance": QuerySpec(x_edit_distance, X_EDIT_DISTANCE_SQL),
    "x68_brand_cooccurrence": QuerySpec(x_cooccurrence, X_COOCCURRENCE_SQL),
    "x69_gap_fill": QuerySpec(x_gap_fill, X_GAP_FILL_SQL),
}


def x_streaming_admission(spark, sf_dir):
    """x159: streaming admission-controlled ingestion
    (streaming/ops.run_admission_stream) — the x137/x158 serving loop
    as a stream. Base index = src0; three micro-batches (one file per
    trigger, mtime-ordered): batch0 = src1 + exact copies of src0
    (doc_id%4==0, +1M ids), batch1 = src2 + exact copies of SRC1
    (doc_id%4==1, +2M ids), batch2 = src3 + suffix-mutated copies of
    SRC2 (doc_id%4==2, +3M ids). The cross-BATCH copies are the
    incremental proof: they reject only because the earlier batch's
    admissions were appended to the index between triggers. The oracle
    unrolls the three probe-admit-append stages over the same md5
    signature pipeline."""
    import os

    from samba_spark.operators.dedup import save_minhash_index
    from samba_spark.streaming.ops import run_admission_stream

    docs = _docs(spark, sf_dir).localCheckpoint()
    work = _pid_scratch("x159_admission")
    batches_dir = os.path.join(work, "batches")
    os.makedirs(batches_dir, exist_ok=True)
    index_path = os.path.join(work, "index")
    save_minhash_index(docs.where(F.col("source") == "src0"), index_path)

    def copies(src, rem, offset, mutate=False):
        base = docs.where(
            (F.col("source") == src) & (F.col("doc_id") % 4 == rem)
        )
        text = (
            F.concat(F.col("text"), F.lit(" probe suffix tokens appended"))
            if mutate
            else F.col("text")
        )
        return base.select(
            (F.col("doc_id") + offset).alias("doc_id"),
            F.col("source"),
            text.alias("text"),
        )

    batches = [
        docs.where(F.col("source") == "src1")
        .select("doc_id", "source", "text")
        .unionByName(copies("src0", 0, 1_000_000)),
        docs.where(F.col("source") == "src2")
        .select("doc_id", "source", "text")
        .unionByName(copies("src1", 1, 2_000_000)),
        docs.where(F.col("source") == "src3")
        .select("doc_id", "source", "text")
        .unionByName(copies("src2", 2, 3_000_000, mutate=True)),
    ]
    _stage_stream_batches(work, batches_dir, batches)
    log = run_admission_stream(
        spark, batches_dir, index_path, os.path.join(work, "logs")
    )
    return log.orderBy("doc_id")


def _x159_sql() -> str:
    """Three probe-admit-append stages unrolled over the shared md5
    signature pipeline (the x137/x158 oracle machinery): idx_{k+1} =
    idx_k UNION admitted_k, caps re-evaluated per stage over the grown
    index — exactly what probing the appended parquet store sees."""
    head = rf"""
WITH alldocs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents
  WHERE source = 'src0' AND doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents
  WHERE source = 'src1' AND doc_id % 4 = 1
  UNION ALL
  SELECT doc_id + 3000000, text || ' probe suffix tokens appended'
  FROM documents WHERE source = 'src2' AND doc_id % 4 = 2),
toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM alldocs),
sh AS (
  SELECT doc_id, array_to_string(toks[i+1 : i+3], ' ') AS shingle
  FROM toked, UNNEST(range(0, greatest(len(toks)-3, 0) + 1)) AS u(i)),
base AS (
  SELECT doc_id, shingle,
         ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h0
  FROM sh),
hj AS (
  SELECT doc_id, j,
         MIN((({_A})[j+1] * h0 + ({_B})[j+1]) % {D.MINHASH_P}) AS hj
  FROM base, UNNEST(range(0, 64)) AS r(j)
  GROUP BY doc_id, j),
sig AS (
  SELECT doc_id, list(hj ORDER BY j) AS sig FROM hj GROUP BY doc_id),
bandkeys AS (
  SELECT doc_id, b,
         md5(array_to_string(
               list_transform(sig[b*4+1 : b*4+4], x -> x::VARCHAR),
               ',')) AS band_hash
  FROM sig, UNNEST(range(0, 16)) AS rb(b)),
batch0 AS (
  SELECT doc_id FROM documents WHERE source = 'src1'
  UNION ALL
  SELECT doc_id + 1000000 FROM documents
  WHERE source = 'src0' AND doc_id % 4 = 0),
batch1 AS (
  SELECT doc_id FROM documents WHERE source = 'src2'
  UNION ALL
  SELECT doc_id + 2000000 FROM documents
  WHERE source = 'src1' AND doc_id % 4 = 1),
batch2 AS (
  SELECT doc_id FROM documents WHERE source = 'src3'
  UNION ALL
  SELECT doc_id + 3000000 FROM documents
  WHERE source = 'src2' AND doc_id % 4 = 2),
idx0 AS (SELECT doc_id FROM documents WHERE source = 'src0')"""
    stages = []
    for k in range(3):
        stages.append(f""",
bounded{k} AS (
  SELECT bk.doc_id, bk.b, bk.band_hash
  FROM bandkeys bk JOIN idx{k} USING (doc_id)
  QUALIFY COUNT(*) OVER (PARTITION BY bk.b, bk.band_hash) <= 1000),
cand{k} AS (
  SELECT DISTINCT d.doc_id, i.doc_id AS match_id
  FROM bandkeys d
  JOIN batch{k} USING (doc_id)
  JOIN bounded{k} i ON d.b = i.b AND d.band_hash = i.band_hash),
agree{k} AS (
  SELECT c.doc_id, c.match_id,
         len(list_filter(list_zip(ds.sig, ms.sig),
                         p -> p[1] = p[2]))::BIGINT AS n_agree
  FROM cand{k} c
  JOIN sig ds ON ds.doc_id = c.doc_id
  JOIN sig ms ON ms.doc_id = c.match_id),
best{k} AS (
  SELECT doc_id, match_id, n_agree
  FROM agree{k} WHERE n_agree >= 8
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY n_agree DESC, match_id) = 1),
log{k} AS (
  SELECT bt.doc_id, b.match_id IS NULL AS admitted,
         b.match_id, b.n_agree,
         CAST(b.n_agree AS DOUBLE) / CAST(64.0 AS DOUBLE) AS est_jaccard
  FROM batch{k} bt LEFT JOIN best{k} b USING (doc_id)),
idx{k + 1} AS (
  SELECT doc_id FROM idx{k}
  UNION ALL
  SELECT doc_id FROM log{k} WHERE admitted)""")
    tail = """
SELECT doc_id, admitted, match_id, n_agree, est_jaccard
FROM (SELECT * FROM log0 UNION ALL SELECT * FROM log1
      UNION ALL SELECT * FROM log2)
ORDER BY doc_id
"""
    return head + "".join(stages) + tail


# x159 is defined below the EXTENSIONS literal (appended with the
# round-9 streaming wave); register it here at module tail.
EXTENSIONS["x159_streaming_admission"] = QuerySpec(
    x_streaming_admission, _x159_sql()
)
