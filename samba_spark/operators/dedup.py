"""Deduplication operators — exact, MinHash-LSH, SimHash, n-gram Jaccard.

Designed for 100 TB document sets:

- exact / normalized dedup: one hash-partitioned groupBy on the dedup key —
  the minimum possible: a single shuffle keyed by the digest, never by the
  full text (digest first, so the shuffle moves 16-byte keys, not documents).
- MinHash-LSH: per-document shingle array → one md5 per shingle and 64
  linear permutations in one Arrow pass (the default md5 family; a
  seeded xxhash64 family is the Catalyst-only alternative) → minhash
  signature → band buckets → candidate pairs via a self-join *on bucket
  keys only* → clusters by union-find (operators/graph.py). Quadratic
  blow-up is confined to each bucket; band/row parameters tune recall
  vs. bucket size. Skewed buckets (boilerplate shingles) are capped.
- SimHash: 64-bit signature from token-hash bit votes, all Catalyst
  expressions; near-dup = signature XOR popcount ≤ k.
- n-gram Jaccard: exact similarity on candidate pairs (typically the
  verification stage after LSH).

None of these exist in the reference (its dedup story is ``distinct`` at
RDD level, rdd/RDD.scala:534-555); they are the BASELINE.json north-star
extension set.
"""

from __future__ import annotations

import os
import random
import shutil

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from samba_spark.operators.guards import plan_assert
from samba_spark.operators.leases import _URI_SCHEME, single_writer

_NORM = r"\s+"

# --- md5 hash family (oracle-reproducible) --------------------------------
# MinHash/SimHash default to a hash family DuckDB can replicate exactly:
# base(s) = first 8 hex chars of md5(s) as a 32-bit int, permuted by
# h_j(x) = (A_j*x + B_j) mod P with P = 2^61-1 and A_j,B_j < 2^30, so every
# intermediate fits signed 64-bit in both engines (2^30 * 2^32 < 2^63).
# Set hash_family="xxhash64" for the cheaper non-cryptographic family when
# cross-engine reproducibility is not needed (throughput path at scale).
MINHASH_P = (1 << 61) - 1

# URI-scheme sniff shared by the index maintenance verbs: a non-file
# scheme means the driver-side os/shutil machinery cannot reach the path
_rng = random.Random(20260813)
MINHASH_A = [_rng.randrange(1, 1 << 30) for _ in range(64)]
MINHASH_B = [_rng.randrange(0, 1 << 30) for _ in range(64)]
del _rng


def _md5_base32(col: Column) -> Column:
    """32-bit integer from the first 8 hex chars of md5 — identical to
    DuckDB's ('0x' || substr(md5(x),1,8))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _normalized(text: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(text), _NORM, " "))


def dedup_exact(documents: DataFrame, key: str = "text") -> DataFrame:
    """Exact dedup: keep the lowest doc_id per identical key; report group
    size. Shuffles on md5(key) — constant-width shuffle keys at any doc
    size."""
    digest = F.md5(F.col(key)).alias("_digest")
    return (
        documents.select("doc_id", digest)
        .groupBy("_digest")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("keep_doc_id", "n_dups")
    )


def dedup_normalized(documents: DataFrame) -> DataFrame:
    """Exact dedup after whitespace/case normalization."""
    digest = F.md5(_normalized(F.col("text"))).alias("_digest")
    return (
        documents.select("doc_id", digest)
        .groupBy("_digest")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("keep_doc_id", "n_dups")
    )


def _shingle_arrays(
    documents: DataFrame,
    n: int,
    carry_cols: tuple[str, ...] = (),
    unique: bool = False,
) -> tuple[DataFrame, Column]:
    """The per-document shingle array: word n-grams over normalized
    tokens, as a Column over the returned tokenized frame (doc_id,
    *carry_cols, _toks). A text with fewer than ``n`` tokens gives one
    shorter shingle; an empty or null text gives the one shingle ``""``.

    Tokenization is bound to a column *before* the per-position slice —
    inlining it would make Catalyst re-evaluate the split for every shingle
    position (O(len²) per document; measured 12× slower)."""
    toked = documents.select(
        "doc_id",
        *carry_cols,
        F.filter(
            F.split(_normalized(F.col("text")), " "), lambda x: x != F.lit("")
        ).alias("_toks"),
    )
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_toks") - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, n)),
    )
    if unique:
        sh = F.array_distinct(sh)
    return toked, sh


def shingles(
    documents: DataFrame,
    n: int = 3,
    carry_cols: tuple[str, ...] = (),
    unique: bool = False,
) -> DataFrame:
    """(doc_id, shingle) pairs: word n-grams over normalized tokens.
    ``carry_cols`` rides extra document columns (e.g. ``source``)
    through the explode so downstream attribution needs no join back.

    ``unique=True`` applies ``array_distinct`` BEFORE the explode: the
    per-document shingle SET instead of the multiset. For set-semantics
    consumers (Jaccard/containment set joins) this is result-identical
    and strictly cheaper — within-doc repeats never reach the explode or
    the shuffle, and a downstream row-level ``.distinct()`` (a full
    exchange of shingle STRINGS) becomes redundant because (doc_id,
    shingle) rows are already unique. Multiplicity consumers
    (ngram_novelty's occurrence counts) keep the default."""
    toked, sh = _shingle_arrays(documents, n, carry_cols, unique)
    return toked.select(
        "doc_id", *carry_cols, F.explode(sh).alias("shingle")
    )


def _md5_minhash(num_hashes: int):
    """mapInArrow body for the md5 family: (doc_id, shingle array) batches
    → (doc_id, sig). Built by a factory so cloudpickle ships it by value
    and Python workers need no samba_spark import."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    a = np.array(MINHASH_A[:num_hashes], dtype=np.int64)
    b = np.array(MINHASH_B[:num_hashes], dtype=np.int64)
    p = MINHASH_P

    def sign(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            arrays = batch.column(1)
            shingle_bytes = arrays.flatten().cast(pa.binary()).to_pylist()
            # first 4 md5 bytes big-endian == first 8 hex digits
            base = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(s).digest()[:4], "big")
                    for s in shingle_bytes
                ),
                dtype=np.int64,
                count=len(shingle_bytes),
            )
            # every array holds >= 1 shingle, so the starts are strictly
            # increasing, as reduceat needs
            lengths = pc.list_value_length(arrays).to_numpy()
            starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
            sig = np.empty((len(batch), len(a)), dtype=np.int64)
            # one permutation per column keeps the working set at one
            # int64 per shingle (a shingles × hashes matrix would be 64×
            # that for a 10k-document batch); A < 2^30, base < 2^32 and
            # B < 2^30, so A*base + B < 2^63
            for j in range(len(a)):
                sig[:, j] = np.minimum.reduceat((a[j] * base + b[j]) % p, starts)
            offsets = pa.array(
                np.arange(0, sig.size + 1, len(a), dtype=np.int32)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.ListArray.from_arrays(offsets, pa.array(sig.ravel())),
                ],
                names=["doc_id", "sig"],
            )

    return sign


def minhash_signatures(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    hash_family: str = "md5",
) -> DataFrame:
    """(doc_id, sig array<bigint>): minhash over word-shingles, one row
    per document (``doc_id`` is a key; its type is kept).

    hash_family="md5" (default): tokens and shingles in Catalyst, then
    one ``mapInArrow`` pass per partition — one md5 per shingle and the
    ``num_hashes`` linear permutations in numpy int64 — with no shuffle.
    Bit-for-bit reproducible in DuckDB (the correctness oracle).
    hash_family="xxhash64": seeded xxhash64 per (shingle, j), min per
    document in one groupBy(doc_id) shuffle, all Catalyst — a different
    signature, for when no oracle parity is needed.

    Shingles are NOT per-doc deduplicated: min over the multiset equals
    min over the set, and the measured within-doc repeat rate is ~0.1%
    (sf0.1 corpus)."""
    if hash_family == "md5":
        if num_hashes > len(MINHASH_A):
            raise ValueError(f"md5 family has {len(MINHASH_A)} permutations")
        toked, sh = _shingle_arrays(documents, n)
        arrays = toked.select("doc_id", sh.alias("shingles"))
        schema = StructType(
            [arrays.schema["doc_id"], StructField("sig", ArrayType(LongType()))]
        )
        return arrays.mapInArrow(_md5_minhash(num_hashes), schema)
    if hash_family != "xxhash64":
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    sig = shingles(documents, n).groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_band_index(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_family: str = "md5",
) -> DataFrame:
    """(doc_id, band, band_hash): the banded-LSH bucket table — the
    PERSISTABLE index half of fuzzy dedup (store it x87-style and new
    batches never re-signature the corpus; see dedup_incremental_lsh).
    One signature pass + a bands-wide explode; O(docs × bands) rows of
    16-byte keys."""
    sig = minhash_signatures(documents, n, num_hashes, hash_family)
    return band_keys_from_signatures(sig, num_hashes, bands, hash_family)


def band_keys_from_signatures(
    sig: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    hash_family: str = "md5",
) -> DataFrame:
    """(doc_id, band, band_hash) from an ALREADY-COMPUTED signature table
    (doc_id, sig) — the banding half of :func:`lsh_band_index`, split out
    so serving paths (:func:`minhash_probe_frozen`) can band a delta's
    signatures once and reuse them for verification without a second
    signature pass."""
    rows = num_hashes // bands

    def band_key(b):
        joined = F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col("sig"), b * rows + 1, rows),
                lambda x: x.cast("string"),
            ),
        )
        # md5 family keys on the md5 hex string (DuckDB-identical); the
        # xxhash64 family keeps a cheap 64-bit numeric key
        return F.md5(joined) if hash_family == "md5" else F.xxhash64(joined)

    return sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"), band_key(b).alias("band_hash")
                ),
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.band_hash")


def _cap_buckets(band_entries: DataFrame, max_bucket: int) -> DataFrame:
    """Drop degenerate (band, band_hash) buckets — the 100 TB skew guard
    shared by every banded-LSH consumer. Bucket-size cap via a window
    over the same shuffle key — one exchange (vs groupBy+join-back =
    two) and the entries stay partitioned by (band, band_hash) for the
    join that follows. The ``_bucket_n`` column is left in place for
    callers that project it away themselves."""
    w = Window.partitionBy("band", "band_hash")
    return band_entries.withColumn(
        "_bucket_n", F.count(F.lit(1)).over(w)
    ).where(F.col("_bucket_n") <= max_bucket)


def lsh_candidate_pairs(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
    hash_family: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH. Pairs are generated
    bucket-locally: explode signatures into ``bands`` band-keys, self-join on
    (band, band_hash). ``max_bucket`` caps degenerate buckets (boilerplate)
    — the 100 TB skew guard; capped buckets are dropped, trading recall for
    a bound on the join fan-out."""
    band_entries = lsh_band_index(
        documents, n, num_hashes, bands, hash_family
    )
    bounded = _cap_buckets(band_entries, max_bucket)
    a = bounded.alias("a")
    b = bounded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_dedup(documents: DataFrame, **kw) -> DataFrame:
    """Fuzzy dedup clusters: candidate pairs → connected components by
    union-find over the collected pair list (operators/graph.py; one job
    at any cluster diameter). Returns (doc_id, cluster_id)."""
    from samba_spark.operators.graph import connected_components

    pairs = lsh_candidate_pairs(documents, **kw)
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("vertex").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    )


def simhash(
    documents: DataFrame, bits: int | None = None, hash_family: str = "md5"
) -> DataFrame:
    """SimHash from token-hash bit votes — pure Catalyst: explode tokens,
    hash per token, per-bit ±1 vote aggregation, recombine.

    hash_family="md5" (default): 32-bit signature from the md5-derived base
    hash, bit-for-bit reproducible in DuckDB. hash_family="xxhash64":
    64-bit signature, cheaper hashing (throughput path)."""
    if bits is None:
        bits = 32 if hash_family == "md5" else 64
    if hash_family == "md5":
        if bits > 32:
            raise ValueError("md5 family base hash has 32 bits")
        hash_col = _md5_base32(F.col("tok"))
    elif hash_family == "xxhash64":
        hash_col = F.xxhash64("tok")
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    toks = documents.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(_normalized(F.col("text")), " "),
                lambda x: x != F.lit(""),
            )
        ).alias("tok"),
    ).withColumn("h", hash_col)
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {i}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    sig = votes.select(
        "doc_id",
        sum(
            [
                # shiftleft keeps bit 63 in long range (1<<63 overflows a lit)
                F.when(
                    F.col(f"b{i}") > 0,
                    F.shiftleft(F.lit(1).cast("long"), i),
                ).otherwise(F.lit(0).cast("long"))
                for i in range(bits)
            ],
            F.lit(0).cast("long"),
        )
        .cast("long")
        .alias("simhash"),
    )
    return sig


def ngram_jaccard_pairs(
    documents: DataFrame, candidate_pairs: DataFrame, n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (the verify stage after
    LSH). Joins shingle sets by doc, computes |∩|/|∪|.

    The per-doc shingle SET comes straight from the unique explode —
    (doc_id, shingle) rows are already distinct, so no row-level
    ``.distinct()`` exchange of shingle strings is needed."""
    sh = shingles(documents, n, unique=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.withColumnRenamed("doc_id", "doc_a")
    b = sh.withColumnRenamed("doc_id", "doc_b")
    inter = (
        candidate_pairs.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).alias("n_union"),
            # raw IEEE quotient: thresholds should compare the integer
            # counts (k*n_inter >= m*n_union), not this float
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def dedup_incremental(
    incoming: DataFrame,
    corpus: DataFrame,
    key: str = "text",
    normalize: bool = False,
) -> DataFrame:
    """Incremental dedup — the daily-ingest shape: drop incoming docs whose
    content already exists in the accumulated corpus, then exact-dedup
    within the batch itself (keep lowest doc_id).

    Scale shape: both sides reduce to 16-byte md5 digests BEFORE the join,
    so the anti-join shuffles constant-width keys regardless of document
    size; the corpus side projects a single digest column (column-pruned at
    the scan). In production the corpus digest set is the previously
    persisted digest index — pass that DataFrame directly as ``corpus``
    (any frame with the same ``key`` column works).
    """
    keyc = _normalized(F.col(key)) if normalize else F.col(key)
    inc = incoming.select("doc_id", F.md5(keyc).alias("_digest"))
    seen = corpus.select(F.md5(keyc).alias("_digest")).distinct()
    fresh = inc.join(seen, "_digest", "left_anti")
    return (
        fresh.groupBy("_digest")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_batch_dups"),
        )
        .select("keep_doc_id", F.col("n_batch_dups").cast("long").alias("n_batch_dups"))
    )


def dedup_incremental_bloom(
    incoming: DataFrame,
    corpus: DataFrame,
    key: str = "text",
    normalize: bool = False,
    m: int = 1 << 18,
    k: int = 4,
) -> DataFrame:
    """Bloom-prefiltered incremental dedup — bit-identical output to
    :func:`dedup_incremental`, but the corpus anti-join only ever sees the
    slice of the batch the bloom filter could not rule out.

    The bloom filter is expressed relationally as a *position set*: every
    distinct corpus digest sets ``k`` positions ``xxhash64(digest, seed_j)
    pmod m``; the distinct position set has at most ``m`` rows (default
    2^18 → ≤ 256Ki ints, a few MiB) and is broadcast. A batch document
    missing ANY of its ``k`` positions cannot be in the corpus (no false
    negatives) and skips the anti-join entirely; only all-positions-hit
    maybe-dups reach the exact 16-byte-digest anti-join, whose verify step
    removes the false positives — so the final result is exact and shares
    :func:`dedup_incremental`'s oracle.

    Scale shape: at 100 TB the accumulated corpus digest index is read
    once (column-pruned to the digest) to build a broadcastable position
    set; the wide anti-join shuffle then moves only the maybe-dup slice
    (~batch_dup_rate + m-bounded false-positive rate) instead of the whole
    batch. Size ``m`` ≈ 8–10 bits per corpus digest for a ~1-2%% FP rate;
    beyond ~2^27 positions, partition the digest space and run one bloom
    per partition (the position set stops being broadcastable).
    """
    keyc = _normalized(F.col(key)) if normalize else F.col(key)
    inc = incoming.select("doc_id", F.md5(keyc).alias("_digest"))
    seen = corpus.select(F.md5(keyc).alias("_digest")).distinct()

    def _positions(digest: Column) -> Column:
        return F.array(
            *[F.pmod(F.xxhash64(digest, F.lit(j)), F.lit(m)) for j in range(k)]
        )

    pos_set = (
        seen.select(F.explode(_positions(F.col("_digest"))).alias("_pos"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    probed = (
        inc.select("doc_id", "_digest", F.explode(_positions(F.col("_digest"))).alias("_pos"))
        .join(F.broadcast(pos_set), "_pos", "left")
        .groupBy("doc_id", "_digest")
        .agg(F.min(F.coalesce(F.col("_hit"), F.lit(0))).alias("_all_hit"))
    )
    definitely_new = probed.where(F.col("_all_hit") == 0).select("doc_id", "_digest")
    maybe_dup = probed.where(F.col("_all_hit") == 1).select("doc_id", "_digest")
    verified_new = maybe_dup.join(seen, "_digest", "left_anti")
    fresh = definitely_new.unionByName(verified_new)
    return (
        fresh.groupBy("_digest")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_batch_dups"),
        )
        .select("keep_doc_id", F.col("n_batch_dups").cast("long").alias("n_batch_dups"))
    )


def cross_source_overlap(
    documents: DataFrame,
    n: int = 2,
    source_col: str = "source",
    hash_shingles: bool = False,
) -> DataFrame:
    """Pairwise content overlap between sources, measured on word n-gram
    shingle vocabularies: for each source pair (a < b) that shares at least
    one shingle, the shared-distinct-shingle count, both vocabulary sizes,
    and the Jaccard of the two vocabularies. The dedup-analysis companion
    to :func:`minhash_lsh_dedup` — "how much does src A repeat src B"
    drives mixing weights before any pairwise doc dedup runs.

    Scale shape: the join key is the *shingle vocabulary* (distinct
    (source, shingle)), which grows with vocabulary, not corpus size; the
    per-source sizes come back as a broadcast (#sources rows). The pair
    aggregation shuffles on (source_a, source_b) — #sources² keys, tiny.

    ``hash_shingles=True`` replaces the shingle strings with xxhash64
    values before the distinct — 8-byte shuffle/join keys instead of
    arbitrary-length strings. At warehouse scale this is the mode to run
    (a web-corpus bigram vocabulary is billions of entries; 64-bit
    collisions shift counts by ~n²/2⁶⁴, far below mixing-decision noise).
    The default keeps exact strings so the counts are engine-reproducible
    bit-for-bit (the oracle gate).
    """
    toked = documents.select(
        F.col(source_col).alias("src"),
        F.filter(
            F.split(_normalized(F.col("text")), " "), lambda x: x != F.lit("")
        ).alias("_toks"),
    )
    # full n-token shingles only: a doc with < n tokens contributes
    # nothing (an empty/whitespace-only doc must not make two sources
    # spuriously "share" the '' shingle)
    sh = F.when(
        F.size("_toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("_toks") - n),
            lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = toked.select("src", F.explode(sh).alias("shingle"))
    if hash_shingles:
        exploded = exploded.select("src", F.xxhash64("shingle").alias("shingle"))
    vocab = exploded.distinct()
    sizes = vocab.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab")
    )
    pairs = (
        vocab.alias("a")
        .join(
            vocab.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        pairs.join(
            F.broadcast(
                sizes.select(
                    F.col("src").alias("source_a"),
                    F.col("n_vocab").alias("n_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("src").alias("source_b"),
                    F.col("n_vocab").alias("n_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


def repeated_spans(
    documents: DataFrame, n: int = 8, stride: int = 4
) -> DataFrame:
    """Cross-document repeated-span detection — the span-granular exact
    dedup signal (à la "Deduplicating Training Data Makes Language Models
    Better": repeated substrings, here at token-window granularity): every
    (doc_id, start) position whose n-token window also occurs in at least
    one OTHER document. Downstream pipelines drop or down-weight the
    flagged spans rather than whole documents.

    Built compositionally on :func:`operators.chunking.chunk_documents`
    (digest windows, stride ``stride``); only full n-token windows
    participate (short tails would false-match). Scale shape: one
    16-byte-digest shuffle for the occurrence counts — the digest table is
    corpus_tokens/stride rows; the flagged-position join keys on the same
    digest. Boilerplate mega-spans concentrate on few digests and stay
    bounded because the count side aggregates before joining back.
    """
    from samba_spark.operators.chunking import chunk_documents

    spans = chunk_documents(documents, chunk=n, stride=stride).where(
        F.col("chunk_len") == n
    )
    cross_doc = (
        spans.groupBy("chunk_digest")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    return (
        spans.join(cross_doc, "chunk_digest")
        .select(
            "doc_id",
            "start",
            "chunk_digest",
            F.col("n_docs").cast("long").alias("n_docs"),
        )
    )


def rare_token_blocking_pairs(
    documents: DataFrame,
    k: int = 2,
    shingle_n: int = 3,
    min_jaccard_pct: int = 50,
    max_bucket: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs via rare-SHINGLE blocking with exact
    shingle-Jaccard verification — the prefix-filtering idea of
    PPJoin-family set-similarity joins, as a dataflow. Complements
    MinHash-LSH (minhash_lsh_dedup): no hash family, exact recall for
    pairs sharing any of each other's ``k`` globally-rarest shingles.

    Blocking keys are word ``shingle_n``-grams, not single tokens:
    template/boilerplate corpora (the realistic near-dup case) share
    almost every TOKEN across thousands of variants, so token buckets
    degenerate to corpus-sized — n-gram keys fall off the df cliff
    orders of magnitude faster (measured on the fixture: max token
    bucket 3816 at 5k docs; max 3-shingle bucket 5). ``max_bucket``
    drops degenerate buckets outright — the same skew guard as LSH's
    max_bucket — so candidate volume is bounded by
    Σ min(bucket, cap)² no matter the corpus.

    Stages, all riding ONE distinct (doc, shingle) relation: (1) shingle
    + dedupe pre-shuffle; (2) global shingle df (partial-agged);
    (3) per-doc k rarest shingles as blocking keys, ties broken by
    shingle hash (total order, engine-exact); (4) candidates = docs
    sharing an un-capped key; (5) exact shingle-set Jaccard on
    candidates only, kept when ``inter·100 ≥ pct·union`` in integers.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), _NORM), lambda x: x != ""
    )
    # shingles are immediately hashed to 60-bit ints (15 hex chars of md5
    # — DuckDB-replayable, collision odds ~n²/2⁶⁰) so every downstream
    # shuffle/join key is 8 bytes, not a 3-word string; the relation is
    # used five times (df, rank, both verify sides, sizes), so it is
    # materialized once instead of re-exploding the corpus per use
    shingled = (
        documents.select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(0), F.size(toks) - F.lit(shingle_n)
                        ),
                        lambda i: F.concat_ws(
                            " ", F.slice(toks, i + 1, shingle_n)
                        ),
                    )
                )
            ).alias("_sh"),
        )
        .where(F.size(toks) >= shingle_n)
        .select(
            "doc",
            F.conv(F.substring(F.md5("_sh"), 1, 15), 16, 10)
            .cast("long")
            .alias("term"),
        )
        .localCheckpoint()
    )
    dfreq = shingled.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc").orderBy("df", "term")
    rare = (
        shingled.join(dfreq, "term")
        .withColumn("_rk", F.row_number().over(w))
        .where((F.col("_rk") <= k) & (F.col("df") <= max_bucket))
        .select("doc", "term")
    )
    cand = (
        rare.alias("ra")
        .join(rare.alias("rb"), "term")
        .where(F.col("ra.doc") < F.col("rb.doc"))
        .select(F.col("ra.doc").alias("doc_a"), F.col("rb.doc").alias("doc_b"))
        .distinct()
    )
    sizes = shingled.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(shingled.alias("ta"), F.col("ta.doc") == F.col("doc_a"))
        .join(
            shingled.alias("tb"),
            (F.col("tb.doc") == F.col("doc_b"))
            & (F.col("ta.term") == F.col("tb.term")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "n_union", (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .where(
            F.col("n_common") * 100 >= F.lit(min_jaccard_pct) * F.col("n_union")
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("n_union").cast("long").alias("n_union"),
        )
    )


def deletion_neighborhood_pairs(
    strings: DataFrame,
    str_col: str = "s",
    max_bucket: int = 1000,
) -> DataFrame:
    """Edit-distance-1 string pair join via deletion neighborhoods
    (the SymSpell blocking scheme): two strings are within Levenshtein
    distance 1 iff their neighborhoods N(s) = {s} ∪ {s minus one char}
    intersect, so candidates come from an equi-join on a 64-bit hash of
    the variant — never a distance cross join. Candidates are then
    verified with the exact ``levenshtein`` expression (neighborhood
    overlap admits a few distance-2 pairs, e.g. transpositions).

    Feed it a DICTIONARY (distinct strings), not occurrences: SymSpell
    blocks on term spellings, and joining occurrences would re-inflate
    every repeated string into a quadratic bucket. Each string of length
    L emits L+1 variants, so the exchange moves O(total chars) 8-byte
    keys — linear in dictionary size, independent of corpus row count.
    ``max_bucket`` drops degenerate variant buckets (e.g. the empty
    string from every 1-char term) the same way LSH caps boilerplate
    shingle buckets.

    Output: (s_a, s_b, distance) with s_a < s_b, distance ≤ 1 exact.

    The reference has no string-similarity surface (rdd/RDD.scala
    distinct is exact-only); clean-room implementation of the public
    SymSpell deletion-neighborhood idea.
    """
    s = F.col(str_col)
    variants = (
        strings.select(
            s.alias("_s"),
            F.explode(
                F.array_union(
                    F.array(s),
                    F.expr(
                        f"transform(sequence(1, length({str_col})), i -> "
                        f"concat(substring({str_col}, 1, i - 1), "
                        f"substring({str_col}, i + 1, length({str_col}))))"
                    ),
                )
            ).alias("_v"),
        )
        .select("_s", F.xxhash64(F.col("_v")).alias("_vh"))
        # reused 3x (bucket counts + both join sides): materialize once so
        # the dictionary scan/explode doesn't recompute per consumer
        .localCheckpoint()
    )
    counts = variants.groupBy("_vh").agg(F.count(F.lit(1)).alias("_n"))
    capped = variants.join(
        counts.where(F.col("_n") <= max_bucket).select("_vh"), "_vh"
    )
    pairs = (
        capped.alias("a")
        .join(capped.alias("b"), "_vh")
        .where(F.col("a._s") < F.col("b._s"))
        .select(F.col("a._s").alias("s_a"), F.col("b._s").alias("s_b"))
        .distinct()
    )
    return (
        pairs.withColumn(
            "distance", F.levenshtein("s_a", "s_b").cast("long")
        )
        .where(F.col("distance") <= 1)
    )


def dedup_incremental_lsh(
    index: DataFrame,
    delta_docs: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
    hash_family: str = "md5",
) -> DataFrame:
    """Ingest-time FUZZY dedup: the near-dup pairs created by adding a
    delta batch to an already-indexed corpus — the MinHash sibling of
    x27's exact digest anti-join. ``index`` is the persisted
    (doc_id, band, band_hash) bucket table (lsh_band_index, storable
    x87-style); only the DELTA is shingled/signatured, so per-batch cost
    is O(delta × bands) + a join against the bucket table — the corpus
    is never re-signatured.

    The bucket cap is evaluated over index ∪ delta (identical semantics
    to a full rebuild: a bucket that degenerates once the delta lands is
    dropped for everyone). Output pairs each involve ≥1 delta doc —
    delta↔corpus and delta↔delta, (least, greatest)-normalized.
    """
    delta_keys = lsh_band_index(
        delta_docs, n, num_hashes, bands, hash_family
    )
    full = index.unionByName(delta_keys)
    bounded = _cap_buckets(full, max_bucket)
    delta_ids = delta_docs.select("doc_id").distinct()
    delta_bounded = bounded.join(F.broadcast(delta_ids), "doc_id")
    d = delta_bounded.alias("d")
    o = bounded.alias("o")
    return (
        d.join(
            o,
            (F.col("d.band") == F.col("o.band"))
            & (F.col("d.band_hash") == F.col("o.band_hash"))
            & (F.col("d.doc_id") != F.col("o.doc_id")),
        )
        .select(
            F.least(F.col("d.doc_id"), F.col("o.doc_id")).alias("doc_a"),
            F.greatest(F.col("d.doc_id"), F.col("o.doc_id")).alias("doc_b"),
        )
        .distinct()
    )


def ngram_containment_pairs(
    documents: DataFrame,
    n: int = 3,
    k_block: int = 5,
    max_df: int = 100,
    num_pct: int = 9,
    den_pct: int = 10,
) -> DataFrame:
    """Asymmetric CONTAINMENT detection — |A∩B| / min(|A|,|B|) ≥
    num_pct/den_pct over n-gram shingle sets — the partial-copy case
    symmetric Jaccard (x5) structurally misses: a paragraph quoted
    inside a much larger document has tiny Jaccard but containment ≈ 1,
    and MinHash-LSH candidates (tuned for Jaccard) won't surface it.

    Candidates come from asymmetric prefix-filter blocking: each doc
    BLOCKS on its ``k_block`` rarest shingles (df ≤ ``max_df``), and
    blocked shingles probe EVERY doc carrying them — if A ⊆ B then A's
    rarest shingle is in B, so the pair is generated from A's side
    regardless of B's size. Candidate volume is bounded by
    Σ_blocked df(s) ≤ k_block · max_df per doc; the exact intersection
    count verifies candidates only. All-integer threshold
    (``den_pct·n_inter ≥ num_pct·n_small``); the reported containment is
    the raw IEEE quotient of the same integers.

    Returns (doc_a, doc_b, n_inter, n_small, containment), doc_a < doc_b.
    """
    # unique explode = per-doc shingle set with no row-level distinct
    # exchange; hashing to 60-bit terms happens in the same projection,
    # so nothing downstream ever shuffles a 3-word string
    sh = shingles(documents, n, unique=True).select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
        .cast("long")
        .alias("term"),
    )
    sh = sh.localCheckpoint()  # reused 4x: df, blocks, probe, verify
    dfreq = sh.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    ranked = sh.join(dfreq, "term").withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("_df", "term")
        ),
    )
    blocks = ranked.where(
        (F.col("_rk") <= k_block) & (F.col("_df") <= max_df)
    ).select(F.col("doc_id").alias("_ba"), "term")
    probe = ranked.where(F.col("_df") <= max_df).select(
        F.col("doc_id").alias("_bb"), "term"
    )
    cand = (
        blocks.join(probe, "term")
        .where(F.col("_ba") != F.col("_bb"))
        .select(
            F.least("_ba", "_bb").alias("doc_a"),
            F.greatest("_ba", "_bb").alias("doc_b"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "term"), "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "term"),
            ["doc_b", "term"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("_n").alias("_na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("_n").alias("_nb")),
            "doc_b",
        )
        .withColumn("n_small", F.least("_na", "_nb"))
        .where(
            F.lit(den_pct) * F.col("n_inter")
            >= F.lit(num_pct) * F.col("n_small")
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("n_small").cast("long").alias("n_small"),
            (F.col("n_inter") / F.col("n_small")).alias("containment"),
        )
    )


def common_substring_pairs(
    documents: DataFrame,
    window: int = 32,
    min_len: int = 48,
    winnow: int = 8,
    max_df: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Cross-document EXACT-substring overlap — the character-level
    dedup signal suffix-array methods compute (find long verbatim
    spans shared between documents; shared boilerplate and outright
    copies that token-level Jaccard dilutes away), re-expressed
    relationally with WINNOWING fingerprint selection (the MOSS
    scheme): every ``window``-char substring hashes to a row, and a
    window is SELECTED when its hash is the minimum of the ``winnow``
    most recent windows in its document — selection is a function of
    CONTENT, so two documents sharing a span select identical windows
    at identical span-relative offsets regardless of alignment (a
    fixed-stride sample would only match spans whose alignment
    difference is ≡ 0 mod stride — the failure the winnowing paper
    exists to fix). Guarantee: every shared span of at least
    window + winnow − 1 chars shares at least one selected
    fingerprint, and consecutive selected fingerprints inside a span
    are at most ``winnow`` offsets apart — so maximal shared spans are
    recovered as gap-bounded islands per (pair, alignment-diagonal),
    with reported length max_off − min_off + window ≥ L − 2·(winnow−1).

    Selection is TRUE winnowing (per sliding window of ``winnow``
    hashes, keep the rightmost minimum), not the weaker "h equals the
    min of my own trailing window" predicate — the latter makes each
    position's decision depend on up to winnow−1 hashes BEFORE the
    shared span (different in each doc), which loses the guarantee
    exactly at misaligned span edges. The argmin is computed as an
    integer MIN over k = h₃₆·2²⁶ + (2²⁶−1−off) — smallest hash wins,
    rightmost offset breaks ties, and the whole selection replays
    bit-for-bit in the oracle (no engine-specific arg_min tie rule).

    Scale shape: dense hashing is a zero-shuffle projection; selection
    keeps ~2/(winnow+1) of windows (one per-doc window function);
    hashes occurring in more than ``max_df`` documents are dropped
    BEFORE the self-join (ubiquitous boilerplate would otherwise fan
    out quadratically — the same df-cap discipline as the containment
    join above), so the per-hash join is bounded by max_df²; everything
    downstream is keyed by (pair, diagonal). md5 equality stands in
    for string equality; a collision is astronomically unlikely AND
    replayed identically by the oracle (both engines compare the same
    md5 prefixes).

    Returns (doc_a, doc_b, span_len, n_spans): the longest shared span
    and how many maximal shared spans of at least ``min_len`` the pair
    has. doc_a < doc_b."""
    if winnow < 1 or window < 4 or min_len < window:
        raise ValueError(
            "need winnow >= 1, window >= 4, min_len >= window"
        )
    # hash every window INSIDE a per-document array transform, then
    # posexplode (off, h) pairs — exploding (offset, full_text) rows
    # first would duplicate each document ~len times into the explode
    # output (measured: GC pressure and 2× wall-clock at sf0.1)
    harr = F.transform(
        F.sequence(
            F.lit(0),
            F.greatest(F.lit(0), F.length(text_col) - F.lit(window)),
        ),
        lambda i: F.conv(
            F.substring(
                F.md5(
                    F.substring(F.col(text_col), i + F.lit(1), F.lit(window))
                ),
                F.lit(1),
                F.lit(15),
            ),
            16,
            10,
        ).cast("long"),
    )
    # true winnowing: each forward window of `winnow` hashes selects its
    # rightmost minimum. Argmin as one integer MIN: 36-bit selection
    # hash in the high bits, bit-flipped offset in the low 26 (offsets
    # must fit 2^26 chars per document).
    radix = 1 << 26
    # enforce the 2^26-chars-per-document precondition LOUDLY: a longer
    # document would wrap the packed key's offset bits and silently
    # corrupt the winnowing argmin
    off_checked = F.when(
        F.col("off") >= radix,
        F.raise_error(
            F.concat(
                F.lit(
                    "common_substring_pairs: document longer than 2^26 "
                    "chars (doc_id "
                ),
                F.col("doc_id").cast("string"),
                F.lit(") — offsets no longer fit the selection key"),
            )
        ).cast("int"),
    ).otherwise(F.col("off"))
    sh = (
        documents.where(F.length(text_col) >= window)
        .select("doc_id", F.posexplode(harr).alias("off", "h"))
        .withColumn("off", off_checked)
    )
    # 36-bit selection hash = top bits of h (h is 60 bits of md5); the
    # shifted product stays under 2^62
    sh = sh.withColumn(
        "_k",
        F.expr("h div 16777216") * radix
        + (F.lit(radix - 1) - F.col("off")),
    )
    w_fwd = (
        Window.partitionBy("doc_id").orderBy("off").rowsBetween(0, winnow - 1)
    )
    # carry the FULL hash through the argmin as a struct-min on (_k, h):
    # _k is unique per row within a document (it encodes the offset), so
    # the struct ordering is decided entirely by _k and the selection is
    # identical to min(_k) — but h arrives with it, which removes the
    # join-back to the dense table (a 2nd full-table shuffle that made
    # the 10x decade step ~2x over linear). dropDuplicates keys are a
    # superset of the window's partition key, so no extra exchange.
    sel = (
        sh.select(
            "doc_id",
            F.min(F.struct("_k", "h")).over(w_fwd).alias("_s"),
        )
        .select(
            "doc_id",
            (F.lit(radix - 1) - (F.col("_s._k") % radix)).alias("off"),
            F.col("_s.h").alias("h"),
        )
        .dropDuplicates(["doc_id", "off"])
    )
    sel = sel.localCheckpoint()
    docfreq = sel.groupBy("h").agg(
        F.count_distinct("doc_id").alias("_df")
    )
    kept = sel.join(
        docfreq.where(F.col("_df") <= max_df).select("h"), "h", "semi"
    )
    pairs = (
        kept.alias("x")
        .join(kept.alias("y"), "h")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.off").alias("off_a"),
            (F.col("x.off") - F.col("y.off")).alias("diag"),
        )
        .distinct()
    )
    w_d = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("off_a")
    w_cum = w_d.rowsBetween(Window.unboundedPreceding, 0)
    islands = pairs.withColumn(
        "_brk",
        F.when(
            F.coalesce(
                F.col("off_a") - F.lag("off_a").over(w_d),
                F.lit(winnow + 1),
            )
            > winnow,
            1,
        ).otherwise(0),
    ).withColumn("_isl", F.sum("_brk").over(w_cum))
    spans = (
        islands.groupBy("doc_a", "doc_b", "diag", "_isl")
        .agg(
            (F.max("off_a") - F.min("off_a") + window)
            .cast("long")
            .alias("span_len")
        )
        .where(F.col("span_len") >= min_len)
    )
    return (
        spans.groupBy("doc_a", "doc_b")
        .agg(
            F.max("span_len").cast("long").alias("span_len"),
            F.count(F.lit(1)).cast("long").alias("n_spans"),
        )
    )


def minhash_probe_frozen(
    index_bands: DataFrame,
    index_sigs: DataFrame,
    delta_docs: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    min_agree: int = 13,
    max_bucket: int = 1000,
    hash_family: str = "md5",
    delta_sigs: DataFrame | None = None,
) -> DataFrame:
    """Admission-control dedup SERVING (VERDICT r7 item 8): probe a batch
    of NEW documents against a FROZEN MinHash index and report, per delta
    doc, its best corpus match — read-only, the index is never mutated or
    re-signatured. The serving half of the x111 ingest story: x111
    (``dedup_incremental_lsh``) ADDS a delta to the index and surfaces
    every new pair (delta↔corpus and delta↔delta); this op answers the
    training-pipeline admission question "is this incoming document
    already in the corpus?" against a pinned index — the same
    offline-build/online-serve split as ``ivf_topk(centroids=)`` /
    ``int8_quantize_topk(scales=)`` / ``pq_topk(codebooks=)``.

    ``index_bands`` is the persisted (doc_id, band, band_hash) table
    (``lsh_band_index``) and ``index_sigs`` the persisted (doc_id, sig)
    signatures (``minhash_signatures``) — both storable x87-style. Only
    the DELTA is shingled and signatured (one pass); candidates come from
    the (band, band_hash) equi-join; each candidate is then VERIFIED on
    the full signatures: ``n_agree`` = positions where the two minhash
    vectors agree, ``est_jaccard = n_agree / num_hashes``, and only
    candidates with ``n_agree >= min_agree`` survive (integer threshold
    — engine-exact). Estimator caveat, family-dependent: with
    ``hash_family="xxhash64"`` the positions are independent hashes and
    est_jaccard is the standard unbiased MinHash estimate; with the
    default ``"md5"`` family the linear permutations
    ``(A_j·h0 + B_j) mod P`` are MONOTONE in h0 whenever ``A_j·h0 < P``
    (true for every A_j < 2^29 since h0 < 2^32), so positions are
    correlated — a near-dup sharing the corpus doc's globally-smallest
    shingle hash can agree on ALL positions. The md5 family trades that
    statistical independence for bit-exact DuckDB replay (its banding
    behavior, which drives candidate recall, is unaffected); treat its
    est_jaccard as a match SCORE, and use xxhash64 when the estimate
    itself must be calibrated.
    Best match per delta doc = highest n_agree, ties to the smallest
    match_id. Delta↔delta pairs are deliberately OUT of scope (that is
    ingest, x111's job).

    Bucket cap: applied to the FROZEN side only (a degenerate corpus
    bucket is dropped for every probe — at serving time the index is
    immutable, so unlike x111 there is no index∪delta cap to evaluate;
    ship the index pre-capped or let the probe enforce it, same result).
    The cap window runs AFTER a BROADCAST left-semi join against the
    delta's distinct band keys, so the frozen table is stream-scanned
    (never exchanged) and only PROBED buckets shuffle — per-batch cost
    never touches the unprobed bulk of the index (bucket counts are
    bucket-local, so capping the probed subset is identical to capping
    the whole table). The broadcast pins the contract that probe
    batches are ADMISSION-sized (≤ millions of band keys); bulk
    reprocessing of a whole corpus is x111's shuffle-join shape, not
    this op's.

    Layout guards: the probe's ``num_hashes``/``bands``/``n``/
    ``hash_family`` MUST match the values the index was built with.
    Plan-folded assertions catch the detectable mismatches loudly —
    an index signature whose length ≠ ``num_hashes`` (zip_with would
    otherwise null-pad and silently deflate n_agree) and index band
    ids outside [0, bands). An index built with FEWER bands than the
    probe (same num_hashes) is structurally indistinguishable from
    "no candidates" — persist the build parameters alongside the index
    (x87-style) and validate at load time.

    100 TB posture: per-batch cost is O(delta × bands) signature rows +
    one equi-join against the bucket table + signature joins keyed on
    doc_id bounded by the candidate count; the corpus is scanned zero
    times. No pairwise anything."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"minhash_probe_frozen: bands={bands} must divide "
            f"num_hashes={num_hashes}"
        )
    if not 1 <= min_agree <= num_hashes:
        raise ValueError(
            f"minhash_probe_frozen: min_agree={min_agree} must be in "
            f"[1, {num_hashes}]"
        )
    if max_bucket < 1:
        raise ValueError("minhash_probe_frozen: max_bucket must be >= 1")
    # ``delta_sigs``: caller-supplied (doc_id, sig) for the SAME delta
    # under the SAME layout params (the admission loop computes them
    # once and shares them with the append verb) — pure-function
    # signatures, so this is a pass-count optimization, not a semantic
    # knob. The length plan-assert below still guards a mismatched
    # table.
    #
    # When NOT caller-supplied, persist(): the delta signature pipeline
    # (scan → shingle explode → minhash agg) has THREE consumers in this
    # plan — the broadcast band-key set, the candidate band join's probe
    # side, and the verification sig join — and without a cut each one
    # re-executes the full pipeline (measured r12: x137's before-plan
    # carried the subtree three times). persist() over localCheckpoint
    # per the ADVICE-r11 mining.py rationale: no extra materialization
    # job, blocks are compute-locked (each partition computed once even
    # under AQE's concurrently-scheduled broadcast sub-jobs), and the
    # ContextCleaner reclaims them when the plan is GC'd.
    dsig = (
        delta_sigs
        if delta_sigs is not None
        else minhash_signatures(delta_docs, n, num_hashes, hash_family).persist()
    )
    dband = band_keys_from_signatures(dsig, num_hashes, bands, hash_family)
    # plan-folded layout guard, applied BEFORE the semi-join (after it a
    # mismatched band id can never survive the join, so the guard would
    # be dead code and the mismatch would read as "no candidates"): an
    # index band id outside [0, bands) means the index was banded
    # differently than this probe. Rides the scan as a projection — no
    # extra pass, no shuffle.
    guarded = index_bands.withColumn(
        "band",
        plan_assert(
            F.col("band"),
            (F.col("band") < 0) | (F.col("band") >= bands),
            "minhash_probe_frozen: index band id ",
            F.col("band").cast("string"),
            f" outside [0, {bands}) — the frozen index was "
            "built with a different band layout",
            cast="int",
        ),
    )
    # only PROBED buckets shuffle: semi-join the frozen table down to
    # the delta's band keys BEFORE the cap window, so the per-batch
    # shuffle is bounded by probed-bucket volume, not index size
    probed = guarded.join(
        F.broadcast(dband.select("band", "band_hash").distinct()),
        ["band", "band_hash"],
        "left_semi",
    )
    bounded = _cap_buckets(probed, max_bucket).drop("_bucket_n")
    cand = (
        dband.alias("d")
        .join(
            bounded.alias("i"),
            (F.col("d.band") == F.col("i.band"))
            & (F.col("d.band_hash") == F.col("i.band_hash")),
        )
        .select(
            F.col("d.doc_id").alias("doc_id"),
            F.col("i.doc_id").alias("match_id"),
        )
        .distinct()
    )

    def _sig_guard(col):
        # an index/delta signature of the wrong length would be silently
        # null-padded by zip_with and deflate n_agree — assert instead
        return plan_assert(
            col,
            F.size(col) != F.lit(num_hashes),
            "minhash_probe_frozen: signature length ",
            F.size(col).cast("string"),
            f" != num_hashes={num_hashes} — the frozen index "
            "was built with different minhash parameters",
        )

    verified = (
        cand.join(
            dsig.select("doc_id", _sig_guard(F.col("sig")).alias("d_sig")),
            "doc_id",
        )
        .join(
            index_sigs.select(
                F.col("doc_id").alias("match_id"),
                _sig_guard(F.col("sig")).alias("m_sig"),
            ),
            "match_id",
        )
        .withColumn(
            "n_agree",
            F.size(
                F.filter(
                    F.zip_with(
                        F.col("d_sig"), F.col("m_sig"), lambda a, b: a == b
                    ),
                    lambda x: x,
                )
            ).cast("long"),
        )
        .where(F.col("n_agree") >= min_agree)
    )
    best = Window.partitionBy("doc_id").orderBy(
        F.desc("n_agree"), F.col("match_id")
    )
    return (
        verified.withColumn("_rk", F.row_number().over(best))
        .where(F.col("_rk") == 1)
        .select(
            "doc_id",
            "match_id",
            "n_agree",
            (F.col("n_agree").cast("double") / F.lit(float(num_hashes))).alias(
                "est_jaccard"
            ),
        )
    )


def _band_bucket(band_buckets: int) -> Column:
    """Stable bucket id for a band key — the bucketed bands layout's
    partition column (pmod(xxhash64(band_hash), N), deterministic, so
    every writer and every probe derive the same placement)."""
    return F.pmod(F.xxhash64(F.col("band_hash")), F.lit(band_buckets)).cast(
        "int"
    )


def save_minhash_index(
    documents: DataFrame,
    path: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_family: str = "md5",
    band_buckets: int = 0,
) -> None:
    """Build and PERSIST the frozen MinHash index under ``path`` — the
    offline half of :func:`minhash_probe_frozen`'s serving story. ONE
    signature pass feeds both tables (bands are derived from the
    signature DataFrame, not re-shingled); three parquet datasets are
    written: ``bands/`` (doc_id, band, band_hash), ``sigs/``
    (doc_id, sig), and ``meta/`` — a single row recording the build
    parameters, so :func:`probe_minhash_index` can NEVER probe with a
    mismatched layout (the structurally-undetectable fewer-bands case
    in the probe docstring is closed by construction here).

    ``band_buckets`` (VERDICT r11 item 4 — the bucketed store layout,
    opt-in): 0 (default) keeps the flat bands layout. N > 0 writes
    ``bands/`` partitioned by ``bbucket = pmod(xxhash64(band_hash), N)``
    so a probe's scan statically prunes to the delta's bucket set (at
    most N integers, collected from the admission-sized delta) — at
    100 TB the per-probe bands read is bounded by the PROBED buckets,
    not the archive, exactly the session store's ``user_buckets``
    design (x166). The layout is pinned in the meta row
    (``band_buckets`` — the layout-version field); every verb derives
    placement from the same deterministic hash, old 4-column metas read
    as ``band_buckets=0``, and :func:`merge_minhash_indexes` refuses a
    layout mismatch (migration path: rebuild via save, or merge into a
    same-layout destination). Default stays flat because bucketing
    multiplies small files below multi-GB index sizes — at sf0.1 the
    whole bands dataset is ~17 MB, and the bucketed probe measured net
    slower: the per-dir open cost and the per-probe bucket collect
    exceed the pruning win. The crossover is where the bands scan
    dominates the probe's fixed costs (multi-GB indexes); the write-up
    is ``git show 92ce187:OPTIMIZATION_r12.md`` (batch 4).
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"save_minhash_index: bands={bands} must divide "
            f"num_hashes={num_hashes}"
        )
    if band_buckets < 0:
        raise ValueError(
            f"save_minhash_index: band_buckets={band_buckets} must be "
            ">= 0 (0 = flat layout)"
        )
    # Rebuild-in-place hygiene (review finding): a stale tombstone set
    # or compaction staging left under ``path`` would corrupt the fresh
    # index — stale ``deletes`` silently hide freshly-saved docs from
    # every probe, and a stale COMMITTED ``_compact`` would roll forward
    # over the new datasets at the next load. Clear both first. Only a
    # local path can hold them (delete/compact refuse remote paths), so
    # the os-level cleanup is correctly skipped for URI schemes.
    if not _URI_SCHEME.match(path):
        shutil.rmtree(f"{path}/_compact", ignore_errors=True)
        shutil.rmtree(f"{path}/deletes", ignore_errors=True)
        # a stale in-flight-append marker from a previous index at this
        # path must not force the fresh index onto the repair path
        try:
            os.remove(f"{path}/_APPEND_PENDING")
        except FileNotFoundError:
            pass
    spark = documents.sparkSession
    from concurrent.futures import ThreadPoolExecutor, wait

    from samba_spark.operators.guards import tiny_df

    def _sigs_then_bands():
        sig = minhash_signatures(documents, n, num_hashes, hash_family)
        sig.write.mode("overwrite").parquet(f"{path}/sigs")
        # derive the band table from the WRITTEN signatures, not the
        # lazy plan — two separate actions on the same plan would
        # shingle and signature the whole corpus twice (review finding;
        # cross-job plans are re-executed, exchange reuse is intra-query
        # only). Schema provided (it is the plan we just wrote) — an
        # unspecified schema costs a footer-inference job per save.
        persisted_sig = spark.read.schema(sig.schema).parquet(f"{path}/sigs")
        band_df = band_keys_from_signatures(
            persisted_sig, num_hashes, bands, hash_family
        )
        if band_buckets > 0:
            band_df.withColumn("bbucket", _band_bucket(band_buckets)) \
                .repartition("bbucket") \
                .write.mode("overwrite").partitionBy("bbucket") \
                .parquet(f"{path}/bands")
        else:
            band_df.write.mode("overwrite").parquet(f"{path}/bands")

    def _meta():
        tiny_df(
            spark,
            [(int(n), int(num_hashes), int(bands), hash_family,
              int(band_buckets))],
            "n int, num_hashes int, bands int, hash_family string, "
            "band_buckets int",
        ).write.mode("overwrite").parquet(f"{path}/meta")

    # the meta write is independent of the sigs→bands chain (disjoint
    # output dirs) — overlap it (guide §2.6) so its fixed job latency
    # hides under the corpus signature pass. A crash mid-save stays
    # loud either way: a partial index is missing at least one of the
    # three datasets and every loader raises on it (save is the build
    # verb — rebuild on failure is its recovery protocol).
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(_sigs_then_bands), pool.submit(_meta)]
        wait(futures)
        for f in futures:
            if f.exception():
                raise f.exception()


def _load_index_meta(spark, path: str) -> dict:
    """The 1-row meta dataset as a dict (one collect job, nothing else
    constructed — building the bands/sigs readers costs a parquet
    schema-inference job each, so meta-only callers must not pay it)."""
    try:
        meta_rows = spark.read.parquet(f"{path}/meta").collect()
    except Exception as exc:
        raise ValueError(
            f"load_minhash_index: {path}/meta is missing or "
            "unreadable — a frozen index must carry its build "
            "parameters (save_minhash_index writes them); probing "
            "with guessed n/num_hashes/bands silently returns no "
            "candidates on mismatch"
        ) from exc
    if len(meta_rows) != 1:
        raise ValueError(
            f"load_minhash_index: expected exactly 1 meta row at "
            f"{path}/meta, found {len(meta_rows)}"
        )
    return meta_rows[0].asDict()


def load_minhash_index(
    spark,
    path: str,
    meta: dict | None = None,
    band_bucket_filter: "list[int] | None" = None,
):
    """(bands_df, sigs_df, meta dict) from a :func:`save_minhash_index`
    directory. Raises with the layout contract spelled out when the
    meta dataset is absent (an index persisted without its build
    parameters cannot be safely probed).

    ``meta``: a meta dict from a PREVIOUS load of the SAME path. The
    meta dataset is immutable after save (append/delete/compact/merge
    never rewrite it — layout parameters cannot change for a live
    index), so a caller that loads the same index repeatedly (the
    admission stream loads once per micro-batch) can skip the per-call
    1-row collect job; bands/sigs/tombstones are still re-read fresh.

    Tombstones: ids recorded by :func:`delete_from_minhash_index` are
    anti-joined out of BOTH returned DataFrames — bands BEFORE any
    downstream bucket cap (so ``_cap_buckets`` counts live rows only,
    exactly as if the deleted docs had never been indexed) and sigs so
    a deleted doc can never verify as a match. An interrupted
    compaction is repaired first (:func:`_recover_compaction`).

    ``band_bucket_filter``: on a bucketed-layout index
    (``save_minhash_index(band_buckets=N)``) restrict the bands scan to
    these bucket ids — a STATIC partition filter, so only the listed
    ``bbucket=`` directories are read (the probe's scale posture at
    100 TB). Ignored (with the same results) on a flat index. The
    returned bands frame always carries exactly
    (doc_id, band, band_hash) whatever the layout."""
    from samba_spark.operators.leases import reject_file_scheme

    reject_file_scheme(path, "load_minhash_index")
    _recover_compaction(path)
    if meta is None:
        meta = _load_index_meta(spark, path)
    # pre-bucketing (4-column) metas read as the flat layout
    meta.setdefault("band_buckets", 0)
    # dataset schemas ride the meta dict (private keys): a reader built
    # WITHOUT a schema pays a parquet footer-inference job per
    # construction, so a per-micro-batch caller (the admission stream
    # re-loads the index every trigger) paid two such jobs per batch
    # for schemas that are immutable for a live index. First load
    # infers and stashes; every meta-reusing load provides them.
    b_schema = meta.get("_bands_schema")
    bands = (
        spark.read.schema(b_schema) if b_schema is not None else spark.read
    ).parquet(f"{path}/bands")
    meta.setdefault("_bands_schema", bands.schema)
    if int(meta["band_buckets"] or 0) > 0:
        if band_bucket_filter is not None:
            # static partition filter: only the listed bbucket= dirs
            # are scanned (plan-asserted in tests)
            bands = bands.where(
                F.col("bbucket").isin([int(b) for b in band_bucket_filter])
            )
        bands = bands.select("doc_id", "band", "band_hash")
    s_schema = meta.get("_sigs_schema")
    sigs = (
        spark.read.schema(s_schema) if s_schema is not None else spark.read
    ).parquet(f"{path}/sigs")
    meta.setdefault("_sigs_schema", sigs.schema)
    deletes = _read_deletes(spark, path)
    if deletes is not None:
        bands = bands.join(deletes, "doc_id", "left_anti")
        sigs = sigs.join(deletes, "doc_id", "left_anti")
    return bands, sigs, meta


def probe_minhash_index(
    spark,
    path: str,
    delta_docs: DataFrame,
    min_agree: int = 13,
    max_bucket: int = 1000,
) -> DataFrame:
    """Admission-control probe against a PERSISTED frozen index: loads
    ``path`` (written by :func:`save_minhash_index`) and runs
    :func:`minhash_probe_frozen` with the layout parameters the index
    was BUILT with — the path-based API that makes a layout mismatch
    impossible rather than merely loud.

    On a bucketed-layout index (``band_buckets`` in meta) the delta is
    signatured FIRST (one eager checkpoint — the same signatures feed
    the probe via ``delta_sigs=``, so no second pass), its band keys'
    bucket set (<= band_buckets integers — metadata-scale) is collected
    driver-side, and the bands load prunes to exactly those partitions:
    the per-probe bands scan is bounded by the PROBED buckets, not the
    index size. Results are identical to the flat layout — pruned-away
    buckets cannot contain the delta's band keys by construction (the
    placement hash is the same deterministic function on both sides),
    and bucket-cap counts are bucket-local so capping the probed subset
    equals capping the whole table (the probe's standing argument)."""
    # meta first (1-row collect, no reader construction) to learn the
    # layout; _recover_compaction runs inside the real load below
    from samba_spark.operators.leases import reject_file_scheme

    reject_file_scheme(path, "probe_minhash_index")
    _recover_compaction(path)
    meta = _load_index_meta(spark, path)
    band_buckets = int(meta.get("band_buckets", 0) or 0)
    delta_sigs = None
    bucket_filter = None
    if band_buckets > 0:
        delta_sigs = minhash_signatures(
            delta_docs,
            int(meta["n"]),
            int(meta["num_hashes"]),
            meta["hash_family"],
        ).localCheckpoint()
        dband = band_keys_from_signatures(
            delta_sigs,
            int(meta["num_hashes"]),
            int(meta["bands"]),
            meta["hash_family"],
        )
        bucket_filter = [
            r[0]
            for r in dband.select(
                _band_bucket(band_buckets).alias("bbucket")
            )
            .distinct()
            .collect()
        ]
    bands_df, sigs_df, meta = load_minhash_index(
        spark, path, meta=meta, band_bucket_filter=bucket_filter
    )
    return minhash_probe_frozen(
        bands_df,
        sigs_df,
        delta_docs,
        n=int(meta["n"]),
        num_hashes=int(meta["num_hashes"]),
        bands=int(meta["bands"]),
        min_agree=min_agree,
        max_bucket=max_bucket,
        hash_family=meta["hash_family"],
        delta_sigs=delta_sigs,
    )


def segment_dedup(
    documents: DataFrame,
    seg_tokens: int = 16,
    max_docs: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide SEGMENT-level exact dedup with document reassembly —
    the RefinedWeb "remove duplicated lines, keep the rest of the
    document" semantic. x1/x2 drop whole documents and x35 only REPORTS
    duplicated spans; this is the third granularity: cut the repeated
    boilerplate out of every document and stitch the remainder back
    together in order.

    Segments are disjoint ``seg_tokens``-token windows of the
    normalized token stream (the fixture corpus has no newlines, so a
    fixed token window plays the role a line break plays on web text —
    the operator's segmentation is positional, which also makes it
    robust to documents that ARE one long line). A segment kept by at
    most ``max_docs`` distinct documents survives; segments above the
    threshold are cut from EVERY document holding them (the RefinedWeb
    rule: boilerplate is removed globally, not deduplicated to one
    winner).

    Returns (doc_id, clean_text, n_segments, n_dropped) ordered by id.

    Scale posture (100 TB): segment explosion is tokens/seg_tokens rows
    (LESS than the shingle explosion x3 already pays); the violator set
    — distinct segments seen in >max_docs documents — is the boilerplate
    population, orders of magnitude smaller than the segment stream, so
    the removal join is a broadcast-able LEFT ANTI on md5 keys (AQE
    picks broadcast when it fits); reassembly is one shuffle keyed by
    doc_id carrying only surviving segments. Three total exchanges, all
    partial-aggregated or anti-join-pruned; nothing quadratic anywhere.
    """
    if seg_tokens < 1:
        raise ValueError(f"segment_dedup: seg_tokens={seg_tokens} must be >= 1")
    if max_docs < 1:
        raise ValueError(f"segment_dedup: max_docs={max_docs} must be >= 1")

    toked, segs = _disjoint_segments(documents, seg_tokens, id_col, text_col)

    # the boilerplate population: segments in > max_docs distinct docs.
    # Exact distinct count on md5 keys — one partial-aggregated shuffle.
    violators = (
        segs.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") > max_docs)
        .select("h")
    )
    kept = segs.join(violators, "h", "left_anti")
    return _reassemble(toked, segs, kept)


def _disjoint_segments(
    documents: DataFrame, seg_tokens: int, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared segmentation half of segment_dedup/decontaminate_spans:
    the tokenized base and the (doc_id, pos, seg, h) disjoint-window
    table."""
    toked = documents.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.split(_normalized(F.col(text_col)), " "), lambda x: x != F.lit("")
        ).alias("_toks"),
    )
    nseg = F.ceil(F.size("_toks") / F.lit(float(seg_tokens))).cast("int")
    # guard the empty document: sequence(0, -1) would DESCEND in Spark
    seg_arr = F.when(F.size("_toks") == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda i: F.array_join(
                F.slice(F.col("_toks"), i * seg_tokens + 1, seg_tokens), " "
            ),
        )
    )
    segs = toked.select(
        "doc_id", F.posexplode(seg_arr).alias("pos", "seg")
    ).withColumn("h", F.md5(F.col("seg")))
    return toked, segs


def _reassemble(
    toked: DataFrame, segs: DataFrame, kept: DataFrame
) -> DataFrame:
    """Shared reassembly half: stitch surviving segments back in
    position order; docs whose every segment was cut come back empty."""
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = segs.groupBy("doc_id").agg(F.count("*").alias("n_segments"))
    base = toked.select("doc_id")
    return (
        base.join(totals, "doc_id", "left")
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_segments"), F.lit(0)).cast("long").alias(
                "n_segments"
            ),
            (
                F.coalesce(F.col("n_segments"), F.lit(0))
                - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("long").alias("n_dropped"),
        )
        .orderBy("doc_id")
    )


def decontaminate_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    seg_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level decontamination with reassembly: cut every disjoint
    ``seg_tokens``-token window of a corpus document whose n-gram
    appears ANYWHERE in the benchmark (stride-1 benchmark windows, so
    MATCHING a full corpus window is alignment-independent), then
    stitch the survivors back in order — x16 only REPORTS benchmark
    overlap; this removes it the way production pretraining pipelines
    scrub eval sets, while keeping the rest of the document (whole-doc
    dropping throws away clean text).

    Removal-granularity contract (ADVICE r8): only FULL disjoint corpus
    windows are compared, so a contaminated span that straddles two
    corpus windows (or sits inside a trailing partial window) without
    covering either fully SURVIVES. Removal is guaranteed only for
    contaminated runs of >= ``2*seg_tokens - 1`` tokens — any such run
    fully covers at least one disjoint window regardless of alignment.
    Cutting corpus windows at stride 1 instead would buy full recall at
    ``seg_tokens``× the corpus explode plus an overlapping-survivor
    reassembly problem; this operator deliberately takes the
    disjoint-window trade (the same one segment_dedup documents).
    When alignment-independent removal down to single-token granularity
    is REQUIRED, use :func:`exact_substring_dedup` (x156): it runs the
    stride-1-windows-plus-coverage-reassembly pipeline this trade
    avoids, and its corpus-vs-corpus machinery composes with a
    benchmark side the same way (union the benchmark in, keep only
    corpus rows of the output).

    Returns (doc_id, clean_text, n_segments, n_dropped) over the CORPUS
    (ordered by id) — the same reassembly contract as segment_dedup.

    Scale posture: the benchmark side explodes stride-1 n-grams (eval
    sets are small — typically ≪1% of corpus); its DISTINCT hash set is
    broadcast-able, so the removal is a map-side LEFT ANTI; corpus-side
    cost is the disjoint-window explode (tokens/seg_tokens rows) plus
    the reassembly shuffle. Nothing pairwise.
    """
    if seg_tokens < 1:
        raise ValueError(
            f"decontaminate_spans: seg_tokens={seg_tokens} must be >= 1"
        )
    toked, segs = _disjoint_segments(corpus, seg_tokens, id_col, text_col)
    bench_toked = benchmark.select(
        F.filter(
            F.split(_normalized(F.col(text_col)), " "), lambda x: x != F.lit("")
        ).alias("_toks"),
    ).where(F.size("_toks") >= seg_tokens)
    bench_grams = bench_toked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - seg_tokens),
                lambda i: F.array_join(
                    F.slice(F.col("_toks"), i + 1, seg_tokens), " "
                ),
            )
        ).alias("seg")
    ).select(F.md5("seg").alias("h")).distinct()
    # a trailing partial corpus window (< seg_tokens tokens) can also be
    # contaminated if it appears verbatim inside the benchmark — but a
    # stride-1 window table at length seg_tokens cannot see shorter
    # spans; the declared contract matches FULL windows only (the same
    # boundary x16's fixed-n overlap counting has).
    # No forced broadcast: typical eval sets fit and AQE picks the
    # broadcast anti-join on its own, but a multi-GB benchmark's
    # stride-1 n-gram set must be allowed to fall back to a shuffle
    # join instead of OOMing the driver (review finding — the same
    # reason segment_dedup's violator anti-join is unhinted)
    kept = segs.join(bench_grams, "h", "left_anti")
    return _reassemble(toked, segs, kept)


def exact_substring_dedup(
    corpus: DataFrame,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring deduplication at the Lee et al. 2022 semantic
    ("Deduplicating Training Data Makes Language Models Better",
    the ExactSubstr / suffix-array standard for pretraining dedup):
    every token position covered by SOME ``min_tokens``-token window
    whose normalized text occurs MORE THAN ONCE in the entire corpus is
    cut, and the surviving tokens are stitched back in order. x132's
    winnowing APPROXIMATES this with sampled fingerprints; this is the
    exact form — stride-1 windows on the corpus itself, so removal is
    alignment-independent down to single-token granularity (unlike
    decontaminate_spans' disjoint-window trade): a duplicated run of
    exactly ``min_tokens`` tokens is removed wherever it sits.

    Variant note (documented deviation): the published ExactSubstr
    keeps ONE canonical occurrence of each duplicated substring; that
    needs a global survivor election per duplicate CLASS, and
    overlapping classes make the survivor set order-dependent. This
    operator removes ALL occurrences — the conservative variant several
    production pipelines run — so the output is a pure function of the
    corpus with no tie-break policy to pin. Docs shorter than
    ``min_tokens`` tokens have no windows and pass through untouched.

    Returns (doc_id, clean_text, n_tokens, n_removed), ordered by id.

    Spark-first shape instead of a suffix array: a suffix array is a
    single-machine construction; the distributed equivalent of "find
    every substring of length >= L occurring twice" is (1) stride-1
    window hashes — n_tokens rows, one narrow md5 per window, (2) ONE
    partial-aggregated count per distinct window hash (the duplicated
    set: count > 1), (3) an inner join of each doc's windows against
    that set (skew-safe: the set is typically tiny relative to the
    corpus and AQE broadcasts it when it fits), (4) per-doc interval
    coverage via sequence-explode of ONLY the duplicated windows
    (bounded by L x duplicated positions, not L x corpus), (5) LEFT
    ANTI of token positions against covered positions, (6) the shared
    reassembly shuffle. Every stage is linear in tokens; nothing is
    pairwise; the only L-factor inflation rides the DUPLICATED subset.

    Plan note (.explain audit): as one lazy plan the corpus parquet is
    scanned 4× (tokens / windows / totals / the duplicated-set count),
    each column-pruned to (doc_id, text). At 100 TB a production
    pipeline materializes the tokenized corpus once (one scan + one
    write) and feeds all four branches from it — pass the pre-tokenized
    DataFrame as ``corpus`` with ``text_col`` pointing at a
    space-joined token column and the operator composes unchanged.
    """
    if min_tokens < 1:
        raise ValueError(
            f"exact_substring_dedup: min_tokens={min_tokens} must be >= 1"
        )
    toks, tokens, n_tok, wins = _substring_windows(
        corpus, min_tokens, id_col, text_col
    )
    # the duplicated-window set: global occurrence count > 1 (same doc
    # twice counts — a self-repeat is a duplicate too, per the paper)
    dup_h = (
        wins.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
        .select("h")
    )
    dup_wins = wins.join(dup_h, "h").select("doc_id", "wpos")
    covered = dup_wins.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("wpos"), F.col("wpos") + F.lit(min_tokens - 1))
        ).alias("pos"),
    ).distinct()
    return _coverage_reassemble(tokens, n_tok, covered)


def _substring_windows(
    corpus: DataFrame, min_tokens: int, id_col: str, text_col: str
):
    """Shared front half of the ExactSubstr family: normalize/tokenize,
    and derive the three views every variant needs — (doc_id, pos, tok)
    token table, (doc_id, n_tokens) totals, and the stride-1 window
    hash table (doc_id, wpos, h) for wpos in [0, n - L]."""
    toks = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.split(_normalized(F.col(text_col)), " "), lambda x: x != F.lit("")
        ).alias("_toks"),
    )
    tokens = toks.select(
        "doc_id", F.posexplode("_toks").alias("pos", "tok")
    )
    n_tok = toks.select(
        "doc_id", F.size("_toks").cast("long").alias("n_tokens")
    )
    wins = toks.where(F.size("_toks") >= min_tokens).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - min_tokens),
                lambda i: F.md5(
                    F.array_join(F.slice(F.col("_toks"), i + 1, min_tokens), " ")
                ),
            )
        ).alias("wpos", "h"),
    )
    return toks, tokens, n_tok, wins


def _coverage_reassemble(
    tokens: DataFrame, n_tok: DataFrame, covered: DataFrame
) -> DataFrame:
    """Shared back half: LEFT ANTI token positions against the covered
    set, stitch survivors in order, report per-doc removal counts."""
    kept = tokens.join(covered, ["doc_id", "pos"], "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        n_tok.join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_tokens",
            (
                F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("long").alias("n_removed"),
        )
        .orderBy("doc_id")
    )


def exact_substring_keep_one(
    corpus: DataFrame,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The PUBLISHED ExactSubstr semantic (Lee et al. 2022, VERDICT r9
    item 7): where :func:`exact_substring_dedup` removes ALL
    occurrences of every duplicated ``min_tokens``-token window, this
    variant elects ONE canonical occurrence per duplicate window class
    and removes only the others — the corpus keeps exactly one copy of
    each duplicated substring instead of zero.

    Tie-break (pinned, the whole point of the variant): the canonical
    occurrence of a window-hash class is its lowest (doc_id, wpos) —
    deterministic, repartition-stable, and identically expressible in
    SQL (ROW_NUMBER over the class ordered by doc_id, wpos). Overlap
    caveat, documented rather than hidden: duplicate classes OVERLAP
    (a duplicated run of R > L tokens is R-L+1 classes), and a
    canonical window's tokens can still be removed when a DIFFERENT
    class's non-canonical occurrence covers them — the guarantee is
    per-class (one occurrence's positions are exempt from ITS class's
    coverage), not a global "longest duplicated run survives
    somewhere" guarantee, which would need the suffix-array global
    view this distributed shape deliberately avoids. For a duplicated
    run shorter than 2L that sits in the lowest-(doc_id, wpos) doc,
    per-class and global coincide — asserted in tests.

    Same returns and scale posture as :func:`exact_substring_dedup`;
    the one extra stage is a ROW_NUMBER window over the DUPLICATED
    window occurrences only (keyed by class hash — bounded by the
    duplicated subset, never the corpus)."""
    if min_tokens < 1:
        raise ValueError(
            f"exact_substring_keep_one: min_tokens={min_tokens} must be >= 1"
        )
    toks, tokens, n_tok, wins = _substring_windows(
        corpus, min_tokens, id_col, text_col
    )
    # rank 1 within a class is the canonical occurrence, so ranks > 1
    # are exactly the non-canonical occurrences to remove (a count over
    # an orderBy'd window would be a RUNNING count, not the class size)
    by_class = Window.partitionBy("h").orderBy("doc_id", "wpos")
    # pre-filter to DUPLICATED classes BEFORE the window (ADVICE r10:
    # ranking ALL stride-1 occurrences keys a corpus-scale exchange;
    # the class-size count is one partial aggregate, and joining wins
    # against the cnt>1 set — exact_substring_dedup's own shape —
    # bounds the row_number input by the duplicated subset, which is
    # what the scale-posture docstring advertises)
    dup_h = (
        wins.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
        .select("h")
    )
    dup_occurrences = (
        wins.join(dup_h, "h")
        .withColumn("_rk", F.row_number().over(by_class))
        .where(F.col("_rk") > 1)
        .select("doc_id", "wpos")
    )
    covered = dup_occurrences.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("wpos"), F.col("wpos") + F.lit(min_tokens - 1))
        ).alias("pos"),
    ).distinct()
    return _coverage_reassemble(tokens, n_tok, covered)


@single_writer("append_minhash_index", "path")
def append_minhash_index(
    documents: DataFrame,
    path: str,
    sigs: DataFrame | None = None,
    meta: dict | None = None,
) -> int:
    """Incremental maintenance of a persisted MinHash index — the
    missing third verb of the serving loop (save → probe → APPEND):
    admission control without index maintenance forces a full rebuild
    every ingestion window, which at 100 TB means re-shingling the
    whole corpus to add a day's delta. This signatures ONLY the new
    documents with the layout parameters the index was built with
    (read from meta — a mismatched append would silently never match)
    and parquet-APPENDS their sigs and band keys; the next probe sees
    the union index with no rebuild.

    Documents whose doc_id is already indexed are skipped (left-anti
    against the persisted ids), so re-ingesting an overlapping batch is
    idempotent. Returns the number of documents appended.

    ``sigs`` (optional): an already-computed (doc_id, sig) table for
    ``documents``, BUILT WITH THE INDEX'S OWN LAYOUT PARAMS — the
    admission loop's probe signatures the batch with exactly those
    params (probe_minhash_index reads them from meta), so passing them
    here skips a redundant second shingle+signature pass per batch.
    Signatures are a pure function of (text, layout); results are
    identical either way.

    SINGLE WRITER REQUIRED (ADVICE r9): the crash-retry protocol below
    guards a sequential retry, not concurrent writers — two processes
    appending the same path can both pass the doc_id anti-joins and
    double-append sigs/bands, and duplicate band rows inflate
    ``_cap_buckets`` counts, silently dropping legitimate buckets near
    ``max_bucket``. ENFORCED since round 11 (VERDICT r10 item 3) for
    local paths via the ``_LEASE`` marker (leases.single_writer — a
    second concurrent verb fails loudly with LeaseHeldError at entry);
    a REMOTE index path cannot hold a posix lease, so remote appends
    keep the documented serialize-externally contract
    (``run_admission_stream``'s foreachBatch is serial by
    construction). At 100 TB the store would sit behind a table format
    whose commit protocol (Delta/Iceberg optimistic transactions)
    enforces this; the plain-parquet store enforces it locally and
    documents it remotely.

    Scale posture: the delta is signatured once (localCheckpoint) and
    feeds both appends; the only corpus-scale read is the column-pruned
    doc_id scan for the idempotence anti-join. Bucket caps stay
    correct: probes cap (band, band_hash) buckets over the LOADED union
    table, so accumulation across appends behaves exactly like a
    one-shot build (asserted by the x158 oracle, which replays the
    union corpus in one pass)."""
    from samba_spark.operators.leases import reject_file_scheme

    reject_file_scheme(path, "append_minhash_index")
    spark = documents.sparkSession
    # Repair an interrupted compaction FIRST (review finding): without
    # this, an append after a committed-but-unswapped compact anti-joins
    # against the STALE live datasets and appends there — and the next
    # verb's roll-forward then erases the acknowledged batch forever.
    # With it, the roll-forward happens here, before the anti-joins.
    _recover_compaction(path)
    # meta + the two ID columns only — loading the full bands DataFrame
    # here (review finding) paid a corpus-scale dataset listing per
    # append just to discard it; both scans below are column-pruned to
    # doc_id.
    if meta is None:
        # ``meta`` pass-through (same contract as load_minhash_index:
        # the meta dataset is immutable after save, so a per-batch
        # caller that already holds it skips this 1-row collect job —
        # it also serves as the "is this an index?" guard, which the
        # default path keeps).
        meta_rows = spark.read.parquet(f"{path}/meta").collect()
        if len(meta_rows) != 1:
            raise ValueError(
                f"append_minhash_index: expected exactly 1 meta row at "
                f"{path}/meta, found {len(meta_rows)}"
            )
        meta = meta_rows[0].asDict()
    # schema pass-through (same contract as load_minhash_index): a
    # meta dict from a previous load carries the immutable dataset
    # schemas, skipping this reader's footer-inference job per batch
    s_schema = meta.get("_sigs_schema")
    sig_ids = (
        spark.read.schema(s_schema) if s_schema is not None else spark.read
    ).parquet(f"{path}/sigs").select("doc_id")
    if sigs is not None:
        # Signature-reuse path (the x159 admission loop: the probe just
        # signatured this batch with the index's own layout params —
        # signatures are a pure function of (text, layout), so
        # recomputing them here was a whole second shingle+md5 pass per
        # batch). Restrict to the documents offered AND not yet indexed;
        # the crash-safety protocol below is unchanged.
        #
        # Layout guards (ADVICE r11, medium): a caller-supplied table is
        # TRUSTED INPUT TO A PERSISTED STORE — a wrong-length signature
        # would derive band keys via F.slice over a short array and
        # append permanently-unmatchable rows, and an offered doc absent
        # from ``sigs`` would be silently dropped (admitted by the
        # caller, never indexed). Both now fail loudly, plan-folded onto
        # the join (no extra pass): the LEFT join surfaces missing docs
        # as NULL sigs for the inner assert; the outer assert checks the
        # length exactly where minhash_probe_frozen guards its own.
        num_hashes = int(meta["num_hashes"])
        guarded_sig = plan_assert(
            plan_assert(
                F.col("sig"),
                F.col("sig").isNull(),
                "append_minhash_index: offered doc_id ",
                F.col("doc_id").cast("string"),
                " has no row in the caller-supplied sigs= table — every "
                "offered document must carry a signature",
            ),
            F.size(F.col("sig")) != F.lit(num_hashes),
            "append_minhash_index: caller-supplied signature length ",
            F.size(F.col("sig")).cast("string"),
            f" != num_hashes={num_hashes} — sigs= must be built with "
            "the index's own layout parameters",
        )
        sig = (
            # distinct: the old semi-join form was insensitive to a
            # caller offering the same doc_id twice in one batch; the
            # left join must stay so too (a dup would double-append)
            documents.select("doc_id")
            .distinct()
            .join(sigs.select("doc_id", "sig"), "doc_id", "left")
            .select("doc_id", guarded_sig.alias("sig"))
            .join(sig_ids, "doc_id", "left_anti")
            .localCheckpoint(eager=False)
        )
    else:
        fresh = documents.join(sig_ids, "doc_id", "left_anti")
        sig = minhash_signatures(
            fresh, int(meta["n"]), int(meta["num_hashes"]), meta["hash_family"]
        ).localCheckpoint(eager=False)
    # lazy cut + count fusion: this count materializes the delta
    # signatures in one job; the band derivation and both appends below
    # re-read the persisted blocks
    n_new = sig.count()
    if n_new == 0:
        return 0
    # Crash-safety protocol — bands FIRST, sigs LAST, band append
    # itself idempotent:
    # * sigs is the batch-commit marker (the idempotence anti-join
    #   above), so a crash between the appends leaves the batch
    #   LOOKING un-ingested and the retry repairs it.
    # * the retry must NOT re-append band rows for docs whose (fully
    #   deterministic, hence complete) band rows survived the crash:
    #   duplicate rows would inflate _cap_buckets counts and silently
    #   drop legitimate buckets near the max_bucket cap (review
    #   finding — the probe's DISTINCT collapses candidates, not cap
    #   counts). The doc_id-pruned anti-join below keeps only docs
    #   with no band rows at all.
    # * the reverse order (sigs first) would strand sigs-without-bands:
    #   silently unmatchable forever, with the anti-join blocking the
    #   repair.
    #
    # r12: the band anti-join is a CORPUS-SCALE distinct (16 band rows
    # per indexed doc shuffled down to doc_ids) paid on EVERY append,
    # yet it filters rows only on the retry AFTER a crash between the
    # two writes. The ``_APPEND_PENDING`` marker (created before the
    # bands write, removed after sigs lands) witnesses exactly that
    # crash window: no marker ⇒ every doc with band rows also has sig
    # rows ⇒ the sig anti-join above already excluded them ⇒ the band
    # anti-join is provably vacuous and is SKIPPED. A marker found at
    # entry means SOME append once died between its writes — possibly
    # for docs never re-offered — so the marker is STICKY: every later
    # append keeps the repair anti-join until a compact reconciles
    # bands against sigs (compact_minhash_index clears it). Remote
    # paths cannot hold a driver-side marker and keep the
    # unconditional anti-join; merge_minhash_indexes (the other
    # bands-first writer) maintains the same marker. Same
    # single-writer lease as the writes, so no marker races.
    delta_bands = band_keys_from_signatures(
        sig, int(meta["num_hashes"]), int(meta["bands"]), meta["hash_family"]
    )
    pending = f"{path}/_APPEND_PENDING"
    local = not _URI_SCHEME.match(path)
    entered_dirty = os.path.exists(pending) if local else True
    if entered_dirty:
        band_ids = (
            spark.read.parquet(f"{path}/bands").select("doc_id").distinct()
        )
        delta_bands = delta_bands.join(band_ids, "doc_id", "left_anti")
    if local and not entered_dirty:
        with open(pending, "w") as fh:
            fh.write("append in flight\n")
    band_buckets = int(meta.get("band_buckets", 0) or 0)
    if band_buckets > 0:
        # bucketed layout: the delta's band rows land in their
        # deterministic bbucket= partitions (append never reshuffles
        # existing data); placement hash identical to save/probe
        delta_bands.withColumn("bbucket", _band_bucket(band_buckets)) \
            .write.mode("append").partitionBy("bbucket") \
            .parquet(f"{path}/bands")
    else:
        delta_bands.write.mode("append").parquet(f"{path}/bands")
    sig.write.mode("append").parquet(f"{path}/sigs")
    if local and not entered_dirty:
        os.remove(pending)
    return int(n_new)


def _require_local_index_path(path: str, verb: str) -> None:
    """The tombstone/compaction maintenance verbs do driver-side
    filesystem surgery (os.path probes, shutil/os.replace swaps) that
    only works on a LOCAL index path. The read/serve verbs
    (save/load/probe/append) go through Spark readers and work on any
    Hadoop URI — and because delete/compact refuse non-local paths, a
    remote index can never hold tombstones or staging, so the local
    os.path probes in _read_deletes/_recover_compaction returning
    "nothing there" are CORRECT for remote paths (review finding:
    without this guard, a delete against s3a:// would record tombstones
    via Spark but never apply them — a silent right-to-be-forgotten
    failure). ``file://`` is rejected too (ADVICE r10): Spark resolves
    the scheme but the driver-side os.path probes / rmtree / os.replace
    here treat the string literally, so a file:// index would hit the
    exact silent-tombstone failure the guard exists to close — pass the
    plain posix path instead. At 100 TB these verbs belong behind a
    table format's metadata transaction; this plain-parquet store
    refuses loudly instead."""
    from samba_spark.operators.leases import require_plain_local_path

    require_plain_local_path(
        path,
        verb,
        "index maintenance (tombstones/compaction)",
        "rebuild via save_minhash_index to a fresh path, or host the "
        "index on a local/posix mount",
    )


def _read_deletes(spark, path: str):
    """The tombstone set (doc_id) under ``path``/deletes, or None when
    no delete has ever been recorded (the common case — checked with
    one os.path probe, not a try/except scan, so the fast path costs
    no Spark job)."""
    if not os.path.isdir(f"{path}/deletes"):
        return None
    return spark.read.parquet(f"{path}/deletes").select("doc_id").distinct()


def _recover_compaction(path: str) -> None:
    """Repair an interrupted :func:`compact_minhash_index` — called by
    every verb before touching the index. The compaction protocol
    writes the full replacement datasets under ``_compact/`` and only
    then creates ``_compact/_COMMIT``; recovery is therefore a pure
    state-machine read:

    * ``_compact`` present WITHOUT the marker → the rewrite died before
      commit: the live datasets are untouched and authoritative — roll
      BACK (drop ``_compact``).
    * ``_compact`` present WITH the marker → the swap died mid-flight:
      the replacement datasets are complete and authoritative — roll
      FORWARD (finish the swap exactly as compact would have).

    At 100 TB this protocol is what a table format's metadata commit
    does transactionally (Delta/Iceberg snapshot swap); the
    plain-parquet store mirrors it with a marker file + deterministic
    replay, same single-writer requirement as append."""
    staging = f"{path}/_compact"
    if not os.path.isdir(staging):
        return
    if not os.path.exists(f"{staging}/_COMMIT"):
        shutil.rmtree(staging, ignore_errors=True)
        return
    _finish_compaction_swap(path)


def _finish_compaction_swap(path: str) -> None:
    """Roll the committed ``_compact`` staging into place. Each step is
    idempotent (guarded by existence checks), so a crash anywhere in
    this sequence is repaired by simply running it again."""
    staging = f"{path}/_compact"
    for name in ("sigs", "bands"):
        new = f"{staging}/{name}"
        live = f"{path}/{name}"
        if os.path.isdir(new):
            shutil.rmtree(live, ignore_errors=True)
            os.replace(new, live)
    shutil.rmtree(f"{path}/deletes", ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)


@single_writer("delete_from_minhash_index", "path")
def delete_from_minhash_index(spark, path: str, doc_ids) -> int:
    """Index lifecycle verb 4 of 5 (save → probe → append → DELETE →
    compact): tombstone documents out of a persisted MinHash index —
    the takedown / right-to-be-forgotten path a 100 TB daily-append
    store hits first (VERDICT r9 item 2). ``doc_ids`` is a DataFrame
    with a ``doc_id`` column or a plain iterable of ids.

    Semantics: O(delete-size) tombstones, not a corpus rewrite — ids
    are appended to ``path``/deletes and every subsequent load/probe
    anti-joins them out of both bands (BEFORE the bucket cap, so cap
    counts see live rows only) and sigs. Physical removal happens at
    :func:`compact_minhash_index`, which rewrites the datasets without
    the tombstoned rows and clears the tombstone set.

    Only ids actually present in the index (and not already
    tombstoned) are recorded — the tombstone set stays a subset of the
    physical doc_ids, so compact can always clear it completely.
    Returns the number of ids newly tombstoned; re-deleting the same
    ids (or deleting absent ids) is an idempotent 0.

    A DELETED id cannot be re-appended until a compact physically
    removes its rows: :func:`append_minhash_index` skips ids present
    in the PHYSICAL sigs dataset (its anti-join is what makes retry
    idempotent), and weakening it to "live ids" would double-append
    band rows and corrupt the bucket-cap counts. delete → compact →
    append is the supported re-ingestion sequence.

    Single-writer, same as append (ADVICE r9): concurrent deleters
    could both pass the already-tombstoned anti-join and append
    duplicate tombstone rows — harmless for probe correctness (the
    tombstone set is read DISTINCT) but unbounded growth. ENFORCED
    since round 11: the ``_LEASE`` marker (leases.single_writer) makes
    a concurrent verb fail loudly at entry instead.
    """
    from samba_spark.operators.guards import tiny_df

    _require_local_index_path(path, "delete_from_minhash_index")
    _recover_compaction(path)
    if not isinstance(doc_ids, DataFrame):
        ids_df = tiny_df(
            spark, [(int(i),) for i in doc_ids], "doc_id long"
        )
    else:
        ids_df = doc_ids.select(F.col("doc_id").cast("long"))
    ids_df = ids_df.distinct()
    # tombstone only ids physically present and not already tombstoned
    present = spark.read.parquet(f"{path}/sigs").select("doc_id")
    fresh = ids_df.join(present, "doc_id", "left_semi")
    existing = _read_deletes(spark, path)
    if existing is not None:
        fresh = fresh.join(existing, "doc_id", "left_anti")
    # lazy cut + count fusion (one job instead of checkpoint-then-count
    # two): the count materializes every partition, and the write below
    # re-reads the persisted blocks
    fresh = fresh.localCheckpoint(eager=False)
    n = fresh.count()
    if n == 0:
        return 0
    fresh.write.mode("append").parquet(f"{path}/deletes")
    return n


@single_writer("compact_minhash_index", "path")
def compact_minhash_index(spark, path: str, target_files: int = 8) -> dict:
    """Index lifecycle verb 5 of 5: rewrite a persisted MinHash index's
    sigs/bands into a bounded file count with tombstoned rows
    physically removed, then clear the tombstone set — closing the two
    operational walls of the append-only design (VERDICT r9 item 2):
    ``append_minhash_index`` accumulates one parquet file per batch
    forever (a year of daily appends = 365 files whose footers every
    probe lists), and tombstones accumulate an anti-join cost on every
    probe. ``probe(compact(I)) ≡ probe(I)`` — the shared x161 oracle
    replays the live corpus in one pass and must be indistinguishable.

    Protocol (crash-safe; see :func:`_recover_compaction` for the
    recovery state machine — roll back before the ``_COMMIT`` marker
    exists, roll forward after):

    1. write live rows (physical minus tombstones), repartitioned to
       ``target_files``, under ``_compact/sigs`` and ``_compact/bands``
    2. create ``_compact/_COMMIT`` — the commit point
    3. swap each dataset into place (idempotent), drop ``deletes``,
       drop ``_compact``

    The repartition is a full shuffle of the index datasets — this is
    a scheduled-maintenance verb, amortized across the appends since
    the last compact, exactly like a table format's OPTIMIZE. meta is
    untouched (layout parameters never change). Single-writer, lease-enforced same as
    append. Returns {files_before, files_after, rows_removed, live
    docs} for the maintenance log."""
    if target_files < 1:
        raise ValueError(
            f"compact_minhash_index: target_files={target_files} must be >= 1"
        )
    _require_local_index_path(path, "compact_minhash_index")
    _recover_compaction(path)
    staging = f"{path}/_compact"

    def _nfiles(name: str) -> int:
        # count every data file, whatever its suffix (VERDICT r10:
        # a *.parquet glob reads 0 for .snappy.parquet-style layouts);
        # recursive so bucketed layouts (bbucket= partition dirs) count
        # files, not directories
        d = f"{path}/{name}"
        if not os.path.isdir(d):
            return 0
        n = 0
        for root, dirs, files in os.walk(d):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            n += sum(1 for f in files if not f.startswith(("_", ".")))
        return n

    files_before = {n: _nfiles(n) for n in ("sigs", "bands")}
    # the physical-row count for the rows_removed metric rides the sigs
    # staging rewrite as an Observation (CollectMetrics above the scan,
    # below the tombstone anti-join) instead of a separate full pass
    # over the fragmented pre-compact dataset
    from pyspark.sql import Observation

    obs = Observation()
    sigs = spark.read.parquet(f"{path}/sigs").observe(
        obs, F.count(F.lit(1)).alias("n_sig_rows")
    )
    bands = spark.read.parquet(f"{path}/bands")
    deletes = _read_deletes(spark, path)
    live_sigs, live_bands = sigs, bands
    if deletes is not None:
        live_sigs = sigs.join(deletes, "doc_id", "left_anti")
        live_bands = bands.join(deletes, "doc_id", "left_anti")
    # a sticky _APPEND_PENDING marker (an append/merge once died between
    # its bands and sigs writes — see append_minhash_index) is healed
    # HERE: reconciling the bands rewrite against the physical sig ids
    # drops any stranded bands-without-sigs rows (which could never
    # verify as matches but did inflate bucket-cap counts), after which
    # the marker clears and appends regain their anti-join-free fast
    # path. Normal-path compacts (no marker) skip the extra join
    # entirely. Fresh read for the semi side — the observed ``sigs``
    # plan must stay single-consumer or the metric double-fires.
    pending = f"{path}/_APPEND_PENDING"
    reconcile = os.path.exists(pending)
    if reconcile:
        live_bands = live_bands.join(
            spark.read.parquet(f"{path}/sigs").select("doc_id"),
            "doc_id",
            "left_semi",
        )
    # The two staging rewrites are independent jobs on disjoint output
    # dirs (sigs and bands never read each other) — overlap them from a
    # 2-thread pool (guide §2.6) so the second rewrite back-fills the
    # executor slots the first's stage tail leaves idle. The _COMMIT
    # marker is only written after BOTH futures resolve, so the
    # crash-safety protocol is unchanged.
    from concurrent.futures import ThreadPoolExecutor, wait

    def _stage(df, name):
        if name == "bands" and "bbucket" in df.columns:
            # bucketed layout (sniffed from the partition column — no
            # extra meta job): rewrite each bucket to one file; the
            # whole-directory swap below is layout-agnostic
            df.repartition("bbucket").write.mode("overwrite").partitionBy(
                "bbucket"
            ).parquet(f"{staging}/{name}")
        else:
            df.repartition(target_files).write.mode("overwrite").parquet(
                f"{staging}/{name}"
            )

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = {
            "sigs": pool.submit(_stage, live_sigs, "sigs"),
            "bands": pool.submit(_stage, live_bands, "bands"),
        }
        # wait for BOTH before raising (ADVICE r11): fs.result() alone
        # would swallow a concurrent bands failure — crash-safety holds
        # either way (_COMMIT unwritten → rollback), but a dual failure
        # must report both causes for diagnosability
        wait(futures.values())
        errs = {n: f.exception() for n, f in futures.items() if f.exception()}
        if errs:
            if len(errs) == 1:
                raise next(iter(errs.values()))
            raise RuntimeError(
                "compact_minhash_index: both staging rewrites failed — "
                + "; ".join(f"{n}: {e!r}" for n, e in errs.items())
            ) from errs["sigs"]
    # commit point: from here recovery rolls FORWARD
    with open(f"{staging}/_COMMIT", "w") as fh:
        fh.write("committed\n")
    _finish_compaction_swap(path)
    if reconcile:
        # bands now provably ⊆ sigs: appends regain the fast path. A
        # crash before this line leaves the marker set — conservative
        # (appends keep repairing), never wrong.
        os.remove(pending)
    n_sig_rows = int(obs.get["n_sig_rows"])
    n_live = spark.read.parquet(f"{path}/sigs").count()
    return {
        "files_before": files_before,
        "files_after": {n: _nfiles(n) for n in ("sigs", "bands")},
        "rows_removed": n_sig_rows - n_live,
        "live_docs": n_live,
    }


@single_writer("merge_minhash_indexes", "dest_path", "src_path")
def merge_minhash_indexes(spark, dest_path: str, src_path: str) -> int:
    """Index lifecycle verb 6: MERGE one persisted MinHash index into
    another WITHOUT re-signaturing — the distributed-build pattern a
    100 TB corpus actually uses: shard builders run
    :func:`save_minhash_index` independently (each shard is one
    embarrassingly-parallel job over its documents), then the serving
    index absorbs each shard's PERSISTED sigs/bands. Re-ingesting the
    shard's documents through :func:`append_minhash_index` would
    re-shingle and re-hash everything; this verb moves the already-
    computed rows.

    Layout safety: both metas must agree on (n, num_hashes, bands,
    hash_family) — merging mismatched layouts would produce an index
    whose rows silently never co-bucket; refused loudly.

    Semantics: the source's LIVE rows (its tombstones applied) whose
    doc_ids are not already in the destination are appended — so
    re-merging the same shard is idempotent, and shard builders using
    disjoint doc_id spaces get a true union. The destination's own
    tombstones are untouched (a doc deleted from dest stays deleted
    even if the shard carries it: dest's deletes/ filter applies at
    every load, and append-blocked ids are physically present — the
    same delete→compact→append contract as ingestion). Crash safety:
    the destination append follows append_minhash_index's bands-FIRST
    protocol (sigs are the commit marker; retried merges repair a
    band-only crash via the per-dataset anti-joins). Single-writer:
    BOTH paths are lease-held for the merge (the source's interrupted
    compactions are repaired first, which mutates it); loud-failure
    acquisition means two crossing merges cannot deadlock — one loses
    with LeaseHeldError.

    Returns the number of documents merged in.
    """
    _require_local_index_path(dest_path, "merge_minhash_indexes(dest)")
    _require_local_index_path(src_path, "merge_minhash_indexes(src)")
    _recover_compaction(dest_path)
    _recover_compaction(src_path)

    def _meta(path):
        rows = spark.read.parquet(f"{path}/meta").collect()
        if len(rows) != 1:
            raise ValueError(
                f"merge_minhash_indexes: expected exactly 1 meta row at "
                f"{path}/meta, found {len(rows)}"
            )
        meta = rows[0].asDict()
        # pre-bucketing (4-column) metas read as the flat layout, so an
        # old index merges cleanly with a new flat-layout one
        meta.setdefault("band_buckets", 0)
        meta["band_buckets"] = int(meta["band_buckets"] or 0)
        return meta

    dmeta, smeta = _meta(dest_path), _meta(src_path)
    if dmeta != smeta:
        raise ValueError(
            "merge_minhash_indexes: layout mismatch — dest "
            f"{dmeta} vs src {smeta}; rows from mismatched layouts "
            "would silently never co-bucket (band_buckets included: "
            "mixed bands file layouts under one dataset are unreadable)"
        )
    src_bands, src_sigs, _ = load_minhash_index(spark, src_path)
    dest_ids = spark.read.parquet(f"{dest_path}/sigs").select("doc_id")
    # lazy cut + count fusion (one job; the appends re-read the blocks)
    fresh_sigs = src_sigs.join(
        dest_ids, "doc_id", "left_anti"
    ).localCheckpoint(eager=False)
    n_new = fresh_sigs.count()
    if n_new == 0:
        return 0
    fresh_bands = src_bands.join(
        fresh_sigs.select("doc_id"), "doc_id", "left_semi"
    )
    # same _APPEND_PENDING protocol as append_minhash_index (merge is
    # the other bands-first writer): the dest band anti-join is only a
    # crash-retry repair, skipped while the store has never crashed
    # mid-append (dest is require-local, so the marker always applies)
    pending = f"{dest_path}/_APPEND_PENDING"
    entered_dirty = os.path.exists(pending)
    if entered_dirty:
        dest_band_ids = (
            spark.read.parquet(f"{dest_path}/bands")
            .select("doc_id")
            .distinct()
        )
        fresh_bands = fresh_bands.join(dest_band_ids, "doc_id", "left_anti")
    else:
        with open(pending, "w") as fh:
            fh.write("merge append in flight\n")
    if dmeta["band_buckets"] > 0:
        fresh_bands = fresh_bands.withColumn(
            "bbucket", _band_bucket(dmeta["band_buckets"])
        )
        fresh_bands.write.mode("append").partitionBy("bbucket").parquet(
            f"{dest_path}/bands"
        )
    else:
        fresh_bands.write.mode("append").parquet(f"{dest_path}/bands")
    fresh_sigs.write.mode("append").parquet(f"{dest_path}/sigs")
    if not entered_dirty:
        os.remove(pending)
    return int(n_new)
