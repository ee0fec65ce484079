"""Vector similarity search over an embedding column (array<float>).

Two paths, per SURVEY.md §2.3 north-star table:

- ``cosine_topk`` — exact brute force: broadcast the (small) query set,
  score every corpus vector with a pure-Catalyst dot product
  (``F.aggregate``/``zip_with`` — no Python in the loop), take top-k per
  query with a window. At 100 TB this is the partition-local-topk-then-merge
  pattern: the window's partial TakeOrderedAndProject keeps only k rows per
  partition before the final merge.
- ``lsh_ann_topk`` — approximate: random-hyperplane LSH (sign bits of dot
  products against seeded deterministic planes) buckets the corpus; only the
  query's bucket (optionally ± multi-probe neighbors) is scored. The scale
  path: bucket key is a shuffle-friendly int, bucket population is
  controllable by the number of planes.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from samba_spark.operators.guards import plan_assert


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, strictly left-to-right — deterministic
    and whole-stage-codegen'd."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _dim_guard(col: Column, ndim: int, msg: str) -> Column:
    """Plan-folded dimension assertion (guards.plan_assert): passes
    ``col`` through unchanged when its array length is ``ndim``, raises
    at execution time otherwise. A mismatched vector would otherwise
    read past the quantizer constants (ANSI element_at error) or
    silently truncate. ``msg`` is the operator-specific suffix appended
    after the observed dimension."""
    return plan_assert(
        col,
        F.size(col) != F.lit(ndim),
        "embedding dimension ",
        F.size(col).cast("string"),
        " " + msg,
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k by cosine. ``queries``: (query_id, q_embedding).
    Rounds similarity *before* ranking so ranking is stable across engines
    and summation orders; ties broken by vec_id."""
    scored = embeddings.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("q_embedding"), F.col("embedding")), round_to).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def filtered_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    label: str = "label",
    *,
    round_to: int = 6,
) -> DataFrame:
    """Metadata-filtered exact top-k — the "filtered ANN" shape every
    production vector store needs: each query scores ONLY corpus vectors
    sharing its ``label`` (tenant / language / shard key). The cross join
    of :func:`cosine_topk` becomes a broadcast equi-join on the metadata
    key, so candidate generation prunes to ~1/#labels of the corpus before
    any dot product runs, and the label predicate rides the join into the
    scan. ``queries``: (query_id, q_embedding, label).

    Same determinism contract as cosine_topk: similarity rounded before
    ranking, ties broken by vec_id; partition-local top-k via the window's
    partial TakeOrderedAndProject before the final merge."""
    scored = embeddings.join(F.broadcast(queries), on=label).select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("q_embedding"), F.col("embedding")), round_to).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def make_planes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded PRNG, unit-free —
    sign-only use). Generated driver-side once; tiny (num_planes × dim)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id = sign-bit string of plane dot products."""
    bits = []
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(v)) for v in plane])
        bits.append(
            F.when(_dot(vec, lit_plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def lsh_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    dim: int = 64,
    num_planes: int = 6,
    seed: int = 42,
    round_to: int = 6,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket. 2^num_planes buckets → expected bucket = N/2^p vectors; the
    cross join is bucket-local. ``multiprobe`` additionally probes every
    1-bit-flip neighbor bucket (num_planes+1 probes per query) — the
    standard recall lift for sign-LSH at no extra corpus cost."""
    planes = make_planes(dim, num_planes, seed)
    corpus = embeddings.withColumn("bucket", _bucket_expr(F.col("embedding"), planes))
    qs = queries.withColumn("bucket", _bucket_expr(F.col("q_embedding"), planes))
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j)).cast("long")
                for j in range(num_planes)
            ],
        )
        qs = qs.withColumn("bucket", F.explode(probes))
    scored = corpus.join(F.broadcast(qs), "bucket").select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("q_embedding"), F.col("embedding")), round_to).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    n_cells: "int | None" = None,
    n_probe: int = 4,
    seed: "int | None" = None,
    round_to: int = 6,
    centroids: "list[list[float]] | None" = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the 100 TB scale path named
    in SCALE.md: a KMeans coarse quantizer (pyspark.ml, distributed)
    partitions the corpus into ``n_cells`` cells; each query scores only
    its ``n_probe`` nearest cells. Recall/cost knob: n_probe/n_cells.

    Unlike sign-LSH, IVF cells adapt to the data distribution, so recall
    on clustered real-world embeddings is far better at equal probe cost.

    ``centroids`` (optional) pins the coarse quantizer instead of
    training it: corpus rows are assigned to their nearest pinned
    centroid with the same pure-Catalyst argmin the probe step uses —
    no pyspark.ml, fully engine-reproducible (an external SQL engine
    replaying the same centroid literals computes the identical cells,
    probes, and top-k). This is also the production serving shape: the
    quantizer is trained ONCE offline and shipped as constants; query
    traffic must not retrain it.

    Argument contract: ``n_cells``/``seed`` parameterize TRAINING, so
    they are mutually exclusive with ``centroids`` (passing both raises
    — a silently-ignored training knob hid caller bugs). ``n_probe``
    is validated against the actual cell count in both modes.
    """
    cell_count = len(centroids) if centroids is not None else (
        16 if n_cells is None else n_cells
    )
    if centroids is not None and (n_cells is not None or seed is not None):
        raise ValueError(
            "ivf_topk: n_cells/seed parameterize quantizer training and are "
            "ignored when centroids pins the quantizer — pass one or the "
            "other, not both"
        )
    if cell_count < 1:
        raise ValueError("ivf_topk needs at least one cell")
    if n_probe < 1 or n_probe > cell_count:
        raise ValueError(
            "ivf_topk: n_probe=%d must be in [1, %d] (the cell count)"
            % (n_probe, cell_count)
        )
    n_cells = cell_count
    seed = 42 if seed is None else seed

    def _dist2(vec: Column, center: list[float]) -> Column:
        lit_c = F.array(*[F.lit(float(v)) for v in center])
        return F.aggregate(
            F.zip_with(
                vec, lit_c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    if centroids is not None:
        centers = [list(map(float, c)) for c in centroids]
        cell_dists = F.array(
            *[
                F.struct(
                    _dist2(F.col("embedding"), c).alias("d"),
                    F.lit(i).alias("cell"),
                )
                for i, c in enumerate(centers)
            ]
        )
        corpus = embeddings.select(
            "vec_id",
            "embedding",
            F.array_sort(cell_dists)[0]["cell"].alias("_cell"),
        )
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        corpus_vec = embeddings.withColumn(
            "_features", array_to_vector("embedding")
        )
        # a coarse quantizer needs rough cells, not converged ones: 8 Lloyd
        # iterations give the same recall as the default 20 at ~half the
        # training cost (training is the dominant cost of this operator)
        km = KMeans(
            k=n_cells,
            seed=seed,
            maxIter=8,
            featuresCol="_features",
            predictionCol="_cell",
        )
        model = km.fit(corpus_vec)
        corpus = model.transform(corpus_vec).select(
            "vec_id", "embedding", "_cell"
        )
        centers = [c.tolist() for c in model.clusterCenters()]


    # nearest n_probe cells per query: distances to all centers (tiny,
    # n_cells literals), sorted, sliced — pure expressions, no Python loop
    dists = F.array(
        *[
            F.struct(
                _dist2(F.col("q_embedding"), c).alias("d"), F.lit(i).alias("cell")
            )
            for i, c in enumerate(centers)
        ]
    )
    probed = queries.withColumn(
        "_cell",
        F.explode(
            F.transform(
                F.slice(F.array_sort(dists), 1, n_probe), lambda s: s["cell"]
            )
        ),
    )
    scored = corpus.join(F.broadcast(probed), "_cell").select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("q_embedding"), F.col("embedding")), round_to).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    dim: int = 64,
    num_planes: int = 6,
    seed: int = 7,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed: pairs are only
    scored within a bucket (recall knob = num_planes)."""
    planes = make_planes(dim, num_planes, seed)
    tagged = embeddings.withColumn(
        "bucket", _bucket_expr(F.col("embedding"), planes)
    )
    a = tagged.select(
        F.col("bucket"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = tagged.select(
        F.col("bucket"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
    )
    return (
        a.join(b, "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")), round_to).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def semantic_prune(
    embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    dim: int = 64,
    num_planes: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: drop all but ONE
    representative of every embedding near-duplicate cluster, returning
    the surviving rows with ``n_merged`` (how many originals each
    survivor stands for; 1 for rows with no near-duplicate).

    Pipeline: sign-LSH-bucketed cosine pairs (embedding_neardup_pairs —
    never all-pairs), connected components over the pair graph
    (operators.graph — union-find over the collected pair list, one
    job), min-id representative per component, anti-join survivors back
    onto the corpus.

    100 TB posture: candidate scoring is bucket-local (recall knob =
    num_planes); components collect only the PAIR graph (≪ corpus) into
    the driver; the final joins are id-keyed equi-joins. Deterministic end to end
    (seeded planes, min-id representative) — DuckDB-oracle-able, unlike
    centroid-trained SemDeDup variants.
    """
    from samba_spark.operators.graph import connected_components

    # embedding_neardup_pairs addresses rows as vec_id; normalize the
    # caller's id column through the pair/CC stages and restore it at the
    # final join (id_col="vec_id" is a no-op rename).
    normalized = (
        embeddings
        if id_col == "vec_id"
        else embeddings.withColumnRenamed(id_col, "vec_id")
    )
    pairs = embedding_neardup_pairs(
        normalized,
        threshold=threshold,
        dim=dim,
        num_planes=num_planes,
        seed=seed,
    )
    comps = connected_components(pairs, "vec_a", "vec_b")
    clusters = comps.groupBy("component").agg(
        F.min("vertex").alias(id_col),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
    )
    singletons = (
        embeddings.join(
            comps.select(F.col("vertex").alias(id_col)), id_col, "left_anti"
        )
        .select(id_col)
        .withColumn("n_merged", F.lit(1).cast("long"))
    )
    survivors = clusters.select(id_col, "n_merged").unionByName(singletons)
    return embeddings.join(survivors, id_col)


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    k: int = 60,
    scale: int = 1_000_000,
) -> DataFrame:
    """Reciprocal-rank fusion of N retrieval rankings — the standard
    hybrid-search combiner (lexical + vector, or any mix): each ranking
    contributes ``scale div (k + rank)`` and an item absent from a
    ranking contributes 0, so ``rrf = Σ_r scale div (k + rank_r)``.
    Fixed-point integer division keeps every engine bit-identical (the
    float 1/(k+rank) classic differs only by the scale quantization).

    Inputs are (id_col, rank) frames — rank 1-based, already
    deterministic (rank ties must be broken upstream). Output:
    (id_col, rank_0.., rank_N-1, rrf) with NULL rank for items missing
    from a ranking. Scale posture: rankings are top-k lists —
    aggregation-sized — so the N-way full outer join is metadata-scale
    regardless of corpus size; fusion never touches the corpus.
    """
    out = rankings[0].select(
        id_col, F.col("rank").cast("long").alias("rank_0")
    )
    for i, r in enumerate(rankings[1:], 1):
        out = out.join(
            r.select(id_col, F.col("rank").cast("long").alias(f"rank_{i}")),
            id_col,
            "full",
        )
    score = None
    for i in range(len(rankings)):
        term = F.when(
            F.col(f"rank_{i}").isNotNull(),
            F.expr(f"{scale} div ({k} + rank_{i})"),
        ).otherwise(F.lit(0))
        score = term if score is None else score + term
    return out.withColumn("rrf", score.cast("long"))


def int8_quantize_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    scales: "list[float] | None" = None,
) -> DataFrame:
    """Scalar-quantized (SQ8) similarity top-k: every embedding compresses
    to int8 codes (per-dimension symmetric max-abs scaling — code_d =
    round(127·x_d / max|x_d|)), and ranking runs on the QUANTIZED COSINE
    (integer code dot product normalized by the integer code norms). The memory leg of the ANN family: 4× smaller vectors
    than float32 (64 B vs 256 B at dim=64), integer SIMD-friendly
    arithmetic, and the standard first stage of a quantized serving
    stack (brute/LSH/IVF here rank with float cosine; SQ8 trades a
    little recall for a massively smaller resident corpus).

    Engine-exactness: the scales are per-dimension float maxima
    (comparisons only), each code is one correctly-rounded double
    divide + multiply then a shared half-away-from-zero rounding, and
    every downstream op is 64-bit integer arithmetic plus one
    sqrt+divide for the normalized score — the oracle replays codes and
    scores bit-for-bit, making this the rare ANN variant whose
    APPROXIMATION is hash-exact across engines.

    Calibration caveat: max-abs scaling spends code levels on the most
    extreme value of each dimension, so heavy-tailed dims quantize
    coarsely (measured ~0.02 mean / 0.09 max cosine error on the
    64-dim fixture); production calibration clips at a high percentile
    instead — kept out of scope here because exact-percentile
    calibration would hang engine-exactness on cross-engine quantile
    interpolation semantics.

    Two modes (the pinned-quantizer split, same as ``ivf_topk``'s
    ``centroids=``, VERDICT r7 item 4):

    - **training/calibration** (``scales=None``, the default): the
      per-dimension maxima come from ONE exploded aggregation over the
      corpus, driver-collected (a dimension-sized lookup). NOTE this is
      an EAGER corpus scan at plan-construction time — every call
      recalibrates. Correct for offline calibration; wrong for serving,
      where repeated calls rescan the corpus and a drifting corpus
      silently re-quantizes the whole index.
    - **serving** (``scales=[...]``): the calibrated per-dimension
      maxima ship as constants — zero calibration scan, stable codes
      across calls. In this mode codes are CLAMPED to [-127, 127]
      (values outside the calibration envelope saturate, the standard
      SQ8 serving contract) — in training mode the corpus maxima make
      corpus clamping a no-op by construction, and query codes stay
      unclamped to preserve the engine-exact oracle replay (a query
      beyond the corpus envelope is an out-of-calibration input; serve
      it with pinned headroom scales instead).

    Plan shape: quantization is a zero-shuffle array transform and
    scoring joins the BROADCAST query codes; per-query top-k via one
    window. Scales with the corpus scan, never pairwise."""
    if scales is not None:
        if len(scales) == 0:
            raise ValueError("int8_quantize_topk: scales must be non-empty")
        svals = [float(s) for s in scales]
        if any(not math.isfinite(s) or s <= 0 for s in svals):
            raise ValueError(
                "int8_quantize_topk: every pinned scale must be a finite "
                f"positive float (got {scales!r}) — scales are per-dimension "
                "max-abs calibration constants"
            )
        ndim = len(svals)
    else:
        dims = embeddings.select(F.posexplode("embedding").alias("d", "x"))
        srows = (
            dims.groupBy("d")
            .agg(F.max(F.abs(F.col("x").cast("double"))).alias("m"))
            .orderBy("d")
            .collect()
        )
        svals = [float(r.m) if r.m and r.m > 0 else 1.0 for r in srows]
        ndim = len(svals)
    sarr = F.array(*[F.lit(s) for s in svals])

    def codes(col):
        checked = _dim_guard(
            col,
            ndim,
            f"does not match the {ndim} quantizer scales "
            "(int8_quantize_topk)",
        )
        raw = F.transform(
            checked,
            lambda x, i: F.round(
                F.lit(127.0) * x.cast("double") / F.element_at(sarr, i + 1)
            ).cast("long"),
        )
        if scales is None:
            return raw
        # serving mode: saturate out-of-calibration values to the int8
        # range instead of emitting codes beyond ±127
        return F.transform(
            raw, lambda c: F.greatest(F.lit(-127), F.least(F.lit(127), c))
        )

    def ssq(col):
        return F.aggregate(
            F.transform(col, lambda c: c * c),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    corpus = embeddings.select(
        "vec_id",
        codes(F.col("embedding")).alias("cc"),
    ).withColumn("c_ssq", ssq(F.col("cc")))
    qs = queries.select(
        "query_id", codes(F.col("q_embedding")).alias("qc")
    ).withColumn("q_ssq", ssq(F.col("qc")))
    dot = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # rank by QUANTIZED COSINE (dot normalized by the code norms), not
    # the raw dot — unnormalized dot disagrees with cosine whenever
    # corpus norms vary, which is a ranking-semantics error, not a
    # quantization error. All inputs to the division are exact integers,
    # sqrt is correctly rounded, so sim8 is engine-identical.
    scored = corpus.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "vec_id",
        dot.alias("qscore"),
        F.round(
            dot.cast("double")
            / (
                F.sqrt(F.col("q_ssq").cast("double"))
                * F.sqrt(F.col("c_ssq").cast("double"))
            ),
            6,
        ).alias("sim8"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim8"), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "qscore", "sim8", "rank")
    )


def _pq_prepare(embeddings, m, n_centroids, codebooks, op, seed_rows=None):
    """Validate / derive a PQ codebook. Returns (cb, kc, dsub): the
    nested [subspace][centroid][dim] float lists, the centroid count,
    and the subvector width. Shared by pq_topk and ivf_pq_topk — the
    training default is the deterministic sample quantizer (subvectors
    of the n_centroids smallest vec_ids; one driver collect, exact and
    oracle-replayable). ``seed_rows`` passes in an already-collected
    vec_id-ordered row prefix so a caller training TWO quantizers
    (ivf_pq_topk) collects once, not twice."""
    if m <= 0:
        raise ValueError(f"{op}: need m >= 1 subspaces")
    if codebooks is not None:
        # the ivf_topk argument contract: n_centroids parameterizes
        # TRAINING and would be silently dead next to pinned codebooks
        # (whose length defines K) — passing both raises
        if n_centroids is not None:
            raise ValueError(
                f"{op}: n_centroids parameterizes quantizer training and "
                "is ignored when codebooks pins the quantizer — pass one or "
                "the other, not both"
            )
        if len(codebooks) != m:
            raise ValueError(
                f"{op}: codebooks has {len(codebooks)} subspaces, m={m}"
            )
        kc = len(codebooks[0])
        dsub = len(codebooks[0][0]) if kc else 0
        for j, book in enumerate(codebooks):
            if len(book) != kc:
                raise ValueError(
                    f"{op}: subspace {j} has {len(book)} centroids, "
                    f"subspace 0 has {kc} — all must agree"
                )
            for c, cv in enumerate(book):
                if len(cv) != dsub:
                    raise ValueError(
                        f"{op}: centroid ({j},{c}) has dim {len(cv)}, "
                        f"expected {dsub}"
                    )
                if any(not math.isfinite(float(v)) for v in cv):
                    raise ValueError(
                        f"{op}: centroid ({j},{c}) has a non-finite value"
                    )
        if kc < 2:
            raise ValueError(f"{op}: codebooks need >= 2 centroids")
        cb = [[[float(v) for v in cv] for cv in book] for book in codebooks]
    else:
        n_centroids = 16 if n_centroids is None else n_centroids
        if n_centroids <= 1:
            raise ValueError(f"{op}: need >= 2 centroids")
        if seed_rows is not None and len(seed_rows) >= n_centroids:
            seeds = list(seed_rows[:n_centroids])
        else:
            seeds = (
                embeddings.select("vec_id", "embedding")
                .orderBy("vec_id")
                .limit(n_centroids)
                .collect()
            )
        if len(seeds) < n_centroids:
            raise ValueError(
                f"{op}: corpus has only {len(seeds)} rows; "
                f"n_centroids={n_centroids}"
            )
        dim = len(seeds[0].embedding)
        if dim % m != 0:
            raise ValueError(f"{op}: dim {dim} not divisible by m={m}")
        dsub = dim // m
        cb = [
            [
                [float(r.embedding[j * dsub + t]) for t in range(dsub)]
                for r in seeds
            ]
            for j in range(m)
        ]
        kc = n_centroids
    return cb, kc, dsub


def _fold_dist2(a, b):
    """Sequential left fold of squared differences from 0.0."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_exprs(cb, m, kc, dsub, op):
    """Column-expression builders over a pinned codebook: ``checked``
    (dim guard + double cast), ``codes`` (per-subspace argmin, ties to
    the lowest centroid index via first-position-of-min), ``rssq``
    (reconstructed squared norm from a codes column), ``adc`` (ADC dot
    of an exact query against a codes column) — every float op a
    sequential fold, identical in DuckDB."""
    ndim = m * dsub
    cb_col = F.array(
        *[
            F.array(*[F.array(*[F.lit(v) for v in cv]) for cv in book])
            for book in cb
        ]
    )

    def _as_double(col):
        return F.transform(col, lambda x: x.cast("double"))

    def checked(col):
        return _as_double(
            _dim_guard(
                col,
                ndim,
                f"does not match the {m}x{dsub} codebook layout ({op})",
            )
        )

    def sub(col, j):
        return F.slice(col, j * dsub + 1, dsub)

    def cvec(j, code):
        return F.element_at(F.element_at(cb_col, j + 1), code + 1)

    def codes(col):
        def one(j):
            dists = F.transform(
                F.sequence(F.lit(0), F.lit(kc - 1)),
                lambda c: _fold_dist2(sub(col, j), cvec(j, c)),
            )
            return (
                F.array_position(dists, F.array_min(dists)) - 1
            ).cast("int")

        return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), one)

    def rssq(codes_col):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + _dot(
                cvec(j, F.element_at(codes_col, j + 1)),
                cvec(j, F.element_at(codes_col, j + 1)),
            ),
        )

    def adc(qd_col, codes_col):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + _dot(
                sub(qd_col, j),
                cvec(j, F.element_at(codes_col, j + 1)),
            ),
        )

    return checked, codes, rssq, adc



def _adc_cosine_topk(joined, adc, k):
    """Shared PQ scoring tail (pq_topk and ivf_pq_topk — review finding:
    a verbatim duplicate would let the ADC-cosine contract silently
    fork): round the ADC cosine to 6 BEFORE ranking, ties to the lowest
    vec_id, top-k per query."""
    scored = joined.select(
        "query_id",
        "vec_id",
        F.round(
            adc / (F.sqrt(F.col("q_ssq")) * F.sqrt(F.col("rssq"))), 6
        ).alias("sim_pq"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_pq"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim_pq", "rank")
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    n_centroids: "int | None" = None,
    codebooks: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """Product-quantization (PQ) similarity top-k — the compression leg
    after SQ8 (x134): each vector splits into ``m`` subvectors, each
    subvector encodes as the index of its nearest codebook centroid
    (m log2(K)-bit codes ≈ 4 B/vector at m=8, K=16 — 64× smaller than
    float32 at dim 64), and query scoring is ADC (asymmetric distance
    computation): the QUERY stays exact and each corpus vector's score
    is the sum of per-subspace query·centroid dot products — K·m dots
    per query, then O(m) table lookups per corpus row.

    Two modes (the pinned-quantizer split — ivf_topk ``centroids=`` /
    int8 ``scales=``):

    - **training** (``codebooks=None``): the codebook is the
      deterministic sample quantizer — centroid c of subspace j is the
      j-th subvector of the corpus row with the (c+1)-smallest
      ``vec_id`` (one ``n_centroids``-row driver collect; exact,
      engine-replayable, and the standard k-means++-style seeding
      truncated at initialization so the oracle can reproduce it
      bit-for-bit — production would k-means-refine OFFLINE and pin).
    - **serving** (``codebooks=[[subspace][centroid][dim]]``): trained
      codebooks ship as constants, zero corpus scan at plan time.

    Engine-exactness: encoding distances are sequential folds of
    squared differences (argmin resolves ties to the LOWEST centroid
    index via first-position-of-min, identical in both engines), ADC
    terms are sequential-fold dot products accumulated in subspace
    order from 0.0, and the reported score is the ADC COSINE — adc_dot
    normalized by ‖q‖ and the RECONSTRUCTED corpus norm
    sqrt(Σ_j ‖centroid_code_j‖²) — rounded to 6 (the x134 lesson: rank
    by a cosine, not a raw dot, whenever corpus norms vary).

    Plan shape: encoding is a zero-shuffle array transform over literal
    codebook arrays; scoring joins the BROADCAST queries (allowlisted
    x10 pattern); per-query top-k via one window. Scales with the
    corpus scan, never pairwise."""
    cb, kc, dsub = _pq_prepare(embeddings, m, n_centroids, codebooks, "pq_topk")
    _checked, _codes, _rssq, _adc = _pq_exprs(cb, m, kc, dsub, "pq_topk")

    corpus = embeddings.select(
        "vec_id", _codes(_checked(F.col("embedding"))).alias("codes")
    ).withColumn(
        # reconstructed squared norm: sum over subspaces of the coded
        # centroid's squared norm, folded in subspace order from 0.0
        "rssq", _rssq(F.col("codes"))
    )
    qs = queries.select(
        "query_id", _checked(F.col("q_embedding")).alias("qd")
    ).withColumn("q_ssq", _dot(F.col("qd"), F.col("qd")))
    return _adc_cosine_topk(
        corpus.crossJoin(F.broadcast(qs)),
        _adc(F.col("qd"), F.col("codes")),
        k,
    )


def truncated_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    prefilter_dim: int = 16,
    shortlist: int = 50,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Two-stage (Matryoshka-style) retrieval: stage 1 ranks the WHOLE
    corpus by cosine over only the first ``prefilter_dim`` dimensions
    and keeps a per-query ``shortlist``; stage 2 re-ranks the shortlist
    with the exact full-dimension cosine and returns top-k. The standard
    cheap-prefilter/exact-rerank split used with truncation-trained
    (MRL) embeddings: at serving scale stage 1 reads a ``prefilter_dim/
    dim`` slice of the vector bytes (with a column-pruned prefix
    column, 4× less I/O at 16/64) and stage 2 touches full vectors for
    only ``shortlist`` rows per query.

    Engine-exactness: both stages are the same sequential-fold cosine
    as ``cosine_topk`` over sliced vs full arrays, both rounded to
    ``round_to`` BEFORE ranking, ties to the lowest vec_id — the
    composition is hash-exact across engines. Output carries both
    scores (``sim_pre`` for diagnosis of prefilter quality, ``sim`` for
    the final ranking).

    Plan shape: one corpus scan; stage 1 computes ONLY the prefix
    cosine per corpus row and the shortlist window's partial
    per-partition top-N keeps ≤ shortlist×queries rows per partition
    before the exchange (the full vector rides those few surviving
    rows — no join back, no second scan); stage 2's full-dimension
    cosine is a projection AFTER the shortlist filter, so the exact dot
    runs on shortlist×queries rows, never the corpus. Scales with the
    scan, never pairwise."""
    if prefilter_dim < 1:
        raise ValueError("truncated_rerank_topk: prefilter_dim must be >= 1")
    if shortlist < k:
        raise ValueError(
            f"truncated_rerank_topk: shortlist={shortlist} must be >= k={k}"
        )

    def _pre_guard(col):
        # slice() silently CLAMPS when prefilter_dim exceeds the vector
        # dimension, which would turn the cheap prefilter into the full
        # cosine computed twice with a misleading sim_pre — fail loudly
        # instead (the _dim_guard family's contract)
        return plan_assert(
            col,
            F.size(col) < F.lit(prefilter_dim),
            "truncated_rerank_topk: embedding dimension ",
            F.size(col).cast("string"),
            f" is smaller than prefilter_dim={prefilter_dim} — "
            "the prefix slice would clamp to the full vector",
        )

    pre = F.slice(_pre_guard(F.col("embedding")), 1, prefilter_dim)
    qpre = F.slice(_pre_guard(F.col("q_embedding")), 1, prefilter_dim)
    scored = embeddings.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "vec_id",
        F.round(cosine(qpre, pre), round_to).alias("sim_pre"),
        "q_embedding",
        "embedding",
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("sim_pre"), F.col("vec_id")
    )
    short = (
        scored.withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= shortlist)
        .select(
            "query_id",
            "vec_id",
            "sim_pre",
            F.round(
                cosine(F.col("q_embedding"), F.col("embedding")), round_to
            ).alias("sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        short.withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim_pre", "sim", "rank")
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    n_cells: "int | None" = None,
    n_probe: int = 2,
    cell_centroids: "list[list[float]] | None" = None,
    n_centroids: "int | None" = None,
    codebooks: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """IVF-PQ similarity top-k — the composed serving stack (the shape
    FAISS calls IVFPQ, here the NON-RESIDUAL variant: PQ codes are
    global, cells only GATE which corpus rows get scored; residual
    encoding would buy recall at the same plan shape and is documented
    out of scope). The two scale levers multiply: the IVF gate prunes
    the scan's scoring work to ~n_probe/n_cells of the corpus, and the
    PQ codes shrink the resident index 64× — candidate generation and
    compression, composed.

    Quantizers follow the pinned-serving contract of their parents:
    ``cell_centroids`` pins the coarse quantizer (else the deterministic
    sample: the full vectors of the ``n_cells`` smallest vec_ids,
    default 4) and ``codebooks``/``n_centroids`` pin/train PQ exactly as
    in :func:`pq_topk`. Training knobs are mutually exclusive with
    their pinned counterparts.

    Engine-exactness: cell assignment is the same first-position-of-min
    argmin as PQ encoding; query probing keeps the ``n_probe`` cells
    with the smallest (distance, cell_id) — an array_sort over structs,
    the same lexicographic tie-break DuckDB's ORDER BY (dist, c)
    replays; scoring is pq_topk's ADC cosine. Hash-exact end to end.

    Plan shape: one corpus scan (cell + codes are zero-shuffle array
    transforms over literal quantizers); the probed-cells equi-join
    against the BROADCAST exploded query set prunes before any ADC
    work; per-query top-k via one window."""
    if n_probe < 1:
        raise ValueError("ivf_pq_topk: n_probe must be >= 1")
    if cell_centroids is not None:
        if n_cells is not None:
            raise ValueError(
                "ivf_pq_topk: n_cells parameterizes coarse-quantizer "
                "training and is ignored when cell_centroids pins it — "
                "pass one or the other, not both"
            )
        cells = [[float(v) for v in c] for c in cell_centroids]
        if len(cells) < 1:
            raise ValueError("ivf_pq_topk: cell_centroids is empty")
        cdim = len(cells[0])
        for i, c in enumerate(cells):
            if len(c) != cdim:
                raise ValueError(
                    f"ivf_pq_topk: cell centroid {i} has dim {len(c)}, "
                    f"centroid 0 has {cdim}"
                )
            if any(not math.isfinite(v) for v in c):
                raise ValueError(
                    f"ivf_pq_topk: cell centroid {i} has a non-finite value"
                )
    else:
        n_cells = 4 if n_cells is None else n_cells
        if n_cells < 1:
            raise ValueError("ivf_pq_topk: need >= 1 cells")
        # when the PQ codebooks also train, ONE collect serves both
        # quantizers (the cell seeds are a prefix of the PQ seeds) —
        # two separate ordered-limit collects would run the scan twice
        # at plan-build time
        n_seed = n_cells
        if codebooks is None:
            n_seed = max(n_cells, 16 if n_centroids is None else n_centroids)
        seeds = (
            embeddings.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(n_seed)
            .collect()
        )
        if len(seeds) < n_cells:
            raise ValueError(
                f"ivf_pq_topk: corpus has only {len(seeds)} rows; "
                f"n_cells={n_cells}"
            )
        cells = [[float(v) for v in r.embedding] for r in seeds[:n_cells]]
        cdim = len(cells[0])
        seed_rows = seeds if codebooks is None else None
    n_total_cells = len(cells)
    if n_probe > n_total_cells:
        raise ValueError(
            f"ivf_pq_topk: n_probe={n_probe} must be <= the "
            f"{n_total_cells} cells"
        )
    if cell_centroids is not None:
        seed_rows = None
    cb, kc, dsub = _pq_prepare(
        embeddings, m, n_centroids, codebooks, "ivf_pq_topk",
        seed_rows=seed_rows,
    )
    if m * dsub != cdim:
        raise ValueError(
            f"ivf_pq_topk: cell centroids are {cdim}-dim but the PQ "
            f"layout is {m}x{dsub}"
        )
    corpus = _ivf_pq_encode_prepared(embeddings, cells, cb, kc, dsub,
                                     "ivf_pq_topk")
    return _ivf_pq_probe_prepared(
        corpus, queries, cells, cb, kc, dsub, k, n_probe, "ivf_pq_topk"
    )


def _ivf_pq_cell_dists(cells):
    """Per-row array of squared distances to every pinned cell centroid
    — shared by corpus encode (argmin assignment) and query probing
    (n_probe smallest)."""
    cells_col = F.array(
        *[F.array(*[F.lit(v) for v in c]) for c in cells]
    )
    n_total_cells = len(cells)

    def _cell_dists(col):
        return F.transform(
            F.sequence(F.lit(0), F.lit(n_total_cells - 1)),
            lambda c: _fold_dist2(col, F.element_at(cells_col, c + 1)),
        )

    return _cell_dists


def _ivf_pq_encode_prepared(embeddings, cells, cb, kc, dsub, op):
    """IVF-PQ corpus encoding over VALIDATED pinned state: (vec_id,
    cell, codes, rssq) — the posting rows. Shared verbatim by
    :func:`ivf_pq_topk`'s in-query corpus branch and the persisted
    postings builder (indexstore.build_ivf_pq_postings), so a probe
    over stored postings is hash-identical to the in-query path."""
    m = len(cb)
    _checked, _codes, _rssq, _adc = _pq_exprs(cb, m, kc, dsub, op)
    _cell_dists = _ivf_pq_cell_dists(cells)
    # the distance array is materialized ONCE per row via its own
    # projection step and then referenced by name — inlining
    # _cell_dists into every consumer (argmin uses it twice, the probe
    # struct n_cells times) would make the expression tree O(cells²)
    # folds, which balloons codegen at large pinned cell counts
    return (
        embeddings.select(
            "vec_id", _checked(F.col("embedding")).alias("_emb")
        )
        .withColumn("_cd", _cell_dists(F.col("_emb")))
        .select(
            "vec_id",
            (
                F.array_position(F.col("_cd"), F.array_min(F.col("_cd"))) - 1
            )
            .cast("int")
            .alias("cell"),
            _codes(F.col("_emb")).alias("codes"),
        )
        .withColumn("rssq", _rssq(F.col("codes")))
    )


def _ivf_pq_probe_prepared(
    encoded, queries, cells, cb, kc, dsub, k, n_probe, op
):
    """ADC top-k over ENCODED corpus rows (vec_id, cell, codes, rssq)
    with validated pinned state — the serving half of IVF-PQ, fed
    either by the in-query encode or by postings read from a frozen
    store."""
    m = len(cb)
    _checked, _codes, _rssq, _adc = _pq_exprs(cb, m, kc, dsub, op)
    _cell_dists = _ivf_pq_cell_dists(cells)
    n_total_cells = len(cells)
    # probe set: the n_probe cells with the smallest (distance, cell_id)
    # — array_sort over structs is the lexicographic order DuckDB's
    # ORDER BY (dist, c) replays
    probe_cells = F.transform(
        F.slice(
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_total_cells - 1)),
                    lambda c: F.struct(
                        F.element_at(F.col("_qcd"), c + 1).alias("d"),
                        c.cast("int").alias("c"),
                    ),
                )
            ),
            1,
            n_probe,
        ),
        lambda s: s["c"],
    )
    qs = (
        queries.select(
            "query_id", _checked(F.col("q_embedding")).alias("qd")
        )
        .withColumn("q_ssq", _dot(F.col("qd"), F.col("qd")))
        .withColumn("_qcd", _cell_dists(F.col("qd")))
        .withColumn("cell", F.explode(probe_cells))
        .drop("_qcd")
    )
    return _adc_cosine_topk(
        encoded.join(F.broadcast(qs), "cell"),
        _adc(F.col("qd"), F.col("codes")),
        k,
    )


def make_jl_signs(dim: int, out_dim: int, label: str = "jl") -> list[list[float]]:
    """Deterministic ±1 Johnson–Lindenstrauss sign matrix: entry (j, i)
    is +1 when the first 8 hex chars of md5('{label}_{i}_{j}') are even —
    a pure function of (dim, out_dim, label), so every engine (and every
    serving replica) derives the identical matrix with no stored state;
    DuckDB replays it as ('0x'||substr(md5(s),1,8))::BIGINT % 2. Rows
    are output dimensions (out_dim × dim)."""
    import hashlib

    def sign(i: int, j: int) -> float:
        h = int(hashlib.md5(f"{label}_{i}_{j}".encode()).hexdigest()[:8], 16)
        return 1.0 if h % 2 == 0 else -1.0

    return [[sign(i, j) for i in range(dim)] for j in range(out_dim)]


def random_projection_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    out_dim: int = 16,
    shortlist: int = 50,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Two-stage retrieval through a random ±1 projection — the third
    compression leg: SQ8 (x134) quantizes VALUES, PQ (x136) quantizes
    SUBSPACES, this reduces DIMENSIONALITY (Johnson–Lindenstrauss).
    Stage 1 ranks the corpus by cosine over ``out_dim`` projected
    coordinates (each pₖ = Σᵢ vᵢ·±1, a 4× cheaper pairwise score at
    16/64 — and unlike x139's Matryoshka prefix it needs NO
    truncation-trained embedding: the sign matrix mixes every input
    coordinate); stage 2 re-ranks the per-query ``shortlist`` with the
    exact full cosine.

    The sign matrix is derived, not stored (md5 parity of (i, j) —
    :func:`make_jl_signs`), so the serving-time pinned-quantizer
    question x134/x136 had to solve does not arise: every run of any
    engine projects through the identical matrix by construction.

    Plan shape: corpus and queries are each projected ONCE in a
    map-side select (out_dim sequential folds over plan-folded ±1
    literals, whole-stage codegen); the cross score touches only the
    out_dim projected coordinates per pair; full vectors ride only the
    ≤ shortlist×queries surviving rows into stage 2 (the
    truncated_rerank_topk shape). Scales with the scan, never pairwise
    on full dimensionality."""
    if out_dim < 1:
        raise ValueError(f"random_projection_topk: out_dim={out_dim} must be >= 1")
    if shortlist < k:
        raise ValueError(
            f"random_projection_topk: shortlist={shortlist} must be >= k={k}"
        )
    signs = make_jl_signs(dim, out_dim)

    def _project(col: Column) -> Column:
        guarded = _dim_guard(
            col,
            dim,
            f"!= dim={dim} — random_projection_topk's sign matrix "
            "was built for a different dimensionality",
        )
        return F.array(
            *[
                _dot(guarded, F.array(*[F.lit(s) for s in row]))
                for row in signs
            ]
        )

    corp = embeddings.select(
        "vec_id", "embedding", _project(F.col("embedding")).alias("pv")
    )
    qs = queries.select(
        "query_id", "q_embedding", _project(F.col("q_embedding")).alias("qv")
    )
    scored = corp.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("qv"), F.col("pv")), round_to).alias("sim_proj"),
        "q_embedding",
        "embedding",
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("sim_proj"), F.col("vec_id")
    )
    short = (
        scored.withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= shortlist)
        .select(
            "query_id",
            "vec_id",
            "sim_proj",
            F.round(
                cosine(F.col("q_embedding"), F.col("embedding")), round_to
            ).alias("sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        short.withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim_proj", "sim", "rank")
    )


def retrieval_metrics(
    results: DataFrame,
    truth: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Retrieval-quality evaluation: per-query recall@k and reciprocal
    rank of an APPROXIMATE results table against an exact ground-truth
    table (both (query_id, vec_id, rank)) — the eval harness every ANN
    serving stack needs next to its operators (brute/LSH/IVF/SQ8/PQ/
    two-stage all produce this shape). Truth defines the query universe:
    one output row per truth query, zero-filled when the approximate arm
    found nothing.

    Engine-exactness: hits are an integer equi-join count, recall@k is
    ONE division of exact integers, and the reciprocal rank is 1.0/rank
    (0.0 when no relevant item was retrieved — the standard MRR
    convention, and it keeps the column non-null). Deliberately NO
    macro-average row: a cross-group float sum has no deterministic
    order in either engine — average downstream with exact integers
    (sum n_hits / sum n_relevant) if a single number is needed.

    Plan shape: two filters, one equi-join on (query_id, vec_id), three
    metadata-scale aggregations keyed by query_id. Scales with the
    results tables, which are O(queries × k)."""
    if k < 1:
        raise ValueError("retrieval_metrics: k must be >= 1")
    r = results.where(F.col("rank") <= k).select(
        "query_id", "vec_id", "rank"
    )
    t = truth.where(F.col("rank") <= k).select("query_id", "vec_id")
    rel = t.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_relevant")
    )
    got = r.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_retrieved")
    )
    hits = (
        r.join(t, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.min("rank").cast("long").alias("first_hit_rank"),
        )
    )
    return (
        rel.join(got, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_relevant",
            F.coalesce(F.col("n_retrieved"), F.lit(0)).cast("long").alias(
                "n_retrieved"
            ),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_relevant").cast("double")
            ).alias("recall_at_k"),
            F.col("first_hit_rank"),
            F.when(
                F.col("first_hit_rank").isNotNull(),
                F.lit(1.0) / F.col("first_hit_rank").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("reciprocal_rank"),
        )
    )
