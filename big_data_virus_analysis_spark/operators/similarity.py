"""Similarity search over embedding columns (training-data-pipeline
extension).

Three tiers:

* brute-force cosine top-k — the correctness baseline.  The query set is
  broadcast; candidates stream through one scan; the cosine fold is
  ``zip_with`` + ``aggregate`` (JVM codegen, elements cast to double
  before multiplying so the DuckDB oracle agrees to the last bit worth
  of rounding).
* sign-LSH bucketed top-k — the scale path: 8 deterministic hyperplanes
  (modular-arithmetic pseudo-random weights, identical in SQL) hash
  every vector to a bucket; search only joins within buckets.  At 100 TB
  the bucket join replaces the all-pairs nested loop — candidate volume
  drops by ~2^planes, and bucket ids are a plain shuffle key.
* cosine near-dup pairs — thresholded all-pairs (documents-sized input);
  the LSH prefilter composes in front of it at scale.

A vectorized Arrow/NumPy variant (mapInPandas matmul) is in
``similarity_pandas.py`` for wide-vector workloads where a codegen'd
per-element fold loses to BLAS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine_similarity
from ..sources.tables import fan_out
from .caching import tracked_cache

DIM = 64
N_PLANES = 8


def _plane_weight(j: int, d: int, dim: int = DIM) -> float:
    """Deterministic pseudo-random hyperplane weight in [-0.5, 0.5).

    LCG step (glibc constants) on the flattened index — exact rational
    arithmetic, reproducible in any engine.
    """
    return ((1103515245 * (j * dim + d) + 12345) % 2147483648) / 2147483648.0 - 0.5


def lsh_bucket(emb, n_planes: int = N_PLANES, dim: int = DIM):
    """Column expr: sign-LSH bucket id in [0, 2^n_planes)."""
    bucket = F.lit(0).cast("bigint")
    for j in range(n_planes):
        plane = F.array(*[F.lit(_plane_weight(j, d, dim)) for d in range(dim)])
        dot_j = F.aggregate(
            F.zip_with(emb, plane, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot_j > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return bucket


def cosine_topk(embeddings: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """Brute-force cosine top-k: ``(query_id, cand_id, sim, rank)``.

    Ranks over the *rounded* similarity with vec_id tiebreak so results
    are stable across engines and runs.
    """
    q = embeddings.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = fan_out(embeddings).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cand_id").asc())
    return (
        c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .withColumn("sim", F.round(cosine_similarity(F.col("qe"), F.col("ce")), 6))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", "rank")
    )


def ann_lsh_topk(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5, n_planes: int = N_PLANES
) -> DataFrame:
    """Sign-LSH bucketed top-k: like :func:`cosine_topk` but candidates
    are restricted to the query's bucket — the scan-once/shuffle-on-
    bucket plan that survives a 1000× corpus."""
    with_bucket = fan_out(embeddings).withColumn(
        "bucket", lsh_bucket(F.col("embedding"), n_planes)
    )
    q = with_bucket.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "bucket"
    )
    c = with_bucket.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"), "bucket"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cand_id").asc())
    return (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn("sim", F.round(cosine_similarity(F.col("qe"), F.col("ce")), 6))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "bucket", "cand_id", "sim", "rank")
    )


def _l2sq(a, b):
    """Column expr: rounded squared-L2 distance between two double arrays."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double"))),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )


def _ivf_search(
    inverted: DataFrame, cent_df: DataFrame, q: DataFrame, k: int, n_probe: int
) -> DataFrame:
    """Shared IVF probe + in-cell search (steps 3-4 of :func:`ivf_topk`).

    ``inverted``: (vec_id, embedding, cell); ``cent_df``: (cell,
    centroid) — tiny, broadcast; ``q``: (query_id, qe).  Each query
    keeps its ``n_probe`` nearest cells (rounded distance, cell-asc
    tiebreak — deterministic), then exact cosine only within probed
    cells with a per-query top-k window.
    """
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("cdist").asc(), F.col("cell").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("cdist", _l2sq(F.col("qe"), F.col("centroid")))
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "qe", "cell")
    )
    c = inverted.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"), "cell"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cand_id").asc())
    return (
        c.join(F.broadcast(probes), "cell")
        .where(F.col("cand_id") != F.col("query_id"))
        .withColumn("sim", F.round(cosine_similarity(F.col("qe"), F.col("ce")), 6))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", "rank")
    )


#: partitions of the IVF quantizer's training input (see :func:`ivf_topk`)
IVF_TRAIN_PARTITIONS = 8


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the trained-quantizer
    scale path next to :func:`ann_lsh_topk`'s data-independent one.

    1. Coarse quantizer: K-Means over the corpus → ``n_cells`` centroids
       (one ml fit; the model is tiny and rides to executors with the
       transform).
    2. Invert: every vector is assigned to its nearest centroid's cell —
       the corpus is now partitioned by ``cell``, which is exactly the
       shuffle key of the probe join.
    3. Probe: each query scores all centroids (centroid table is a
       driver-built literal → broadcast) and keeps its ``n_probe``
       nearest cells.
    4. Exact cosine only within probed cells; per-query top-k window.

    At 100 TB the win over sign-LSH is that cells track the data
    distribution (balanced inverted lists vs potentially-empty random
    half-spaces); the plan shape is identical — broadcast the query
    probes, shuffle candidates on ``cell``, aggregate per query.

    Output: ``(query_id, cand_id, sim, rank)`` — rows-only oracle (the
    quantizer is ml-trained); recall vs brute force is tested in
    tests/test_operators.py.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # k-means|| samples per input partition, so the training layout is
    # fixed by the data alone: hash on vec_id into a constant partition
    # count, sorted within each partition.  A layout that follows the
    # input's partitioning or the session's core count would move the
    # answer with them.
    fanned = embeddings.repartition(IVF_TRAIN_PARTITIONS, "vec_id").sortWithinPartitions(
        "vec_id"
    )
    with_vec = fanned.withColumn(
        "_v", array_to_vector(F.col("embedding").cast("array<double>"))
    ).transform(tracked_cache)
    model = KMeans(k=n_cells, seed=seed, featuresCol="_v", predictionCol="cell").fit(
        with_vec
    )
    inverted = model.transform(with_vec).drop("_v")

    centroids = model.clusterCenters()
    spark = embeddings.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )

    q = embeddings.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    return _ivf_search(inverted, cent_df, q, k, n_probe)


def ivf_topk_fixed(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF top-k with a FIXED deterministic coarse quantizer — the
    exact-oracle twin of :func:`ivf_topk`.

    Centroids are the first ``n_cells`` corpus vectors (vec_id <
    n_cells) instead of a trained K-Means model, so the ENTIRE plan is
    relational: argmin cell assignment, top-``n_probe`` cell probe, and
    in-cell cosine are all rounded/tiebroken expressions that DuckDB
    reproduces bit-for-bit (oracle in plans/ml_exact.py).  Plan shape is
    identical to the trained variant — broadcast centroid table, one
    candidate shuffle on ``cell`` — so the oracle checks the same
    physical strategy the trained quantizer runs at 100 TB.
    """
    cent_df = embeddings.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    aw = Window.partitionBy("vec_id").orderBy(F.col("cdist").asc(), F.col("cell").asc())
    inverted = (
        fan_out(embeddings)
        .crossJoin(F.broadcast(cent_df))
        .withColumn("cdist", _l2sq(F.col("embedding"), F.col("centroid")))
        .withColumn("rn", F.row_number().over(aw))
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", "cell")
    )
    q = embeddings.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    return _ivf_search(inverted, cent_df, q, k, n_probe)


def _verify_pairs_exact(
    embeddings: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Recompute the canonical rounded cosine on candidate id pairs and
    apply the threshold — the single source of truth for pair output, so
    every candidate generator yields byte-identical results."""
    ea = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    eb = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        candidates.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("sim", F.round(cosine_similarity(F.col("ea"), F.col("eb")), 6))
        .where(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


#: ``method="auto"`` routes to the LSH prefilter at/above this
#: threshold — the point where per-plane bit agreement (1 − acos(s)/π ≈
#: 0.80 at s=0.8) gives the banded multi-table filter both real pruning
#: (~2^-p random collisions) and high recall (miss ≈ (1−a^p)^T, see
#: :func:`cosine_near_dup_lsh`).  Below it, no LSH parameterization
#: prunes without losing recall, so exact blocked-BLAS is the honest
#: path.
AUTO_LSH_THRESHOLD = 0.8


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    method: str = "auto",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs: ``(vec_a, vec_b, sim)`` at/above the
    rounded-cosine threshold, vec_a < vec_b.

    ``method="auto"`` (default) routes by threshold: at/above
    :data:`AUTO_LSH_THRESHOLD` the sign-LSH multi-table prefilter
    (:func:`cosine_near_dup_lsh`) prunes the candidate space by ~2^-p
    per table with quantified recall — the n² FLOPs wall never
    materializes; below it the exact blocked plan runs, because no LSH
    parameterization at low similarity gives both recall and pruning
    (bit agreement at sim 0.4 is ~0.63/plane).

    ``method="blocked"`` (exact, the low-threshold 100 TB path):
    triangle block partitioning + per-task BLAS matmul candidate
    generation (``similarity_pandas.blocked_near_dup_candidates``),
    then a JVM exact verify that recomputes the canonical rounded
    cosine — output is byte-identical to the all-pairs form (asserted
    in tests), with the n² work spread over B(B+1)/2 even,
    bounded-memory tasks instead of one quadratic nested-loop join.

    ``method="lsh"``: force the prefilter (recall<1 by construction —
    quantified in :func:`cosine_near_dup_lsh`).

    ``method="allpairs"``: the brute-force thresholded join, kept as the
    correctness oracle for small fixtures.
    """
    if method == "auto":
        method = "lsh" if threshold >= AUTO_LSH_THRESHOLD else "blocked"
    if method == "lsh":
        return cosine_near_dup_lsh(embeddings, threshold)
    if method == "blocked":
        from .similarity_pandas import blocked_near_dup_candidates

        cands = blocked_near_dup_candidates(embeddings, threshold, n_blocks)
        return _verify_pairs_exact(embeddings, cands, threshold)
    a = fan_out(embeddings).select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    b = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", F.round(cosine_similarity(F.col("ea"), F.col("eb")), 6))
        .where(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


def cosine_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    planes_per_table: int = 8,
    n_tables: int = 8,
) -> DataFrame:
    """Sign-LSH-prefiltered near-dup pairs for HIGH thresholds.

    Multi-table prefilter: table t hashes every vector with planes
    ``[t·p, (t+1)·p)`` (same deterministic LCG family as
    :func:`lsh_bucket`); candidates are pairs colliding in ≥1 table,
    then the JVM verify recomputes the exact rounded cosine.

    Recall math (miss probability for a pair at similarity s):
    per-plane agreement a = 1 − acos(s)/π; per-table collision a^p;
    miss = (1 − a^p)^T.  At s=0.9, p=8, T=8: a≈0.856, a^p≈0.29,
    miss≈6% — and pairs ABOVE the threshold are exponentially safer
    (s=0.95 → miss≈1.4%).  Random pairs collide at ~2^-p per table, so
    candidate volume is ~T·n²/2^p — real pruning.  This is a recall<1
    prefilter by construction; use :func:`cosine_near_dup_pairs`
    (blocked, exact) when exactness is required or the threshold is low.

    Output: ``(vec_a, vec_b, sim)``, vec_a < vec_b.
    """
    base = fan_out(embeddings).select("vec_id", "embedding")
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                _table_bucket(F.col("embedding"), t, planes_per_table).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    # cache the bucket table: both self-join branches otherwise replay
    # the plane-hash projection (see dedup.py materialize-once note)
    hashed = base.select("vec_id", F.explode(tables).alias("h")).select(
        "vec_id", "h.table", "h.bucket"
    ).transform(tracked_cache)
    a = hashed.alias("a")
    b = hashed.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    return _verify_pairs_exact(embeddings, cands, threshold)


def _table_bucket(emb, table: int, planes_per_table: int):
    """Bucket id for one LSH table: planes [table·p, (table+1)·p) of the
    deterministic LCG hyperplane family."""
    bucket = F.lit(0).cast("bigint")
    for j in range(planes_per_table):
        plane_idx = table * planes_per_table + j
        plane = F.array(*[F.lit(_plane_weight(plane_idx, d, DIM)) for d in range(DIM)])
        dot_j = F.aggregate(
            F.zip_with(emb, plane, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot_j > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return bucket


def knn_label_vote(
    embeddings: DataFrame,
    n_queries: int = 50,
    k: int = 5,
    candidates: str = "exact",
) -> DataFrame:
    """k-NN majority-vote classification: ``(query_id, pred_label, votes)``.

    Joins the top-k neighbor set back to the label column and takes the
    modal label (count desc, label asc tiebreak) — a fully relational
    "ML" op with an exact SQL oracle.

    ``candidates`` selects the neighbor generator: ``"exact"`` (brute
    force — the oracle-checkable baseline), ``"lsh"``
    (:func:`ann_lsh_topk`) or ``"ivf"`` (:func:`ivf_topk`) — the scale
    paths; the vote layer is identical, so swapping the generator
    changes only candidate recall (tested against brute force in
    tests/test_operators.py).
    """
    gens = {"exact": cosine_topk, "lsh": ann_lsh_topk, "ivf": ivf_topk}
    if candidates not in gens:
        raise ValueError(f"candidates must be one of {sorted(gens)}")
    topk = gens[candidates](embeddings, n_queries=n_queries, k=k).select(
        "query_id", "cand_id", "sim", "rank"
    )
    labels = embeddings.select(F.col("vec_id").alias("cand_id"), "label")
    votes = (
        topk.join(labels, "cand_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("label").asc())
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
    )


def quantize_int8(emb):
    """Column expr: symmetric int8 scalar quantization of a float array.

    q_i = floor(x_i·127/max|x| + 0.5) ∈ [-127, 127]; zero vectors map to
    all-zeros.  floor(v + 0.5) (round-half-up) instead of round() so the
    tie-breaking rule is engine-independent.
    """
    s = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    return F.when(
        s > 0,
        F.transform(
            emb,
            lambda x: F.floor(x.cast("double") * F.lit(127.0) / s + F.lit(0.5)).cast(
                "bigint"
            ),
        ),
    ).otherwise(F.transform(emb, lambda x: F.lit(0).cast("bigint")))


def _int_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def quantized_cosine_topk(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors — the compressed-storage
    scale path: 4× less memory/shuffle bandwidth than float32 (16× vs
    float64), integer dot products, and the scale factors cancel in the
    cosine so only the quantized ints ever leave the scan.

    The quantized dot is EXACT integer arithmetic, so unlike the float
    baseline the result is bit-identical across engines by construction;
    accuracy vs the float cosine is bounded by the quantization step
    (recall pinned in tests/test_operators.py).

    Output: ``(query_id, cand_id, qsim, rank)``.
    """
    quant = fan_out(embeddings).select(
        "vec_id",
        quantize_int8(F.col("embedding")).alias("q"),
    )
    quant = quant.withColumn(
        "qn",
        F.sqrt(_int_dot(F.col("q"), F.col("q")).cast("double")),
    ).where(F.col("qn") > 0)
    q = quant.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("qn").alias("qqn")
    )
    c = quant.select(
        F.col("vec_id").alias("cand_id"), F.col("q").alias("cq"), F.col("qn").alias("cqn")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qsim").desc(), F.col("cand_id").asc())
    return (
        c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .withColumn(
            "qsim",
            F.round(
                _int_dot(F.col("qq"), F.col("cq")).cast("double")
                / (F.col("qqn") * F.col("cqn")),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "qsim", "rank")
    )
