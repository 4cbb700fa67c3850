"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exactness baseline (JVM higher-order
functions — zip_with + aggregate — no Python in the loop); the LSH
random-hyperplane variant is the 100 TB scale path: bucket first, then
score only within buckets, turning the O(N·Q) scan into a bucket join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


#: vector-hash hook for the reps-mode fan-back join. Module-level so
#: tests can swap in a degenerate hash (everything collides) and prove
#: the collision-exception path is exact — the dictionary's forced-
#: collision test discipline.
def _vec_hash(c):
    return F.xxhash64(c)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def _cos(a, b):
    """Cosine similarity, NULL for zero-norm operands: under ANSI mode
    (the Spark 4 default the driver's vanilla session runs) a plain /
    THROWS DIVIDE_BY_ZERO on the zero embeddings real corpora contain
    (empty docs, padding rows). NULL scores fail every threshold and
    sort last under desc() — the sensible "no similarity" reading of
    an undefined cosine."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _unit(v, n):
    """Normalize, zero vectors passed through unchanged (their dot
    with anything is 0.0 — below every positive threshold — instead of
    an ANSI division error)."""
    return F.when(
        n > 0, F.transform(v, lambda x: x / n)
    ).otherwise(v)


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, score) — k rows per query.

    Cross join + window rank; the vectors side should be the big one
    (queries broadcast). Self-matches are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score", _cos(F.col("qv"), F.col("nv"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("score", 4).alias("score"))
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.3,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within coarse blocks.

    `block_col` plays the IVF-cell role: pairs are only scored inside a
    block, so the join shuffles on the block key instead of going
    quadratic. Returns (id_a, id_b, score) with id_a < id_b.
    """
    par = vectors.sparkSession.sparkContext.defaultParallelism
    # normalize once per vector (not once per pair): score = plain dot
    v = (
        vectors.repartition(par, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.col(block_col).alias("blk"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("n", _norm(F.col("v")))
        .withColumn("v", _unit(F.col("v"), F.col("n")))
        .drop("n")
        .persist()
    )
    a = v.select(F.col("id").alias("id_a"), "blk", F.col("v").alias("va"))
    b = v.select(F.col("id").alias("id_b"), "blk", F.col("v").alias("vb"))
    scored = (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("score", _dot(F.col("va"), F.col("vb")))
        .where(F.col("score") >= threshold)
    )
    return scored.select("id_a", "id_b", F.round("score", 4).alias("score"))


def embedding_near_dup_reps(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.3,
) -> DataFrame:
    """(id, representative) for every input row — the OUTPUT-BOUNDED
    twin of `embedding_near_dup_pairs` (VERDICT r8 #5).

    Pair emission is quadratic in duplicate multiplicity: a k-member
    duplicate clique yields k(k-1)/2 pairs (the sf1 probe measured 23×
    at ×10 replication — output-bound, not compute-bound). For the
    dedup USE of the operator the pairs are incidental: what callers
    need is one survivor per duplicate group. This mode emits exactly
    one row per input (representative = the group's minimum id;
    representative == id for non-duplicates and survivors) — O(k) per
    k-clique.

    Same duplicate SEMANTICS as pairs mode (the invariant the test
    asserts): groups are connected components of the within-block
    cosine-threshold graph. The collapse borrows `semantic_dedup`'s
    two-level shape — byte-identical vectors within a block pre-merge,
    the components run over unique vectors only, and the labels fan
    back out with one bounded join.

    100 TB shape (round 10, VERDICT r9 #5): the exact collapse is a
    map-side-combined `groupBy(blk, v).agg(min(id))` — duplicate
    vectors dedup INSIDE each map task, so the one wide shuffle
    carries ~unique vectors instead of every raw row (the r9 window
    shape shuffled and sorted every vector); the member fan-back joins
    on `xxhash64(v)` and never moves a vector. Hash collisions get the
    dictionary's exception discipline (Dictionary.scala:187-211's
    pattern): a hash key owning >1 distinct unique vector is detected
    EXACTLY (counted over the already-exact unique set) and its
    members re-resolve against raw vectors on that ~0-row slice.

    Any ORDERABLE id type works (string doc ids included) — the
    component step propagates min labels natively per type, matching
    pairs mode's `id_a < id_b` ordering (ADVICE r9).
    """
    from graphula_spark.operators.cluster import connected_components

    # no repartition: the exact collapse below shuffles on its own
    # keys anyway — a pre-shuffle of the raw vector payload is a pure
    # extra exchange (pairs mode keeps one to spread its fan-out)
    m = vectors.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # zero vectors never collapse (pairs mode scores them NULL/0,
    # below every positive threshold: they are no one's duplicate);
    # identical vectors in DIFFERENT blocks are never compared in
    # pairs mode, so the collapse is block-scoped too
    flagged = m.withColumn(
        "nz", F.coalesce(_norm(F.col("v")) > 0, F.lit(False))
    )
    nz = flagged.where(F.col("nz")).drop("nz")
    zr = flagged.where(~F.col("nz")).drop("nz")
    # exact collapse per (block, raw vector) with map-side combine
    uniq = (
        nz.groupBy("blk", "v").agg(F.min("id").alias("rep")).persist()
    )
    # hash-keyed fan-back: detect collisions over the (exact) unique
    # set — ids and hashes only, no vectors in this shuffle
    keyg = uniq.groupBy("blk", _vec_hash(F.col("v")).alias("h")).agg(
        F.count(F.lit(1)).alias("nv"), F.min("rep").alias("rep0")
    )
    clean = keyg.where(F.col("nv") == 1).select(
        "blk", "h", F.col("rep0").alias("rep")
    )
    coll_keys = keyg.where(F.col("nv") > 1).select("blk", "h")
    members_h = nz.select("id", "blk", _vec_hash(F.col("v")).alias("h"))
    # exception slice, composed LAZILY (no eager emptiness probe — one
    # extra driver job per call would outweigh the ~0-row slice):
    # members of colliding hash keys re-resolve against raw vectors
    exc = nz.withColumn("h", _vec_hash(F.col("v"))).join(
        F.broadcast(coll_keys), ["blk", "h"], "left_semi"
    )
    exc_assign = exc.groupBy("blk", "v").agg(F.min("id").alias("rep"))
    # normalize once per unique vector, score within blocks (bounded
    # join on the block key — nothing all-pairs across blocks)
    nrm = (
        uniq.select(F.col("rep").alias("id"), "blk", "v")
        .withColumn("n", _norm(F.col("v")))
        .withColumn("v", _unit(F.col("v"), F.col("n")))
        .drop("n")
    )
    a = nrm.select(F.col("id").alias("id_a"), "blk", F.col("v").alias("va"))
    b = nrm.select(F.col("id").alias("id_b"), "blk", F.col("v").alias("vb"))
    pairs = (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .where(_dot(F.col("va"), F.col("vb")) >= F.lit(threshold))
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    comp = connected_components(pairs, "id_a", "id_b")
    # group minimum: component label of the exact-rep when the rep is
    # in a component (labels are component minima over rep ids, and
    # every rep is its exact clique's minimum → the composition is the
    # true group minimum); else the rep itself.
    #
    # SINGLE-PASS fan-back (round 11, VERDICT r10 #2): compose the
    # component label onto the UNIQUE side first — rep-keyed rows are
    # ~unique vectors, not members — so member ids cross exactly ONE
    # exchange (the (blk, h) join). The old shape joined members on
    # (blk, h) and then re-shuffled the whole assign union on rep.
    rep_label = comp.select(
        F.col("node").alias("rep"), F.col("cluster").alias("g")
    )
    clean_lab = clean.join(rep_label, "rep", "left").select(
        "blk", "h", F.coalesce(F.col("g"), F.col("rep")).alias("r")
    )
    exc_lab = exc_assign.join(rep_label, "rep", "left").select(
        "blk", "v", F.coalesce(F.col("g"), F.col("rep")).alias("r")
    )
    out = (
        members_h.join(clean_lab, ["blk", "h"], "inner")
        .select("id", "r")
        .unionByName(exc.join(exc_lab, ["blk", "v"]).select("id", "r"))
        .unionByName(zr.select("id", F.col("id").alias("r")))
        .select(
            F.col("id").alias(id_col),
            F.col("r").alias("representative"),
        )
        .localCheckpoint(eager=True)
    )
    uniq.unpersist()
    return out


class IvfIndex:
    """Persistable IVF index: KMeans centroids + cell-assigned corpus.

    Fit once per corpus (`IvfIndex.build`), query many times, optionally
    `save`/`load` to parquet. The corpus parquet is partitioned by cell,
    so a loaded index serves each query by scanning ONLY its probed
    cells (partition pruning) — the 100 TB read path touches
    n_probe/n_cells of the data.
    """

    def __init__(self, assigned: DataFrame, centroids: DataFrame):
        self.assigned = assigned  # (neighbor_id, nv, cell)
        self.centroids = centroids  # (cell, cv)

    @classmethod
    def build(
        cls,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_cells: int = 16,
        seed: int = 42,
    ) -> "IvfIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        v = vectors.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("nv"),
        ).withColumn("features", array_to_vector(F.col("nv")))
        km = KMeans(
            k=n_cells, seed=seed, featuresCol="features", predictionCol="cell"
        )
        model = km.fit(v)
        assigned = model.transform(v).select("neighbor_id", "nv", "cell")
        centers_rows = [
            (i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ]
        # centroid table as a JVM literal plan (literal.py): at most
        # n_cells rows, exists to be broadcast — no Python-worker
        # parallelize task in every probe query (VERDICT r6 #2)
        from graphula_spark.literal import literal_df

        cdf = literal_df(
            vectors.sparkSession, centers_rows, "cell int, cv array<double>"
        )
        return cls(assigned, cdf)

    def save(self, path: str) -> None:
        self.assigned.write.mode("overwrite").partitionBy("cell").parquet(
            f"{path}/corpus"
        )
        self.centroids.write.mode("overwrite").parquet(f"{path}/centroids")

    @classmethod
    def load(cls, spark, path: str) -> "IvfIndex":
        return cls(
            spark.read.parquet(f"{path}/corpus"),
            spark.read.parquet(f"{path}/centroids"),
        )

    def topk(
        self,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 5,
        n_probe: int = 4,
    ) -> DataFrame:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
        # rank cells per query by centroid distance, keep n_probe
        qc = q.crossJoin(F.broadcast(self.centroids)).withColumn(
            "dist",
            F.aggregate(
                F.zip_with(
                    F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("dist").asc(), F.col("cell").asc()
        )
        probed = (
            qc.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= n_probe)
            .select("query_id", "qv", "cell")
        )
        scored = (
            probed.join(self.assigned, "cell")
            .where(F.col("query_id") != F.col("neighbor_id"))
            .withColumn(
                "score",
                _cos(F.col("qv"), F.col("nv")),
            )
        )
        w2 = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rn", F.row_number().over(w2))
            .where(F.col("rn") <= k)
            .select(
                "query_id", "neighbor_id", F.round("score", 4).alias("score")
            )
        )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: KMeans centroids partition the corpus into
    cells; each query probes its `n_probe` nearest cells and scores only
    those vectors. At scale the scored-pair count drops by
    ~n_cells/n_probe and the join shuffles on the cell id.

    One-shot convenience over `IvfIndex.build(...).topk(...)`; build the
    index explicitly to reuse or persist the trained cells.
    """
    idx = IvfIndex.build(
        vectors, id_col=id_col, vec_col=vec_col, n_cells=n_cells, seed=seed
    )
    return idx.topk(queries, id_col=id_col, vec_col=vec_col, k=k, n_probe=n_probe)


def seed_ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF top-k with deterministic seed centroids: the cells are anchored
    on the corpus vectors with the `n_cells` smallest ids instead of
    KMeans-learned centers.

    Same physical shape as `ivf_topk` (cell assignment → probe n_probe
    nearest cells → score only inside probed cells, shuffling on the cell
    id), but partition-order independent and reproducible in ANSI SQL, so
    the driver's DuckDB oracle can hash-match the output exactly.
    `ivf_topk` (learned centroids) remains the production path; its
    recall is pytest-gated against the exact operator.
    """
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    )
    cdf = v.orderBy("neighbor_id").limit(n_cells).select(
        F.col("neighbor_id").alias("cell"), F.col("nv").alias("cv")
    )

    def _sqdist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # assign each corpus vector to its nearest seed cell
    va = v.crossJoin(F.broadcast(cdf)).withColumn("dist", _sqdist(F.col("nv"), F.col("cv")))
    wa = Window.partitionBy("neighbor_id").orderBy(F.col("dist").asc(), F.col("cell").asc())
    assigned = (
        va.withColumn("rn", F.row_number().over(wa))
        .where(F.col("rn") == 1)
        .select("neighbor_id", "nv", "cell")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    qc = q.crossJoin(F.broadcast(cdf)).withColumn("dist", _sqdist(F.col("qv"), F.col("cv")))
    wq = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("cell").asc())
    probed = (
        qc.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    scored = (
        probed.join(assigned, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            _cos(F.col("qv"), F.col("nv")),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("score", 4).alias("score"))
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane (no RNG state —
    reproducible across engines/runs)."""
    import math

    return [
        math.sin(0.7 * (plane + 1) * (i + 1) + 0.13 * plane) for i in range(dim)
    ]


def lsh_bucket_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 8,
    multi_probe: int = 0,
    bucket_dims: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH buckets.

    Sign-bit sketch over `num_planes` fixed hyperplanes → bucket id;
    candidates = same bucket. `multi_probe` > 0 additionally probes the
    buckets reachable by flipping each of the first `multi_probe` sketch
    bits (the standard recall lever: probing b buckets ≈ b× candidates).
    At 100 TB the bucket join shuffles on the bucket id instead of
    broadcasting the full corpus.

    `bucket_dims` restricts the sketch to the first N vector components
    (scoring always uses the full vector): hyperplanes then have a fixed
    arity independent of the embedding dim, so an external SQL oracle can
    embed the same hyperplane constants and reproduce bucket assignment.
    """
    bdims = min(bucket_dims, dim) if bucket_dims else dim
    planes = [_hyperplane(bdims, p) for p in range(num_planes)]

    def bucket(vec):
        pre = F.slice(vec, 1, bdims)
        bits = None
        for pi, plane in enumerate(planes):
            arr = F.array(*[F.lit(x) for x in plane])
            d = _dot(pre, arr)
            bit = F.when(d >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2**pi)
            bits = bit if bits is None else bits + bit
        return bits

    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    ).withColumn("bucket", bucket(F.col("nv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("bucket", bucket(F.col("qv")))
    if multi_probe > 0:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(2**b))
                for b in range(min(multi_probe, num_planes))
            ],
        )
        q = q.withColumn("bucket", F.explode(probes))
    scored = (
        v.join(q, "bucket")
        .dropDuplicates(["query_id", "neighbor_id"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            _cos(F.col("qv"), F.col("nv")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("score", 4).alias("score"))
    )


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Symmetric int8 quantization of an embedding column — the 4×
    memory/IO lever for 100 TB-scale similarity search (a 64-dim
    float32 corpus drops from 256 B to 64 B per row before compression).

    Per-dimension scale: max(|x_d|)/127 over the corpus, computed by
    exploding to (dim, value) and aggregating on the bounded dim key;
    the scales table is dim-sized, broadcast back, and codes are
    `round(x_d / scale_d)` clamped to [-127, 127] (all JVM array HOFs).

    Returns (quantized, scales): quantized has `codes array<int>` in
    place of the float vector; scales is (dim, scale) for
    dequantization `x ≈ code * scale`.
    """
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    scales = (
        v.select(F.posexplode("v").alias("dim", "val"))
        .groupBy("dim")
        .agg((F.max(F.abs(F.col("val"))) / F.lit(127.0)).alias("scale"))
        # zero columns quantize to zero codes; avoid div-by-zero
        .withColumn(
            "scale",
            F.when(F.col("scale") == 0.0, F.lit(1.0)).otherwise(F.col("scale")),
        )
    )
    scale_arr = scales.orderBy("dim").agg(
        F.collect_list("scale").alias("scales")
    )
    quantized = (
        v.crossJoin(F.broadcast(scale_arr))
        .withColumn(
            "codes",
            F.zip_with(
                "v",
                "scales",
                lambda x, s: F.greatest(
                    F.lit(-127),
                    F.least(F.lit(127), F.round(x / s).cast("int")),
                ),
            ),
        )
        .select(id_col, "codes")
    )
    return quantized, scales


def cosine_topk_quantized(
    quantized: DataFrame,
    scales: DataFrame,
    query_ids: list,
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Cosine top-k over int8 codes with the per-dim scales folded in
    at score time: vectors stay stored as compact codes (the 4× IO
    win); the dim-sized scale vector broadcasts and dequantizes inline
    in the scoring expression, so the only approximation left is the
    int8 rounding itself (recall ≈ 1)."""
    scale_arr = F.broadcast(
        scales.orderBy("dim").agg(F.collect_list("scale").alias("s"))
    )
    deq = F.zip_with("codes", "s", lambda c, s: c * s)
    q = (
        quantized.where(F.col(id_col).isin(query_ids))
        .crossJoin(scale_arr)
        .select(F.col(id_col).alias("query_id"), deq.alias("qv"))
    )
    v = (
        quantized.crossJoin(scale_arr)
        .select(F.col(id_col).alias("neighbor_id"), deq.alias("nv"))
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            _cos(F.col("qv"), F.col("nv")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("score", 4).alias("score"))
    )


class PqModel:
    """Product-quantization codebooks: `m` subspaces × `kc` centroids
    each, trained driver-side on a bounded sample (deterministic
    seeded Lloyd iterations in numpy) and closed over by the encode /
    score UDFs — codebook bytes are m·kc·dsub·8, a few hundred KB at
    the classic m=8/kc=256, broadcast-class by construction.

    The 100 TB story PQ adds next to the int8 path
    (`quantize_embeddings`, 4×): a 64-dim float32 corpus drops from
    256 B to `m` bytes of codes per row (32× at m=8) while ADC scoring
    stays a table lookup per subspace — the memory/IO regime where
    whole-corpus scans of raw vectors stop being an option. (Jégou et
    al., "Product Quantization for Nearest Neighbor Search", TPAMI
    2011.)"""

    def __init__(self, codebooks):
        import numpy as np

        self.codebooks = np.asarray(codebooks, dtype="float64")
        self.m, self.kc, self.dsub = self.codebooks.shape

    @property
    def dim(self) -> int:
        return self.m * self.dsub

    def save(self, path: str) -> None:
        """Persist the codebooks as JSON (a few hundred KB at the
        classic m=8/kc=256) — train once per corpus, encode/query in
        any later session, the `IvfIndex.save` discipline."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        with open(f"{path}/pq_codebooks.json", "w") as fh:
            json.dump(self.codebooks.tolist(), fh)

    @classmethod
    def load(cls, path: str) -> "PqModel":
        import json

        with open(f"{path}/pq_codebooks.json") as fh:
            return cls(json.load(fh))


def pq_train(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_centroids: int = 256,
    sample_rows: int = 50_000,
    iters: int = 10,
    seed: int = 7,
) -> PqModel:
    """Train PQ codebooks on a BOUNDED corpus sample — the one
    deliberate driver-side collect of this family; codebook quality
    saturates long before corpus size, the standard PQ training
    regime. The sample is hash-ordered (`orderBy(xxhash64(id))` —
    Spark plans orderBy+limit as TakeOrdered, a per-partition top-k
    merge, never a full sort), so it is content-seeded and unbiased on
    sorted/clustered corpora, where a bare `limit()` would train on
    the first file's neighborhood (ADVICE r12). Vectors are
    unit-normalized first (cosine scoring), zero/NULL rows dropped;
    each subspace runs `iters` Lloyd rounds from a seeded choice of
    sample points, so training is deterministic. `k_centroids` clamps
    to the sample size."""
    import numpy as np

    rows = (
        vectors.select(
            F.col(id_col).alias("i"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .where(F.col("v").isNotNull())
        .orderBy(F.xxhash64(F.col("i"), F.lit(seed)))
        .limit(sample_rows)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype="float64")
    if X.ndim != 2 or not len(X):
        raise ValueError("pq_train: empty or ragged vector sample")
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]
    if not len(X):
        raise ValueError(
            "pq_train: every sampled vector is zero-norm — nothing to "
            "train cosine codebooks on"
        )
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    dsub = dim // m
    kc = min(k_centroids, len(X))
    rng = np.random.RandomState(seed)
    books = []
    for s in range(m):
        Xs = np.ascontiguousarray(X[:, s * dsub : (s + 1) * dsub])
        C = Xs[rng.choice(len(Xs), size=kc, replace=False)].copy()
        for _ in range(iters):
            # ||x-c||² argmin == (-2x·c + ||c||²) argmin (matmul form —
            # never materializes the (n, kc, dsub) difference tensor)
            d = -2.0 * (Xs @ C.T) + (C * C).sum(axis=1)
            assign = d.argmin(axis=1)
            for j in range(kc):
                pts = Xs[assign == j]
                if len(pts):
                    C[j] = pts.mean(axis=0)
        books.append(C)
    return PqModel(np.stack(books))


def pq_encode(
    vectors: DataFrame,
    model: PqModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as `m` centroid indices (`codes array<int>`,
    `m` bytes per row on disk after parquet dictionary encoding) — one
    Arrow-batched numpy matmul per subspace per batch, never a Python
    loop per row. Zero/NULL vectors encode to NULL codes (they have no
    cosine direction); every input row keeps exactly one output row."""
    import numpy as np

    id_type = dict(vectors.dtypes)[id_col]
    books = model.codebooks
    m, dsub = model.m, model.dsub
    cnorm = [(books[s] * books[s]).sum(axis=1) for s in range(m)]

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            vecs = pdf["__v"].values
            n = len(pdf)
            X = np.zeros((n, m * dsub))
            ok = np.zeros(n, dtype=bool)
            for i, vec in enumerate(vecs):
                if vec is None:
                    continue
                a = np.asarray(vec, dtype="float64")
                nv = np.linalg.norm(a)
                if len(a) == m * dsub and nv > 0:
                    X[i] = a / nv
                    ok[i] = True
            codes = np.zeros((n, m), dtype="int64")
            for s in range(m):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                d = -2.0 * (Xs @ books[s].T) + cnorm[s]
                codes[:, s] = d.argmin(axis=1)
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "codes": [
                        list(map(int, codes[i])) if ok[i] else None
                        for i in range(n)
                    ],
                }
            )
            yield out

    src = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    return src.mapInPandas(encode, f"{id_col} {id_type}, codes array<int>")


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    model: PqModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank_vectors: DataFrame | None = None,
    candidates_per_batch: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k over PQ codes via ADC (asymmetric
    distance computation): each query precomputes an (m × kc)
    lookup table of subspace dot products, so scoring a corpus row is
    `m` table lookups — the raw vectors are never read. Per Arrow
    batch each query keeps only its local top-`candidates_per_batch`
    (default max(4k, 32)) via argpartition, so the emitted candidate
    stream is O(batches × queries × C), never O(corpus × queries);
    a final window takes the global top-k.

    Pass `rerank_vectors` (the original vector table) to exact-rescore
    the surviving candidates — the standard PQ + re-rank shape: ADC
    prunes 100 TB down to candidate ids, the exact pass touches only
    those rows (broadcast-side join on id). Queries are collected
    driver-side (bounded query sets are this family's contract, same
    as `cosine_topk_quantized`'s id list)."""
    import numpy as np

    qrows = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).collect()
    qids, luts = [], []
    for r in qrows:
        a = np.asarray(r["qv"], dtype="float64")
        nv = np.linalg.norm(a)
        if nv == 0 or len(a) != model.dim:
            continue
        a = a / nv
        lut = np.stack(
            [
                model.codebooks[s]
                @ a[s * model.dsub : (s + 1) * model.dsub]
                for s in range(model.m)
            ]
        )  # (m, kc)
        qids.append(r["qid"])
        luts.append(lut)
    if not qids:
        from graphula_spark.literal import empty_df

        id_type = dict(codes.dtypes)[id_col]
        return empty_df(
            codes.sparkSession,
            f"query_id {id_type}, neighbor_id {id_type}, score double",
        )
    luts_arr = np.stack(luts)  # (nq, m, kc)
    cpb = candidates_per_batch or max(4 * k, 32)
    id_type = dict(codes.dtypes)[id_col]
    m = model.m

    def score(batches):
        import pandas as pd

        for pdf in batches:
            rows = pdf[pdf["codes"].notna()]
            if not len(rows):
                continue
            cm = np.array([list(c) for c in rows["codes"].values])  # (n, m)
            ids = rows[id_col].values
            out_q, out_n, out_s = [], [], []
            for qi, qid in enumerate(qids):
                s = luts_arr[qi][np.arange(m), cm].sum(axis=1)  # (n,)
                top = (
                    np.argpartition(-s, cpb)[:cpb]
                    if len(s) > cpb
                    else np.arange(len(s))
                )
                out_q.extend([qid] * len(top))
                out_n.extend(ids[top])
                out_s.extend(s[top])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "score": out_s}
            )

    cand = codes.mapInPandas(
        score,
        f"query_id {id_type}, neighbor_id {id_type}, score double",
    ).where(F.col("query_id") != F.col("neighbor_id"))
    if rerank_vectors is not None:
        nv = rerank_vectors.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("nv"),
        )
        qv = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
        cand = (
            cand.drop("score")
            .join(nv, "neighbor_id")
            .join(F.broadcast(qv), "query_id")
            .withColumn("score", _cos(F.col("qv"), F.col("nv")))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("score", 4).alias("score"))
    )


def ivfpq_topk(
    index: "IvfIndex",
    codes: DataFrame,
    queries: DataFrame,
    model: PqModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    rerank_vectors: DataFrame | None = None,
    candidates_per_batch: int | None = None,
) -> DataFrame:
    """IVF × PQ composition — the two scale levers stacked the way a
    100 TB similarity service runs them: IVF cell probing prunes the
    READ to n_probe/n_cells of the corpus (partition-pruned when the
    index is persisted), and within the probed slice scoring runs over
    PQ CODES via ADC (m table lookups per row, raw vectors untouched),
    optionally exact-re-ranked on the surviving candidate ids.

    `codes` is `pq_encode`'s output for the same corpus. The scored
    slice is the UNION of all queries' probed cells (one corpus pass
    for the whole bounded query batch; a query may thus see candidates
    from another query's cells — a recall superset, never a miss
    source). Pass `rerank_vectors` for the exact tail — standard
    IVFADC + re-rank (Jégou et al. 2011 §IV)."""
    probed_cells = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
        .crossJoin(F.broadcast(index.centroids))
        .withColumn(
            "dist",
            F.aggregate(
                F.zip_with(
                    F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("cell").asc()
    )
    cells = (
        probed_cells.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n_probe)
        .select("cell")
        .distinct()
    )
    if "cell" in codes.columns:
        # codes carrying their cell assignment (join it once at encode
        # time and persist partitionBy("cell")) prune by a broadcast
        # semi-join on the cell id — partition pruning at read time,
        # ZERO shuffle of the code table; the id-keyed fallback below
        # shuffles the (already m-bytes-per-row) codes instead
        sliced_codes = codes.join(F.broadcast(cells), "cell", "left_semi")
    else:
        slice_ids = (
            index.assigned.join(F.broadcast(cells), "cell", "left_semi")
            .select(F.col("neighbor_id").alias(id_col))
        )
        sliced_codes = codes.join(slice_ids, id_col, "left_semi")
    return pq_topk(
        sliced_codes, queries, model, id_col=id_col, vec_col=vec_col,
        k=k, rerank_vectors=rerank_vectors,
        candidates_per_batch=candidates_per_batch,
    )


#: hard cap on hot-cell sub-bucketing depth: 2^12 = 4096 subcells per
#: cell bounds the representative-bridge pass at ~8M rep pairs worst
#: case — still negligible next to the (pop/4096)² within-subcell work
MAX_SUB_BITS = 12


def _subdivide_hot_cells(
    v: DataFrame,
    max_cell_size: int,
    eps: float,
    seed: int,
):
    """Split KMeans cells whose population exceeds `max_cell_size` into
    2^r sub-buckets (r = ceil(log2(pop / max_cell_size)), capped at
    MAX_SUB_BITS) by the sign bits of seeded random hyperplanes taken
    AROUND THE CELL MEAN — sign(p·x - p·mean) — because a hub cell is
    a tight ball: uncentered hyperplanes would give every member the
    same signs and split nothing, while centered ones cut the ball
    roughly in half per plane. The mean is computed over the SAME
    (unit-normalized) vectors the signs are taken on — centering on
    the raw KMeans centroid instead leaves a constant offset that
    dominates every projection when the cluster's raw magnitude isn't
    1, collapsing the split to however many planes happen to cross it
    (caught with a non-unit template, `git show
    efe3c4f:tools/probe_r13.py`). Means come
    from ONE posexplode + (cell, pos) avg rebuilt in position order —
    a constant number of Catalyst expressions at ANY embedding width
    (the previous shape emitted one avg column per dimension, which at
    production widths 1536–4096 meant thousands of expressions per agg
    and an analysis/codegen stall — ADVICE r13); only oversized cells
    pay the explode, and the plane·mean offsets are folded per-CELL on
    the broadcast side so each ROW evaluates just the 12 nv
    projections. No per-cell KMeans jobs, and deterministic (numpy
    RandomState planes + a deterministic mean).

    Returns (v with a `__sub` column, bridge-edge DataFrame). The
    recall tradeoff (documented like `choose_decontam_bands`): a
    near-dup pair straddling a hyperplane lands in different
    sub-buckets and is not scored directly; connectivity across
    sub-buckets is restored by the BRIDGE pass — each sub-bucket's
    min-id representative is scored against the cell's other
    representatives (≤2^r rows per cell, quadratic only in
    representatives), adding the edge whenever two representatives are
    themselves eps-similar. For the hub regime that creates oversized
    cells in the first place (one template embedded millions of ways —
    the entire cell is one tight eps-ball), every representative pair
    passes the eps filter, so the fragmented group reconnects and
    GROUP recall stays ~1.0; for a mixed oversized cell, cross-bucket
    pairs whose components share no eps-similar representatives are
    lost — the measured probe gates recall ≥ 0.9 (PLANS.md §36;
    `git show efe3c4f:tools/probe_r13.py`)."""
    import numpy as np

    first = v.select("nv").first()
    if first is None:
        return v.withColumn("__sub", F.lit(0)), None
    dim = len(first[0])
    rng = np.random.RandomState(seed * 1_000_003 + 17)
    planes = rng.normal(size=(MAX_SUB_BITS, dim))
    counts = v.groupBy("cell").agg(F.count(F.lit(1)).alias("__pop"))
    rexp = (
        F.when(
            F.col("__pop") > max_cell_size,
            F.least(
                F.ceil(F.log2(F.col("__pop") / F.lit(float(max_cell_size)))),
                F.lit(MAX_SUB_BITS),
            ),
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    # only cells that actually split (__r > 0) need means/offsets —
    # the broadcast stays tiny and non-hot cells never pay the explode
    subcells = counts.select("cell", rexp.alias("__r")).where(F.col("__r") > 0)
    hot_v = v.join(F.broadcast(subcells.select("cell")), "cell", "left_semi")
    means = (
        hot_v.select("cell", F.posexplode("nv").alias("__pos", "__val"))
        .groupBy("cell", "__pos")
        .agg(F.avg("__val").alias("__m"))
        .groupBy("cell")
        .agg(
            # struct ordering compares fields left-to-right, so
            # array_sort over (pos, m) structs rebuilds the mean
            # vector in element order — dim-agnostic expression count
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
                lambda s: s["__m"],
            ).alias("cv")
        )
    )

    # the hyperplanes ride a ONE-ROW literal_df (array<double> columns)
    # instead of inline F.array(dim literals) expressions — at
    # production widths (1536–4096 dims) 12 inline plane arrays would
    # add ~50k literal nodes to the analyzed plan (same stall class as
    # the per-dim avg; ADVICE r13); as table columns they are data,
    # not expressions
    from graphula_spark.literal import literal_df

    planes_df = literal_df(
        v.sparkSession,
        [tuple([float(x) for x in p] for p in planes)],
        [(f"__p{i}", "array<double>") for i in range(MAX_SUB_BITS)],
    )

    def proj(vec_col, i):
        return F.aggregate(
            F.zip_with(vec_col, F.col(f"__p{i}"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # plane·mean is a per-CELL scalar: fold the 12 offsets on the tiny
    # means side so each data ROW evaluates 12 projections, not 24.
    # The crossJoin is a 1-row broadcast product onto the per-hot-cell
    # means — intentional and gated-tiny; the plane columns ride along
    # on the same broadcast so data rows get them via the cell join.
    offs = means.crossJoin(F.broadcast(planes_df)).select(
        "cell",
        *[proj(F.col("cv"), i).alias(f"__o{i}") for i in range(MAX_SUB_BITS)],
        *[f"__p{i}" for i in range(MAX_SUB_BITS)],
    )
    v2 = (
        v.join(F.broadcast(subcells), "cell", "left")
        .withColumn("__r", F.coalesce(F.col("__r"), F.lit(0)))
        .join(F.broadcast(offs), "cell", "left")
    )
    sub = F.lit(0)
    for i in range(MAX_SUB_BITS):
        # non-splitting cells carry null __o{i}; __r == 0 makes the
        # conjunct false (null-safe: a null comparison also falls to
        # the otherwise branch), so they land in sub-bucket 0
        sub = sub + F.when(
            (F.col("__r") > i)
            & ((proj(F.col("nv"), i) - F.col(f"__o{i}")) >= 0),
            F.lit(1 << i),
        ).otherwise(F.lit(0))
    v_sub = v2.select("id", "cell", sub.alias("__sub"), "nv")
    w = Window.partitionBy("cell", "__sub")
    reps = (
        v_sub.withColumn("__min", F.min("id").over(w))
        .where(F.col("id") == F.col("__min"))
        .select("id", "cell", "nv")
    )
    ra = reps.select(F.col("id").alias("id_a"), "cell", F.col("nv").alias("va"))
    rb = reps.select(F.col("id").alias("id_b"), "cell", F.col("nv").alias("vb"))
    bridge = (
        ra.join(rb, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(_dot(F.col("va"), F.col("vb")) >= F.lit(eps))
        .select("id_a", "id_b")
    )
    return v_sub, bridge


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    eps: float = 0.9,
    seed: int = 42,
    collapse_exact: bool = True,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): KMeans-cluster the embedding space, call two
    items semantic duplicates when their cosine similarity within a
    cluster reaches `eps`, and keep ONE representative per duplicate
    group. Groups are connected components of the within-cell dup
    graph, so chains (A~B~C with A!~C) collapse to a single survivor
    instead of over/under-deleting pair-by-pair; the deterministic
    representative is the minimum id (the paper keeps the item farthest
    from the centroid — swap the keep rule if that policy is wanted).

    Returns (id, cell, dup_group, keep): `dup_group` is null for items
    with no duplicate; `keep` marks the survivors (callers filter on it).

    Scale shape: KMeans bounds all pair scoring to within-cell
    (n_probe=1 IVF blocking — nothing all-pairs), the pair join
    shuffles on the bounded cell key, and the component pass is
    min-label propagation at O(log diameter) rounds over edges that
    exist only between near-duplicates (sparse by construction).

    `collapse_exact` (default on) pre-merges byte-identical vectors —
    one hash-agg shuffle — and runs the quadratic-in-clique-size
    semantic pass on unique vectors only, fanning the verdicts back
    out afterwards. Web-scale corpora repeat embeddings heavily (exact
    doc dups, boilerplate), and a k-member exact clique otherwise
    contributes k(k-1)/2 within-cell pairs for zero information.

    `max_cell_size` (round 13, VERDICT r12 #3) caps the remaining
    quadratic regime: `collapse_exact` kills byte-identical hubs, but
    a near-identical-yet-DISTINCT embedding hub (one template page
    re-rendered 10M ways) still lands one KMeans cell and pays
    pop²/2 pair scores in one task. With a cap, oversized cells are
    sub-bucketed by centroid-centered hyperplane signs and
    cross-bucket connectivity is restored through per-bucket
    representatives — see `_subdivide_hot_cells` for the recall
    tradeoff and PLANS.md §36 for the measured probe. None (default)
    keeps the exact within-cell behavior.
    """
    from graphula_spark.operators.cluster import connected_components

    if collapse_exact:
        m = vectors.select(
            F.col(id_col).alias("__oid"), F.col(vec_col).alias("__ov")
        )
        grp = Window.partitionBy("__ov")
        m = (
            m.withColumn("__rep", F.min("__oid").over(grp))
            .withColumn("__cnt", F.count("*").over(grp))
            .persist()
        )
        reps = m.where(F.col("__oid") == F.col("__rep")).select(
            F.col("__oid").alias(id_col), F.col("__ov").alias(vec_col)
        )
        rep_out = semantic_dedup(
            reps, id_col, vec_col, n_cells, eps, seed,
            collapse_exact=False, max_cell_size=max_cell_size,
        )
        # merged component label = semantic group of the representative,
        # else the representative itself when the exact clique has >1
        # member; min-of-exact-clique == rep and min-of-semantic-group
        # <= any rep in it, so the label is the true component minimum
        joined = m.join(
            rep_out.select(
                F.col("id").alias("__rep"),
                "cell",
                F.col("dup_group").alias("__g"),
            ),
            "__rep",
        )
        merged = F.coalesce(
            F.col("__g"),
            F.when(F.col("__cnt") > 1, F.col("__rep")),
        )
        out = joined.select(
            F.col("__oid").alias("id"),
            F.col("cell").cast("int").alias("cell"),
            merged.cast("long").alias("dup_group"),
            (merged.isNull() | (merged == F.col("__oid"))).alias("keep"),
        ).localCheckpoint(eager=True)
        # the verdict table is small (4 columns); materializing it lets
        # the cached intermediates be released instead of leaking for
        # the session lifetime
        m.unpersist()
        return out

    idx = IvfIndex.build(
        vectors, id_col=id_col, vec_col=vec_col, n_cells=n_cells, seed=seed
    )
    v = (
        idx.assigned.select(
            F.col("neighbor_id").alias("id"), F.col("cell"), F.col("nv")
        )
        .withColumn("n", _norm(F.col("nv")))
        .withColumn(
            "nv",
            F.when(
                F.col("n") > 0,
                F.transform(F.col("nv"), lambda x: x / F.col("n")),
            ).otherwise(F.col("nv")),
        )
        .drop("n")
        .persist()
    )
    bridge = None
    pair_key = ["cell"]
    if max_cell_size is not None:
        v_sub, bridge = _subdivide_hot_cells(v, max_cell_size, eps, seed)
        v_for_pairs = v_sub
        pair_key = ["cell", "__sub"]
    else:
        v_for_pairs = v
    a = v_for_pairs.select(
        F.col("id").alias("id_a"), *pair_key, F.col("nv").alias("va")
    )
    b = v_for_pairs.select(
        F.col("id").alias("id_b"), *pair_key, F.col("nv").alias("vb")
    )
    # localCheckpoint the (sparse) pair set: it is consumed repeatedly
    # downstream (symmetrization union, CC rounds, final join) and its
    # logical plan — KMeans transform + window + self-join with
    # aggregate HOFs — is expensive for Catalyst to re-analyze per use
    within = (
        a.join(b, pair_key)
        .where(F.col("id_a") < F.col("id_b"))
        .where(_dot(F.col("va"), F.col("vb")) >= F.lit(eps))
        .select("id_a", "id_b")
    )
    if bridge is not None:
        within = within.unionByName(bridge).dropDuplicates(["id_a", "id_b"])
    pairs = within.localCheckpoint(eager=True)
    comp = connected_components(pairs, "id_a", "id_b")
    out = (
        v.select("id", "cell")
        .join(
            comp.select(
                F.col("node").alias("id"), F.col("cluster").alias("dup_group")
            ),
            "id",
            "left",
        )
        .withColumn(
            "keep",
            F.col("dup_group").isNull() | (F.col("dup_group") == F.col("id")),
        )
        .select(
            F.col("id"),
            F.col("cell").cast("int").alias("cell"),
            F.col("dup_group").cast("long").alias("dup_group"),
            "keep",
        )
        .localCheckpoint(eager=True)
    )
    v.unpersist()
    return out


def choose_decontam_bands(
    threshold: float,
    planes_per_band: int = 16,
    target_recall: float = 0.95,
    max_bands: int = 64,
) -> int:
    """Number of sign-bit bands needed so a pair at EXACTLY the
    threshold cosine is caught with `target_recall` probability — the
    hyperplane-LSH analogue of `dedup.choose_lsh_params` (round 12,
    VERDICT r11 #5: the 8-band default's band-match probability is
    ~0.19 at c=0.95, i.e. ~81% recall right AT the boundary).

    Standard amplification arithmetic (SimHash / random-hyperplane
    LSH, Charikar 2002): a pair at cosine c agrees on one plane with
    probability 1 - acos(c)/pi, on a whole band with
    p = (1 - acos(c)/pi)^planes, and across B independent bands with
    1 - (1-p)^B — so B = ceil(ln(1-target) / ln(1-p)). The cost of
    more bands is linear candidate volume AND the unrelated-pair
    collision term B/2^planes (the term that must stay tiny: at
    16-plane bands, B=15 keeps it at 0.023% of pairs; halving
    planes_per_band would put even B=8 at 6% — raise bands, never
    shrink bands' width, when chasing boundary recall)."""
    import math

    p_plane = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p_band = p_plane ** planes_per_band
    if p_band >= 1.0:
        return 1
    if p_band <= 0.0:
        return max_bands
    b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band))
    return max(1, min(max_bands, b))


def semantic_decontaminate(
    vectors: DataFrame,
    bench_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bucketed: bool = False,
    num_bands: int | str = 8,
    planes_per_band: int = 16,
    bucket_dims: int = 64,
) -> DataFrame:
    """Embedding-level benchmark decontamination: (id, max_sim,
    contaminated) per corpus vector — contaminated when its cosine
    against ANY benchmark vector reaches `threshold`. The semantic
    complement of `text.decontaminate`'s n-gram collision check
    (paraphrased eval leakage carries no shared n-grams).

    Scale shape: eval sets are MBs — the bench side normalizes once,
    is count-gated onto a broadcast, and the corpus streams ONCE
    through a map-side crossJoin; the only shuffle is the per-id max
    aggregation (map-side combined to ~one row per corpus id). A
    bench set past the gate degrades to a shuffle join — for a bench
    that is itself corpus-scale pass ``bucketed=True`` (round 11,
    VERDICT r10 #4): both sides band `num_bands` independent sign-bit
    sketches of `planes_per_band` fixed hyperplanes (same banding
    logic as MinHash LSH — candidate iff ANY band matches), the join
    runs on (band, bits) instead of a cross product, and scoring stays
    EXACT on candidates. The bucketed result is one-sided approximate:
    flagged ids are truly >= threshold (no false positives), but a
    near-dup pair landing in no shared band is missed. Band width
    trades candidate volume against borderline recall: UNRELATED pairs
    collide at ~num_bands/2^planes (the term that must stay tiny — at
    1M x 200k even a 1% pair rate is 2 billion scorings; the 16-plane
    default keeps it at 0.012%, section D of
    `git show efe3c4f:tools/probe_r11.py`), while a pair at cosine c
    matches a band at (1 - acos(c)/pi)^planes — ~0.66/band at c=0.997
    (true dups), ~0.19 at exactly c=0.95, so recall is ~1.0 for
    real duplicates and degrades toward the threshold boundary
    (recall-gated >= 0.9 vs the exact path on planted near-dups in
    tests). For borderline regimes pass ``num_bands="auto"`` (round
    12): `choose_decontam_bands` sizes the band count so a pair AT the
    threshold cosine is still caught with ~0.95 probability (15 bands
    at c=0.95/16 planes, unrelated-pair collision 0.023%) — the
    default stays 8 for the true-duplicate regime where band volume
    buys nothing. Corpus rows explode x num_bands into the bucket
    join; a corpus id with no candidate keeps max_sim NULL via the
    left join. Zero-norm OR NULL vectors score NULL (no similarity)
    on either side, max ignores NULLs, and an all-NULL id is not
    contaminated — every corpus id yields exactly one output row in
    both paths."""
    if bucketed:
        if num_bands == "auto":
            num_bands = choose_decontam_bands(threshold, planes_per_band)
        return _semantic_decontaminate_bucketed(
            vectors, bench_vectors, id_col, vec_col, threshold,
            num_bands, planes_per_band, bucket_dims,
        )
    from pyspark import StorageLevel

    from graphula_spark.scratch import track

    v = (
        vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("n", _norm(F.col("v")))
        .withColumn("v", _unit(F.col("v"), F.col("n")))
    )
    b = track(
        bench_vectors.select(
            F.col(vec_col).cast("array<double>").alias("bv")
        )
        .withColumn("bn", _norm(F.col("bv")))
        .withColumn("bv", _unit(F.col("bv"), F.col("bn")))
        .dropDuplicates(["bv"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bb = F.broadcast(b) if b.count() <= 1_000_000 else b
    scored = v.crossJoin(bb).withColumn(
        "score",
        F.when(
            (F.col("n") > 0) & (F.col("bn") > 0),
            _dot(F.col("v"), F.col("bv")),
        ),
    )
    return (
        scored.groupBy("id")
        .agg(F.max("score").alias("max_sim"))
        .select(
            F.col("id").alias(id_col),
            "max_sim",
            F.coalesce(
                F.col("max_sim") >= F.lit(threshold), F.lit(False)
            ).alias("contaminated"),
        )
    )


def _semantic_decontaminate_bucketed(
    vectors: DataFrame,
    bench_vectors: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_bands: int,
    planes_per_band: int,
    bucket_dims: int,
) -> DataFrame:
    """Banded-LSH candidate generation for `semantic_decontaminate`
    (see there). One (band, bits) equi-join + one per-id max — never
    a cross product; scoring is exact on candidates.

    The sketch (num_bands × planes_per_band sign bits per vector) is
    an Arrow-batched Pandas UDF doing ONE numpy matmul per batch —
    128 hyperplane dot products per row as Catalyst HOF expressions
    blew up whole-stage codegen and ran minutes at 1M rows
    (caught by section D of `git show efe3c4f:tools/probe_r11.py`); the
    matmul is milliseconds per batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [
            _hyperplane(bucket_dims, i)
            for i in range(num_bands * planes_per_band)
        ]
    )  # (B*P, bucket_dims)
    weights = (2 ** np.arange(planes_per_band)).astype("int64")
    nb, ppb, bd = num_bands, planes_per_band, bucket_dims

    # NB: module-wide `from __future__ import annotations` turns hints
    # into strings pandas_udf cannot resolve against local imports, so
    # the signature is declared via real (non-string) annotations set
    # after definition
    def _sketch(col):
        m = np.zeros((len(col), bd))
        for i, vec in enumerate(col.values):
            a = np.asarray(vec[:bd], dtype="float64")
            m[i, : len(a)] = a
        bits = (m @ planes.T >= 0).reshape(len(col), nb, ppb)
        bands = bits @ weights  # (n, nb) int64 bucket ids per band
        return pd.Series(list(bands))

    _sketch.__annotations__ = {"col": pd.Series, "return": pd.Series}
    banded_sketch = pandas_udf(_sketch, "array<long>")

    v = (
        vectors.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("n", _norm(F.col("v")))
        .withColumn("v", _unit(F.col("v"), F.col("n")))
    )
    b = (
        bench_vectors.select(
            F.col(vec_col).cast("array<double>").alias("bv")
        )
        .withColumn("bn", _norm(F.col("bv")))
        .withColumn("bv", _unit(F.col("bv"), F.col("bn")))
        .dropDuplicates(["bv"])
        # zero-norm bench rows are no one's contamination source
        .where(F.col("bn") > 0)
    )
    bexp = b.select(
        F.posexplode(banded_sketch(F.col("bv"))).alias("band", "bits"),
        "bv",
    )
    # null-SAFE split (round 12, ADVICE): a NULL embedding has NULL
    # norm, which fails BOTH `n > 0` and `~(n > 0)` — the row would
    # silently vanish, breaking the one-row-per-corpus-id contract the
    # exact path keeps (it returns such rows with max_sim NULL,
    # contaminated false). Coalesce routes NULL/zero-norm rows to the
    # no-candidate union branch, same as embedding_near_dup_reps does.
    nz = F.coalesce(F.col("n") > 0, F.lit(False))
    nzv = v.where(nz)
    # zero/NULL-norm corpus rows get no bands: never candidates, NULL
    zrv = v.where(~nz).select("id")
    vexp = nzv.select(
        "id",
        F.posexplode(banded_sketch(F.col("v"))).alias("band", "bits"),
        "v",
    )
    scored = vexp.join(bexp, ["band", "bits"], "left").withColumn(
        "score", F.when(F.col("bv").isNotNull(), _dot(F.col("v"), F.col("bv")))
    )
    agg = scored.groupBy("id").agg(F.max("score").alias("max_sim"))
    out = agg.unionByName(
        zrv.select("id", F.lit(None).cast("double").alias("max_sim"))
    )
    return out.select(
        F.col("id").alias(id_col),
        "max_sim",
        F.coalesce(
            F.col("max_sim") >= F.lit(threshold), F.lit(False)
        ).alias("contaminated"),
    )
