"""Similarity search over embedding columns (array<float>): brute-force
cosine top-k baseline + amplified LSH scale path.

Scale shape: brute-force is queries × corpus — fine when the query set
broadcasts (small side) and the corpus streams; the LSH path replaces
the cross product with a bucket equi-join.  Amplification is the
standard AND-OR construction: each of ``n_tables`` tables ANDs
``n_planes`` random-hyperplane sign bits into one bucket key (2^p
buckets per table), and candidates are pairs colliding in ANY table —
recall is tuned by n_tables, bucket width (and so the pair-join cost)
by n_planes.  At corpus scale, grow n_planes ≈ log2(n / target_bucket)
so expected bucket width stays constant; a single 4-plane table
(16 buckets total) would make the pair join O(n²/16), which is why the
defaults here are 8 planes × 2 tables and both are explicit knobs.

Planes are DETERMINISTIC integer pseudo-planes derived from the
embedding's own dimensionality — w[g, j] = ((g·D + j)·2654435761) %
97 − 48 with D = size(embedding), g the global plane index — so any
dim works (nothing hard-wires 64) and the SQL oracle reproduces the
signs exactly.  Dot products run as built-in ``zip_with``/``aggregate``
folds — JVM, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DOT = "aggregate(zip_with({a}, {b}, (vx, vy) -> cast(vx as double) * cast(vy as double)), 0D, (acc, vz) -> acc + vz)"
_NORM = "sqrt(aggregate({a}, 0D, (acc, vn) -> acc + cast(vn as double) * cast(vn as double)))"

N_PLANES = 8
N_TABLES = 2


def auto_n_planes(
    corpus_size: int, target_bucket: int = 64, min_planes: int = 4, max_planes: int = 24
) -> int:
    """The growth rule, automated: n_planes ≈ log2(n / target_bucket) so
    EXPECTED bucket width n / 2^p stays ≈ ``target_bucket`` as the
    corpus grows — 100× more vectors costs log2(100) ≈ 7 more planes,
    no manual retuning, and the per-table pair-join cost stays
    O(n · target_bucket) instead of drifting quadratic.  Clamped to
    [min_planes, max_planes] (beyond ~24 sign bits per table, recall
    for mid-similarity pairs needs more tables, not more planes).

    Pass the result to ``lsh_buckets``/``lsh_neighbor_pairs``; the
    driver-side ``corpus_size`` count is one cheap metadata-only action.
    """
    import math

    if corpus_size <= 0:
        return min_planes
    p = math.ceil(math.log2(max(corpus_size / max(target_bucket, 1), 1.0)))
    return max(min_planes, min(max_planes, p))


def cosine_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 3
) -> DataFrame:
    """Brute-force top-k cosine neighbors for each query vector.

    (query_id, neighbor_id, rank, cos rounded 6dp); self-matches
    excluded; ties broken by neighbor_id ascending.
    """
    from pyspark.sql.window import Window

    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = embeddings.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.expr(_DOT.format(a="qe", b="ce"))
            / (F.expr(_NORM.format(a="qe")) * F.expr(_NORM.format(a="ce"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def lsh_buckets(
    embeddings: DataFrame, n_planes: int = N_PLANES, n_tables: int = N_TABLES
) -> DataFrame:
    """(vec_id, table_id, bucket): per AND-OR table, the bucket is the
    ``n_planes``-bit sign pattern of the deterministic pseudo-planes.
    Plane indices derive from ``size(embedding)`` — dim-agnostic; any
    dimension produces a full, valid bucketing (no silent null-padding).
    """
    bucket = F.expr(
        f"""
        transform(sequence(0, {n_tables - 1}), tt ->
          aggregate(
            transform(sequence(0, {n_planes - 1}), lp ->
              if(aggregate(zip_with(embedding,
                   sequence((tt * {n_planes} + lp) * size(embedding),
                            (tt * {n_planes} + lp) * size(embedding) + size(embedding) - 1),
                   (le, lj) -> cast(le as double) * cast((lj * 2654435761) % 97 - 48 as double)),
                   0D, (acc, lx) -> acc + lx) > 0D, shiftleft(1, lp), 0)),
            0, (acc2, lb) -> acc2 + lb))
        """
    )
    return (
        embeddings.select("vec_id", F.posexplode(bucket).alias("table_id", "bucket"))
        .select("vec_id", F.col("table_id").cast("int").alias("table_id"), "bucket")
    )


def lsh_neighbor_pairs(
    embeddings: DataFrame,
    n_planes: int = N_PLANES,
    n_tables: int = N_TABLES,
    threshold: float = 0.2,
) -> DataFrame:
    """Candidate pairs collide in (table_id, bucket) for ANY table
    (OR over AND-ed sign bits), then exact cosine ≥ threshold verifies.
    One shuffle on the composite bucket key; no cross product.  The
    signature is the only blocking, so unlabeled corpora work; at
    threshold ≥ 0.95 two vectors' sign patterns agree on almost every
    plane, so recall through the bucket join is high by construction."""
    b = lsh_buckets(embeddings, n_planes, n_tables)
    e = embeddings.select("vec_id", "embedding")
    a = b.select(F.col("vec_id").alias("id_a"), "table_id", "bucket")
    c = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("table_id").alias("t2"),
        F.col("bucket").alias("b2"),
    )
    cand = (
        a.join(c, on=[a["table_id"] == c["t2"], a["bucket"] == c["b2"], a["id_a"] < c["id_b"]])
        .select("id_a", "id_b")
        .distinct()
    )
    ea = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    eb = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn(
            # round BEFORE thresholding so the SQL oracle (which sees
            # only 6dp) agrees on boundary values
            "cos",
            F.round(
                F.expr(_DOT.format(a="ea", b="eb"))
                / (F.expr(_NORM.format(a="ea")) * F.expr(_NORM.format(a="eb"))),
                6,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def ivf_centroids(embeddings: DataFrame, n_centroids: int = 16) -> DataFrame:
    """Deterministic coarse-quantizer centroids: the corpus rows at
    vec_id ∈ {0, s, 2s, …} with stride s = ⌊n / k⌋ — an evenly-spaced
    corpus sample, reproducible bit-for-bit by the SQL oracle (k-means
    would converge engine-dependently; see ``ivf_kmeans_centroids`` for
    the refined production path).  One metadata count + one broadcastable
    k-row filter."""
    n = embeddings.count()
    stride = max(n // n_centroids, 1)
    cids = [i * stride for i in range(n_centroids)]
    return embeddings.filter(F.col("vec_id").isin(cids)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cemb")
    )


def ivf_assign(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, centroid_id): each vector joins its max-cosine centroid
    (ties → lowest centroid_id).  The centroid side is k rows →
    broadcast cross; the argmax is ``max_by`` over a (cos, −id) struct,
    i.e. a DECLARATIVE aggregation — partial aggregation collapses each
    partition's n_p·k scored rows back to n_p before the exchange, so
    the shuffle ships one row per vector.  A ``row_number() = 1``
    window plans ``WindowGroupLimit`` on both sides of its shuffle and
    ships as few rows; ``max_by`` stays because its plan is simpler
    (one aggregate, no sort).
    At 100 TB the corpus is then WRITTEN partitioned (or bucketed) by
    ``centroid_id``, so a probe of p lists reads p/k of the data via
    partition pruning instead of a full scan."""
    scored = embeddings.select("vec_id", "embedding").crossJoin(
        F.broadcast(centroids)
    ).withColumn(
        "cos",
        F.expr(_DOT.format(a="embedding", b="cemb"))
        / (F.expr(_NORM.format(a="embedding")) * F.expr(_NORM.format(a="cemb"))),
    )
    return scored.groupBy("vec_id").agg(
        F.max_by(
            "centroid_id", F.struct(F.col("cos"), (-F.col("centroid_id")).alias("_nid"))
        ).alias("centroid_id")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: queries probe their ``n_probe`` nearest
    centroids and scan only vectors assigned to those inverted lists —
    the scan shrinks by ~n_probe/n_centroids vs brute force, and with
    the corpus partitioned by ``centroid_id`` the shrink is partition
    PRUNING, not post-filter.  Output matches ``cosine_topk``'s schema
    (query_id, neighbor_id, rank, cos) so recall is directly auditable
    against the exact baseline.  All joins are broadcast (centroids,
    probe set, query vectors are all small sides — the probe set is
    broadcast EXPLICITLY so the index side streams un-shuffled); the
    wide-side work is the assignment scan plus the probed-list re-rank.
    The final top-k window partitions by query_id — fine while queries
    are a broadcastable set (one group per query); a huge query batch
    would shard the query side and loop instead, keeping each window's
    group sizes bounded."""
    from pyspark.sql.window import Window

    cents = ivf_centroids(embeddings, n_centroids)
    index = ivf_assign(embeddings, cents)
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    qs = q.crossJoin(F.broadcast(cents)).withColumn(
        "qcos",
        F.expr(_DOT.format(a="qe", b="cemb"))
        / (F.expr(_NORM.format(a="qe")) * F.expr(_NORM.format(a="cemb"))),
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("qcos").desc(), F.col("centroid_id").asc())
    probes = (
        qs.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "centroid_id")
    )
    cand = index.join(F.broadcast(probes), "centroid_id").select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )
    scored = (
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(q), "query_id")
        .join(
            embeddings.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")),
            "neighbor_id",
        )
        .withColumn(
            "cos",
            F.expr(_DOT.format(a="qe", b="ce"))
            / (F.expr(_NORM.format(a="qe")) * F.expr(_NORM.format(a="ce"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def ivf_kmeans_centroids(
    embeddings: DataFrame, n_centroids: int = 16, max_iter: int = 10, seed: int = 7
) -> DataFrame:
    """Production centroid refinement: Lloyd's k-means via
    ``pyspark.ml`` (distributed treeAggregate updates under the hood),
    returning the same (centroid_id, cemb) contract as
    ``ivf_centroids`` so ``ivf_assign``/``ivf_topk`` compose unchanged.
    Seeded and deterministic for a fixed partitioning, but float
    reduction order is engine-specific — no bit-exact SQL oracle, so
    the gate query keeps the deterministic-sample centroids and this
    path is covered by recall tests instead."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feats = embeddings.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    km = KMeans(k=n_centroids, maxIter=max_iter, seed=seed, initMode="k-means||")
    model = km.fit(feats)
    centers = model.clusterCenters()
    sdf = embeddings.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "centroid_id int, cemb array<float>",
    )
    return sdf


def auto_n_centroids(
    corpus_size: int, target_cluster: int = 512, min_centroids: int = 4
) -> int:
    """Growth rule for ``semdedup``'s cluster count (same pattern as
    ``auto_n_planes``): k ≈ n / target_cluster keeps the EXPECTED
    cluster width — and so the per-cluster pairwise-cosine cost
    O(width²·D) — constant as the corpus grows.  100× more vectors →
    100× more clusters, each the same size; the within-cluster join
    stays O(n · target_cluster) total instead of drifting quadratic."""
    import math

    if corpus_size <= 0:
        return min_centroids
    return max(min_centroids, math.ceil(corpus_size / max(target_cluster, 1)))


def semdedup(
    embeddings: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning with the pairwise search BOUNDED by coarse
    clusters — the trick that makes embedding dedup tractable at
    web scale (the paper runs it on LAION-440M).  Steps:

    1. cluster the corpus (here: the same deterministic stride-sample
       centroids as ``ivf_centroids`` so the SQL oracle reproduces the
       assignment bit-for-bit; production swaps in
       ``ivf_kmeans_centroids`` via the ``centroids`` arg — the
       (centroid_id, cemb) contract is shared);
    2. within each cluster only, compare all pairs by cosine;
    3. in every group of ≥-threshold neighbours keep ONE
       representative — per the paper, the member with the LOWEST
       cosine to its centroid (keeps the "edge" examples, prunes the
       redundant core).  Deterministically: order cluster members by
       (cos-to-centroid ASC, vec_id ASC); a member is a duplicate iff
       some EARLIER member is ≥-threshold similar to it (the paper's
       greedy sweep — the first member of each near-dup group in that
       order survives).

    Returns every input row as (vec_id, centroid_id, ccos, is_dup);
    downstream keeps ``NOT is_dup``.  Scale shape: one k-row broadcast
    cross for assignment collapsed by a declarative ``max_by`` partial
    agg (one row per vector crosses the exchange), then ONE shuffle on
    ``centroid_id`` for the within-cluster self-join — per-task cost is
    cluster_width², held constant by growing ``n_centroids`` with the
    corpus (``auto_n_centroids``); no global pairwise anywhere.  The
    cos-to-centroid is rounded to 6 dp BEFORE the ordering comparison
    so the survivor choice is identical across engines."""
    cents = centroids if centroids is not None else ivf_centroids(embeddings, n_centroids)
    scored = (
        embeddings.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "cos",
            F.expr(_DOT.format(a="embedding", b="cemb"))
            / (F.expr(_NORM.format(a="embedding")) * F.expr(_NORM.format(a="cemb"))),
        )
    )
    # argmax-cosine assignment (ties → lowest centroid_id) AND the
    # winning cosine, in one declarative agg: max(cos) equals the
    # assigned centroid's cos by construction
    assign = scored.groupBy("vec_id").agg(
        F.max_by(
            "centroid_id", F.struct(F.col("cos"), (-F.col("centroid_id")).alias("_nid"))
        ).alias("centroid_id"),
        F.round(F.max("cos"), 6).alias("ccos"),
    )
    member = assign.join(embeddings.select("vec_id", "embedding"), "vec_id")
    a = member.select(
        F.col("vec_id").alias("a_id"), F.col("centroid_id").alias("cid"),
        F.col("ccos").alias("a_ccos"), F.col("embedding").alias("ae"),
    )
    b = member.select(
        F.col("vec_id").alias("b_id"), F.col("centroid_id").alias("cid"),
        F.col("ccos").alias("b_ccos"), F.col("embedding").alias("be"),
    )
    earlier = (F.col("b_ccos") < F.col("a_ccos")) | (
        (F.col("b_ccos") == F.col("a_ccos")) & (F.col("b_id") < F.col("a_id"))
    )
    dups = (
        a.join(b, "cid")
        .filter(earlier)
        .withColumn(
            "pcos",
            F.round(
                F.expr(_DOT.format(a="ae", b="be"))
                / (F.expr(_NORM.format(a="ae")) * F.expr(_NORM.format(a="be"))),
                6,
            ),
        )
        .filter(F.col("pcos") >= threshold)
        .select(F.col("a_id").alias("vec_id"))
        .distinct()
        .withColumn("_d", F.lit(True))
    )
    return (
        assign.join(dups, "vec_id", "left")
        .select(
            "vec_id", "centroid_id", "ccos",
            F.coalesce(F.col("_d"), F.lit(False)).alias("is_dup"),
        )
    )
