"""Mergeable cardinality sketch: K-minimum-values (KMV) distinct
counting (Bar-Yossef et al., RANDOM'02 — the bottom-k sketch HLL
superseded but which, unlike HLL, is exactly reproducible across
engines from a shared hash).

Estimator: hash every distinct item to [0, 1); if U_(k) is the k-th
smallest hash, the estimate is (k − 1) / U_(k).  Hashes here are the
first 12 hex digits of md5 (48 bits — collision-free at any realistic
vocabulary), normalized by 16^12 — pure integer/decimal arithmetic
both Spark and DuckDB compute bit-identically, so the driver query is
value-hash-checked like every other operator, while Spark's own
``approx_count_distinct`` (HLL++) has no cross-engine twin.

Scale shape: the k smallest hashes of the WHOLE corpus are the k
smallest of the union of each partition's k smallest — Spark's
``orderBy().limit(k)`` plans exactly that (TakeOrderedAndProject:
per-partition top-k, then a k·P-row merge on the driver-side single
partition), so the sketch costs one scan + a k-row reduce, never a
global sort.  The same bottom-k property is what makes KMV sketches
mergeable across shards/days in a lakehouse rollup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX_DIGITS = 12
_DENOM = 16 ** HEX_DIGITS


def _token_hash(col: Column, digits: int) -> Column:
    """The integer of ``col``'s first ``digits`` md5 hex digits (4·digits
    bits) — conv() returns a string."""
    return F.conv(F.substring(F.md5(col), 1, digits), 16, 10).cast("bigint")


def kmv_distinct_tokens(
    docs: DataFrame, k: int = 256, shingle_n: int = 1
) -> DataFrame:
    """One-row result: (k, kmv_estimate, exact_distinct) for the
    corpus-wide distinct-``shingle_n``-gram cardinality (1 = tokens).
    ``exact_distinct`` is the ground truth the estimate is judged
    against (cheap at test scale; at 100 TB one keeps only the
    sketch).  Fewer than k distinct items → the sketch IS the exact
    set and the estimate equals the count."""
    from snorkel_spark.operators.dedup import _shingle_set_expr

    toks = (
        docs.select(F.explode(F.expr(_shingle_set_expr(shingle_n))).alias("token"))
        .filter(F.col("token") != "")
        .select("token")
        .distinct()
    )
    hashes = toks.select(_token_hash(F.col("token"), HEX_DIGITS).alias("h"))
    kth = (
        hashes.orderBy("h")
        .limit(k)
        .agg(F.max("h").alias("kth"), F.count("*").alias("n_in_sketch"))
    )
    exact = toks.agg(F.count("*").alias("exact_distinct"))
    return kth.crossJoin(exact).select(
        F.lit(k).alias("k"),
        # fewer than k distinct items → the sketch IS the exact set
        F.when(
            F.col("n_in_sketch") < k, F.col("n_in_sketch").cast("double")
        )
        .otherwise(
            # single pre-folded double literal: (k−1)·16^12 exceeds
            # 2^53, so fold it in Python once and let both engines
            # parse the same shortest-repr decimal to the same double
            F.lit(float((k - 1) * _DENOM)) / F.col("kth")
        )
        .alias("raw_estimate"),
        "exact_distinct",
    ).select(
        "k",
        F.round("raw_estimate", 2).alias("kmv_estimate"),
        "exact_distinct",
    )


def kmv_shard_merge(
    docs: DataFrame, k: int = 64, shingle_n: int = 3, n_shards: int = 8
) -> DataFrame:
    """The lakehouse rollup the bottom-k property promises: build ONE
    KMV sketch per shard (shard = doc_id % n_shards — stand-in for a
    per-day/per-partition sketch), merge the sketches (union → distinct
    hash → re-bottom-k), and report the merged estimate next to the
    directly-computed global estimate.  Because every hash in the
    global bottom-k is necessarily in its own shard's bottom-k, the two
    estimates are EQUAL BY CONSTRUCTION — the returned row is its own
    invariant, and the DuckDB oracle re-derives both sides
    independently.

    Scale shape: the per-shard bottom-k is a window row_number over
    (shard, h) — each shard's hashes sort WITHIN the shard's partition,
    never globally; the merge then handles only n_shards·k rows (a
    TakeOrdered over a vanishing input).  This is exactly how per-day
    sketches roll up to a month in a 100 TB lakehouse without ever
    re-scanning the days."""
    from pyspark.sql.window import Window

    from snorkel_spark.operators.dedup import _shingle_set_expr

    toks = (
        docs.select(
            (F.col("doc_id") % n_shards).cast("int").alias("shard"),
            F.explode(F.expr(_shingle_set_expr(shingle_n))).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    # (shard, token) is already distinct; h = f(token) keeps it so
    hashes = toks.select("shard", _token_hash(F.col("token"), HEX_DIGITS).alias("h"))
    w = Window.partitionBy("shard").orderBy("h")
    shard_sketches = (
        hashes.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    )
    merged = (
        shard_sketches.select("h")
        .distinct()
        .orderBy("h")
        .limit(k)
        .agg(F.max("h").alias("kth"), F.count("*").alias("n_in_sketch"))
    )
    global_ = (
        hashes.select("h")
        .distinct()
        .orderBy("h")
        .limit(k)
        .agg(F.max("h").alias("g_kth"), F.count("*").alias("g_n"))
    )

    def est(n_col, kth_col):
        return (
            F.when(F.col(n_col) < k, F.col(n_col).cast("double"))
            .otherwise(F.lit(float((k - 1) * _DENOM)) / F.col(kth_col))
        )

    return merged.crossJoin(global_).select(
        F.lit(k).alias("k"),
        F.lit(n_shards).alias("n_shards"),
        F.round(est("n_in_sketch", "kth"), 2).alias("merged_estimate"),
        F.round(est("g_n", "g_kth"), 2).alias("global_estimate"),
    )


def kmv_jaccard(
    docs_a: DataFrame, docs_b: DataFrame, k: int = 256, shingle_n: int = 3
) -> DataFrame:
    """Sketch-based corpus similarity: the bottom-k hashes of A ∪ B are
    a uniform sample of the union, so the fraction of them present in
    BOTH sides estimates the shingle Jaccard J(A, B) — the one-row
    corpus-overlap number behind dataset-contamination dashboards,
    computable from two mergeable bottom-k sketches WITHOUT holding
    either shingle set.  Returns (k, kmv_jaccard, exact_jaccard); both
    ratios are exact-integer-rounded at 6 dp (the ``quality_scores``
    rationale — round(double) flakes at half boundaries, and m/k with
    k a power of two lands on them often).  Same bottom-k plan shape
    as ``kmv_distinct_tokens``: TakeOrdered, never a global sort."""
    from snorkel_spark.operators.dedup import _shingle_set_expr

    def side(docs, flag):
        return (
            docs.select(F.explode(F.expr(_shingle_set_expr(shingle_n))).alias("token"))
            .filter(F.col("token") != "")
            .distinct()
            .select(
                _token_hash(F.col("token"), HEX_DIGITS).alias("h"),
                F.lit(1 if flag == "a" else 0).alias("in_a"),
                F.lit(1 if flag == "b" else 0).alias("in_b"),
            )
        )

    u = (
        side(docs_a, "a")
        .unionByName(side(docs_b, "b"))
        .groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    r6 = "cast((2 * ({num}) * 1000000 + ({den})) div (2 * ({den})) as double) / 1000000"
    sketch = (
        u.orderBy("h")
        .limit(k)
        .agg(
            F.count("*").alias("n_sk"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_both_sk"),
        )
    )
    exact = u.agg(
        F.count("*").alias("n_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
    )
    return sketch.crossJoin(exact).select(
        F.lit(k).alias("k"),
        F.expr(r6.format(num="n_both_sk", den="n_sk")).alias("kmv_jaccard"),
        F.expr(r6.format(num="n_both", den="n_union")).alias("exact_jaccard"),
    )
