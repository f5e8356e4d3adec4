"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard — the standard near-dup stack for web-scale corpus curation.

Scale notes (the whole point of these shapes):
- exact: one hash-groupBy — shuffle on a uniform 128-bit key, no skew.
- MinHash/LSH (both the token-set and the shingle variant): signatures
  are a projection (no shuffle); candidate generation is a self-join on
  *band keys* (AND of ``r`` minhashes per band, OR across bands — the
  standard s-curve); exact Jaccard verification runs only on
  bucket-mates.  Defaults are production-grade: 128 hashes, 32 bands of
  r = 4 rows (threshold s* = (1/32)^(1/4) ≈ 0.42), NOT toy values —
  with r < 4 the per-band collision rate for mid-similarity pairs makes
  the candidate join near-quadratic at corpus scale.
- bucket-width cap: band buckets wider than ``max_bucket`` are dropped
  from candidate generation (a bucket of width w contributes w² pairs;
  mega-buckets are near-identical content that exact dedup already
  catches).  The cap is part of the operator's *definition* so the SQL
  oracle mirrors it exactly; ``lsh_bucket_stats`` exposes the width
  distribution so dropped buckets are auditable, never silent.
- SimHash: projection → same-signature groupBy.

One signature family: each distinct shingle is hashed ONCE to a 32-bit
integer x (its md5 prefix, ``sketches._token_hash``), and
h_i = min over shingles of (a_i·x + b_i) mod p, p = 2³¹ − 1, runs as
one NumPy pass per Arrow batch.  Every intermediate fits a signed 64-bit
integer, so ``__spark_entry__._minhash_cte_sql`` (DuckDB, the same
coefficients) is its bit-exact twin and every MinHash operator has an
exact SQL oracle.  A null text has no shingle set: it gets no signature
and never pairs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sketches import _token_hash

N_MINHASH = 128
N_BANDS = 32  # rows per band r = 128/32 = 4
MAX_BUCKET = 64
MINHASH_PRIME = (1 << 31) - 1
SHINGLE_HASH_DIGITS = 8  # x = the first 8 hex digits of md5: 32 bits


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """(text_hash, n_docs, min_doc_id) per content group."""
    return (
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


def _shingle_set_expr(shingle_n: int) -> str:
    """Distinct ``shingle_n``-token shingles of ``text`` as strings.
    shingle_n=1 degenerates to the distinct token set."""
    if shingle_n == 1:
        return "array_distinct(split(text, ' '))"
    return f"""
        array_distinct(transform(
          sequence(0, greatest(size(split(text, ' ')) - {shingle_n}, 0)),
          ss -> array_join(slice(split(text, ' '), ss + 1, {shingle_n}), ' ')))
    """


def _with_sets(docs: DataFrame, shingle_n: int) -> DataFrame:
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(_shingle_set_expr(shingle_n)).alias("sset"),
    )


def minhash_coefficients(n_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """(a, b): the int64 coefficients of h_i(x) = (a_i·x + b_i) mod p,
    i < n_hashes, both in [1, p).  Drawn from NumPy's frozen legacy
    ``RandomState(1)`` stream, so they are the same on every NumPy
    version; the DuckDB twin inlines these values."""
    ab = np.random.RandomState(1).randint(1, MINHASH_PRIME, size=(n_hashes, 2), dtype=np.int64)
    return ab[:, 0], ab[:, 1]


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    shingle_n: int = 1,
) -> DataFrame:
    """(doc_id, sig): per-doc MinHash signature over the distinct
    shingle set, sig[i] = min over shingles of (a_i·x + b_i) mod p with
    x the shingle's 32-bit md5 prefix.  No shuffle.

    The JVM hashes each shingle once; the n_hashes affine maps and
    their mins run in NumPy, one vectorized step per hash over the
    whole flattened Arrow batch (``minimum.reduceat``) — no per-row
    Python and no interpreted per-hash lambda.  Bounds:
    a, b < p < 2³¹ and x < 2³², so a·x + b < 2⁶³ — exact in int64 here
    and in DuckDB's BIGINT.  Null texts are dropped (no shingle set);
    every other text has at least one shingle."""
    a, b = minhash_coefficients(n_hashes)
    hx = _with_sets(docs.filter(F.col("text").isNotNull()), shingle_n).select(
        "doc_id",
        F.transform("sset", lambda s: _token_hash(s, SHINGLE_HASH_DIGITS)).alias("hx"),
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            xs = np.concatenate(pdf["hx"].tolist())
            starts = np.concatenate(([0], np.cumsum(pdf["hx"].map(len).to_numpy())[:-1]))
            sig = np.empty((len(pdf), n_hashes), dtype=np.int64)
            for i in range(n_hashes):
                sig[:, i] = np.minimum.reduceat((a[i] * xs + b[i]) % MINHASH_PRIME, starts)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": list(sig)})

    return hx.mapInPandas(kernel, "doc_id string, sig array<bigint>")


def _band_keys(sigs: DataFrame, n_hashes: int, n_bands: int) -> DataFrame:
    rows_per_band = n_hashes // n_bands
    return sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}),"
                f" bb -> concat(bb, '|', array_join(transform("
                f"slice(sig, bb * {rows_per_band} + 1, {rows_per_band}),"
                f" sv -> cast(sv as string)), '|')))"
            )
        ).alias("band_key"),
    )


def lsh_bucket_stats(
    docs: DataFrame,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    shingle_n: int = 1,
) -> DataFrame:
    """Band-bucket width distribution: (width, n_buckets).  The audit
    companion to ``max_bucket`` — shows exactly how much candidate mass
    a cap drops instead of dropping it silently."""
    bands = _band_keys(minhash_signatures(docs, n_hashes, shingle_n), n_hashes, n_bands)
    return (
        bands.groupBy("band_key")
        .agg(F.count("*").alias("width"))
        .groupBy("width")
        .agg(F.count("*").alias("n_buckets"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Exact shingle-set Jaccard near-dup pairs with MinHash-band
    candidate generation: MinHash band keys → capped bucket-local pair
    explosion → candidate pairs → exact set-Jaccard verification on
    bucket-mates only.  Returns (doc_a, doc_b, jaccard ≥ threshold), doc_a < doc_b.
    Two documents are compared iff they share a band bucket, so
    near-dups of *different lengths* are found (unlike any equality
    blocking) while the pair join stays bounded.

    ``shingle_n=1`` compares distinct token sets.  On small-vocabulary
    corpora the token-set Jaccard between unrelated documents is
    inherently high, so token sets want a threshold near 1.0
    (near-identical sets; the driver query uses 0.9); for content-level
    near-dup detection keep shingles, which are discriminative even
    under a small vocabulary."""
    bands = _band_keys(minhash_signatures(docs, n_hashes, shingle_n), n_hashes, n_bands)
    # Capped buckets in one exchange on band_key with one consumer:
    # a window COUNT per bucket (its buffer spills, so a mega-bucket
    # costs disk, never an aggregation buffer), the width screen,
    # and only then does each ≤max_bucket bucket build its sorted
    # member list and explode its ≤w² pairs bucket-locally — the
    # aggregation keeps the window's partitioning, so no second
    # exchange.  Collecting before the width filter would
    # materialize mega-buckets in a single aggregation buffer; a
    # count aggregate joined back to the bands reads them twice,
    # and Spark does not always share that exchange (not over a
    # cached input), so the signature kernel would run twice.
    # Pairs are strict doc_a < doc_b (equal ids — duplicate doc_id
    # rows — never pair); cross-band repeats collapse in the distinct.
    ok = bands.withColumn("_w", F.count("*").over(Window.partitionBy("band_key"))).filter(
        (F.col("_w") <= max_bucket) & (F.col("_w") >= 2)
    )
    cand = (
        ok.groupBy("band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_members"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(_members) - 1),"
                    " pi -> transform(slice(_members, pi + 1, size(_members) - pi),"
                    " pb -> named_struct('doc_a', element_at(_members, pi), 'doc_b', pb))))"
                )
            ).alias("_pr")
        )
        .select(F.col("_pr.doc_a").alias("doc_a"), F.col("_pr.doc_b").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    # the verification sets are the shingle projection itself, not read
    # back through the (opaque) signature kernel
    sets = _with_sets(docs, shingle_n)
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sset").alias("ta"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sset").alias("tb"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("ta", "tb")) / F.size(F.array_union("ta", "tb")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def exact_dup_pairs(docs: DataFrame) -> DataFrame:
    """Star edges (doc_a = group min, doc_b = other member) per exact
    content group — the edge form of ``exact_dup_groups``, ready to feed
    ``connected_components``.  Two shuffles on the uniform 128-bit
    content hash (groupBy + co-keyed join); the star shape keeps each
    group's edge count linear in its size (a clique would be w²)."""
    hashed = docs.select(
        F.col("doc_id").cast("string").alias("doc_b"), F.md5("text").alias("text_hash")
    )
    mins = hashed.groupBy("text_hash").agg(F.min("doc_b").alias("doc_a"))
    return (
        hashed.join(mins, "text_hash")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``, where
    ``component`` is the minimum node id (lexicographic for string ids
    — both engines compare UTF-8 strings identically) reachable through
    the pair graph.  The cluster-forming step of dedup: near-dup PAIRS
    become KEEP-ONE-PER-CLUSTER decisions only after transitive closure.

    Scale shape: iterative min-label propagation — each round joins the
    current labels across edges (kept in both directions) and takes the
    per-node min; converges in O(graph diameter) rounds with one
    shuffle-join + one groupBy per round, all keyed on node id.  Dedup
    graphs are near-cliques (every member pairs with most others), so
    the diameter is tiny — 2–3 rounds in practice; ``max_iter`` is a
    safety bound, and convergence is detected by an exact changed-label
    count (a driver-side scalar per round, not a collect of data).
    Each round's labels are ``localCheckpoint``-ed: without truncation
    the lineage doubles per round and Catalyst re-analysis dominates —
    on a cluster with a checkpoint dir, ``checkpoint()`` swaps in.
    For adversarial long-chain graphs, the alternating large-star /
    small-star construction (Kiveris et al., "Connected Components in
    MapReduce", SOCC'14) bounds rounds at O(log² n); not needed for
    dedup-shaped inputs, noted for the record.
    """
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    labels = labels.localCheckpoint(eager=True)

    def propagate(cur):
        """One min-label round.  The node's OLD label rides the same
        groupBy as a second aggregate (each node occurs exactly once on
        the labels side, so ``max(_old)`` recovers it; prop rows carry
        null), so the changed-label count needs no comparison join —
        it is a cheap filter over the checkpointed round output.  One
        shuffle-join + one groupBy per round, nothing else."""
        comp_type = dict(cur.dtypes)["component"]
        prop = edges.join(
            cur.withColumnRenamed("node", "v"), "v"
        ).select(
            F.col("u").alias("node"), "component", F.lit(None).cast(comp_type).alias("_old")
        )
        mine = cur.select("node", "component", F.col("component").alias("_old"))
        nxt = (
            mine.union(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"), F.max("_old").alias("_old"))
        ).localCheckpoint(eager=True)
        changed = nxt.filter(F.col("component") != F.col("_old")).count()
        return nxt.select("node", "component"), changed

    n_changed = 0
    for _ in range(max_iter):
        labels, n_changed = propagate(labels)
        if n_changed == 0:
            break
    if n_changed > 0:
        # the last permitted round still changed labels — but it may
        # have changed them INTO the fixpoint (converged exactly at
        # round max_iter with no zero-change round to confirm it).  One
        # extra confirmation propagation distinguishes "just converged"
        # from "genuinely still propagating" before failing loudly.
        labels, n_changed = propagate(labels)
    edges.unpersist()
    if n_changed > 0:
        # partial labels are WRONG labels (distinct ids for one true
        # cluster) and the exact-transitive-closure oracle would catch
        # it as an opaque mismatch — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({n_changed} labels still changing); the graph diameter "
            f"exceeds max_iter — raise max_iter or switch to the "
            f"large-star/small-star construction (SOCC'14)"
        )
    return labels


def duplicate_clusters(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """End-to-end duplicate clustering: exact-dup star edges ∪ shingle
    near-dup pairs → connected components → (doc_id, cluster_id) with
    cluster_id = the cluster's minimum doc_id.  The canonical keep-list
    is then ``doc_id == cluster_id`` (plus every unpaired doc)."""
    pairs = exact_dup_pairs(docs).unionByName(
        ngram_jaccard_pairs(
            docs, threshold, shingle_n, n_hashes, n_bands, max_bucket
        ).select("doc_a", "doc_b")
    )
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def simhash_signatures(docs: DataFrame, bits: int = 32) -> DataFrame:
    """32-bit SimHash from md5 hex digits: bit b's vote per token is +1
    if hex digit b of md5(token) ≥ 8 else −1; bit set iff vote sum > 0."""
    sim = F.expr(
        f"""
        aggregate(
          transform(sequence(0, {bits - 1}), sb ->
            if(aggregate(array_distinct(split(text, ' ')), 0,
                 (acc, st) -> acc + if(conv(substring(md5(st), sb + 1, 1), 16, 10) >= 8, 1, -1)
               ) > 0, shiftleft(1L, sb), 0L)),
          0L, (acc2, sx) -> acc2 + sx)
        """
    )
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"), sim.alias("simhash"))


def span_dedup_flags(
    docs: DataFrame, span_tokens: int = 20, stride: int = 10
) -> DataFrame:
    """Cross-document exact-substring span dedup — C4's one corpus-wide
    rule (Raffel et al. JMLR'20 §2.2: discard any three-sentence span
    occurring more than once in the corpus) in its k-token-window form
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022): fingerprint every ``span_tokens``-token window
    at ``stride`` offsets, count fingerprints corpus-wide, and flag per
    doc how many of its spans occur elsewhere (or twice in the same
    doc).  Returns (doc_id, n_spans, n_dup_spans) for every doc with ≥
    one full window; n_dup_spans counts this doc's windows whose
    corpus-wide occurrence count > 1.

    Scale shape: Lee et al. build a suffix array — a global sorted
    structure with no good distributed analogue.  The Spark-native
    equivalent is strided-window fingerprinting: windows are a pure
    projection (no shuffle), the corpus-wide count is ONE hash-groupBy
    on a uniform 128-bit md5 key (map-side partial agg collapses
    repeats), and the flag-back is a shuffle hash join on the same
    uniform key — no skew, no all-pairs, corpus never collected.
    ``stride`` bounds the blowup to ~n_tokens/stride fingerprint rows;
    stride ≤ span_tokens/2 guarantees any duplicated region ≥
    span_tokens + stride tokens shares at least one aligned window.
    Occurrence rows are recomputed for the count and the flag-back
    branch (projection-only lineage) rather than cached — at 100 TB,
    recomputing a projection beats materializing it.
    """
    k, s = span_tokens, stride
    fps = f"""
      case when size(_toks) >= {k} then
        transform(sequence(1, size(_toks) - {k} + 1, {s}),
                  i -> md5(array_join(slice(_toks, i, {k}), ' ')))
      else array() end
    """
    occ = (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.split("text", " ").alias("_toks"),
        )
        .select("doc_id", F.explode(F.expr(fps)).alias("fp"))
    )
    dup_fps = (
        occ.groupBy("fp")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") > 1)
        .select("fp")
    )
    per_doc = occ.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    dup_per_doc = (
        occ.join(dup_fps, "fp")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_spans"))
    )
    return per_doc.join(dup_per_doc, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
    )


def dedup_lines(docs: DataFrame, sep: str = "\n") -> DataFrame:
    """Intra-document line dedup (the RefinedWeb / MassiveText page-
    cleaning step: a page's repeated lines — boilerplate headers, nav
    chrome, cookie banners — are dropped, keeping each line's FIRST
    occurrence in page order).  Complements the corpus-level operators:
    ``span_dedup_flags`` finds spans repeated ACROSS documents; this
    removes repeats WITHIN one document.

    Returns (doc_id, text_deduped, n_lines, n_dropped) — one row per
    input doc, a pure per-row projection: no shuffle, no Python, scales
    embarrassingly.  The first-occurrence test is
    ``array_position(lines, x) = i + 1`` — O(lines² ) per page, fine at
    any corpus size because lines-per-page is bounded (~10³), not
    corpus-sized."""
    # the kept lines are computed once into a column: Catalyst does not
    # inline a lambda expression into the two projections that read it
    d = docs.withColumn("_l", F.split(F.col("text"), sep)).withColumn(
        "_kept", F.expr("filter(_l, (x, i) -> array_position(_l, x) = i + 1)")
    )
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array_join("_kept", "\n").alias("text_deduped"),
        F.size("_l").alias("n_lines"),
        (F.size("_l") - F.size("_kept")).alias("n_dropped"),
    )


def cluster_representatives(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Canonical-document selection — the step that turns a duplicate
    CLUSTERING (``clusters``: (doc_id, cluster_id) rows, e.g.
    ``duplicate_clusters``) into a dedup'd corpus: every doc comes back
    flagged (doc_id, cluster_id, doc_len, is_rep); downstream keeps
    ``is_rep``.
    Keep rule: the cluster's LONGEST text wins (near-dup clusters keep
    the most complete member), ties → lowest doc_id (string order).
    Unclustered docs are their own singleton cluster and always kept.

    Scale shape: one left join of the corpus against the (much smaller)
    clustered set, a declarative ``min_by`` agg on cluster_id (partial
    agg collapses each cluster map-side — one row per cluster crosses
    the exchange), and a join back on the same key — no windows over
    the corpus, no driver collect."""
    base = (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.length("text").alias("doc_len"),
        )
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    )
    reps = base.groupBy("cluster_id").agg(
        F.min_by(
            "doc_id", F.struct((-F.col("doc_len")).alias("_nl"), F.col("doc_id"))
        ).alias("_rep")
    )
    return base.join(reps, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "doc_len",
        (F.col("doc_id") == F.col("_rep")).alias("is_rep"),
    )
