"""Dump formatted physical plans of the hot-path stages to docs/PLANS.md
with commentary — the evidence that pushdown/broadcast/partial-agg land
where intended.  Run: python tools/dump_plans.py"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"

NOTES = {
    "sentences": (
        "Synthesis, span explode and whitespace tokenization are built-in "
        "expressions over the parquet scan (split/filter/transform) — no "
        "Python node, no shuffle."
    ),
    "candidates": (
        "build_candidates: the gazetteer dictionary match is an **InSet** "
        "probe inside the Filter over the length-pruned ngram stream (the "
        "driver-side names fold into a hash set), so there is no broadcast "
        "and no extra job.  Sentence-local self-pairing (r06): mentions group "
        "once per sentence and ordered pairs explode bucket-locally, so the "
        "ngram+matcher subtree is evaluated ONCE (a self-join evaluated it "
        "on both sides) with ONE shuffle; global dedup is a pure "
        "grouping-key **HashAggregate** (distinct on all columns) and the "
        "token attach rides the same sentence_id partitioning ahead of it."
    ),
    "label_matrix": (
        "Every fixture LF is one Catalyst Column, so the matrix is one JVM "
        "projection+explode+filter — NO Python node at all.  LFs with a "
        "pandas body run in the Arrow-batched mapInPandas applier over an "
        "explicitly narrowed projection, unioned with the Column part."
    ),
    "marginals": (
        "Scoring (r06): the m\u00b7k\u00b2 factor table is inlined as a literal "
        "map<int,array<double>> probed per label row — no Python-RDD scan, "
        "no BroadcastExchange — and per-class conditional sums replace the "
        "pivot, leaving exactly ONE exchange (candidate_id).  Zero Python."
    ),
    "triples_salted": (
        "build_triples: each slot links inside the **Generate** above the "
        "threshold join — three literal-map probes and a greatest per slot, "
        "so only candidates above the threshold are linked and the link "
        "needs no join or broadcast.  Salted two-phase aggregation: partial agg on (subj,pred,obj,salt) "
        "then final on (subj,pred,obj) — the explicit skew treatment for "
        "hot entities (AQE only fixes skewed *joins*)."
    ),
    "ngram_jaccard": (
        "Near-dup via MinHash bands: signatures are a pure projection; "
        "candidate generation (r06) is ONE groupBy on band_key — each "
        "capped bucket's sorted member list explodes its own <= w\u00b2 pairs — "
        "so the signature projection is evaluated once (the former "
        "cap-groupBy + band self-join evaluated it on three subtrees).  "
        "Exact Jaccard verify touches bucket-mates only; no cross product."
    ),
    "lsh_pairs": (
        "Amplified embedding LSH: buckets are a projection (posexplode "
        "over n_tables AND-patterns); the pair join is equi on "
        "(table_id, bucket); exact cosine verification (zip_with/"
        "aggregate folds — JVM, no Python) runs on candidates only."
    ),
    "ivf_topk": (
        "IVF probe: every join is **BroadcastHashJoin** (centroids, "
        "query vectors, and the probe set are all k-or-smaller sides).  "
        "List assignment is a declarative max_by aggregation, so "
        "**partial aggregation** collapses the n·k scored expansion to "
        "one row per vector BEFORE its exchange (a row_number window "
        "here would shuffle the full expansion); the final top-k shows "
        "**WindowGroupLimit** above and below its exchange — per-"
        "partition k-pruning before the shuffle.  At scale the corpus "
        "is written partitioned by centroid_id, turning the "
        "probes⋈index join into partition pruning."
    ),
    "decontaminate": (
        "Train/eval n-gram decontamination: the eval set's distinct "
        "shingles are the **BroadcastHashJoin** build side; the corpus "
        "streams through explode → broadcast join → partial+final count "
        "per doc_id.  The 100 TB side is never shuffled on the shingle "
        "key — its only exchange is the final doc_id aggregation."
    ),
    "asof_join": (
        "As-of join (no Spark built-in): union with a side marker → one "
        "window per key ordered by (ts, side) carrying the right side's "
        "latest state forward — a SINGLE Exchange on the key, one sort, "
        "no range cross-join.  Equal timestamps order the right side "
        "first (the >= convention DuckDB's ASOF JOIN oracle uses)."
    ),
    "range_join": (
        "Unkeyed |Δt| ≤ W band join: the naive theta-join plan is a "
        "BroadcastNestedLoopJoin (O(n·m)); bucketing the time axis "
        "turns it into an **equi-join on the bucket key** (left "
        "explodes into bucket ± 1) with the exact predicate filtered "
        "co-partitioned — no NestedLoop/Cartesian anywhere in the plan."
    ),
    "cc_round": (
        "One connected-components round: labels ⋈ edges on the node key "
        "then min-agg per node — partial+final hash aggregation, one "
        "shuffle keyed on node id per round, O(diameter) rounds.  The "
        "plan shows a single round because each round's result is "
        "localCheckpoint-ed (lineage truncation is the point: without "
        "it the tree doubles per round)."
    ),
    "asof_join_bucketed": (
        "Mega-key-safe as-of join: the within-bucket window partitions "
        "by (key, bucket) — every Sort's run length is bounded by "
        "bucket width, never by a key's history; the bucket-level "
        "carry collapses right rows per (key, bucket) via declarative "
        "max_by (**partial aggregation** before its exchange) and "
        "windows over the per-bucket rows only (#occupied buckets per "
        "key, not events).  Exchanges: (key,bucket) window, the "
        "per-bucket agg, the (key) bucket-carry window, the attach "
        "join — each one's task size is bucket-bounded, which is the "
        "entire point vs the single-Exchange plain path."
    ),
    "ner_tags_join": (
        "Large-gazetteer NER tagging: the token posexplode joins the "
        "unigram/bigram alias dims as three **BroadcastHashJoin** "
        "probes in ONE stage (the gazetteer never reaches the driver "
        "as literals); per-sentence reassembly is a collect_list hash "
        "agg keyed on sentence_id — the corpus's natural key.  Drop "
        "the broadcast hints above ~10⁸ aliases and the same plan "
        "becomes shuffle hash joins keyed on the token; either way no "
        "Python and no driver collect."
    ),
    "kmv_merge": (
        "KMV shard rollup: per-shard bottom-k is a WindowGroupLimit-"
        "pruned window over (shard, h) — each shard's hashes sort "
        "within its partition, never globally; the merge re-bottom-k's "
        "n_shards·k rows via **TakeOrderedAndProject** (per-partition "
        "top-k + tiny driver merge).  This is the per-day→per-month "
        "sketch rollup: days are never re-scanned."
    ),
    "c4_clean": (
        "C4 page cleaning: split → list-filter → size/regexp predicates "
        "→ array_join, ALL inside one projection+filter chain over the "
        "scan — no shuffle, no Python, whole-stage-codegen end to end.  "
        "The 100 TB shape: embarrassingly parallel, output proportional "
        "to survivors."
    ),
    "pack_sequences": (
        "Sequence packing: the cumulative token sum runs in a window "
        "partitioned by the content-stable shard — ONE exchange on the "
        "shard key and each task sorts a single shard, vs the "
        "single-task global sort a naive corpus-order cumsum would "
        "plan.  seq_id/offset are pure projections of the running sum."
    ),
    "top_terms": (
        "Global top-k over the vocabulary aggregate: after the one "
        "hash-groupBy on term, the k-row cut is a **TakeOrderedAndProject** "
        "— each task keeps a k-row heap and the driver merges k rows per "
        "partition; a billion-term web vocab never funnels through a "
        "single-partition rank exchange.  The trailing window that "
        "re-derives the rank column runs over exactly k rows."
    ),
    "gopher_rules": (
        "Gopher/MassiveText quality-rule bundle (Rae et al. 2021 §A1.1): "
        "seven per-doc verdicts + the conjunction, ALL integer-arithmetic "
        "predicates over split/filter/aggregate higher-order functions in "
        "one projection chain over the scan — no shuffle, no Python, no "
        "float ratio.  The 100 TB shape: embarrassingly parallel, same "
        "as c4_clean; a quality-filter pass costs exactly one corpus read."
    ),
    "mixture_sample": (
        "Deterministic pretraining-mixture sampling: the md5-ppm coin "
        "and the per-source weight lookup are literals inside ONE "
        "projection + filter over the scan — no join, no shuffle, no "
        "Python; the filter is eligible for pushdown at the source.  "
        "At 100 TB re-weighting the corpus costs exactly one read."
    ),
    "unigram_surprisal": (
        "CCNet-style LM quality score: token counts are one map-side-"
        "combined hash-groupBy; the vocab cut is a TakeOrderedAndProject "
        "(never a global sort); the score-back join must be a "
        "**BroadcastHashJoin** (vocab_k rows build side); the per-doc "
        "mean is the second bounded uniform-key shuffle.  Same shape as "
        "decontaminate — nothing scales with corpus² anywhere."
    ),
    "span_dedup": (
        "Cross-document exact-substring dedup (C4's corpus-wide rule / "
        "Lee et al. 2022): strided window fingerprints are a pure "
        "projection (no shuffle); the corpus-wide occurrence count is one "
        "hash-groupBy on the uniform md5 key with map-side partial agg; "
        "the flag-back is a shuffled hash join on the same uniform key "
        "plus two doc_id groupBys.  No all-pairs stage anywhere — cost "
        "is O(corpus tokens / stride) rows through uniform-key shuffles."
    ),
    "line_dedup": (
        "Intra-document line dedup (RefinedWeb page cleaning) must be a "
        "**pure projection** — split/filter/array_join inside one "
        "WholeStageCodegen span, no shuffle, no Python; per-row cost is "
        "lines² with lines bounded by page size, not corpus size."
    ),
    "cluster_reps": (
        "Canonical-doc selection over duplicate clusters: corpus LEFT "
        "JOIN the (small) clustered set, then a declarative min_by "
        "HashAggregate on cluster_id (partial agg collapses each cluster "
        "map-side — one row per cluster crosses the exchange) and a join "
        "back on the same key.  No windows over the corpus, no collect."
    ),
    "semdedup": (
        "SemDeDup (Abbas et al. 2023) — cluster-bounded semantic dedup: "
        "the centroid assignment is a **BroadcastNestedLoopJoin/cross on "
        "a k-row build side** collapsed by a declarative max_by "
        "HashAggregate (partial agg ships ONE row per vector through the "
        "exchange, never the n·k expansion); the within-cluster pairwise "
        "sweep is a single SortMergeJoin/ShuffledHashJoin keyed on "
        "centroid_id — per-task cost is cluster_width², held constant by "
        "growing n_centroids with the corpus (auto_n_centroids).  No "
        "global pairwise stage anywhere."
    ),
    "ivf_pruned_scan": (
        "The IVF scale claim demonstrated end-to-end: the corpus "
        "written `partitionBy(centroid_id)`, probed with an isin "
        "filter — the scan node shows **PartitionFilters** on "
        "centroid_id and PartitionCount = n_probe of n_centroids, so "
        "a probe reads p/k of the files instead of post-filtering a "
        "full scan (tests/test_data_ops.py asserts files-read < "
        "total)."
    ),
}


# entries whose EVIDENCE lives in the node-details section (e.g. the
# scan's PartitionFilters), not the operator tree
FULL_DETAIL = {"ivf_pruned_scan"}


def grab_plan(df, full: bool = False) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    s = buf.getvalue()
    if full:
        return s.rstrip()
    return s.split("\n\n")[0]  # operator tree only


def main():
    from pyspark.sql import functions as F

    from snorkel_spark.functions.labeling import apply_lfs, make_fixture_lfs
    from snorkel_spark.labelmodel.encoding import compute_O_arrow
    from snorkel_spark.labelmodel.model import LabelModel
    from snorkel_spark.operators.parser import parse_sentences
    from snorkel_spark.plans.pipeline import build_candidates, build_triples
    from snorkel_spark.session import get_spark
    from snorkel_spark.sources import fixtures as FX
    from snorkel_spark.sources.interleaved import synthesize_raw_documents

    spark = get_spark(cores=2)
    spark.sparkContext.setLogLevel("ERROR")

    sents = parse_sentences(synthesize_raw_documents(spark, SF))
    cands = build_candidates(sents)
    lfs = make_fixture_lfs(FX.known_spouse_names())
    L = apply_lfs(cands, lfs)
    lm = LabelModel(m=len(lfs)).fit(*compute_O_arrow(L, m=len(lfs)))
    marg = lm.marginals(spark, L)
    trip = build_triples(cands, marg, n_salts=16)

    from snorkel_spark.operators.dedup import ngram_jaccard_pairs
    from snorkel_spark.operators.parser import with_ner_tags_join
    from snorkel_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
        lsh_neighbor_pairs,
    )
    from snorkel_spark.operators.sketches import kmv_shard_merge
    from snorkel_spark.operators.temporal import (
        asof_join,
        asof_join_bucketed,
        range_join_bucketed,
    )
    from snorkel_spark.operators.textstats import decontaminate, pack_sequences

    def _cc_one_round(spark):
        """The repeated unit of connected_components: one label-
        propagation join + min-agg (the full operator iterates this
        against checkpointed inputs)."""
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "u string, v string"
        )
        labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
            "component", F.col("node")
        )
        prop = edges.join(labels.withColumnRenamed("node", "v"), "v").select(
            F.col("u").alias("node"), "component"
        )
        return labels.union(prop).groupBy("node").agg(
            F.min("component").alias("component")
        )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    events = spark.read.parquet(f"{SF}/events.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    def _c4(spark, docs):
        from snorkel_spark.operators.textstats import c4_line_filters
        from snorkel_spark.sources.fixtures import docs_with_planted_lines

        return c4_line_filters(docs_with_planted_lines(docs))

    def _ivf_pruned_scan(spark, emb, ivf_centroids, ivf_assign):
        """Write the corpus partitioned by centroid_id, return the
        probe read — the plan must show PartitionFilters at the scan."""
        import tempfile

        from pyspark.sql import functions as F

        cents = ivf_centroids(emb, 8)
        idx = ivf_assign(emb, cents)
        path = tempfile.mkdtemp(prefix="plans_ivf_")
        emb.join(idx, "vec_id").write.mode("overwrite").partitionBy(
            "centroid_id"
        ).parquet(path)
        # stride-sampled centroid ids — probe two REAL lists
        cids = sorted(r[0] for r in idx.select("centroid_id").distinct().collect())
        return spark.read.parquet(path).filter(
            F.col("centroid_id").isin(cids[:2])
        )

    plans = {
        "sentences": sents,
        "candidates": cands,
        "label_matrix": L,
        "marginals": marg,
        "triples_salted": trip,
        "ngram_jaccard": ngram_jaccard_pairs(docs),
        "lsh_pairs": lsh_neighbor_pairs(emb, threshold=0.8),
        "ivf_topk": ivf_topk(emb, [0, 1, 2], k=3, n_centroids=8, n_probe=2),
        "decontaminate": decontaminate(
            docs.filter("doc_id % 97 != 0"), docs.filter("doc_id % 97 = 0")
        ),
        "asof_join": asof_join(
            events.filter("event_type = 'click'"),
            events.filter("event_type = 'purchase'")
            .groupBy("user_id", "ts").agg(F.max("value").alias("value")),
        ),
        "range_join": range_join_bucketed(
            events.filter("event_type = 'signup'"),
            events.filter("event_type = 'error'"),
        ),
        "cc_round": _cc_one_round(spark),
        "asof_join_bucketed": asof_join_bucketed(
            events.filter("event_type = 'click'"),
            events.filter("event_type = 'purchase'")
            .groupBy("user_id", "ts").agg(F.max("value").alias("value")),
            bucket_sec=7200,
        ),
        "ner_tags_join": with_ner_tags_join(sents, FX.person_full_names(spark)),
        "kmv_merge": kmv_shard_merge(docs, k=64, shingle_n=3, n_shards=8),
        "c4_clean": _c4(spark, docs),
        "pack_sequences": pack_sequences(docs),
        "top_terms": __import__(
            "snorkel_spark.operators.textstats", fromlist=["top_terms"]
        ).top_terms(docs, k=20),
        "span_dedup": __import__(
            "snorkel_spark.operators.dedup", fromlist=["span_dedup_flags"]
        ).span_dedup_flags(docs, span_tokens=12, stride=6),
        "gopher_rules": __import__(
            "snorkel_spark.operators.textstats", fromlist=["gopher_rules"]
        ).gopher_rules(FX.docs_with_planted_quality(docs)),
        "mixture_sample": __import__(
            "snorkel_spark.operators.textstats", fromlist=["mixture_sample"]
        ).mixture_sample(docs, {f"src{i}": 1_000_000 - i * 50_000 for i in range(18)}),
        "unigram_surprisal": __import__(
            "snorkel_spark.operators.textstats", fromlist=["unigram_surprisal"]
        ).unigram_surprisal(docs),
        "line_dedup": __import__(
            "snorkel_spark.operators.dedup", fromlist=["dedup_lines"]
        ).dedup_lines(FX.docs_with_repeated_lines(docs)),
        "cluster_reps": __import__(
            "snorkel_spark.operators.dedup", fromlist=["cluster_representatives"]
        ).cluster_representatives(docs, threshold=0.5, n_hashes=32, n_bands=16),
        "semdedup": __import__(
            "snorkel_spark.operators.similarity", fromlist=["semdedup"]
        ).semdedup(emb, n_centroids=8, threshold=0.95),
        "ivf_pruned_scan": _ivf_pruned_scan(spark, emb, ivf_centroids, ivf_assign),
    }
    out = ["# Physical plans of the hot-path stages\n",
           "Generated by tools/dump_plans.py (sf0.001 fixture; shapes are",
           "size-independent).  Commentary states what each plan must show",
           "for the 100 TB target; re-generate after operator changes.\n"]
    for name, df in plans.items():
        out.append(f"\n## {name}\n")
        out.append(NOTES[name] + "\n")
        out.append("```\n" + grab_plan(df, full=name in FULL_DETAIL) + "\n```\n")
    os.makedirs(os.path.join(REPO, "docs"), exist_ok=True)
    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote docs/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
