"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG query (majority-vote-path spouse
triples) on sf0.001.  ``queries()`` exposes one entry per implemented
operator from SURVEY.md §2; ``oracle_sql()`` gives the DuckDB twin for
every SQL-expressible one (built on the CTE mirror in
``snorkel_spark/oracle.py`` — the interleaved synthesis is pure
integer arithmetic on doc_id precisely so these oracles exist).
Non-SQL-expressible ops (the label-model fit/marginals) are present in
``queries()`` without an oracle → driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------- helpers
# Session-scoped memo: the driver runs every query in one session, so
# cache the small shared stage outputs once instead of re-deriving the
# parse→match→pair chain per query (all stages are tiny at sf≤0.01).
_MEMO: dict = {}


def _memo(spark, sf_dir, key, build, cache=True):
    k = (id(spark), sf_dir, key)
    if k not in _MEMO:
        df = build()
        _MEMO[k] = df.cache() if cache else df
    return _MEMO[k]


def _sentences(spark, sf_dir):
    from snorkel_spark.operators.parser import parse_sentences
    from snorkel_spark.sources.interleaved import synthesize_raw_documents

    return _memo(spark, sf_dir, "sentences",
                 lambda: parse_sentences(synthesize_raw_documents(spark, sf_dir)))


def _mentions(spark, sf_dir):
    from snorkel_spark.operators.ngrams import ngram_mentions

    return ngram_mentions(_sentences(spark, sf_dir), n_max=2)


def _persons(spark, sf_dir):
    from snorkel_spark.operators.matchers import person_matcher
    from snorkel_spark.sources import fixtures as FX

    return _memo(spark, sf_dir, "persons",
                 lambda: person_matcher(FX.PERSON_FULL_NAMES).apply(
                     _mentions(spark, sf_dir)))


def _candidates(spark, sf_dir):
    from snorkel_spark.plans.pipeline import build_candidates

    return _memo(spark, sf_dir, "candidates",
                 lambda: build_candidates(_sentences(spark, sf_dir)))


def _fixture_lfs(spark):
    from snorkel_spark.functions.labeling import make_fixture_lfs
    from snorkel_spark.sources import fixtures as FX

    return make_fixture_lfs(FX.known_spouse_names())


def _label_matrix(spark, sf_dir):
    from snorkel_spark.functions.labeling import apply_lfs

    return _memo(spark, sf_dir, "label_matrix",
                 lambda: apply_lfs(_candidates(spark, sf_dir), _fixture_lfs(spark)))


def _label_counts(spark, sf_dir):
    """The label model's O statistic as (count matrix C, n) over the
    memoized label matrix, computed once per session."""
    from snorkel_spark.labelmodel.encoding import compute_O_arrow

    return _memo(spark, sf_dir, "label_counts",
                 lambda: compute_O_arrow(_label_matrix(spark, sf_dir),
                                         m=len(_fixture_lfs(spark))), cache=False)


def _label_model(spark, sf_dir):
    """The label model fit on the memoized O, once per session."""
    from snorkel_spark.labelmodel.model import LabelModel

    return _memo(spark, sf_dir, "label_model",
                 lambda: LabelModel(m=len(_fixture_lfs(spark))).fit(
                     *_label_counts(spark, sf_dir)), cache=False)


def _dependencies(spark, sf_dir):
    """The structure learner's (deps, W) over the memoized label
    matrix, computed once per session.  ``n_total`` is the FULL
    candidate set (the reference fits all candidates; never-voted ones
    carry all-abstain mass the long-form matrix cannot), counted from
    the candidates table, not from L, where distinct(candidate_id)
    would just re-derive the voting count and the mass would be 0."""
    from snorkel_spark.labelmodel.structure import lf_pattern_counts, select_dependencies

    def build():
        m = len(_fixture_lfs(spark))
        n_total = _candidates(spark, sf_dir).count()
        return select_dependencies(
            *lf_pattern_counts(_label_matrix(spark, sf_dir), m, n_total), m)

    return _memo(spark, sf_dir, "dependencies", build, cache=False)


def _mv_triples(spark, sf_dir):
    from snorkel_spark.labelmodel.model import majority_vote
    from snorkel_spark.plans.pipeline import build_triples

    mv = majority_vote(_label_matrix(spark, sf_dir))
    t = build_triples(_candidates(spark, sf_dir), mv, threshold=0.5)
    return t.select("subj", "pred", "obj", "n_evidence", F.round("prob", 4).alias("prob"))


# ---------------------------------------------------------------- contract
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _mv_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from snorkel_spark.operators import matchers as MT

    def s7_interleaved_scan(spark, sf):
        from snorkel_spark.sources.interleaved import explode_spans, synthesize_raw_documents

        return explode_spans(synthesize_raw_documents(spark, sf)).select(
            "doc_id", "offset", "kind", "text", "media_ref"
        )

    def s7_roundtrip(spark, sf):
        from snorkel_spark.sources.interleaved import reassembled_text, synthesize_raw_documents

        return reassembled_text(synthesize_raw_documents(spark, sf))

    def s1_tsv_roundtrip(spark, sf):
        # S1 TSVDocPreprocessor: materialize the corpus as name\ttext
        # lines, read back through the distributed TSV reader — the
        # oracle is the source table itself (exact roundtrip)
        from snorkel_spark.sources.preprocessors import tsv_doc_preprocessor

        d = "/tmp/s1_tsv_" + "".join(c if c.isalnum() else "_" for c in sf)
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        # TSV is line-framed: tabs/newlines inside text would shift
        # columns or split rows, so sanitize them to spaces on BOTH
        # sides (the oracle applies the same replacement)
        docs.selectExpr(
            "concat(cast(doc_id as string), '\\t',"
            " translate(text, '\\t\\n\\r', '   ')) as line"
        ).write.mode("overwrite").text(d)
        return tsv_doc_preprocessor(spark, d).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )

    def s4_xml_roundtrip(spark, sf):
        # S4 XMLMultiDocPreprocessor: corpus as a CDR/PubTator-shaped
        # XML file, parsed back via the ElementTree mapInPandas pass
        import os

        from snorkel_spark.sources.preprocessors import xml_multidoc_preprocessor

        d = "/tmp/s4_xml_" + "".join(c if c.isalnum() else "_" for c in sf)
        os.makedirs(d, exist_ok=True)
        rows = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .select(F.col("doc_id").cast("string"), "text")
            .collect()
        )
        from xml.sax.saxutils import escape

        with open(f"{d}/corpus.xml", "w") as f:
            f.write("<corpus>")
            for r in rows:
                # escape &, <, > so text containing markup chars still
                # parses; ElementTree unescapes on read → exact roundtrip
                f.write(
                    f"<document><id>{escape(r['doc_id'])}</id>"
                    f"<passage>{escape(r['text'])}</passage></document>"
                )
            f.write("</corpus>")
        return xml_multidoc_preprocessor(spark, d).select("doc_id", "text")

    def s2_text_files_roundtrip(spark, sf):
        # S2 TextDocPreprocessor: one doc per file, doc_id = file name
        import os

        from snorkel_spark.sources.preprocessors import text_doc_preprocessor

        d = "/tmp/s2_txt_" + "".join(c if c.isalnum() else "_" for c in sf)
        os.makedirs(d, exist_ok=True)
        rows = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .filter("doc_id % 100 = 0")
            .select(F.col("doc_id").cast("string"), "text")
            .collect()
        )
        for r in rows:
            with open(f"{d}/{r['doc_id']}.txt", "w") as f:
                f.write(r["text"])
        return text_doc_preprocessor(spark, f"{d}/*.txt").select("doc_id", "text")

    def s3_csv_paths_roundtrip(spark, sf):
        # S3 CSVPathsPreprocessor: a CSV of file paths, each delegated
        # to the S2 reader (builds on s2's staged files)
        import os

        from snorkel_spark.sources.preprocessors import csv_paths_preprocessor

        d = "/tmp/s2_txt_" + "".join(c if c.isalnum() else "_" for c in sf)
        os.makedirs(d, exist_ok=True)
        rows = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .filter("doc_id % 200 = 0")
            .select(F.col("doc_id").cast("string"), "text")
            .collect()
        )
        for r in rows:
            with open(f"{d}/{r['doc_id']}.txt", "w") as f:
                f.write(r["text"])
        with open(f"{d}/paths.csv", "w") as f:
            for r in rows:
                f.write(f"{d}/{r['doc_id']}.txt\n")
        return csv_paths_preprocessor(spark, f"{d}/paths.csv").select("doc_id", "text")

    def p1_sentences(spark, sf):
        return _sentences(spark, sf).select(
            "doc_id", "sentence_id", "position", "text", "n_tokens"
        )

    def p1b_adversarial_parse(spark, sf):
        # real splitter/tokenizer on deterministic MESSY text (multi-
        # sentence, punctuation, multi-space, leading/trailing space)
        from snorkel_spark.operators.parser import parse_sentences_full

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        adv = docs.selectExpr(
            "cast(doc_id as string) as doc_id",
            """
            case cast(doc_id % 4 as int)
              when 0 then concat('Dr. ', split(text, ' ')[0], ' met ', split(text, ' ')[1],
                                 '. They talked!  Then left...')
              when 1 then concat(split(text, ' ')[0], ',', split(text, ' ')[1],
                                 ': yes?No. well...  done')
              when 2 then concat('  ', split(text, ' ')[0], '   ', split(text, ' ')[1], '  ')
              else concat('(', split(text, ' ')[0], ') [', split(text, ' ')[1],
                          '] #tag 3.14 end!')
            end as text
            """,
        )
        raw = adv.selectExpr(
            "doc_id",
            "array(named_struct('kind', 'text', 'text', text, 'media_ref', '',"
            " 'offset', 0)) as spans",
        )
        return parse_sentences_full(raw).select(
            "doc_id", "sentence_id", "position", "text", "n_tokens",
            F.array_join("tokens", "|").alias("token_str"),
        )

    def p2_lemmas(spark, sf):
        return _sentences(spark, sf).select(
            "sentence_id", F.array_join("lemmas", " ").alias("lemma_text")
        )

    def p2b_dependencies(spark, sf):
        # dep_parents/dep_labels column hook (shallow heuristic parse)
        from snorkel_spark.operators.parser import with_dependencies

        d = with_dependencies(_sentences(spark, sf))
        return d.select(
            "sentence_id",
            F.array_join(F.expr("transform(dep_parents, dp -> cast(dp as string))"), "|").alias("parents"),
            F.array_join("dep_labels", "|").alias("labels"),
        )

    def p2c_pos_tags(spark, sf):
        # rule POS tagger column (the reference Sentence's pos_tags
        # parallel-array contract)
        from snorkel_spark.operators.parser import with_pos_tags

        return with_pos_tags(_sentences(spark, sf)).select(
            "sentence_id", F.array_join("pos_tags", "|").alias("pos_str")
        )

    def m5_ner_matcher(spark, sf):
        # the reference's exact PersonMatcher shape:
        # RegexMatchEach(attrib='ner_tags', rgx='PERSON') over mentions
        # that carry the gazetteer-NER tag slice
        from snorkel_spark.operators.matchers import person_matcher_ner
        from snorkel_spark.operators.ngrams import ngram_mentions
        from snorkel_spark.operators.parser import with_ner_tags
        from snorkel_spark.sources import fixtures as FX

        tagged = with_ner_tags(_sentences(spark, sf), FX.PERSON_FULL_NAMES)
        m = ngram_mentions(tagged, n_max=2, carry_attribs=("ner_tags",))
        return person_matcher_ner().apply(m).select(
            "sentence_id", "word_start", "word_end", "text"
        )

    def c1_ngram_counts(spark, sf):
        return (
            _mentions(spark, sf)
            .groupBy("sentence_id")
            .agg(F.count("*").alias("n_mentions"))
        )

    def m2_person_mentions(spark, sf):
        return _persons(spark, sf).select("sentence_id", "word_start", "word_end", "text")

    def m3_regex_mentions(spark, sf):
        m = MT.RegexMatchSpan(rgx="anna[0-9]+", ignore_case=True).apply(_mentions(spark, sf))
        return m.select("sentence_id", "word_start", "text")

    def m7_union_matcher(spark, sf):
        u = MT.Union(
            children=[
                MT.RegexMatchSpan(rgx="married|wife", ignore_case=True),
                MT.DictionaryMatch(d={"brother", "sister"}),
            ]
        ).apply(_mentions(spark, sf))
        return u.select("sentence_id", "word_start", "word_end", "text")

    def m2b_porter_dictionary(spark, sf):
        # stemmer='porter': dict {'marries','wifes'} stems to
        # {'marri','wife'} and matches spans 'married' (ed-rule) and
        # 'wife' (identity) — different surface forms, same stems
        m = MT.DictionaryMatch(d={"marries", "wifes"}, stemmer="porter").apply(
            _mentions(spark, sf)
        )
        return m.select("sentence_id", "word_start", "word_end", "text")

    def c1b_ngrams_split(spark, sf):
        # Ngrams(split_tokens=('-','/')): sub-token spans from a
        # deterministic hyphenated corpus built from the documents table
        from snorkel_spark.operators.ngrams import ngram_mentions
        from snorkel_spark.operators.parser import parse_sentences

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        adv = docs.selectExpr(
            "cast(doc_id as string) as doc_id",
            "concat(split(text, ' ')[0], '-', split(text, ' ')[1], ' ',"
            " split(text, ' ')[2], '/', split(text, ' ')[3]) as text",
        )
        raw = adv.selectExpr(
            "doc_id",
            "array(named_struct('kind', 'text', 'text', text, 'media_ref', '',"
            " 'offset', 0)) as spans",
        )
        m = ngram_mentions(parse_sentences(raw), n_max=2, split_tokens=("-", "/"))
        return m.select("sentence_id", "word_start", "word_end", "n", "text")

    def m1_longest_dictionary(spark, sf):
        from snorkel_spark.sources import fixtures as FX

        m = MT.DictionaryJoinMatch(
            dict_df=FX.alias_dict(spark), dict_col="alias", longest_match_only=True
        ).apply(_mentions(spark, sf))
        return m.select("sentence_id", "word_start", "word_end", "text")

    def m8_concat_matcher(spark, sf):
        from snorkel_spark.sources import fixtures as FX

        c = MT.Concat(
            left=MT.DictionaryJoinMatch(dict_df=FX.person_full_names(spark), dict_col="alias"),
            right=MT.DictionaryMatch(d={"married"}),
        ).apply(_mentions(spark, sf))
        return c.select("sentence_id", "word_start", "word_end", "text")

    def c3_candidates(spark, sf):
        return _candidates(spark, sf).select(
            "candidate_id", "doc_id", "sentence_id", "subj_text", "subj_ws", "subj_we",
            "obj_text", "obj_ws", "obj_we", "text_between",
        )

    def c5_ternary_candidates(spark, sf):
        # arity-3 extraction: (person, relation-word, person) — the
        # planted sentences yield exactly one ternary candidate each
        from snorkel_spark.operators.candidates import extract_candidates_kary

        ments = _mentions(spark, sf)
        persons = _persons(spark, sf)
        mid = MT.DictionaryMatch(d={"married", "wife", "brother"}).apply(
            ments.filter("n = 1")
        )
        t = extract_candidates_kary([persons, mid, persons], rel_type="spouse_rel_3")
        return t.select(
            "candidate_id", "sentence_id",
            "e0_text", "e0_ws", "e1_text", "e1_ws", "e2_text", "e2_ws",
        )

    def h4_tagged_text(spark, sf):
        from snorkel_spark.functions.lf_helpers import get_tagged_text, with_sentence_tokens

        t = with_sentence_tokens(_candidates(spark, sf), _sentences(spark, sf))
        return t.select("candidate_id", get_tagged_text().alias("tagged"))

    def a1_label_matrix(spark, sf):
        return _label_matrix(spark, sf)

    def a2_features(spark, sf):
        from snorkel_spark.functions.features import featurize_candidates

        return featurize_candidates(_candidates(spark, sf)).select(
            "candidate_id", "feature", "value"
        )

    def a4_lf_stats(spark, sf):
        from snorkel_spark.functions.analytics import lf_stats

        cands = _candidates(spark, sf).cache()
        n = cands.count()
        s = lf_stats(_label_matrix(spark, sf), n)
        return s.select(
            "lf_id", "n_labeled",
            F.round("coverage", 6).alias("coverage"),
            F.round("overlaps", 6).alias("overlaps"),
            F.round("conflicts", 6).alias("conflicts"),
        )

    def a5_candidate_coverage(spark, sf):
        from snorkel_spark.functions.analytics import candidate_coverage

        cands = _candidates(spark, sf).cache()
        n = cands.count()
        c = candidate_coverage(_label_matrix(spark, sf), n)
        return c.select(
            "n_labeled", F.round("frac_labeled", 6).alias("frac_labeled"),
            "n_overlapped", "n_conflicted",
        )

    def a7_filter_unlabeled(spark, sf):
        from snorkel_spark.functions.analytics import filter_unlabeled

        cands = _candidates(spark, sf).cache()
        return filter_unlabeled(cands, _label_matrix(spark, sf)).select("candidate_id")

    def g5_majority_vote(spark, sf):
        from snorkel_spark.labelmodel.model import majority_vote

        return majority_vote(_label_matrix(spark, sf))

    def g6_scorer_counts(spark, sf):
        from snorkel_spark.labelmodel.model import majority_vote
        from snorkel_spark.sources import fixtures as FX

        mv = majority_vote(_label_matrix(spark, sf))
        g = FX.gold_labels(spark, sf).select("candidate_id", F.col("label").alias("gold_label"))
        j = mv.join(g, "candidate_id")
        return j.agg(
            F.sum(((F.col("prob_true") > 0.5) & (F.col("gold_label") == 1)).cast("long")).alias("tp"),
            F.sum(((F.col("prob_true") > 0.5) & (F.col("gold_label") == -1)).cast("long")).alias("fp"),
            F.sum(((F.col("prob_true") <= 0.5) & (F.col("gold_label") == -1)).cast("long")).alias("tn"),
            F.sum(((F.col("prob_true") <= 0.5) & (F.col("gold_label") == 1)).cast("long")).alias("fn"),
        )

    def n1_entity_link(spark, sf):
        from snorkel_spark.operators.linker import link_text_map
        from snorkel_spark.sources import fixtures as FX

        linked = _mentions(spark, sf).withColumn("l", link_text_map("text", FX.ALIASES))
        return linked.filter(F.col("l").isNotNull()).select(
            "sentence_id", "word_start", "word_end", "l.entity_id",
            F.round("l.link_score", 4).alias("link_score"),
        )

    def n2_triples_mv(spark, sf):
        return _mv_triples(spark, sf)

    def n3_salted_entity_counts(spark, sf):
        from snorkel_spark.operators.linker import link_text_map
        from snorkel_spark.sources import fixtures as FX

        linked = (
            _persons(spark, sf)
            .withColumn("entity_id", link_text_map("text", FX.ALIASES)["entity_id"])
            .filter(F.col("entity_id").isNotNull())
        )
        # explicit salted two-phase aggregation (N3)
        partial = (
            linked.withColumn("_salt", F.pmod(F.xxhash64("mention_id"), F.lit(16)))
            .groupBy("entity_id", "_salt")
            .agg(F.count("*").alias("c"))
        )
        return partial.groupBy("entity_id").agg(F.sum("c").alias("n_mentions"))

    def g4c_pseudolikelihood_deps(spark, sf):
        # G4 — the reference's algorithm (ICML'17 ℓ1 pseudolikelihood,
        # Y marginalized), Spark-first: the corpus
        # compresses to distinct vote-pattern counts (one distributed
        # agg), the driver solves the exact weighted objective.  The
        # oracle runs the SAME fit on DuckDB-computed pattern counts at
        # import time — a cross-engine check of the compression path.
        deps, W = _dependencies(spark, sf)
        rows = [(a, b, round(float(W[a, b]), 4)) for a, b in sorted(deps)]
        return spark.createDataFrame(
            rows or [(None, None, None)], "lf_a int, lf_b int, weight double"
        ).filter("lf_a is not null")

    def g3_learned_lf_stats(spark, sf):
        # learned per-LF coverage/accuracy from the DISTRIBUTED O path;
        # the oracle fits the same model from DuckDB's label matrix —
        # a true cross-engine check of the sufficient-statistics path
        return spark.createDataFrame(
            [
                (s["lf_id"], round(s["learned_coverage"], 6), round(s["learned_accuracy"], 6))
                for s in _label_model(spark, sf).learned_lf_stats()
            ],
            "lf_id int, learned_coverage double, learned_accuracy double",
        )

    def g1_label_model_marginals(spark, sf):
        L = _label_matrix(spark, sf)
        return _label_model(spark, sf).marginals(spark, L).select(
            "candidate_id", F.round("prob_true", 6).alias("prob_true")
        )

    def g1c_marginals_with_deps(spark, sf):
        # structure learning → structure-aware label model, end to end:
        # the ICML'17 pseudolikelihood learner's selected dependencies
        # are MASKED into the matrix-completion fit (their O blocks no
        # longer constrain μ̂), then marginals score distributedly.  The
        # oracle replays the identical chain on DuckDB-computed inputs.
        from snorkel_spark.labelmodel.model import LabelModel

        L = _label_matrix(spark, sf)
        deps, _W = _dependencies(spark, sf)
        lm = LabelModel(m=len(_fixture_lfs(spark)), deps=deps).fit(*_label_counts(spark, sf))
        return lm.marginals(spark, L).select(
            "candidate_id", F.round("prob_true", 6).alias("prob_true")
        )

    def g1_triples_labelmodel(spark, sf):
        from snorkel_spark.plans.pipeline import build_triples

        marg = _label_model(spark, sf).marginals(spark, _label_matrix(spark, sf))
        t = build_triples(_candidates(spark, sf), marg, threshold=0.5, n_salts=8)
        return t.select("subj", "pred", "obj", "n_evidence")

    # ---- training-data-pipeline operators --------------------------
    def ev_asof_join(spark, sf):
        # the as-of join Spark lacks: each click attaches the latest
        # at-or-before purchase per user (right side pre-aggregated to
        # one row per (user, ts) so "latest" is well-defined); oracle =
        # DuckDB's native ASOF JOIN
        from snorkel_spark.operators.temporal import asof_join

        ev = spark.read.parquet(f"{sf}/events.parquet")
        clicks = ev.filter("event_type = 'click'")
        purch = (
            ev.filter("event_type = 'purchase'")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("value"))
        )
        return asof_join(clicks, purch, key="user_id", ts_col="ts")

    def ev_range_join(spark, sf):
        # unkeyed band join via time-bucketing (the naive theta join is
        # a cross product): signup events to error events within 150 s
        from snorkel_spark.operators.temporal import range_join_bucketed

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return range_join_bucketed(
            ev.filter("event_type = 'signup'"),
            ev.filter("event_type = 'error'"),
            window_sec=150,
        )

    def ts_token_stats(spark, sf):
        from snorkel_spark.operators.textstats import token_stats

        return token_stats(spark.read.parquet(f"{sf}/documents.parquet"))

    def ts_quality(spark, sf):
        from snorkel_spark.operators.textstats import quality_scores

        return quality_scores(spark.read.parquet(f"{sf}/documents.parquet"))

    def ts_langid(spark, sf):
        from snorkel_spark.operators.textstats import lang_id

        return lang_id(spark.read.parquet(f"{sf}/documents.parquet"))

    def ts_fingerprint(spark, sf):
        from snorkel_spark.operators.textstats import fingerprints

        return fingerprints(spark.read.parquet(f"{sf}/documents.parquet"))

    def ts_top_terms(spark, sf):
        from snorkel_spark.operators.textstats import top_terms

        return top_terms(spark.read.parquet(f"{sf}/documents.parquet"), k=20)

    def ts_redact_pii(spark, sf):
        # planted fixture: the raw corpus has no PII, so the redaction
        # query would be vacuous without it
        from snorkel_spark.operators.textstats import redact_pii
        from snorkel_spark.sources.fixtures import docs_with_planted_pii

        return redact_pii(
            docs_with_planted_pii(spark.read.parquet(f"{sf}/documents.parquet"))
        )

    def ts_split_assign(spark, sf):
        from snorkel_spark.operators.textstats import assign_splits

        return assign_splits(spark.read.parquet(f"{sf}/documents.parquet"))

    def ts_repetition(spark, sf):
        from snorkel_spark.operators.textstats import repetition_stats

        return repetition_stats(spark.read.parquet(f"{sf}/documents.parquet"))

    def dd_decontaminate(spark, sf):
        # eval split = doc_id % 97 == 0 (deterministic); corpus = rest;
        # n_hits = distinct 3-shingles shared with ANY eval doc
        from snorkel_spark.operators.textstats import decontaminate

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        ev = docs.filter(F.col("doc_id") % 97 == 0)
        corpus = docs.filter(F.col("doc_id") % 97 != 0)
        return decontaminate(corpus, ev, shingle_n=3, min_hits=1)

    def dd_span_dedup(spark, sf):
        # C4's cross-document rule / Lee et al. 2022 exact-substring
        # dedup: strided 12-token window fingerprints, corpus-wide
        # count, per-doc duplicated-window flags; fixture plants a
        # shared 25-token prefix on doc_id % 7 == 0 so windows at
        # offsets 1/7/13 are genuine cross-doc duplicates
        from snorkel_spark.operators.dedup import span_dedup_flags
        from snorkel_spark.sources.fixtures import docs_with_planted_spans

        return span_dedup_flags(
            docs_with_planted_spans(spark.read.parquet(f"{sf}/documents.parquet")),
            span_tokens=12,
            stride=6,
        )

    def dd_kmv_distinct(spark, sf):
        # deterministic bottom-k cardinality sketch (cross-engine md5
        # hashes, unlike HLL) — estimate + exact truth in one row
        from snorkel_spark.operators.sketches import kmv_distinct_tokens

        return kmv_distinct_tokens(
            spark.read.parquet(f"{sf}/documents.parquet"), k=64, shingle_n=3
        )

    def dd_kmv_jaccard(spark, sf):
        # sketch-based corpus overlap between the decontamination eval
        # split (doc_id % 97 == 0) and the training split — estimate
        # and exact truth in one row
        from snorkel_spark.operators.sketches import kmv_jaccard

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return kmv_jaccard(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
            k=256, shingle_n=3,
        )

    def dd_exact_groups(spark, sf):
        from snorkel_spark.operators.dedup import exact_dup_groups

        return exact_dup_groups(spark.read.parquet(f"{sf}/documents.parquet"))

    def dd_minhash_pairs(spark, sf):
        # production defaults: 128 hashes, 32 bands (r=4), bucket cap 64;
        # unigram sets → threshold 0.9 (see ngram_jaccard_pairs on why
        # unigram Jaccard is only meaningful near 1.0 under a small vocab)
        from snorkel_spark.operators.dedup import ngram_jaccard_pairs

        return ngram_jaccard_pairs(
            spark.read.parquet(f"{sf}/documents.parquet"), threshold=0.9, shingle_n=1
        )

    def dd_bucket_stats(spark, sf):
        # 32 hashes / 16 bands on 3-shingles: the audit histogram's
        # shape is what's checked, and it matches dd_ngram_jaccard's
        # band params.  Production default stays 128/32 (dedup.py).
        from snorkel_spark.operators.dedup import lsh_bucket_stats

        return lsh_bucket_stats(
            spark.read.parquet(f"{sf}/documents.parquet"),
            n_hashes=32, n_bands=16, shingle_n=3,
        )

    def dd_simhash(spark, sf):
        from snorkel_spark.operators.dedup import simhash_signatures

        return simhash_signatures(spark.read.parquet(f"{sf}/documents.parquet"))

    def dd_ngram_jaccard(spark, sf):
        # MinHash-band candidate generation + exact 3-shingle Jaccard —
        # finds the corpus' planted near-dups of differing length
        from snorkel_spark.operators.dedup import ngram_jaccard_pairs

        # 32 hashes / 16 bands (r=2, s* = 0.25): exact-verify makes the
        # result identical on both sides for ANY band params; r=2 recall
        # at the 0.5 threshold is ≥ 1-(1-0.25)^16 ≈ 0.99.  Production
        # default stays 128/32.
        return ngram_jaccard_pairs(
            spark.read.parquet(f"{sf}/documents.parquet"),
            threshold=0.5, n_hashes=32, n_bands=16,
        )

    def dd_duplicate_clusters(spark, sf):
        # exact star edges ∪ 3-shingle near-dup pairs → connected
        # components (iterative min-label propagation; the oracle is a
        # recursive CTE over the same edge set) — gate band params match
        # dd_ngram_jaccard (exact verify makes the pair set identical)
        from snorkel_spark.operators.dedup import duplicate_clusters

        return duplicate_clusters(
            spark.read.parquet(f"{sf}/documents.parquet"),
            threshold=0.5, n_hashes=32, n_bands=16,
        )

    def dd_cluster_reps(spark, sf):
        # canonical-doc selection over the SAME clustering as
        # dd_duplicate_clusters: every doc flagged keep/prune, keep =
        # longest member (ties → lowest doc_id string order)
        from snorkel_spark.operators.dedup import cluster_representatives, duplicate_clusters

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return cluster_representatives(
            docs, duplicate_clusters(docs, threshold=0.5, n_hashes=32, n_bands=16)
        )

    def dd_line_dedup(spark, sf):
        # intra-document repeated-line removal (RefinedWeb page
        # cleaning); planted repeated lines make n_dropped non-vacuous
        from snorkel_spark.operators.dedup import dedup_lines
        from snorkel_spark.sources.fixtures import docs_with_repeated_lines

        return dedup_lines(
            docs_with_repeated_lines(spark.read.parquet(f"{sf}/documents.parquet"))
        )

    def sim_cosine_topk(spark, sf):
        from snorkel_spark.operators.similarity import cosine_topk

        return cosine_topk(spark.read.parquet(f"{sf}/embeddings.parquet"), [0, 1, 2, 3, 4], k=3)

    def sim_ivf_topk(spark, sf):
        # IVF scale path: deterministic-sample coarse quantizer (16
        # lists), probe the 4 nearest lists per query — same output
        # contract as sim_cosine_topk so recall is auditable
        from snorkel_spark.operators.similarity import ivf_topk

        return ivf_topk(
            spark.read.parquet(f"{sf}/embeddings.parquet"),
            [0, 1, 2, 3, 4], k=3, n_centroids=16, n_probe=4,
        )

    def sim_lsh_buckets(spark, sf):
        from snorkel_spark.operators.similarity import lsh_buckets

        return lsh_buckets(spark.read.parquet(f"{sf}/embeddings.parquet"))

    def sim_lsh_pairs(spark, sf):
        from snorkel_spark.operators.similarity import lsh_neighbor_pairs
        from snorkel_spark.sources.fixtures import embeddings_with_planted_dups

        aug = embeddings_with_planted_dups(spark.read.parquet(f"{sf}/embeddings.parquet"))
        return lsh_neighbor_pairs(aug, threshold=0.8)

    def sim_embedding_near_dups(spark, sf):
        # LSH-routed, no label/metadata blocking; planted near-dups make
        # the result non-vacuous (the raw corpus has max cos ≈ 0.51)
        from snorkel_spark.operators.similarity import lsh_neighbor_pairs
        from snorkel_spark.sources.fixtures import embeddings_with_planted_dups

        aug = embeddings_with_planted_dups(spark.read.parquet(f"{sf}/embeddings.parquet"))
        return lsh_neighbor_pairs(aug, threshold=0.95)

    def sim_semdedup(spark, sf):
        # SemDeDup (Abbas et al. 2023): cluster-bounded semantic dedup —
        # every row comes back flagged keep/prune; planted near-dups
        # make is_dup non-vacuous (raw corpus max cos ≈ 0.51)
        from snorkel_spark.operators.similarity import semdedup
        from snorkel_spark.sources.fixtures import embeddings_with_planted_dups

        aug = embeddings_with_planted_dups(spark.read.parquet(f"{sf}/embeddings.parquet"))
        return semdedup(aug, n_centroids=16, threshold=0.95)

    def mm_media_features(spark, sf):
        from snorkel_spark.operators.multimodal import extract_features, fetch_payloads, media_spans
        from snorkel_spark.sources.interleaved import synthesize_raw_documents

        m = media_spans(synthesize_raw_documents(spark, sf))
        return extract_features(fetch_payloads(m))

    def mm_frame_sample(spark, sf):
        from snorkel_spark.operators.multimodal import fetch_payloads, frame_sample, media_spans
        from snorkel_spark.sources.interleaved import synthesize_raw_documents

        m = media_spans(synthesize_raw_documents(spark, sf))
        return frame_sample(fetch_payloads(m))

    def mm_decode_images(spark, sf):
        # REAL image decode path: solid-color BMP/PPM payloads derived
        # from md5(doc_id) are encoded to actual container bytes, then
        # decoded back by the pure-NumPy codecs — the oracle recomputes
        # every decoded statistic analytically from the same md5
        from snorkel_spark.operators.multimodal import decode_images, synthesize_images

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return decode_images(synthesize_images(docs, n=200))

    def ev_windowed_counts(spark, sf):
        from snorkel_spark.streaming.events import windowed_counts

        return windowed_counts(spark.read.parquet(f"{sf}/events.parquet"))

    def ev_sessionize(spark, sf):
        from snorkel_spark.streaming.events import sessionize

        return sessionize(spark.read.parquet(f"{sf}/events.parquet"))

    def ev_sessionize_stateful(spark, sf):
        # custom stateful streaming operator (applyInPandasWithState);
        # non-SQL-expressible → rows-only driver check; batch
        # equivalence is asserted by pytest instead
        from pyspark.sql import functions as SF_

        from snorkel_spark.streaming.events import (
            run_stream_updates_to_memory,
            sessionize_stateful_streaming,
        )

        name = "sess_state_" + "".join(c if c.isalnum() else "_" for c in sf)
        sdf = sessionize_stateful_streaming(spark, f"{sf}/events.parquet")
        mem = run_stream_updates_to_memory(spark, sdf, name)
        return mem.groupBy("user_id").agg(
            SF_.max("n_sessions").alias("n_sessions"),
            SF_.max("n_events").alias("n_events"),
        )

    def ev_json_prop_sums(spark, sf):
        from snorkel_spark.streaming.events import json_prop_sums

        return json_prop_sums(spark.read.parquet(f"{sf}/events.parquet"))

    # ---- round-4-new queries ---------------------------------------
    def dd_kmv_merge(spark, sf):
        # the mergeability claim as an operator: per-shard bottom-k
        # sketches → union → re-bottom-k; merged estimate must equal
        # the directly-computed global estimate (bottom-k property) —
        # the per-day→month lakehouse rollup, oracle-checked
        from snorkel_spark.operators.sketches import kmv_shard_merge

        return kmv_shard_merge(
            spark.read.parquet(f"{sf}/documents.parquet"),
            k=64, shingle_n=3, n_shards=8,
        )

    def ev_asof_join_bucketed(spark, sf):
        # the mega-key-safe as-of join: time-bucketed two-phase carry,
        # no single key's history in one task; same query shape (and
        # oracle — DuckDB ASOF JOIN) as ev_asof_join
        from snorkel_spark.operators.temporal import asof_join_bucketed

        ev = spark.read.parquet(f"{sf}/events.parquet")
        clicks = ev.filter("event_type = 'click'")
        purch = (
            ev.filter("event_type = 'purchase'")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("value"))
        )
        return asof_join_bucketed(
            clicks, purch, key="user_id", ts_col="ts", bucket_sec=7200
        )

    def ts_c4_clean(spark, sf):
        # C4's page-cleaning rules (JMLR'20 §2.2) over deterministically
        # planted multi-line pages (the raw corpus is single-line salad
        # — every rule would fire vacuously without the fixture)
        from snorkel_spark.operators.textstats import c4_line_filters
        from snorkel_spark.sources.fixtures import docs_with_planted_lines

        return c4_line_filters(
            docs_with_planted_lines(spark.read.parquet(f"{sf}/documents.parquet"))
        )

    def ts_mixture_sample(spark, sf):
        # deterministic per-source mixture weights: src{i} keeps at
        # 1e6 - i*5e4 ppm (src0 = rate 1.0 exercises the keep-all arm),
        # src18/src19 omitted from the dict so the default-0 drop arm
        # is exercised too
        from snorkel_spark.operators.textstats import mixture_sample

        weights = {f"src{i}": 1_000_000 - i * 50_000 for i in range(18)}
        return mixture_sample(
            spark.read.parquet(f"{sf}/documents.parquet"), weights
        )

    def ts_surprisal(spark, sf):
        # CCNet-style unigram LM quality score, integer-quantized bits
        from snorkel_spark.operators.textstats import unigram_surprisal

        return unigram_surprisal(spark.read.parquet(f"{sf}/documents.parquet"))

    def ts_gopher_rules(spark, sf):
        # Gopher/MassiveText quality rules (Rae et al. 2021 §A1.1) over
        # deterministically planted quality defects (the raw corpus is
        # symbol-free single-line prose — five of the seven rules would
        # be constant without the fixture); every threshold is integer
        # arithmetic so the DuckDB twin is bit-exact
        from snorkel_spark.operators.textstats import gopher_rules
        from snorkel_spark.sources.fixtures import docs_with_planted_quality

        return gopher_rules(
            docs_with_planted_quality(spark.read.parquet(f"{sf}/documents.parquet"))
        )

    def ts_pack_sequences(spark, sf):
        # pretraining batch builder: docs laid end-to-end per shard and
        # cut into 512-token sequences — shard-partitioned windows, no
        # global sort
        from snorkel_spark.operators.textstats import pack_sequences

        return pack_sequences(
            spark.read.parquet(f"{sf}/documents.parquet"),
            max_tokens=512, n_shards=16,
        )

    # ROTATION POLICY (standing since round 4): the driver's harness
    # checks the FIRST 50 registry entries; the contract has grown past
    # that, so each round the queries with the FEWEST / OLDEST
    # driver-file green rows go first.  Round 5 window: (a) the 25
    # queries rotated out in round 4 (completing the cycle — the union
    # of r04+r05 driver files covers all 80 contract queries), (b) the
    # round-5-new queries, (c) every query whose underlying operator
    # changed this round (regressions must show in the driver file,
    # not only in pytest), (d) flagship core fill.  The rotated-out
    # tail (all driver-green in r04) is re-verified on every test run
    # by tests/test_pipeline.py::test_rotated_out_tail_contract.
    return {
        # --- (a) rotated out in round 4, back in-window -------------
        "ts_langid": ts_langid,
        "ts_fingerprint": ts_fingerprint,
        "s7_roundtrip": s7_roundtrip,
        "s1_tsv_roundtrip": s1_tsv_roundtrip,
        "s2_text_files_roundtrip": s2_text_files_roundtrip,
        "s3_csv_paths_roundtrip": s3_csv_paths_roundtrip,
        "s4_xml_roundtrip": s4_xml_roundtrip,
        "p1b_adversarial_parse": p1b_adversarial_parse,
        "p2_lemmas": p2_lemmas,
        "p2b_dependencies": p2b_dependencies,
        "c1_ngram_counts": c1_ngram_counts,
        "c1b_ngrams_split": c1b_ngrams_split,
        "m1_longest_dictionary": m1_longest_dictionary,
        "m2_person_mentions": m2_person_mentions,
        "m2b_porter_dictionary": m2b_porter_dictionary,
        "m3_regex_mentions": m3_regex_mentions,
        "m7_union_matcher": m7_union_matcher,
        "m8_concat_matcher": m8_concat_matcher,
        "c5_ternary_candidates": c5_ternary_candidates,
        "h4_tagged_text": h4_tagged_text,
        "a2_features": a2_features,
        "a4_lf_stats": a4_lf_stats,
        "a5_candidate_coverage": a5_candidate_coverage,
        "a7_filter_unlabeled": a7_filter_unlabeled,
        "g6_scorer_counts": g6_scorer_counts,
        # --- (b) new in round 5 ------------------------------------
        "dd_span_dedup": dd_span_dedup,
        "mm_decode_images": mm_decode_images,
        "ts_gopher_rules": ts_gopher_rules,
        "ts_mixture_sample": ts_mixture_sample,
        "ts_surprisal": ts_surprisal,
        "sim_semdedup": sim_semdedup,
        "dd_line_dedup": dd_line_dedup,
        "dd_cluster_reps": dd_cluster_reps,
        # --- (c) operators changed in round 5 (top_terms rewrite,
        # pack_sequences auto-shard, as-of floor bucketing, CC
        # confirmation round) ---------------------------------------
        "ts_top_terms": ts_top_terms,
        "ts_pack_sequences": ts_pack_sequences,
        "ev_asof_join_bucketed": ev_asof_join_bucketed,
        "dd_duplicate_clusters": dd_duplicate_clusters,
        # --- (d) core fill (flagship end-to-end paths) --------------
        "s7_interleaved_scan": s7_interleaved_scan,
        "p1_sentences": p1_sentences,
        "p2c_pos_tags": p2c_pos_tags,
        "m5_ner_matcher": m5_ner_matcher,
        "c3_candidates": c3_candidates,
        "a1_label_matrix": a1_label_matrix,
        "g5_majority_vote": g5_majority_vote,
        "g4c_pseudolikelihood_deps": g4c_pseudolikelihood_deps,
        "g1c_marginals_with_deps": g1c_marginals_with_deps,
        "g3_learned_lf_stats": g3_learned_lf_stats,
        "n1_entity_link": n1_entity_link,
        "n2_triples_mv": n2_triples_mv,
        "g1_label_model_marginals": g1_label_model_marginals,
        # ------- 50-query window boundary (driver checks to here) ---
        # rotated out this round — every entry below is driver-green
        # in CORRECTNESS_r04.json and stays green under
        # check_contract.py + the pytest smoke gate
        # (g1_triples_labelmodel was displaced by the round-5-new
        # sim_semdedup / dd_line_dedup / dd_cluster_reps: it is
        # r04-green and its operator family stays in-window via
        # g1_label_model_marginals + n2_triples_mv)
        "g1_triples_labelmodel": g1_triples_labelmodel,
        "n3_salted_entity_counts": n3_salted_entity_counts,
        "dd_kmv_merge": dd_kmv_merge,
        "ts_c4_clean": ts_c4_clean,
        "ts_token_stats": ts_token_stats,
        "ts_quality": ts_quality,
        "ts_redact_pii": ts_redact_pii,
        "ts_split_assign": ts_split_assign,
        "ts_repetition": ts_repetition,
        "dd_decontaminate": dd_decontaminate,
        "dd_kmv_distinct": dd_kmv_distinct,
        "dd_kmv_jaccard": dd_kmv_jaccard,
        "dd_exact_groups": dd_exact_groups,
        "dd_minhash_pairs": dd_minhash_pairs,
        "dd_bucket_stats": dd_bucket_stats,
        "dd_simhash": dd_simhash,
        "dd_ngram_jaccard": dd_ngram_jaccard,
        "sim_cosine_topk": sim_cosine_topk,
        "sim_ivf_topk": sim_ivf_topk,
        "sim_lsh_buckets": sim_lsh_buckets,
        "sim_lsh_pairs": sim_lsh_pairs,
        "sim_embedding_near_dups": sim_embedding_near_dups,
        "mm_media_features": mm_media_features,
        "mm_frame_sample": mm_frame_sample,
        "ev_windowed_counts": ev_windowed_counts,
        "ev_sessionize": ev_sessionize,
        "ev_sessionize_stateful": ev_sessionize_stateful,
        "ev_json_prop_sums": ev_json_prop_sums,
        "ev_asof_join": ev_asof_join,
        "ev_range_join": ev_range_join,
    }


# ---------------------------------------------------------------- oracle
# The driver compares Spark vs oracle at this sf (per the contract);
# the G1 oracle needs the actual label matrix to fit μ̂, so it reads the
# same parquet the driver will use.  If the path is missing, the G1
# entries are omitted and the driver falls back to its rows-only check.
# Overridable via env so a driver comparing at a different scale factor
# fits μ̂ on the matching corpus instead of reporting false mismatches.
import os as _os

_ORACLE_SF = _os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _g1_oracle_entries() -> dict[str, str]:
    """Value-checked oracles for the label-model queries (G1/G2).

    The fit is fully deterministic (full-batch Adam, fixed init, no
    sampling), so: compute the label matrix with DuckDB from the SAME
    CTE chain every other oracle uses, fit μ̂ with the same NumPy code
    path the Spark query uses driver-side, materialize μ̂ as a VALUES
    table, and express the marginal softmax in plain SQL — turning the
    former rows-only entries into exact hash-checked ones.
    """
    import os

    if not os.path.exists(f"{_ORACLE_SF}/documents.parquet"):
        return {}
    import duckdb
    import numpy as np

    from snorkel_spark.labelmodel.encoding import compute_O_local
    from snorkel_spark.labelmodel.model import EPS, LabelModel
    from snorkel_spark.labelmodel.structure import add_abstain_mass, select_dependencies
    from snorkel_spark.oracle import PREFIX_LABELS

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{_ORACLE_SF}/documents.parquet')"
    )
    L = con.execute(
        PREFIX_LABELS + " SELECT candidate_id, lf_id, label FROM label_matrix"
    ).df()
    # full candidate count for the g4c/g1c abstain mass (mirrors
    # the Spark queries' _candidates(...).count())
    n_cand = con.execute(
        PREFIX_LABELS + " SELECT COUNT(*) FROM candidates"
    ).fetchone()[0]
    con.close()
    m = 7
    ids = sorted(L["candidate_id"].unique())
    idx = {c: i for i, c in enumerate(ids)}
    dense = np.zeros((len(ids), m), dtype=np.int64)
    for cid, lf, lab in zip(L["candidate_id"], L["lf_id"], L["label"]):
        dense[idx[cid], int(lf)] = int(lab)
    C, n = compute_O_local(dense)
    lm = LabelModel(m=m).fit(C, n)
    # g4c: the ICML'17 pseudolikelihood learner on DuckDB-computed
    # pattern counts — same fit code, ordering pinned by the same
    # lexsort the Spark path uses, so floats match bit-for-bit
    pats, cnts = np.unique(dense, axis=0, return_counts=True)
    # same abstain-mass fold + lexsort the Spark path applies
    deps, Wm = select_dependencies(
        *add_abstain_mass(pats.astype(np.int8), cnts, m, int(n_cand)), m)
    dep_rows = [f"({j}, {k}, {round(float(Wm[j, k]), 4)!r})" for j, k in sorted(deps)]
    g4c_sql = (
        "SELECT CAST(lf_a AS INT) AS lf_a, CAST(lf_b AS INT) AS lf_b, weight"
        f" FROM (VALUES {', '.join(dep_rows)}) t(lf_a, lf_b, weight)"
        if dep_rows
        else "SELECT CAST(NULL AS INT) AS lf_a, CAST(NULL AS INT) AS lf_b,"
        " CAST(NULL AS DOUBLE) AS weight WHERE FALSE"
    )
    # g1c: deps from the pseudolikelihood learner masked into the
    # fit — the structure-aware μ̂ as its own VALUES table
    lm_deps = LabelModel(m=m, deps=deps).fit(C, n)
    logp = [float(np.log(max(b, EPS))) for b in lm.class_balance]

    def _marginal_cte(model: LabelModel) -> str:
        # μ̂ as a VALUES table: one (lf_id, label, class, log μ) row per cell
        factor_values = ", ".join(
            f"({j}, {2 * cp - 1}, {c}, {float(np.log(max(model.mu[j * 2 + cp, c], EPS)))!r})"
            for j in range(m) for cp in range(2) for c in range(2)
        )
        return f"""
      factors(lf_id, label, c, log_mu) AS (VALUES {factor_values}),
      scores AS (
        SELECT l.candidate_id,
               COALESCE(SUM(CASE WHEN f.c = 0 THEN f.log_mu END), 0) + ({logp[0]!r}) AS s0,
               COALESCE(SUM(CASE WHEN f.c = 1 THEN f.log_mu END), 0) + ({logp[1]!r}) AS s1
        FROM label_matrix l JOIN factors f ON f.lf_id = l.lf_id AND f.label = l.label
        GROUP BY l.candidate_id),
      lm_marg AS (
        SELECT candidate_id,
               exp(s1 - greatest(s0, s1))
                 / (exp(s0 - greatest(s0, s1)) + exp(s1 - greatest(s0, s1))) AS pt
        FROM scores)
    """

    stats_values = ", ".join(
        f"({s['lf_id']}, {round(s['learned_coverage'], 6)!r},"
        f" {round(s['learned_accuracy'], 6)!r})"
        for s in lm.learned_lf_stats()
    )
    return {
        "g3_learned_lf_stats": f"""
          SELECT CAST(lf_id AS INT) AS lf_id,
                 learned_coverage, learned_accuracy
          FROM (VALUES {stats_values}) t(lf_id, learned_coverage, learned_accuracy)""",
        "g1_label_model_marginals": PREFIX_LABELS
        + ", "
        + _marginal_cte(lm)
        + " SELECT candidate_id, ROUND(pt, 6) AS prob_true FROM lm_marg",
        "g1c_marginals_with_deps": PREFIX_LABELS
        + ", "
        + _marginal_cte(lm_deps)
        + " SELECT candidate_id, ROUND(pt, 6) AS prob_true FROM lm_marg",
        "g1_triples_labelmodel": PREFIX_LABELS
        + ", "
        + _marginal_cte(lm)
        + """,
          linked AS (
            SELECT c.candidate_id, sa.entity_id AS subj, ob.entity_id AS obj
            FROM candidates c
            JOIN alias_names sa ON c.subj_text = sa.alias
            JOIN alias_names ob ON c.obj_text = ob.alias)
          SELECT subj, 'spouse_of' AS pred, obj, COUNT(*) AS n_evidence
          FROM linked JOIN lm_marg USING (candidate_id)
          WHERE lm_marg.pt > 0.5
          GROUP BY subj, obj""",
        "g4c_pseudolikelihood_deps": g4c_sql,
    }


# PII patterns (character classes only — Java regex and RE2 agree);
# keep in sync with snorkel_spark.operators.textstats.PII_PATTERNS
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"


def _sset_sql(shingle_n: int) -> str:
    """DuckDB twin of dedup._shingle_set_expr: L−n+1 shingles (range is
    exclusive, so the +1 matters — one shingle per window position)."""
    if shingle_n == 1:
        return "list_distinct(string_split(text, ' '))"
    return (
        f"list_distinct(list_transform("
        f"range(0, greatest(len(string_split(text, ' ')) - {shingle_n}, 0) + 1),"
        f" ss -> array_to_string(string_split(text, ' ')[ss + 1 : ss + {shingle_n}], ' ')))"
    )


def _minhash_cte_sql(n_hashes: int, n_bands: int, shingle_n: int, max_bucket: int) -> str:
    """Shared CTE chain: sets → signatures → band keys → capped buckets
    → candidate pairs — the exact mirror of dedup.ngram_jaccard_pairs.
    ``sigs`` is the bit-exact twin of dedup.minhash_signatures: each
    non-null text's shingles hashed once to their md5 prefix x, then
    sig[i] = MIN((a_i·x + b_i) % p) over a cross join with the same
    coefficients (every intermediate < 2⁶³, so BIGINT holds it)."""
    from snorkel_spark.operators.dedup import (
        MINHASH_PRIME,
        SHINGLE_HASH_DIGITS,
        minhash_coefficients,
    )

    a, b = minhash_coefficients(n_hashes)
    coef = ", ".join(f"({i}, {ai}, {bi})" for i, (ai, bi) in enumerate(zip(a.tolist(), b.tolist())))
    r = n_hashes // n_bands
    return f"""
      t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, {_sset_sql(shingle_n)} AS sset
            FROM documents),
      hx AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, {SHINGLE_HASH_DIGITS}))::BIGINT AS x
             FROM (SELECT doc_id, unnest(sset) AS sh FROM t WHERE text IS NOT NULL)),
      coef(hi, a, b) AS (VALUES {coef}),
      sigs AS (SELECT doc_id, list(h ORDER BY hi) AS sig
               FROM (SELECT doc_id, hi, MIN((a * x + b) % {MINHASH_PRIME}) AS h
                     FROM hx CROSS JOIN coef GROUP BY doc_id, hi)
               GROUP BY doc_id),
      bands AS (SELECT doc_id,
                  unnest(list_transform(range(0, {n_bands}),
                    bb -> bb || '|' || array_to_string(sig[bb * {r} + 1 : bb * {r} + {r}], '|'))) AS band_key
                FROM sigs),
      okb AS (SELECT band_key FROM bands GROUP BY band_key HAVING COUNT(*) <= {max_bucket}),
      bands_ok AS (SELECT b.doc_id, b.band_key FROM bands b JOIN okb USING (band_key)),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bands_ok a JOIN bands_ok b
                 ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
    """


def _minhash_pairs_sql(
    n_hashes: int, n_bands: int, threshold: float, shingle_n: int, max_bucket: int
) -> str:
    return (
        "WITH "
        + _minhash_cte_sql(n_hashes, n_bands, shingle_n, max_bucket)
        + f""",
      verified AS (SELECT c.doc_a, c.doc_b,
                     ROUND(len(list_intersect(ta.sset, tb.sset))::DOUBLE
                           / len(list_distinct(ta.sset || tb.sset)), 6) AS jaccard
                   FROM cand c
                   JOIN t ta ON ta.doc_id = c.doc_a
                   JOIN t tb ON tb.doc_id = c.doc_b)
      SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {threshold}"""
    )


# augmented embeddings: the DuckDB twin of fixtures.embeddings_with_planted_dups
_EMB_AUG_CTE = """
  emb AS (
    SELECT vec_id, embedding, label FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000,
           list_transform(range(1, len(embedding) + 1),
             pi -> CASE WHEN pi = 1 THEN CAST(0.0 AS FLOAT) ELSE embedding[pi] END),
           label
    FROM embeddings WHERE vec_id % 10 = 0
  )
"""


def _lsh_buckets_sql(src: str, n_planes: int, n_tables: int) -> str:
    """Twin of similarity.lsh_buckets: dim-agnostic pseudo-planes
    w[g, j] = ((g·D + j)·2654435761) % 97 − 48, g = table·P + plane."""
    return f"""
      buckets AS (
        SELECT vec_id, CAST(tt AS INT) AS table_id,
          CAST(list_sum(list_transform(range(0, {n_planes}), lp ->
            CASE WHEN list_sum(list_transform(range(0, len(embedding)),
                   lj -> embedding[lj + 1]::DOUBLE
                         * ((((tt * {n_planes} + lp) * len(embedding) + lj) * 2654435761) % 97 - 48)::DOUBLE)) > 0
                 THEN 1 << lp ELSE 0 END)) AS INT) AS bucket
        FROM {src}, (SELECT unnest(range(0, {n_tables})) AS tt)
      )
    """


def _lsh_pairs_sql(threshold: float, n_planes: int, n_tables: int) -> str:
    return f"""
      WITH {_EMB_AUG_CTE},
      {_lsh_buckets_sql("emb", n_planes, n_tables)},
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
               FROM buckets a JOIN buckets b
                 ON a.table_id = b.table_id AND a.bucket = b.bucket
                AND a.vec_id < b.vec_id),
      verified AS (SELECT c.id_a, c.id_b,
          ROUND(list_sum(list_transform(range(1, len(ea.embedding) + 1),
                  zi -> ea.embedding[zi]::DOUBLE * eb.embedding[zi]::DOUBLE))
            / (sqrt(list_sum(list_transform(ea.embedding, zx -> zx::DOUBLE * zx::DOUBLE)))
               * sqrt(list_sum(list_transform(eb.embedding, zy -> zy::DOUBLE * zy::DOUBLE)))), 6) AS cos
        FROM cand c JOIN emb ea ON ea.vec_id = c.id_a JOIN emb eb ON eb.vec_id = c.id_b)
      SELECT id_a, id_b, cos FROM verified WHERE cos >= {threshold}
    """


def _semdedup_sql(n_centroids: int, threshold: float) -> str:
    """Twin of similarity.semdedup: stride-sample centroids over the
    planted-dup-augmented corpus, argmax-cosine assignment (ccos
    rounded to 6 dp BEFORE the ordering compare), then within-cluster
    greedy sweep — a member is a duplicate iff some member earlier in
    (ccos ASC, vec_id ASC) order is ≥-threshold cosine-similar."""
    cos_ec = (
        "list_sum(list_transform(range(1, len(e.embedding) + 1),"
        " zi -> e.embedding[zi]::DOUBLE * c.cemb[zi]::DOUBLE))"
        " / (sqrt(list_sum(list_transform(e.embedding, zx -> zx::DOUBLE * zx::DOUBLE)))"
        " * sqrt(list_sum(list_transform(c.cemb, zy -> zy::DOUBLE * zy::DOUBLE))))"
    )
    cos_ab = (
        "ROUND(list_sum(list_transform(range(1, len(ea.embedding) + 1),"
        " zi -> ea.embedding[zi]::DOUBLE * eb.embedding[zi]::DOUBLE))"
        " / (sqrt(list_sum(list_transform(ea.embedding, zx -> zx::DOUBLE * zx::DOUBLE)))"
        " * sqrt(list_sum(list_transform(eb.embedding, zy -> zy::DOUBLE * zy::DOUBLE)))), 6)"
    )
    return f"""
      WITH {_EMB_AUG_CTE},
      nn AS (SELECT GREATEST(COUNT(*) // {n_centroids}, 1) AS s FROM emb),
      cents AS (SELECT vec_id AS centroid_id, embedding AS cemb
                FROM emb, nn WHERE vec_id % s = 0 AND vec_id < {n_centroids} * s),
      scored AS (SELECT e.vec_id, c.centroid_id, {cos_ec} AS cos
                 FROM emb e CROSS JOIN cents c),
      assign AS (SELECT vec_id, centroid_id, ROUND(cos, 6) AS ccos FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, centroid_id ASC) AS rn FROM scored) WHERE rn = 1),
      dups AS (SELECT DISTINCT a.vec_id
               FROM assign a JOIN assign b ON a.centroid_id = b.centroid_id
                AND (b.ccos < a.ccos OR (b.ccos = a.ccos AND b.vec_id < a.vec_id))
               JOIN emb ea ON ea.vec_id = a.vec_id
               JOIN emb eb ON eb.vec_id = b.vec_id
               WHERE {cos_ab} >= {threshold})
      SELECT a.vec_id, a.centroid_id, a.ccos,
             (d.vec_id IS NOT NULL) AS is_dup
      FROM assign a LEFT JOIN dups d ON d.vec_id = a.vec_id
    """


def _duplicate_clusters_sql(
    n_hashes: int, n_bands: int, threshold: float, shingle_n: int, max_bucket: int
) -> str:
    """Twin of dedup.duplicate_clusters: exact star edges ∪ verified
    shingle pairs → transitive closure as a recursive CTE, component =
    MIN reachable node (VARCHAR compare — identical in both engines)."""
    return (
        "WITH RECURSIVE "
        + _minhash_cte_sql(n_hashes, n_bands, shingle_n, max_bucket)
        + f""",
      verified AS (SELECT c.doc_a, c.doc_b,
                     ROUND(len(list_intersect(ta.sset, tb.sset))::DOUBLE
                           / len(list_distinct(ta.sset || tb.sset)), 6) AS jaccard
                   FROM cand c
                   JOIN t ta ON ta.doc_id = c.doc_a
                   JOIN t tb ON tb.doc_id = c.doc_b),
      hashed AS (SELECT CAST(doc_id AS VARCHAR) AS doc_b, md5(text) AS h FROM documents),
      mins AS (SELECT h, MIN(doc_b) AS doc_a FROM hashed GROUP BY h),
      all_pairs AS (
        SELECT doc_a, doc_b FROM verified WHERE jaccard >= {threshold}
        UNION
        SELECT m.doc_a, hh.doc_b FROM hashed hh JOIN mins m USING (h)
        WHERE m.doc_a != hh.doc_b),
      edges AS (SELECT doc_a AS u, doc_b AS v FROM all_pairs
                UNION SELECT doc_b, doc_a FROM all_pairs),
      reach AS (
        SELECT u AS node, u AS lab FROM edges
        UNION
        SELECT e.v AS node, r.lab AS lab FROM reach r JOIN edges e ON e.u = r.node)
      SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node"""
    )


def _cluster_reps_sql(
    n_hashes: int, n_bands: int, threshold: float, shingle_n: int, max_bucket: int
) -> str:
    """Twin of dedup.cluster_representatives: the duplicate-clusters
    statement as a derived table, every doc left-joined in (singletons
    cluster to themselves), rep = first of (doc_len DESC, doc_id ASC)
    per cluster — identical to Spark's min_by over (−len, doc_id)."""
    inner = _duplicate_clusters_sql(n_hashes, n_bands, threshold, shingle_n, max_bucket)
    return f"""
      WITH base AS (
        SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
               CAST(len(d.text) AS INT) AS doc_len,
               COALESCE(c.cluster_id, CAST(d.doc_id AS VARCHAR)) AS cluster_id
        FROM documents d LEFT JOIN ({inner}) c
          ON c.doc_id = CAST(d.doc_id AS VARCHAR))
      SELECT doc_id, cluster_id, doc_len,
             (doc_id = FIRST_VALUE(doc_id) OVER (
                PARTITION BY cluster_id
                ORDER BY doc_len DESC, doc_id ASC)) AS is_rep
      FROM base
    """


def _cos_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}.embedding) + 1),"
        f" zi -> {a}.embedding[zi]::DOUBLE * {b}.embedding[zi]::DOUBLE))"
        f" / (sqrt(list_sum(list_transform({a}.embedding, zx -> zx::DOUBLE * zx::DOUBLE)))"
        f" * sqrt(list_sum(list_transform({b}.embedding, zy -> zy::DOUBLE * zy::DOUBLE))))"
    )


def _ivf_topk_sql(k: int, n_centroids: int, n_probe: int, query_ids: str) -> str:
    """Twin of similarity.ivf_topk: deterministic stride-sample
    centroids (vec_id ∈ {{0, s, …, (k−1)s}}, s = ⌊n/k⌋), argmax-cosine
    list assignment, n_probe nearest lists per query, exact re-rank
    inside the probed lists only."""
    cos_ec = (
        "list_sum(list_transform(range(1, len(e.embedding) + 1),"
        " zi -> e.embedding[zi]::DOUBLE * c.cemb[zi]::DOUBLE))"
        " / (sqrt(list_sum(list_transform(e.embedding, zx -> zx::DOUBLE * zx::DOUBLE)))"
        " * sqrt(list_sum(list_transform(c.cemb, zy -> zy::DOUBLE * zy::DOUBLE))))"
    )
    cos_qc = cos_ec.replace("e.embedding", "q.qe")
    cos_qn = (
        "list_sum(list_transform(range(1, len(q.qe) + 1),"
        " zi -> q.qe[zi]::DOUBLE * e2.embedding[zi]::DOUBLE))"
        " / (sqrt(list_sum(list_transform(q.qe, zx -> zx::DOUBLE * zx::DOUBLE)))"
        " * sqrt(list_sum(list_transform(e2.embedding, zy -> zy::DOUBLE * zy::DOUBLE))))"
    )
    return f"""
      WITH nn AS (SELECT GREATEST(COUNT(*) // {n_centroids}, 1) AS s FROM embeddings),
      cents AS (SELECT vec_id AS centroid_id, embedding AS cemb
                FROM embeddings, nn
                WHERE vec_id % s = 0 AND vec_id < {n_centroids} * s),
      assign AS (SELECT vec_id, centroid_id FROM (
          SELECT e.vec_id, c.centroid_id,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY {cos_ec} DESC, c.centroid_id ASC) AS rn
          FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
            WHERE vec_id IN ({query_ids})),
      probes AS (SELECT query_id, centroid_id FROM (
          SELECT q.query_id, c.centroid_id,
            ROW_NUMBER() OVER (PARTITION BY q.query_id
              ORDER BY {cos_qc} DESC, c.centroid_id ASC) AS rn
          FROM q CROSS JOIN cents c) WHERE rn <= {n_probe}),
      cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
               FROM probes p JOIN assign a USING (centroid_id)),
      scored AS (SELECT cd.query_id, cd.neighbor_id, {cos_qn} AS cos
                 FROM cand cd
                 JOIN q ON q.query_id = cd.query_id
                 JOIN embeddings e2 ON e2.vec_id = cd.neighbor_id
                 WHERE cd.query_id != cd.neighbor_id),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id ASC) AS rank FROM scored)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, ROUND(cos, 6) AS cos
      FROM ranked WHERE rank <= {k}
    """


# DuckDB spelling of the rule-POS CASE (same bodies the Spark tagger
# compiles — parser.POS_CASE_SQL; regexp_matches ≡ regexp_like, both
# partial-match with patterns carrying their own anchors)
def _pos_case_duckdb() -> str:
    from snorkel_spark.operators.parser import POS_CASE_SQL

    return POS_CASE_SQL.format(w="pt", re="regexp_matches")


def _porter_duck(col: str) -> str:
    """DuckDB spelling of the Porter span stemmer (same CASE bodies the
    Spark matcher compiles — see matchers.porter_span_sql)."""
    from snorkel_spark.operators.matchers import porter_span_sql

    return porter_span_sql(
        col, transform_fn="list_transform", split_fn="string_split",
        join_fn="array_to_string",
    )


def oracle_sql() -> dict[str, str]:
    from snorkel_spark.oracle import (
        ALIAS_DICT,
        LINK_TEXTS,
        PREFIX_CANDIDATES,
        PREFIX_FULL,
        PREFIX_LABELS,
        PREFIX_MENTIONS,
        PREFIX_MV,
        PREFIX_SENTENCES,
        PREFIX_SPANS,
        with_base,
    )

    d = {
        "s7_interleaved_scan": PREFIX_SPANS
        + ' SELECT doc_id, "offset", kind, text, media_ref FROM raw_spans',
        "s7_roundtrip": "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents",
        "s1_tsv_roundtrip": (
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id,"
            " replace(replace(replace(text, chr(9), ' '), chr(10), ' '),"
            " chr(13), ' ') AS text FROM documents"
        ),
        "s2_text_files_roundtrip": """
          SELECT CAST(doc_id AS VARCHAR) || '.txt' AS doc_id, text
          FROM documents WHERE doc_id % 100 = 0""",
        "s3_csv_paths_roundtrip": """
          SELECT CAST(doc_id AS VARCHAR) || '.txt' AS doc_id, text
          FROM documents WHERE doc_id % 200 = 0""",
        "s4_xml_roundtrip": "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents",
        "p1_sentences": PREFIX_SENTENCES
        + " SELECT doc_id, sentence_id, position, text, n_tokens FROM sentences",
        "p1b_adversarial_parse": r"""
          WITH adv AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
              CASE CAST(doc_id % 4 AS INT)
                WHEN 0 THEN 'Dr. ' || string_split(text, ' ')[1] || ' met '
                            || string_split(text, ' ')[2] || '. They talked!  Then left...'
                WHEN 1 THEN string_split(text, ' ')[1] || ',' || string_split(text, ' ')[2]
                            || ': yes?No. well...  done'
                WHEN 2 THEN '  ' || string_split(text, ' ')[1] || '   '
                            || string_split(text, ' ')[2] || '  '
                ELSE '(' || string_split(text, ' ')[1] || ') [' || string_split(text, ' ')[2]
                     || '] #tag 3.14 end!'
              END AS text
            FROM documents),
          runs AS (
            SELECT doc_id, 0 AS position, si AS sent_idx,
                   trim(regexp_extract_all(text, '[^.!?]+[.!?]*|[.!?]+')[si + 1]) AS stext
            FROM adv,
                 LATERAL unnest(range(0, len(regexp_extract_all(text, '[^.!?]+[.!?]*|[.!?]+')))) AS _r(si)),
          toks AS (
            SELECT doc_id, position, sent_idx, stext AS text,
                   regexp_extract_all(stext, '[A-Za-z0-9]+|[^A-Za-z0-9\s]') AS tokens
            FROM runs WHERE stext != '')
          SELECT doc_id, doc_id || ':' || position || ':' || sent_idx AS sentence_id,
                 CAST(position AS INT) AS position, text,
                 CAST(len(tokens) AS INT) AS n_tokens,
                 array_to_string(tokens, '|') AS token_str
          FROM toks WHERE len(tokens) > 0""",
        "p2_lemmas": PREFIX_SENTENCES
        + """ SELECT sentence_id, array_to_string(list_transform(tokens,
               w -> CASE WHEN len(w) > 3 AND w LIKE '%s' THEN substr(w, 1, len(w) - 1)
                         ELSE lower(w) END), ' ') AS lemma_text FROM sentences""",
        "p2b_dependencies": PREFIX_SENTENCES
        + """ SELECT sentence_id,
                 array_to_string(list_transform(range(0, len(tokens)), di -> CAST(
                   CASE WHEN di = 0 THEN -1
                        WHEN di >= 2 AND tokens[di] IN ('of', 'the', 'a') THEN di - 2
                        ELSE di - 1 END AS VARCHAR)), '|') AS parents,
                 array_to_string(list_transform(range(0, len(tokens)), di ->
                   CASE WHEN di = 0 THEN 'root'
                        WHEN tokens[di + 1] = 'of' THEN 'prep'
                        WHEN tokens[di + 1] IN ('the', 'a') THEN 'det'
                        ELSE 'dep' END), '|') AS labels
              FROM sentences""",
        "p2c_pos_tags": PREFIX_SENTENCES
        + f""" SELECT sentence_id,
                 array_to_string(list_transform(tokens, pt ->
                   {_pos_case_duckdb()}), '|') AS pos_str
              FROM sentences""",
        "m5_ner_matcher": PREFIX_MENTIONS
        + """ , al AS (SELECT list(alias) AS al FROM alias_names)
          SELECT m.sentence_id, m.word_start, m.word_end, m.text
          FROM mentions m, al
          WHERE len(list_filter(range(m.word_start + 1, m.word_end + 2), ni ->
                  COALESCE(list_contains(al.al, m.tokens[ni] || ' ' || m.tokens[ni + 1]), false)
               OR COALESCE(list_contains(al.al, m.tokens[ni - 1] || ' ' || m.tokens[ni]), false)))
              = m.word_end - m.word_start + 1""",
        "c1_ngram_counts": PREFIX_MENTIONS
        + " SELECT sentence_id, COUNT(*) AS n_mentions FROM mentions GROUP BY sentence_id",
        "m1_longest_dictionary": PREFIX_MENTIONS
        + f""", {ALIAS_DICT},
          am AS (SELECT DISTINCT m.sentence_id, m.word_start, m.word_end, m.text
                 FROM mentions m JOIN alias_dict a ON lower(m.text) = lower(a.alias))
          SELECT m.* FROM am m WHERE NOT EXISTS (
            SELECT 1 FROM am o WHERE o.sentence_id = m.sentence_id
              AND o.word_start <= m.word_start AND m.word_end <= o.word_end
              AND (o.word_start < m.word_start OR m.word_end < o.word_end))""",
        "m2_person_mentions": PREFIX_MENTIONS
        + " SELECT sentence_id, word_start, word_end, text FROM persons",
        "m2b_porter_dictionary": PREFIX_MENTIONS
        + f""" SELECT sentence_id, word_start, word_end, text FROM mentions
              WHERE {_porter_duck("text")} IN ('marri', 'wife')""",
        "c1b_ngrams_split": """
          WITH adv AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   string_split(text, ' ')[1] || '-' || string_split(text, ' ')[2] || ' '
                   || string_split(text, ' ')[3] || '/' || string_split(text, ' ')[4] AS text
            FROM documents),
          s AS (SELECT doc_id || ':0' AS sentence_id, string_split(text, ' ') AS toks FROM adv),
          base AS (
            SELECT sentence_id, CAST(ws AS INT) AS word_start,
                   CAST(ws + wn - 1 AS INT) AS word_end, CAST(wn AS INT) AS n,
                   array_to_string(toks[ws + 1 : ws + wn], ' ') AS text
            FROM s,
                 LATERAL unnest(range(0, len(toks))) a(ws),
                 LATERAL (SELECT unnest([1, 2]) AS wn) b
            WHERE ws + wn <= len(toks)),
          subs AS (
            SELECT sentence_id, CAST(ws AS INT) AS word_start, CAST(ws AS INT) AS word_end,
                   CAST(1 AS INT) AS n, part AS text
            FROM s,
                 LATERAL unnest(range(0, len(toks))) a(ws),
                 LATERAL unnest(list_distinct(string_split_regex(toks[ws + 1], '[-/]'))) p(part)
            WHERE regexp_matches(toks[ws + 1], '[-/]') AND part != '')
          SELECT * FROM base UNION ALL SELECT * FROM subs""",
        "m3_regex_mentions": PREFIX_MENTIONS
        + """ SELECT sentence_id, word_start, text FROM mentions
              WHERE regexp_matches(text, '(?i)^(?:anna[0-9]+)$')""",
        "m7_union_matcher": PREFIX_MENTIONS
        + """ SELECT sentence_id, word_start, word_end, text FROM mentions
              WHERE regexp_matches(text, '(?i)^(?:married|wife)$')
                 OR lower(text) IN ('brother', 'sister')""",
        "m8_concat_matcher": PREFIX_MENTIONS
        + """ SELECT p.sentence_id, p.word_start, m.word_end,
                     p.text || ' ' || m.text AS text
              FROM persons p JOIN mentions m
                ON m.sentence_id = p.sentence_id AND m.word_start = p.word_end + 1
               AND lower(m.text) = 'married'""",
        "c5_ternary_candidates": PREFIX_MENTIONS
        + """ , mid AS (SELECT * FROM mentions
                        WHERE n = 1 AND lower(text) IN ('married', 'wife', 'brother')),
          tern AS (
            SELECT md5('spouse_rel_3' || '|' || s.sentence_id || '|'
                       || s.word_start || '|' || s.word_end || '|'
                       || m.word_start || '|' || m.word_end || '|'
                       || o.word_start || '|' || o.word_end) AS candidate_id,
                   s.sentence_id,
                   s.text AS e0_text, s.word_start AS e0_ws,
                   m.text AS e1_text, m.word_start AS e1_ws,
                   o.text AS e2_text, o.word_start AS e2_ws
            FROM persons s
            JOIN mid m ON m.sentence_id = s.sentence_id AND s.word_end < m.word_start
            JOIN persons o ON o.sentence_id = s.sentence_id AND m.word_end < o.word_start)
          SELECT DISTINCT * FROM tern""",
        "c3_candidates": PREFIX_CANDIDATES
        + """ SELECT candidate_id, doc_id, sentence_id, subj_text, subj_ws, subj_we,
                     obj_text, obj_ws, obj_we, text_between FROM candidates""",
        "h4_tagged_text": PREFIX_CANDIDATES
        + """ , sent_toks AS (SELECT sentence_id AS sid, tokens, n_tokens AS nt FROM sentences)
          SELECT candidate_id,
            array_to_string(
              tokens[1:subj_ws] || ['{{A}}'] || tokens[subj_we + 2:obj_ws]
              || ['{{B}}'] || tokens[obj_we + 2:nt], ' ') AS tagged
          FROM candidates c JOIN sent_toks s ON c.sentence_id = s.sid""",
        "a1_label_matrix": PREFIX_LABELS
        + " SELECT candidate_id, lf_id, label FROM label_matrix",
        "a2_features": PREFIX_CANDIDATES
        + """ , feats AS (
            SELECT candidate_id, unnest(
              list_transform(tokens_between, fb -> 'BTW_' || fb)
              || list_transform(range(0, greatest(len(tokens_between) - 1, 0)),
                   fj -> 'BTW_BI_' || tokens_between[fj + 1] || '_' || tokens_between[fj + 2])
              || ['DIST_' || least(CAST(floor(len(tokens_between) / 3.0) AS INT), 5)]
              || ['SUBJ_SHAPE_' || regexp_replace(subj_text, '[0-9]', '#', 'g')]
              || ['OBJ_SHAPE_' || regexp_replace(obj_text, '[0-9]', '#', 'g')]
            ) AS feature
            FROM candidates)
          SELECT DISTINCT candidate_id, feature, CAST(1 AS INT) AS value FROM feats""",
        "a4_lf_stats": PREFIX_LABELS
        + """ , nc AS (SELECT COUNT(*)::DOUBLE AS n FROM candidates),
          per_cand AS (SELECT candidate_id, COUNT(*) AS n_labels FROM label_matrix GROUP BY candidate_id),
          per_cl AS (SELECT candidate_id, label, COUNT(*) AS n_same FROM label_matrix GROUP BY candidate_id, label)
          SELECT l.lf_id, COUNT(*) AS n_labeled,
                 ROUND(COUNT(*) / (SELECT n FROM nc), 6) AS coverage,
                 ROUND(SUM(CASE WHEN p.n_labels > 1 THEN 1 ELSE 0 END) / (SELECT n FROM nc), 6) AS overlaps,
                 ROUND(SUM(CASE WHEN c.n_same < p.n_labels THEN 1 ELSE 0 END) / (SELECT n FROM nc), 6) AS conflicts
          FROM label_matrix l
          JOIN per_cand p USING (candidate_id)
          JOIN per_cl c ON c.candidate_id = l.candidate_id AND c.label = l.label
          GROUP BY l.lf_id""",
        "a5_candidate_coverage": PREFIX_LABELS
        + """ , nc AS (SELECT COUNT(*)::DOUBLE AS n FROM candidates),
          per_cand AS (SELECT candidate_id, COUNT(*) AS n_labels, COUNT(DISTINCT label) AS n_distinct
                       FROM label_matrix GROUP BY candidate_id)
          SELECT CAST(COUNT(*) AS BIGINT) AS n_labeled,
                 ROUND(COUNT(*) / (SELECT n FROM nc), 6) AS frac_labeled,
                 CAST(SUM(CASE WHEN n_labels > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlapped,
                 CAST(SUM(CASE WHEN n_distinct > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_conflicted
          FROM per_cand""",
        "a7_filter_unlabeled": PREFIX_LABELS
        + " SELECT DISTINCT candidate_id FROM label_matrix",
        "g5_majority_vote": PREFIX_MV + " SELECT candidate_id, prob_true FROM mv",
        "g6_scorer_counts": PREFIX_FULL
        + """ SELECT
            CAST(SUM(CASE WHEN mv.prob_true > 0.5 AND g.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(SUM(CASE WHEN mv.prob_true > 0.5 AND g.label = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(SUM(CASE WHEN mv.prob_true <= 0.5 AND g.label = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
            CAST(SUM(CASE WHEN mv.prob_true <= 0.5 AND g.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
          FROM mv JOIN gold g USING (candidate_id)""",
        "n1_entity_link": PREFIX_MENTIONS
        + f""", texts AS (SELECT DISTINCT text FROM mentions), {LINK_TEXTS}
          SELECT m.sentence_id, m.word_start, m.word_end, l.entity_id,
                 ROUND(l.link_score, 4) AS link_score
          FROM mentions m JOIN links l USING (text)""",
        "n2_triples_mv": PREFIX_MV
        + """ , linked AS (
            SELECT c.candidate_id, sa.entity_id AS subj, ob.entity_id AS obj
            FROM candidates c
            JOIN alias_names sa ON c.subj_text = sa.alias
            JOIN alias_names ob ON c.obj_text = ob.alias)
          SELECT subj, 'spouse_of' AS pred, obj, COUNT(*) AS n_evidence,
                 ROUND(MAX(mv.prob_true), 4) AS prob
          FROM linked JOIN mv USING (candidate_id)
          WHERE mv.prob_true > 0.5
          GROUP BY subj, obj""",
        "n3_salted_entity_counts": PREFIX_MENTIONS
        + """ SELECT a.entity_id, COUNT(*) AS n_mentions
          FROM persons p JOIN alias_names a ON p.text = a.alias
          GROUP BY a.entity_id""",
        # ---- training-data-pipeline operators ------------------------
        "ts_token_stats": """
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
                 CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe_tokens,
                 CAST(len(replace(text, ' ', '')) AS INT) AS n_chars_nospace
          FROM documents""",
        # 6-dp rounding in exact integer arithmetic on both engines:
        # ⌊(2a·10⁶+b)/2b⌋ — round(double) flakes at half-ulp boundaries
        "ts_quality": """
          WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                            string_split(text, ' ') AS toks FROM documents),
          q AS (SELECT doc_id,
                  len(toks)::BIGINT AS n,
                  len(list_distinct(toks))::BIGINT AS d,
                  len(list_filter(toks, qt -> qt IN ('a','and','das','de','der','die','el','et','he','la','le','of','shi','the','und','y')))::BIGINT AS s,
                  list_sum(list_transform(toks, qw -> len(qw)))::BIGINT AS c
                FROM t)
          SELECT doc_id, CAST(n AS INT) AS n_tokens,
                 ((2 * d * 1000000 + n) // (2 * n))::DOUBLE / 1000000 AS distinct_ratio,
                 ((2 * s * 1000000 + n) // (2 * n))::DOUBLE / 1000000 AS stopword_ratio,
                 ((2 * c * 1000000 + n) // (2 * n))::DOUBLE / 1000000 AS mean_token_len,
                 ((2 * (20 * n * LEAST(n, 64) + 960 * d + 640 * LEAST(4 * s, n)
                        + 40 * LEAST(c, 8 * n)) * 1000000 + 3200 * n)
                  // (2 * 3200 * n))::DOUBLE / 1000000 AS quality
          FROM q""",
        "ts_top_terms": """
          WITH tf AS (SELECT unnest(list_distinct(string_split(text, ' '))) AS term
                      FROM documents),
          dfq AS (SELECT term, COUNT(*) AS doc_freq FROM tf WHERE term != '' GROUP BY term),
          r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY doc_freq DESC, term ASC) AS rank FROM dfq)
          SELECT CAST(rank AS INT) AS rank, term, doc_freq FROM r WHERE rank <= 20""",
        # replacement order must mirror textstats.redact_pii: ssn,
        # email, phone (ssn first — phone's prefix would eat it);
        # counts are on the ORIGINAL planted text
        "ts_redact_pii": f"""
          WITH p AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 CASE WHEN doc_id % 7 = 0
                      THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                           || '@ex.org id 123-45-6789 tel 555-123-4567'
                      ELSE text END AS text
               FROM documents)
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_email,
                 CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT) AS n_phone,
                 CAST(len(regexp_extract_all(text, '{_PII_SSN}')) AS INT) AS n_ssn,
                 regexp_replace(regexp_replace(regexp_replace(text,
                     '{_PII_SSN}', '[SSN]', 'g'),
                     '{_PII_EMAIL}', '[EMAIL]', 'g'),
                     '{_PII_PHONE}', '[PHONE]', 'g') AS redacted_text
          FROM p""",
        # hex→int without conv() (DuckDB lacks it): Σ digit·16^pos via
        # strpos on the hex alphabet — exact integer arithmetic
        "ts_split_assign": """
          WITH h AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 list_sum(list_transform(range(0, 4), hd ->
                   (strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR)), hd + 1, 1)) - 1)
                   * (CASE hd WHEN 0 THEN 4096 WHEN 1 THEN 256 WHEN 2 THEN 16 ELSE 1 END)))
                 % 100 AS b
               FROM documents)
          SELECT doc_id, CAST(b AS INT) AS bucket,
                 CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM h""",
        "ts_repetition": """
          WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                            string_split(text, ' ') AS toks FROM documents),
          g AS (SELECT doc_id, len(toks)::BIGINT AS n,
                  CASE WHEN len(toks) < 2 THEN 0 ELSE
                    list_max(list_transform(
                      list_distinct(list_transform(range(0, len(toks) - 1),
                        gi -> array_to_string(toks[gi + 1 : gi + 2], ' '))),
                      gs -> len(list_filter(list_transform(range(0, len(toks) - 1),
                        gi -> array_to_string(toks[gi + 1 : gi + 2], ' ')), gx -> gx = gs))))
                  END::BIGINT AS c2,
                  CASE WHEN len(toks) < 3 THEN 0 ELSE
                    list_max(list_transform(
                      list_distinct(list_transform(range(0, len(toks) - 2),
                        gi -> array_to_string(toks[gi + 1 : gi + 3], ' '))),
                      gs -> len(list_filter(list_transform(range(0, len(toks) - 2),
                        gi -> array_to_string(toks[gi + 1 : gi + 3], ' ')), gx -> gx = gs))))
                  END::BIGINT AS c3
                FROM t)
          SELECT doc_id, CAST(n AS INT) AS n_tokens,
                 c2 AS top2_cnt,
                 ((2 * c2 * 2 * 1000000 + n) // (2 * n))::DOUBLE / 1000000 AS top2_frac,
                 c3 AS top3_cnt,
                 ((2 * c3 * 3 * 1000000 + n) // (2 * n))::DOUBLE / 1000000 AS top3_frac
          FROM g""",
        "dd_decontaminate": f"""
          WITH ev AS (SELECT DISTINCT unnest({_sset_sql(3)}) AS shingle
                      FROM documents WHERE doc_id % 97 = 0),
          corpus AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                            unnest({_sset_sql(3)}) AS shingle
                     FROM documents WHERE doc_id % 97 <> 0)
          SELECT doc_id, COUNT(*) AS n_hits
          FROM corpus JOIN ev USING (shingle)
          GROUP BY doc_id HAVING COUNT(*) >= 1""",
        "ts_langid": """
          WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                            string_split(text, ' ') AS toks FROM documents),
          s AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
                  [struct_pack(hits := CAST(len(list_filter(toks, x -> x IN ('der','die','das','und'))) AS INT), lang := 'de'),
                   struct_pack(hits := CAST(len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS INT), lang := 'en'),
                   struct_pack(hits := CAST(len(list_filter(toks, x -> x IN ('el','la','de','y'))) AS INT), lang := 'es'),
                   struct_pack(hits := CAST(len(list_filter(toks, x -> x IN ('le','la','de','et'))) AS INT), lang := 'fr'),
                   struct_pack(hits := CAST(len(list_filter(toks, x -> x IN ('de','le','he','shi'))) AS INT), lang := 'zh')] AS sc
                FROM t)
          SELECT doc_id, n_tokens,
                 list_max(sc).lang AS pred_lang,
                 list_max(sc).hits AS sw_hits
          FROM s""",
        "ts_fingerprint": """
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 CAST(list_sum(list_transform(range(1, len(string_split(text, ' ')) + 1),
                   fi -> fi * (ascii(substr(string_split(text, ' ')[fi], 1, 1)) * 257
                               + len(string_split(text, ' ')[fi])))) % 1000000007 AS BIGINT) AS fingerprint
          FROM documents""",
        "dd_kmv_distinct": """
          WITH toks AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1), ss -> array_to_string(string_split(text, ' ')[ss + 1 : ss + 3], ' ')))) AS token
                        FROM documents),
          tt AS (SELECT token FROM toks WHERE token != ''),
          h AS (SELECT list_sum(list_transform(range(0, 12), hd ->
                   (strpos('0123456789abcdef', substr(md5(token), hd + 1, 1)) - 1)
                   * (16::BIGINT ** (11 - hd))::BIGINT)) AS h
                FROM tt),
          sk AS (SELECT MAX(h) AS kth, COUNT(*) AS n_in_sketch
                 FROM (SELECT h FROM h ORDER BY h LIMIT 64)),
          ex AS (SELECT COUNT(*) AS exact_distinct FROM tt)
          SELECT CAST(64 AS INT) AS k,
                 ROUND(CASE WHEN sk.n_in_sketch < 64
                            THEN sk.n_in_sketch::DOUBLE
                            ELSE 1.7732923532771328e+16 / sk.kth END, 2) AS kmv_estimate,
                 ex.exact_distinct
          FROM sk, ex""",
        "dd_kmv_jaccard": """
          WITH sa AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1), ss -> array_to_string(string_split(text, ' ')[ss + 1 : ss + 3], ' ')))) AS token
                      FROM documents WHERE doc_id % 97 <> 0),
          sb AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1), ss -> array_to_string(string_split(text, ' ')[ss + 1 : ss + 3], ' ')))) AS token
                 FROM documents WHERE doc_id % 97 = 0),
          ha AS (SELECT list_sum(list_transform(range(0, 12), hd ->
                   (strpos('0123456789abcdef', substr(md5(token), hd + 1, 1)) - 1)
                   * (16::BIGINT ** (11 - hd))::BIGINT)) AS h, 1 AS in_a, 0 AS in_b FROM sa WHERE token != ''),
          hb AS (SELECT list_sum(list_transform(range(0, 12), hd ->
                   (strpos('0123456789abcdef', substr(md5(token), hd + 1, 1)) - 1)
                   * (16::BIGINT ** (11 - hd))::BIGINT)) AS h, 0 AS in_a, 1 AS in_b FROM sb WHERE token != ''),
          u AS (SELECT h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
                FROM (SELECT * FROM ha UNION ALL SELECT * FROM hb) GROUP BY h),
          sk AS (SELECT COUNT(*) AS n_sk, SUM(in_a * in_b) AS n_both_sk
                 FROM (SELECT * FROM u ORDER BY h LIMIT 256)),
          ex AS (SELECT COUNT(*) AS n_union, SUM(in_a * in_b) AS n_both FROM u)
          SELECT CAST(256 AS INT) AS k,
                 ((2 * sk.n_both_sk * 1000000 + sk.n_sk) // (2 * sk.n_sk))::DOUBLE / 1000000 AS kmv_jaccard,
                 ((2 * ex.n_both * 1000000 + ex.n_union) // (2 * ex.n_union))::DOUBLE / 1000000 AS exact_jaccard
          FROM sk, ex""",
        "dd_exact_groups": """
          SELECT md5(text) AS text_hash, COUNT(*) AS n_docs,
                 MIN(CAST(doc_id AS VARCHAR)) AS min_doc_id
          FROM documents GROUP BY md5(text)""",
        "dd_minhash_pairs": _minhash_pairs_sql(128, 32, 0.9, 1, 64),
        "dd_bucket_stats": "WITH " + _minhash_cte_sql(32, 16, 3, 64) + """
          SELECT width, CAST(COUNT(*) AS BIGINT) AS n_buckets FROM (
            SELECT band_key, CAST(COUNT(*) AS BIGINT) AS width
            FROM bands GROUP BY band_key)
          GROUP BY width""",
        "dd_simhash": """
          WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                            list_distinct(string_split(text, ' ')) AS tset FROM documents)
          SELECT doc_id,
            list_sum(list_transform(range(0, 32), sb ->
              CASE WHEN list_sum(list_transform(tset,
                     st -> CASE WHEN substr(md5(st), sb + 1, 1) IN ('8','9','a','b','c','d','e','f')
                                THEN 1 ELSE -1 END)) > 0
                   THEN 1::BIGINT << sb ELSE 0 END))::BIGINT AS simhash
          FROM t""",
        "dd_ngram_jaccard": _minhash_pairs_sql(32, 16, 0.5, 3, 64),
        "dd_duplicate_clusters": _duplicate_clusters_sql(32, 16, 0.5, 3, 64),
        "sim_ivf_topk": _ivf_topk_sql(3, 16, 4, "0, 1, 2, 3, 4"),
        "sim_cosine_topk": """
          WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
          c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
          scored AS (SELECT query_id, neighbor_id,
                       list_sum(list_transform(range(1, 65), zi -> qe[zi]::DOUBLE * ce[zi]::DOUBLE))
                       / (sqrt(list_sum(list_transform(qe, zx -> zx::DOUBLE * zx::DOUBLE)))
                          * sqrt(list_sum(list_transform(ce, zy -> zy::DOUBLE * zy::DOUBLE)))) AS cos
                     FROM q CROSS JOIN c WHERE query_id != neighbor_id),
          ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id ASC) AS rank FROM scored)
          SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, ROUND(cos, 6) AS cos
          FROM ranked WHERE rank <= 3""",
        "sim_lsh_buckets": "WITH "
        + _lsh_buckets_sql("embeddings", 8, 2)
        + " SELECT vec_id, table_id, bucket FROM buckets",
        "sim_lsh_pairs": _lsh_pairs_sql(0.8, 8, 2),
        "sim_embedding_near_dups": _lsh_pairs_sql(0.95, 8, 2),
        "sim_semdedup": _semdedup_sql(16, 0.95),
        "mm_media_features": PREFIX_SPANS
        + """ SELECT doc_id, media_ref, kind,
                 CAST(len(text) AS INT) AS n_bytes,
                 CAST(list_sum(list_transform(range(1, len(text) + 1),
                   mi -> ascii(substr(text, mi, 1)))) % 997 AS INT) AS feature
          FROM raw_spans WHERE kind != 'text'""",
        "mm_frame_sample": PREFIX_SPANS
        + """ , media AS (SELECT doc_id, media_ref, kind, text AS caption
                          FROM raw_spans WHERE kind != 'text'),
          frames AS (
            SELECT doc_id, media_ref, kind, CAST(fi AS INT) AS frame_idx,
                   substr(caption, fi * 4 + 1, 8) AS fr
            FROM media,
                 LATERAL unnest(range(0, (len(caption) + 3) // 4)) _f(fi))
          SELECT doc_id, media_ref, kind, frame_idx,
                 CAST(list_sum(list_transform(range(1, len(fr) + 1),
                        mi -> ascii(substr(fr, mi, 1)))) % 997 AS INT) AS frame_feature
          FROM frames""",
        "ev_windowed_counts": """
          SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
                 COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
          FROM events GROUP BY 1, 2""",
        "ev_sessionize": """
          WITH o AS (SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                 OR date_diff('microsecond',
                                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts)
                                    > 30 * 60 * 1000000
                            THEN 1 ELSE 0 END AS ns
                     FROM events)
          SELECT CAST(user_id AS BIGINT) AS user_id,
                 CAST(SUM(ns) AS BIGINT) AS n_sessions,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM o GROUP BY user_id""",
        # the stateful-streaming operator's RESULT is the batch
        # sessionization, so the same SQL twin value-checks it
        "ev_sessionize_stateful": """
          WITH o AS (SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                 OR date_diff('microsecond',
                                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts)
                                    > 30 * 60 * 1000000
                            THEN 1 ELSE 0 END AS ns
                     FROM events)
          SELECT CAST(user_id AS BIGINT) AS user_id,
                 CAST(SUM(ns) AS BIGINT) AS n_sessions,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM o GROUP BY user_id""",
        "ev_range_join": """
          WITH l AS (SELECT ts, CAST(value AS DOUBLE) AS value
                     FROM events WHERE event_type = 'signup'),
          r AS (SELECT ts AS r_ts, CAST(value AS DOUBLE) AS r_value
                FROM events WHERE event_type = 'error')
          SELECT l.ts, l.value, r.r_ts, r.r_value
          FROM l JOIN r ON ABS(epoch_us(l.ts) - epoch_us(r.r_ts)) <= 150000000""",
        "ev_asof_join": """
          WITH l AS (SELECT user_id, ts, CAST(value AS DOUBLE) AS value
                     FROM events WHERE event_type = 'click'),
          r AS (SELECT user_id, ts, MAX(CAST(value AS DOUBLE)) AS rvalue
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
          SELECT l.user_id, l.ts, l.value,
                 r.ts AS r_ts, r.rvalue AS r_value
          FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""",
        "ev_json_prop_sums": """
          SELECT event_type, COUNT(*) AS n,
                 CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
          FROM events GROUP BY event_type""",
        # g1_label_model_marginals / g1_triples_labelmodel come from
        # _g1_oracle_entries(): the deterministic fit's μ̂ is
        # materialized as a VALUES CTE so even the label-model queries
        # are value-hash-checked (falls back to rows-only if the
        # fixture path is unavailable).
        **_g1_oracle_entries(),
    }
    # a round-4 variant that must emit EXACTLY its base operator's
    # output shares the base oracle — the alternate physical plan is the
    # thing under test, the semantics are pinned to the original
    d["ev_asof_join_bucketed"] = d["ev_asof_join"]
    _kmv_hash = (
        "list_sum(list_transform(range(0, 12), hd ->"
        " (strpos('0123456789abcdef', substr(md5(token), hd + 1, 1)) - 1)"
        " * (16::BIGINT ** (11 - hd))::BIGINT))"
    )
    d["dd_kmv_merge"] = f"""
      WITH toks AS (SELECT DISTINCT CAST(doc_id % 8 AS INT) AS shard,
                      unnest(list_distinct(list_transform(range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1), ss -> array_to_string(string_split(text, ' ')[ss + 1 : ss + 3], ' ')))) AS token
                    FROM documents),
      tt AS (SELECT shard, token FROM toks WHERE token != ''),
      h AS (SELECT shard, {_kmv_hash} AS h FROM tt),
      shard_sk AS (SELECT shard, h FROM (
          SELECT shard, h, row_number() OVER (PARTITION BY shard ORDER BY h) AS rn FROM h)
        WHERE rn <= 64),
      merged AS (SELECT MAX(h) AS kth, COUNT(*) AS n FROM (
          SELECT DISTINCT h FROM shard_sk ORDER BY h LIMIT 64)),
      gsk AS (SELECT MAX(h) AS kth, COUNT(*) AS n FROM (
          SELECT DISTINCT h FROM h ORDER BY h LIMIT 64))
      SELECT CAST(64 AS INT) AS k, CAST(8 AS INT) AS n_shards,
             ROUND(CASE WHEN merged.n < 64 THEN merged.n::DOUBLE
                        ELSE 1.7732923532771328e+16 / merged.kth END, 2) AS merged_estimate,
             ROUND(CASE WHEN gsk.n < 64 THEN gsk.n::DOUBLE
                        ELSE 1.7732923532771328e+16 / gsk.kth END, 2) AS global_estimate
      FROM merged, gsk"""
    # C4 page cleaning over the planted multi-line fixture (twin of
    # fixtures.docs_with_planted_lines + textstats.c4_line_filters)
    d["ts_c4_clean"] = """
      WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      pg AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
        concat_ws(chr(10),
          COALESCE(array_to_string(t[1:6], ' '), '') || ' this is planted sentence one.',
          'too short.' || CASE WHEN doc_id % 97 = 0 THEN ' lorem ipsum' ELSE '' END,
          'please enable javascript and cookie settings.',
          COALESCE(array_to_string(t[7:12], ' '), '') || ' this is planted sentence two!',
          'function f() { return 1; }',
          CASE WHEN doc_id % 11 = 0
               THEN 'this line has no terminal punctuation at all'
               ELSE COALESCE(array_to_string(t[13:18], ' '), '') || ' this is planted sentence three?' END
        ) AS text FROM tk),
      c AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_lines,
              list_filter(string_split(text, chr(10)), ln ->
                len(string_split(trim(ln), ' ')) >= 5
                AND regexp_matches(trim(ln), '[.!?"]$')
                AND NOT (contains(lower(ln), 'javascript')
                         OR contains(lower(ln), 'cookie'))
                AND NOT contains(ln, '{')) AS kept,
              text
            FROM pg)
      SELECT doc_id, CAST(n_lines AS INT) AS n_lines,
             CAST(len(kept) AS INT) AS n_kept,
             array_to_string(kept, chr(10)) AS clean_text
      FROM c
      WHERE NOT contains(lower(text), 'lorem ipsum') AND len(kept) >= 3"""
    # cross-document exact-substring span dedup (twin of
    # fixtures.docs_with_planted_spans + dedup.span_dedup_flags,
    # k=12 tokens, stride=6)
    d["dd_span_dedup"] = """
      WITH base AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN 'the quick brown fox jumps over the lazy dog while the curious cat watches from the old wooden fence near the quiet river bank today ' || text
                    ELSE text END AS text
        FROM documents),
      tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
      pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 11, 6)) AS i
              FROM tk WHERE len(t) >= 12),
      occ AS (SELECT doc_id, md5(array_to_string(t[i:i+11], ' ')) AS fp FROM pos),
      dup AS (SELECT fp FROM occ GROUP BY fp HAVING COUNT(*) > 1),
      per_doc AS (SELECT doc_id, COUNT(*) AS n_spans FROM occ GROUP BY doc_id),
      dd AS (SELECT o.doc_id, COUNT(*) AS n_dup_spans
             FROM occ o JOIN dup USING (fp) GROUP BY o.doc_id)
      SELECT p.doc_id, p.n_spans,
             COALESCE(d.n_dup_spans, 0) AS n_dup_spans
      FROM per_doc p LEFT JOIN dd d USING (doc_id)"""
    # analytic twin of the REAL encode→decode image path: the fixture
    # colors/dims/format are pure functions of md5(doc_id) hex pairs,
    # and a solid-color image's decoded stats are exactly those inputs
    # (multimodal.synthesize_images + decode_images)
    d["mm_decode_images"] = """
      WITH top AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id
                   FROM (SELECT doc_id FROM documents
                         ORDER BY doc_id LIMIT 200)),
      h AS (SELECT doc_id, md5(doc_id) AS hx FROM top),
      v AS (SELECT doc_id,
              (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                + strpos('0123456789abcdef', substr(hx, 2, 1)) - 1 AS r,
              (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
                + strpos('0123456789abcdef', substr(hx, 4, 1)) - 1 AS g,
              (strpos('0123456789abcdef', substr(hx, 5, 1)) - 1) * 16
                + strpos('0123456789abcdef', substr(hx, 6, 1)) - 1 AS b,
              (strpos('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16
                + strpos('0123456789abcdef', substr(hx, 8, 1)) - 1 AS wp,
              (strpos('0123456789abcdef', substr(hx, 9, 1)) - 1) * 16
                + strpos('0123456789abcdef', substr(hx, 10, 1)) - 1 AS hp
            FROM h)
      SELECT doc_id,
             'media://img/' || doc_id AS media_ref,
             CASE WHEN b % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS format,
             CAST(2 + wp % 5 AS INT) AS width,
             CAST(2 + hp % 4 AS INT) AS height,
             CAST(r * 1000 AS INT) AS mean_r,
             CAST(g * 1000 AS INT) AS mean_g,
             CAST(b * 1000 AS INT) AS mean_b
      FROM v"""
    # deterministic weighted mixture sampling (twin of
    # textstats.mixture_sample; the md5-ppm coin and the per-source
    # weight CASE reproduce the Spark literal map exactly)
    d["ts_mixture_sample"] = """
      WITH u AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
          CAST(list_sum(list_transform(range(0, 12), hd ->
            (strpos('0123456789abcdef',
                    substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), hd + 1, 1)) - 1)
            * (16::BIGINT ** (11 - hd))::BIGINT)) % 1000000 AS INT) AS u_ppm
        FROM documents),
      w AS (SELECT doc_id, source AS bucket, u_ppm,
          CASE WHEN source IN ('src18', 'src19') THEN 0
               ELSE 1000000 - CAST(substr(source, 4) AS INT) * 50000
          END AS w_ppm
        FROM u)
      SELECT doc_id, bucket, u_ppm, w_ppm FROM w WHERE u_ppm < w_ppm"""
    # integer-quantized unigram surprisal (twin of
    # textstats.unigram_surprisal; bits = length(bin(N div c)) - 1 is
    # pure integer/string arithmetic, bit-exact on both engines)
    d["ts_surprisal"] = """
      WITH toks AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
              unnest(list_filter(string_split(lower(text), ' '), t -> t != '')) AS token
            FROM documents),
      cnt AS (SELECT token, COUNT(*)::BIGINT AS c FROM toks GROUP BY token),
      tot AS (SELECT SUM(c)::BIGINT AS n FROM cnt),
      voc AS (SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT 65536),
      j AS (SELECT t.doc_id,
              length(bin((SELECT n FROM tot) // COALESCE(v.c, 1))) - 1 AS bits
            FROM toks t LEFT JOIN voc v USING (token)),
      a AS (SELECT doc_id, COUNT(*)::BIGINT AS nt, SUM(bits)::BIGINT AS sb
            FROM j GROUP BY doc_id)
      SELECT doc_id, CAST(nt AS INT) AS n_tokens,
             CAST((2 * sb * 1000000 + nt) // (2 * nt) AS DOUBLE) / 1000000 AS mean_bits
      FROM a"""
    # Gopher/MassiveText quality rules over the planted-defect fixture
    # (twin of fixtures.docs_with_planted_quality +
    # textstats.gopher_rules; every threshold is integer arithmetic so
    # the comparison is bit-exact — no float ratio on either engine)
    d["ts_gopher_rules"] = """
      WITH b AS (SELECT CAST(doc_id AS BIGINT) AS did, text FROM documents),
      f AS (SELECT CAST(did AS VARCHAR) AS doc_id,
        text
          || CASE WHEN did % 7 = 0 THEN ' the cat and the dog have to be there' ELSE '' END
          || CASE WHEN did % 5 = 0 THEN ' ### ### ... extra' ELSE '' END
          || CASE WHEN did % 11 = 0 THEN repeat(chr(10) || '- bullet point line', 9) ELSE '' END
          || CASE WHEN did % 13 = 0 THEN chr(10) || 'this trails off...' || chr(10) || 'and this one too...' ELSE '' END
          || CASE WHEN did % 17 = 0 THEN ' ' || repeat('z', 4000) ELSE '' END
        AS text FROM b),
      g AS (SELECT doc_id,
          string_split(text, ' ') AS w,
          string_split(text, chr(10)) AS ln,
          CAST((length(text) - length(replace(text, '#', '')))
             + (length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS sym
        FROM f),
      m AS (SELECT doc_id,
          len(w) AS n_words,
          CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS c,
          sym,
          len(list_filter(ln, l -> regexp_matches(trim(l), '^[-*•]'))) AS bul,
          len(list_filter(ln, l -> regexp_matches(trim(l), '\\.\\.\\.$'))) AS ell,
          len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
          len(list_intersect(list_transform(w, x -> lower(x)),
              ['and', 'be', 'have', 'of', 'that', 'the', 'to', 'with'])) AS swd,
          len(ln) AS nl
        FROM g)
      SELECT doc_id, CAST(n_words AS INT) AS n_words,
        CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS r_word_count,
        CAST(3 * n_words <= c AND c <= 10 * n_words AS INT) AS r_mean_word_len,
        CAST(10 * sym < n_words AS INT) AS r_symbol_ratio,
        CAST(10 * bul < 9 * nl AS INT) AS r_bullet_lines,
        CAST(10 * ell < 3 * nl AS INT) AS r_ellipsis_lines,
        CAST(5 * alpha > 4 * n_words AS INT) AS r_alpha_words,
        CAST(swd >= 2 AS INT) AS r_stopwords,
        CAST((n_words >= 50 AND n_words <= 100000)
         AND (3 * n_words <= c AND c <= 10 * n_words)
         AND (10 * sym < n_words)
         AND (10 * bul < 9 * nl)
         AND (10 * ell < 3 * nl)
         AND (5 * alpha > 4 * n_words)
         AND (swd >= 2) AS INT) AS keep
      FROM m"""
    # greedy shard-local sequence packing (twin of pack_sequences)
    d["ts_pack_sequences"] = """
      WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                        CAST(doc_id % 16 AS INT) AS shard,
                        len(string_split(text, ' ')) AS n_tokens
                 FROM documents),
      c AS (SELECT doc_id, shard, n_tokens,
              COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
            FROM t)
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, shard,
             CAST(n_tokens AS INT) AS n_tokens,
             CAST(shard * 1099511627776 + s // 512 AS BIGINT) AS seq_id,
             CAST(s % 512 AS INT) AS offset_in_seq
      FROM c"""
    # intra-document line dedup (twin of fixtures.docs_with_repeated_lines
    # + dedup.dedup_lines — keep each line's FIRST occurrence; DuckDB
    # lambda index i is 1-based where Spark's is 0-based)
    d["dd_line_dedup"] = """
      WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      pg AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
        concat_ws(chr(10),
          COALESCE(array_to_string(t[1:6], ' '), '') || ' planted line one.',
          'this exact line repeats inside the page.',
          COALESCE(array_to_string(t[7:12], ' '), '') || ' planted line two.',
          'this exact line repeats inside the page.',
          CASE WHEN doc_id % 5 = 0
               THEN 'this exact line repeats inside the page.'
               ELSE COALESCE(array_to_string(t[13:18], ' '), '') || ' planted line three.' END
        ) AS text FROM tk),
      l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM pg)
      SELECT doc_id,
             array_to_string(list_filter(ls, (x, i) -> list_position(ls, x) = i), chr(10)) AS text_deduped,
             CAST(len(ls) AS INT) AS n_lines,
             CAST(len(ls) - len(list_filter(ls, (x, i) -> list_position(ls, x) = i)) AS INT) AS n_dropped
      FROM l"""
    d["dd_cluster_reps"] = _cluster_reps_sql(32, 16, 0.5, 3, 64)
    return d
