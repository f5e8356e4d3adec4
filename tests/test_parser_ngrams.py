"""P1/P2 sentence projection and C1 ngram space."""

import pyspark.sql.functions as F
import pytest


def test_sentence_ids_unique(sentences):
    n = sentences.count()
    assert sentences.select("sentence_id").distinct().count() == n


def test_parse_sentences_equals_oracle(raw):
    """parse_sentences equals the DuckDB SENTENCES CTE row for row, and
    its executed plan runs no Python."""
    import duckdb

    from snorkel_spark.oracle import PREFIX_SENTENCES
    from snorkel_spark.operators.parser import parse_sentences
    from tests.conftest import SF, plan_nodes

    cols = ["doc_id", "sentence_id", "position", "text", "n_tokens"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = con.execute(
        PREFIX_SENTENCES
        + f" SELECT {', '.join(cols)}, array_to_string(tokens, '|') FROM sentences"
    ).fetchall()
    con.close()
    df = parse_sentences(raw)
    got = [tuple(r) for r in df.select(*cols, F.array_join("tokens", "|")).collect()]
    assert len(got) > 0
    assert sorted(got) == sorted(want)
    assert "MapInPandasExec" not in [n for n, _ in plan_nodes(df)]


def test_ngram_count_formula(sentences, mentions):
    """#ngrams(sentence) = Σ_{n=1..n_max} max(0, L − n + 1)."""
    expected = sentences.selectExpr(
        "sentence_id",
        "greatest(n_tokens, 0) + greatest(n_tokens - 1, 0) as expected",
    )
    actual = mentions.groupBy("sentence_id").count()
    joined = expected.join(actual, "sentence_id", "left").fillna(0, ["count"])
    assert joined.filter("expected != count").count() == 0


def test_ngram_text_matches_bounds(mentions):
    bad = mentions.filter(
        "size(split(text, ' ')) != word_end - word_start + 1 or word_end >= n_tokens"
    )
    assert bad.count() == 0


def test_word_char_start(spark):
    from snorkel_spark.operators.parser import word_char_start

    df = spark.createDataFrame(
        [(["ab", "c", "def"], 0), (["ab", "c", "def"], 1), (["ab", "c", "def"], 2)],
        "tokens array<string>, idx int",
    )
    got = [r[0] for r in df.select(word_char_start("tokens", "idx")).collect()]
    assert got == [0, 3, 5]


def test_parse_sentences_full_messy_text(spark):
    """Adversarial text: multi-sentence, punctuation, multi/leading/
    trailing spaces, empty runs — no empty tokens, stable ids."""
    from snorkel_spark.operators.parser import parse_sentences_full

    raw = spark.createDataFrame(
        [("d1", [{"kind": "text", "text": "Dr. Who met X.  He left!   Then,  (maybe) slept...", "media_ref": "", "offset": 0}]),
         ("d2", [{"kind": "text", "text": "   spaced   out   ", "media_ref": "", "offset": 0}]),
         ("d3", [{"kind": "text", "text": "!!!", "media_ref": "", "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    s = parse_sentences_full(raw)
    rows = {r["sentence_id"]: r for r in s.collect()}
    # d1 splits into: 'Dr.' | 'Who met X.' | 'He left!' | 'Then,  (maybe) slept...'
    d1 = sorted((r["sentence_id"], r["text"]) for r in rows.values() if r["doc_id"] == "d1")
    assert [t for _, t in d1] == ["Dr.", "Who met X.", "He left!", "Then,  (maybe) slept..."]
    assert rows["d1:0:0"]["tokens"] == ["Dr", "."]
    assert rows["d1:0:3"]["tokens"] == ["Then", ",", "(", "maybe", ")", "slept", ".", ".", "."]
    # multi-space never yields empty tokens; leading/trailing trimmed
    assert rows["d2:0:0"]["text"] == "spaced   out"
    assert rows["d2:0:0"]["tokens"] == ["spaced", "out"]
    # pure-terminator span: one run of '!!!', tokens are the glyphs
    assert rows["d3:0:0"]["tokens"] == ["!", "!", "!"]
    # no empty tokens anywhere
    import pyspark.sql.functions as F
    assert s.filter(F.array_contains("tokens", "")).count() == 0


def test_parse_sentences_robust_whitespace(spark):
    """The default parser collapses whitespace runs (no '' tokens)."""
    from snorkel_spark.operators.parser import parse_sentences

    raw = spark.createDataFrame(
        [("d1", [{"kind": "text", "text": "a  b   c", "media_ref": "", "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    r = parse_sentences(raw).collect()[0]
    assert r["tokens"] == ["a", "b", "c"] and r["n_tokens"] == 3


def test_ngram_split_tokens(spark):
    """split_tokens emits extra sub-spans for tokens containing the
    split chars, at the same word index, with distinct mention_ids."""
    from snorkel_spark.operators.ngrams import ngram_mentions
    from snorkel_spark.operators.parser import parse_sentences

    raw = spark.createDataFrame(
        [("d1", [{"kind": "text", "text": "anti-virus scan a/b", "media_ref": "", "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    m = ngram_mentions(parse_sentences(raw), n_max=1, split_tokens=("-", "/"))
    rows = m.collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == sorted(["anti-virus", "scan", "a/b", "anti", "virus", "a", "b"])
    sub = {r["text"]: (r["word_start"], r["word_end"]) for r in rows}
    assert sub["anti"] == (0, 0) and sub["virus"] == (0, 0)  # same word index as parent
    assert sub["a"] == (2, 2) and sub["b"] == (2, 2)
    assert len({r["mention_id"] for r in rows}) == len(rows)  # ids all distinct


def test_pos_tags_rules(spark):
    """Rule POS tagger: one tag per token, each rule exercised."""
    from snorkel_spark.operators.parser import parse_sentences, with_pos_tags

    text = "Anna married the dogs quickly and 3.14 walking , of"
    raw = spark.createDataFrame(
        [("d1", [{"kind": "text", "text": text, "media_ref": "", "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    r = with_pos_tags(parse_sentences(raw)).collect()[0]
    got = dict(zip(r["tokens"], r["pos_tags"]))
    assert got == {
        "Anna": "NNP", "married": "VBD", "the": "DT", "dogs": "NNS",
        "quickly": "RB", "and": "CC", "3.14": "CD", ",": "PUNCT",
        "walking": "VBG", "of": "IN",
    }
    assert len(r["pos_tags"]) == len(r["tokens"])


def test_ner_tags_gazetteer_and_matcher(spark):
    """Gazetteer NER tags: tokens inside a 2-token name occurrence (or
    an exact 1-token name) get the tag; the RegexMatchEach-based person
    matcher then matches exactly the all-PERSON spans."""
    from snorkel_spark.operators.matchers import person_matcher_ner
    from snorkel_spark.operators.ngrams import ngram_mentions
    from snorkel_spark.operators.parser import parse_sentences, with_ner_tags

    raw = spark.createDataFrame(
        [("d1", [{"kind": "text", "text": "anna1 lee1 married bob2 kim2 near paris",
                  "media_ref": "", "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    tagged = with_ner_tags(parse_sentences(raw), ["anna1 lee1", "bob2 kim2", "paris"])
    r = tagged.collect()[0]
    assert r["ner_tags"] == ["PERSON", "PERSON", "O", "PERSON", "PERSON", "O", "PERSON"]
    m = ngram_mentions(tagged, n_max=2, carry_attribs=("ner_tags",))
    hits = {x["text"] for x in person_matcher_ner().apply(m).collect()}
    # all-PERSON spans only: names, their tokens, and the 1-gram 'paris'
    assert hits == {"anna1 lee1", "bob2 kim2", "anna1", "lee1", "bob2", "kim2", "paris"}
    # 'married' and any span crossing it are excluded
    assert "lee1 married" not in hits and "married" not in hits


def test_ngram_split_tokens_respects_n_values(spark):
    """n_values=[2] (dictionary-length pruning) must NOT resurrect
    1-gram sub-spans via split_tokens — the pruning contract says no
    1-grams exist; and repeated identical sub-parts ('a-a') emit one
    row, not two mention_id-colliding rows."""
    from snorkel_spark.operators.ngrams import ngram_mentions
    from snorkel_spark.operators.parser import parse_sentences

    raw = spark.createDataFrame(
        [("d1", [{"kind": "text", "text": "a-a big-deal scan", "media_ref": "", "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    sents = parse_sentences(raw)
    pruned = ngram_mentions(sents, n_max=2, n_values=[2], split_tokens=("-",)).collect()
    assert all(r["n"] == 2 for r in pruned)  # no 1-gram sub-spans leaked
    full = ngram_mentions(sents, n_max=2, split_tokens=("-",)).collect()
    aa_subs = [r for r in full if r["text"] == "a" and r["n"] == 1
               and r["word_start"] == 0]
    assert len(aa_subs) == 1  # 'a-a' dedupes to one sub-span row
    assert len({r["mention_id"] for r in full}) == len(full)


def test_dictionary_length_pruning_identical_matches(spark, sentences, persons):
    """ngram_mentions(n_values=dict lengths) yields the SAME matcher
    output as full enumeration — the prune is result-invariant."""
    from snorkel_spark.operators.matchers import person_matcher
    from snorkel_spark.operators.ngrams import ngram_mentions
    from snorkel_spark.sources import fixtures as FX

    pm = person_matcher(FX.PERSON_FULL_NAMES)
    lengths = pm.mention_lengths()
    assert lengths == [2]  # full-name gazetteer is bigrams only
    pruned = pm.apply(ngram_mentions(sentences, n_max=2, n_values=lengths))
    full = persons.select("mention_id")
    assert pruned.select("mention_id").exceptAll(full).count() == 0
    assert full.exceptAll(pruned.select("mention_id")).count() == 0


def test_parse_sentences_null_text_span_dropped(spark):
    """The parse drops NULL-text spans (the SQL filter semantics)
    instead of crashing on them."""
    from snorkel_spark.operators.parser import parse_sentences

    raw = spark.createDataFrame(
        [("d1", [
            {"kind": "text", "text": None, "media_ref": "", "offset": 0},
            {"kind": "text", "text": "a b", "media_ref": "", "offset": 1},
        ])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    rows = parse_sentences(raw).collect()
    assert len(rows) == 1 and rows[0]["tokens"] == ["a", "b"]


# ---------------------------------------------------------------- NER
def test_ner_tags_builds_without_a_job(spark, sentences):
    """The gazetteer is driver-side literal maps: building the tagged
    plan runs no Spark job (no probe of the names, no collect)."""
    from snorkel_spark.operators.parser import with_ner_tags
    from snorkel_spark.sources import fixtures as FX

    sentences.count()  # the cached input is materialized beforehand
    sc = spark.sparkContext
    sc.setJobGroup("ner-build", "with_ner_tags plan construction")
    try:
        tagged = with_ner_tags(sentences, FX.PERSON_FULL_NAMES)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("ner-build")) == []
    assert any("PERSON" in r["ner_tags"] for r in tagged.select("ner_tags").collect())


def test_ner_join_rejects_3_token_names(sentences):
    from snorkel_spark.operators.parser import with_ner_tags

    with pytest.raises(ValueError):
        with_ner_tags(sentences, ["a b c"])
