"""C3 candidate extraction vs the planted gold (FIXTURES.md §B4)."""

import pyspark.sql.functions as F


def test_candidates_match_gold_exactly(candidates, gold):
    n_gold = gold.count()
    assert n_gold == 300  # 60% of 500 docs plant a relation
    assert candidates.count() == n_gold
    assert candidates.join(gold, "candidate_id", "inner").count() == n_gold


def test_candidate_order_and_no_nesting(candidates):
    assert candidates.filter("subj_ws >= obj_ws").count() == 0
    assert candidates.filter("subj_we >= obj_ws").count() == 0  # planted: disjoint


def test_helper_columns(candidates):
    # pat0 docs: 'married' strictly between; pat1: wife of; pat2: brother of
    btw = candidates.select("doc_id", "text_between", "tokens_between")
    pat0 = btw.filter("cast(doc_id as bigint) % 3 = 0")
    assert pat0.filter("text_between != 'married'").count() == 0
    pat1 = btw.filter("cast(doc_id as bigint) % 3 = 1")
    assert pat1.filter("text_between != 'wife of'").count() == 0
    assert btw.filter(
        "size(tokens_between) != size(split(text_between, ' ')) and text_between != ''"
    ).count() == 0


def test_tagged_text_helper(spark, candidates, sentences):
    from snorkel_spark.functions.lf_helpers import get_tagged_text, with_sentence_tokens

    t = with_sentence_tokens(candidates, sentences).withColumn("tagged", get_tagged_text())
    sample = t.filter("cast(doc_id as bigint) % 3 = 0").select("tagged").first()
    assert sample["tagged"].endswith("{{A}} married {{B}}")


def test_two_relation_union_no_collision(persons):
    """candidate_id includes rel_type: the same span pair extracted for
    two relation types must yield distinct ids, so a union +
    dropDuplicates loses nothing."""
    from snorkel_spark.operators.candidates import extract_candidates

    a = extract_candidates(persons, rel_type="spouse_of")
    b = extract_candidates(persons, rel_type="sibling_of")
    u = a.unionByName(b)
    n = u.count()
    assert n == a.count() + b.count()
    assert u.dropDuplicates(["candidate_id"]).count() == n


def test_kary_extraction_ternary(spark, persons, mentions):
    """Arity-3: (person, relation-word, person) in strict disjoint
    order — exactly one per planted sentence, all slots ordered."""
    from snorkel_spark.operators.candidates import extract_candidates_kary
    from snorkel_spark.operators.matchers import DictionaryMatch

    mid = DictionaryMatch(d={"married", "wife", "brother"}).apply(mentions.filter("n = 1"))
    t = extract_candidates_kary([persons, mid, persons], rel_type="r3")
    rows = t.collect()
    assert len(rows) == 300
    assert all(r["e0_we"] < r["e1_ws"] and r["e1_we"] < r["e2_ws"] for r in rows)
    assert len({r["candidate_id"] for r in rows}) == 300
    # 4-ary degenerates to 0 rows on these sentences (only one relation word)
    q = extract_candidates_kary([persons, mid, mid, persons], rel_type="r4")
    assert q.count() == 0


def test_candidates_equal_oracle(candidates):
    """The chain's candidates equal the DuckDB CANDIDATES CTE row for
    row on every column they share, the helper columns included."""
    import duckdb

    from snorkel_spark.oracle import PREFIX_CANDIDATES
    from tests.conftest import SF

    cols = ["candidate_id", "doc_id", "sentence_id", "position", "n_tokens",
            "subj_text", "subj_ws", "subj_we", "obj_text", "obj_ws", "obj_we", "text_between"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = con.execute(
        PREFIX_CANDIDATES
        + f" SELECT {', '.join(cols)}, array_to_string(tokens_between, '|') FROM candidates"
    ).fetchall()
    con.close()
    got = [tuple(r) for r in
           candidates.select(*cols, F.array_join("tokens_between", "|")).collect()]
    assert len(got) > 0
    assert sorted(got) == sorted(want)


def test_pretagged_candidates(persons, candidates):
    """Persons tagged by name prefix (anna… subj, bob… obj) pair into
    the planted relations, at the spans the chain's candidates hold."""
    from snorkel_spark.operators.candidates import pretagged_candidates

    tagged = persons.withColumn(
        "tag", F.when(F.col("text").startswith("anna"), "subj")
        .when(F.col("text").startswith("bob"), "obj"))
    got = pretagged_candidates(tagged, "subj", "obj", rel_type="spouse_of")
    rows = {(r["sentence_id"], r["e0_ws"], r["e1_ws"]) for r in got.collect()}
    assert got.count() == len(rows) == 300
    want = {(r["sentence_id"], r["subj_ws"], r["obj_ws"]) for r in candidates.collect()}
    assert rows == want
