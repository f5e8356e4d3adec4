"""The driver-side fixture gazetteer: its rows equal the DuckDB
oracle's, and the in-row linker equals the broadcast-join linker."""

import pyspark.sql.functions as F

from snorkel_spark.sources import fixtures as FX

# case, lemma and no-match variants beyond the corpus's own n-grams
VARIANTS = ["Anna3 Lee3", "ANNA3", "Kim5", "lees3", "annas", "lee3s", "anna3s lee3s", "BOB7"]


def _oracle_rows(sql: str) -> set:
    import duckdb

    con = duckdb.connect()
    try:
        return set(con.execute(sql).fetchall())
    finally:
        con.close()


def test_fixture_rows_equal_oracle_ctes():
    from snorkel_spark.oracle import KNOWN_PAIRS, MENTIONS

    names = _oracle_rows(f"WITH {MENTIONS.strip()} SELECT alias, entity_id FROM alias_names")
    assert {(a, e) for a, e, _c, _p in FX.ALIASES if " " in a} == names
    assert set(FX.PERSON_FULL_NAMES) == {a for a, _ in names}
    pairs = _oracle_rows(f"WITH {KNOWN_PAIRS.strip()} SELECT s_name, o_name FROM known_pairs")
    assert FX.known_spouse_names() == pairs and len(pairs) == 69


def test_link_text_map_equals_link_mentions(spark, mentions):
    from snorkel_spark.operators.linker import TIERS, link_mentions, link_text_map

    texts = (
        mentions.select("text")
        .unionByName(spark.createDataFrame([(v,) for v in VARIANTS], "text string"))
        .distinct()
        .cache()
    )
    ref = link_mentions(texts.withColumn("mention_id", F.col("text")), FX.alias_dict(spark))
    want = {r["text"]: (r["entity_id"], r["canonical_name"], r["link_score"])
            for r in ref.collect()}
    got_df = texts.select("text", link_text_map("text", FX.ALIASES).alias("l"))
    got = {r["text"]: (r["l"]["entity_id"], r["l"]["canonical_name"], r["l"]["link_score"])
           for r in got_df.collect() if r["l"] is not None}
    assert got == want
    n_texts = texts.count()
    assert 0 < len(want) < n_texts  # some texts link, some stay unlinked
    # every tier is exercised: exact, casefolded and lemma-only hits
    assert want["anna3 lee3"][2] == TIERS[0] * 0.9
    assert want["Anna3 Lee3"][2] == TIERS[1] * 0.9
    assert want["lee3s"][2] == TIERS[2] * 0.6
    assert "lees3" not in want and "annas" not in want
