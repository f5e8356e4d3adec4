"""The driver-side fixture gazetteer: its rows equal the DuckDB
oracle's, and the in-row linker equals its DuckDB twin; on non-ASCII
text the engine's ``lower`` agrees with the Python twins that key the
matcher and the linker."""

from collections import Counter

import pyspark.sql.functions as F

from snorkel_spark.sources import fixtures as FX

# case, lemma and no-match variants beyond the corpus's own n-grams
VARIANTS = ["Anna3 Lee3", "ANNA3", "Kim5", "lees3", "annas", "lee3s", "anna3s lee3s", "BOB7"]


def _oracle_rows(sql: str, texts=()) -> list:
    """The rows of ``sql`` in DuckDB, with ``texts`` as a ``texts(text)``
    table."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE texts AS SELECT unnest(?::VARCHAR[]) AS text", [list(texts)])
        return con.execute(sql).fetchall()
    finally:
        con.close()


def test_fixture_rows_equal_oracle_ctes():
    from snorkel_spark.oracle import ALIAS_DICT, KNOWN_PAIRS, MENTIONS

    names = set(_oracle_rows(f"WITH {MENTIONS.strip()} SELECT alias, entity_id FROM alias_names"))
    assert {(a, e) for a, e, _c, _p in FX.ALIASES if " " in a} == names
    assert set(FX.PERSON_FULL_NAMES) == {a for a, _ in names}
    aliases = _oracle_rows(f"WITH {ALIAS_DICT.strip()} SELECT alias, entity_id, prior FROM alias_dict")
    assert Counter((a, e, p) for a, e, _c, p in FX.ALIASES) == Counter(aliases)
    assert len(aliases) == 822
    pairs = set(_oracle_rows(f"WITH {KNOWN_PAIRS.strip()} SELECT s_name, o_name FROM known_pairs"))
    assert FX.known_spouse_names() == pairs and len(pairs) == 69


def test_link_text_map_equals_oracle(spark, mentions):
    from snorkel_spark.operators.linker import TIERS, link_text_map
    from snorkel_spark.oracle import LINK_TEXTS

    texts = (
        mentions.select("text")
        .unionByName(spark.createDataFrame([(v,) for v in VARIANTS], "text string"))
        .distinct()
    )
    got_df = texts.select("text", link_text_map("text", FX.ALIASES).alias("l"))
    rows = got_df.collect()
    got = {r["text"]: (r["l"]["entity_id"], r["l"]["link_score"])
           for r in rows if r["l"] is not None}
    want = {t: (e, s) for t, e, s in _oracle_rows(
        f"WITH {LINK_TEXTS.strip()} SELECT text, entity_id, link_score FROM links",
        [r["text"] for r in rows])}
    assert got.keys() == want.keys()
    assert all(got[t][0] == want[t][0] and abs(got[t][1] - want[t][1]) < 1e-12 for t in got)
    # the canonical name is the linked entity's own
    canonical = {e: c for _a, e, c, _p in FX.ALIASES}
    assert all(r["l"]["canonical_name"] == canonical[r["l"]["entity_id"]]
               for r in rows if r["l"] is not None)
    assert 0 < len(want) < len(rows)  # some texts link, some stay unlinked
    # every tier is exercised: exact, casefolded and lemma-only hits
    assert want["anna3 lee3"][1] == TIERS[0] * 0.9
    assert want["Anna3 Lee3"][1] == TIERS[1] * 0.9
    assert want["lee3s"][1] == TIERS[2] * 0.6
    assert "lees3" not in want and "annas" not in want


# lowercase mappings that are not one code point to one: a final sigma,
# a dotted capital I (→ i + U+0307), a capital sharp s, a titlecase
# digraph; plus accented Latin and Cyrillic
NON_ASCII_WORDS = ["Émile", "ÉMILE", "ΣΟΦΙΑΣ", "Σοφιας", "İstanbul", "İSTANBUL", "STRAẞE",
                   "ǅemal", "МОСКВА", "Ŧests"]
NON_ASCII_ALIASES = [("Émile Zola", "e1", "Émile Zola", 0.9), ("Σοφιας", "e2", "Σοφιας", 0.8),
                     ("İstanbul", "e3", "İstanbul", 0.7)]


def test_non_ascii_lower_matches_python_twins(spark):
    from snorkel_spark.operators.linker import TIERS, _lemma_py, link_text_map
    from snorkel_spark.operators.matchers import DictionaryMatch
    from snorkel_spark.operators.parser import rule_lemma

    words = spark.createDataFrame([(w,) for w in NON_ASCII_WORDS], "text string")
    got = {r["text"]: r["l"] for r in words.select("text", rule_lemma(F.col("text")).alias("l"))
           .collect()}
    assert got == {w: _lemma_py(w) for w in NON_ASCII_WORDS}

    # each alias queried in other casings; "σοφιασ" ends in a non-final
    # sigma, which lowercasing "ΣΟΦΙΑΣ" never produces
    queries = ["Émile Zola", "ÉMILE ZOLA", "émile zola", "ΣΟΦΙΑΣ", "İSTANBUL", "σοφιασ"]
    texts = spark.createDataFrame([(q,) for q in queries], "text string")
    matched = DictionaryMatch(d={a for a, *_ in NON_ASCII_ALIASES}).apply(texts)
    assert {r["text"] for r in matched.collect()} == set(queries) - {"σοφιασ"}
    links = {r["text"]: r["l"] and (r["l"]["entity_id"], r["l"]["link_score"]) for r in
             texts.select("text", link_text_map("text", NON_ASCII_ALIASES).alias("l")).collect()}
    assert links == {
        "Émile Zola": ("e1", TIERS[0] * 0.9),
        "ÉMILE ZOLA": ("e1", TIERS[1] * 0.9),
        "émile zola": ("e1", TIERS[1] * 0.9),
        "ΣΟΦΙΑΣ": ("e2", TIERS[1] * 0.8),
        "İSTANBUL": ("e3", TIERS[1] * 0.7),
        "σοφιασ": None,
    }
