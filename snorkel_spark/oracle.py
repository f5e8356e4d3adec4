"""DuckDB oracle SQL mirrors of the pipeline stages.

The driver runs each ``__spark_entry__.queries()`` entry AND the
matching ``oracle_sql()`` string side-by-side (DuckDB over the same
parquet, tables pre-registered as views) and compares row count +
schema + order-insensitive value hash.  Because the interleaved
synthesis is pure integer arithmetic on doc_id (sources/interleaved.py),
every stage through majority-vote triples has an exact ANSI-SQL twin.

The CTE chain below mirrors, step for step:
  raw_spans   ← sources.interleaved.synthesize_raw_documents + explode
  sentences   ← operators.parser.parse_sentences
  mentions    ← operators.ngrams.ngram_mentions (n_max=2)
  persons     ← matchers.person_matcher (full-name gazetteer join)
  candidates  ← operators.candidates.extract_candidates
  label_matrix← functions.labeling fixture LFs
  mv          ← labelmodel.model.majority_vote
  triples_mv  ← operators.canonicalize.canonical_triples (MV path)

The Spark mentions carry their sentence's ``tokens`` the way the
``mentions`` CTE's rows do, so both engines read ``tokens_between``
from the mention row, with no join back to the sentences.

Keep in lock-step with the Spark implementations; the pipeline tests
assert equality at every stage.

The lowercasing oracles hold for ASCII corpora only: DuckDB's ``lower``
uses simple case mapping, Spark and Python full mapping —
``lower('ΣΟΦΙΑΣ')`` is ``σοφιασ`` in DuckDB and ``σοφιας`` in Spark
(final sigma), and ``lower('İstanbul')`` is ``istanbul`` against
``i̇stanbul``.  The linker twin ``LINK_TEXTS`` below and the lemma and
matcher twins in ``__spark_entry__.oracle_sql()`` lowercase, so on
non-ASCII text they would disagree with the Spark side; the test
corpora are ASCII.  Non-ASCII lowercasing is checked against the
Python twins instead (``tests/test_linker.py``).
"""

from __future__ import annotations

N_ENT = 137

# ---------------------------------------------------------------- base
RAW_SPANS = f"""
oc_d AS (
  SELECT doc_id AS did,
         string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS L,
         CAST(2 + doc_id % 4 AS INT) AS n,
         (doc_id % 5 < 3) AS plant,
         CAST(doc_id % 3 AS INT) AS pat,
         CAST(doc_id % {N_ENT} AS INT) AS ei
  FROM documents
),
oc_d2 AS (
  SELECT *,
    CAST(CASE WHEN (7*ei+3) % {N_ENT} = ei THEN (ei+1) % {N_ENT}
              ELSE (7*ei+3) % {N_ENT} END AS INT) AS ej,
    CASE WHEN did % 3 = 0 THEN CAST(1 + did % 2 AS INT) ELSE 0 END AS m_cnt,
    CAST(did % (2 + did % 4) AS INT) AS p
  FROM oc_d
),
oc_d3 AS (
  SELECT *,
    'anna' || ei || ' lee' || ei ||
      CASE pat WHEN 0 THEN ' married ' WHEN 1 THEN ' wife of '
               ELSE ' brother of ' END ||
      'bob' || ej || ' kim' || ej AS planted,
    n + m_cnt + CASE WHEN plant THEN 1 ELSE 0 END AS S
  FROM oc_d2
),
raw_spans AS (
  SELECT CAST(did AS VARCHAR) AS doc_id, did,
    CAST(k AS INT) AS "offset",
    CASE WHEN k <= p THEN 'text'
         WHEN k <= p + m_cnt THEN
           CASE WHEN (did + (k - p - 1)) % 2 = 0 THEN 'image' ELSE 'table' END
         ELSE 'text' END AS kind,
    CASE WHEN k <= p THEN array_to_string(toks[(k*L)//n + 1 : ((k+1)*L)//n], ' ')
         WHEN k <= p + m_cnt THEN 'caption ' || did || ' ' || (k - p - 1)
         WHEN k < n + m_cnt THEN
           array_to_string(toks[((k-m_cnt)*L)//n + 1 : ((k-m_cnt+1)*L)//n], ' ')
         ELSE planted END AS text,
    CASE WHEN k > p AND k <= p + m_cnt THEN 'media://' || did || '/' || (k - p - 1)
         ELSE '' END AS media_ref
  FROM oc_d3, LATERAL unnest(range(0, S)) AS _t(k)
)
"""

# tokens mirror parser.parse_sentences: split on whitespace runs,
# drop empty tokens (identical to split-on-space for clean text).
SENTENCES = """
sentences AS (
  SELECT doc_id, did, doc_id || ':' || "offset" AS sentence_id,
         "offset" AS position, text,
         list_filter(string_split_regex(text, '\\s+'), tk -> tk != '') AS tokens,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), tk -> tk != '')) AS INT) AS n_tokens
  FROM raw_spans WHERE kind = 'text' AND text != ''
)
"""

# mentions: every 1..2-gram; persons: bigram full-name gazetteer matches
MENTIONS = f"""
alias_names AS (
  SELECT 'anna' || i || ' lee' || i AS alias, 'E' || i AS entity_id
  FROM (SELECT unnest(range(0, {N_ENT})) AS i)
  UNION ALL
  SELECT 'bob' || i || ' kim' || i, 'F' || i
  FROM (SELECT unnest(range(0, {N_ENT})) AS i)
),
mentions AS (
  SELECT s.doc_id, s.did, s.sentence_id, s.position, s.n_tokens, s.tokens,
         CAST(ws AS INT) AS word_start,
         CAST(ws + wn - 1 AS INT) AS word_end,
         CAST(wn AS INT) AS n,
         array_to_string(s.tokens[ws + 1 : ws + wn], ' ') AS text
  FROM sentences s,
       LATERAL unnest(range(0, s.n_tokens)) AS a(ws),
       LATERAL (SELECT unnest([1, 2]) AS wn) b
  WHERE ws + wn <= s.n_tokens
),
persons AS (
  SELECT m.* FROM mentions m JOIN alias_names a ON m.text = a.alias
)
"""

CANDIDATES = """
candidates AS (
  SELECT md5('spouse_of' || '|' || s.sentence_id || '|' || s.word_start || '|' || s.word_end
             || '|' || o.word_start || '|' || o.word_end) AS candidate_id,
         s.doc_id, s.did, s.sentence_id, s.position, s.n_tokens,
         s.text AS subj_text, s.word_start AS subj_ws, s.word_end AS subj_we,
         o.text AS obj_text, o.word_start AS obj_ws, o.word_end AS obj_we,
         s.tokens[s.word_end + 2 : o.word_start] AS tokens_between,
         array_to_string(s.tokens[s.word_end + 2 : o.word_start], ' ') AS text_between
  FROM persons s JOIN persons o
    ON s.sentence_id = o.sentence_id
   AND s.word_start < o.word_start
   AND NOT (s.word_start <= o.word_start AND o.word_end <= s.word_end)
   AND NOT (o.word_start <= s.word_start AND s.word_end <= o.word_end)
   AND NOT (s.word_start = o.word_start AND s.word_end = o.word_end)
)
"""

KNOWN_PAIRS = f"""
known_pairs AS (
  SELECT 'anna' || i || ' lee' || i AS s_name,
         'bob' || (CASE WHEN (7*i+3) % {N_ENT} = i THEN (i+1) % {N_ENT}
                        ELSE (7*i+3) % {N_ENT} END)
           || ' kim' || (CASE WHEN (7*i+3) % {N_ENT} = i THEN (i+1) % {N_ENT}
                              ELSE (7*i+3) % {N_ENT} END) AS o_name
  FROM (SELECT unnest(range(0, {N_ENT})) AS i) WHERE i % 2 = 0
)
"""

_FAM = "'brother', 'sister', 'father', 'mother', 'son', 'cousin'"
_SPO = "'married', 'wife', 'husband', 'spouse', 'wedded'"

LABEL_MATRIX = f"""
cand_feats AS (
  SELECT c.*,
    EXISTS (SELECT 1 FROM known_pairs kp
            WHERE kp.s_name = c.subj_text AND kp.o_name = c.obj_text) AS ds_hit
  FROM candidates c
),
lf_values AS (
  SELECT candidate_id,
    CASE WHEN list_contains(tokens_between, 'married') THEN 1 ELSE 0 END AS lf0,
    CASE WHEN list_contains(tokens_between, 'wife') THEN 1 ELSE 0 END AS lf1,
    CASE WHEN len(list_intersect(tokens_between, [{_FAM}])) > 0 THEN -1 ELSE 0 END AS lf2,
    CASE WHEN ds_hit THEN 1 ELSE 0 END AS lf3,
    CASE WHEN subj_text = obj_text THEN -1 ELSE 0 END AS lf4,
    CASE WHEN len(list_intersect(tokens_between, [{_SPO}])) > 0 THEN 1 ELSE 0 END AS lf5,
    CASE WHEN did % 7 = 0 THEN 1 WHEN did % 7 = 1 THEN -1 ELSE 0 END AS lf6
  FROM cand_feats
),
label_matrix AS (
  SELECT candidate_id, CAST(lf_id AS INT) AS lf_id, CAST(label AS INT) AS label FROM (
    SELECT candidate_id,
           unnest([0, 1, 2, 3, 4, 5, 6]) AS lf_id,
           unnest([lf0, lf1, lf2, lf3, lf4, lf5, lf6]) AS label
    FROM lf_values
  ) WHERE label != 0
)
"""

MAJORITY_VOTE = """
mv AS (
  SELECT candidate_id,
    CAST(CASE WHEN SUM(label) > 0 THEN 1.0
              WHEN SUM(label) < 0 THEN 0.0 ELSE 0.5 END AS DOUBLE) AS prob_true
  FROM label_matrix GROUP BY candidate_id
)
"""

GOLD = """
gold AS (
  SELECT md5('spouse_of' || '|' || did || ':' || (CAST(2 + did % 4 AS INT)
               + CASE WHEN did % 3 = 0 THEN CAST(1 + did % 2 AS INT) ELSE 0 END)
             || '|0|1|' || (CASE WHEN did % 3 = 0 THEN '3|4' ELSE '4|5' END))
           AS candidate_id,
         CAST(did AS VARCHAR) AS doc_id,
         CASE WHEN did % 3 IN (0, 1) THEN 1 ELSE -1 END AS label,
         'E' || CAST(did % 137 AS INT) AS subj_entity,
         'F' || (CASE WHEN (7*(did % 137)+3) % 137 = did % 137
                      THEN (did % 137 + 1) % 137
                      ELSE (7*(did % 137)+3) % 137 END) AS obj_entity
  FROM (SELECT doc_id AS did FROM documents WHERE doc_id % 5 < 3)
)
"""


# fixtures.ALIASES as (alias, entity_id, prior): per subj entity E{i}
# the full name (.9), the surname (.6) and the first name (.7), which
# E{i+1} shares (.3); per obj entity F{i} the full name and the surname
ALIAS_DICT = f"""
alias_rng AS (SELECT unnest(range(0, {N_ENT})) AS i),
alias_dict AS (
  SELECT 'anna' || i || ' lee' || i AS alias, 'E' || i AS entity_id, CAST(0.9 AS DOUBLE) AS prior
  FROM alias_rng
  UNION ALL SELECT 'lee' || i, 'E' || i, CAST(0.6 AS DOUBLE) FROM alias_rng
  UNION ALL SELECT 'anna' || i, 'E' || i, CAST(0.7 AS DOUBLE) FROM alias_rng
  UNION ALL SELECT 'anna' || i, 'E' || ((i + 1) % {N_ENT}), CAST(0.3 AS DOUBLE) FROM alias_rng
  UNION ALL SELECT 'bob' || i || ' kim' || i, 'F' || i, CAST(0.9 AS DOUBLE) FROM alias_rng
  UNION ALL SELECT 'kim' || i, 'F' || i, CAST(0.6 AS DOUBLE) FROM alias_rng
)
"""

# the parser's rule lemma of each space-separated word of {s}
_LEMMA = (
    "array_to_string(list_transform(string_split({s}, ' '), w -> CASE WHEN len(w) > 3"
    " AND w LIKE '%s' THEN substr(w, 1, len(w) - 1) ELSE lower(w) END), ' ')"
)

# linker.link_text_map over a ``texts(text)`` relation the caller
# defines: links(text, entity_id, link_score), the best-scored alias
# hit per linked text (score DESC, entity_id DESC); unlinked texts
# have no row.  Brings its own alias_dict.
LINK_TEXTS = ALIAS_DICT.rstrip() + f""",
link_scored AS (
  SELECT t.text, a.entity_id,
    (CASE WHEN t.text = a.alias THEN 1.0
          WHEN lower(t.text) = lower(a.alias) THEN 0.8
          ELSE 0.6 END)::DOUBLE * a.prior AS score
  FROM texts t JOIN alias_dict a
    ON lower(t.text) = lower(a.alias)
    OR {_LEMMA.format(s="t.text")}
     = {_LEMMA.format(s="a.alias")}
),
links AS (
  SELECT text, entity_id, score AS link_score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY score DESC, entity_id DESC) AS rn
    FROM link_scored)
  WHERE rn = 1
)
"""


def with_base(*extra: str) -> str:
    """Compose the CTE chain (always starts at raw_spans)."""
    parts = [RAW_SPANS.strip()]
    chain = {
        "sentences": SENTENCES,
        "mentions": MENTIONS,
        "candidates": CANDIDATES,
        "known_pairs": KNOWN_PAIRS,
        "label_matrix": LABEL_MATRIX,
        "mv": MAJORITY_VOTE,
        "gold": GOLD,
    }
    for name in extra:
        parts.append(chain[name].strip())
    return "WITH " + ",\n".join(p.lstrip() for p in parts)


# convenience prefixes used by __spark_entry__.oracle_sql()
PREFIX_SPANS = with_base()
PREFIX_SENTENCES = with_base("sentences")
PREFIX_MENTIONS = with_base("sentences", "mentions")
PREFIX_CANDIDATES = with_base("sentences", "mentions", "candidates")
PREFIX_LABELS = with_base("sentences", "mentions", "candidates", "known_pairs", "label_matrix")
PREFIX_MV = with_base("sentences", "mentions", "candidates", "known_pairs", "label_matrix", "mv")
PREFIX_FULL = with_base(
    "sentences", "mentions", "candidates", "known_pairs", "label_matrix", "mv", "gold"
)
