"""The interleaved text+media document table (BASELINE.json input_hint; S7).

Schema: ``doc_id: string, spans: array<struct<kind:string, text:string,
media_ref:string, offset:int>>``.

Because the driver's test corpora are the read-only parquet tables at
``/root/testdata/sf*/``, the interleaved table is *synthesized
deterministically* from ``documents.parquet`` — and, crucially, the
synthesis is **pure integer arithmetic on doc_id** (no RNG, no hash
functions): every rule below is expressible both as Spark built-in
expressions and as ANSI/DuckDB SQL, so the whole downstream pipeline is
oracle-checkable by the driver.

Synthesis spec (shared contract with ``oracle.py``'s SQL mirror):

- ``did = doc_id`` (bigint), ``toks = split(text, ' ')``, ``L = len(toks)``
- ``n = 2 + did % 4`` text chunks; chunk *i* covers tokens
  ``[i*L//n, (i+1)*L//n)`` (0-based), joined by single spaces.
- planted relation sentence iff ``did % 5 < 3``; pattern ``pat = did % 3``:
  pat 0 → ``anna{N} lee{N} married bob{M} kim{M}``  (positive)
  pat 1 → ``anna{N} lee{N} wife of bob{M} kim{M}``  (positive)
  pat 2 → ``anna{N} lee{N} brother of bob{M} kim{M}`` (negative)
  with ``N = did % 137`` and ``M = (7*N+3) % 137`` (if ``M == N`` then
  ``M = (N+1) % 137`` — happens only at N=68). The planted sentence is
  appended as its own final text span.
- media spans iff ``did % 3 == 0``: ``m = 1 + did % 2`` spans, span *j*
  has kind ``image`` if ``(did+j) % 2 == 0`` else ``table``, caption
  ``caption {did} {j}``, media_ref ``media://{did}/{j}``; the media
  group is inserted after text chunk ``p = did % n``.
- ``offset`` = 0-based index of the span in the final sequence.

Reference counterpart: the corpus ingest layer
(⚠ snorkel/parser/doc_preprocessors.py, reconstructed — SURVEY.md §2.1)
reads flat text docs; the interleaved shape is new per north_rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_ENTITIES = 137  # prime; planted subj ids E{0..136}, obj ids F{0..136}

# One SQL expression building the spans array from (did, text): a single
# flat transform over the final span index k (0..S-1), where
# S = n_text + m_cnt + plant.  Index mapping:
#   k <= p                : text chunk c = k
#   p < k <= p + m_cnt    : media span j = k - p - 1
#   p + m_cnt < k < n+m   : text chunk c = k - m_cnt
#   k = n + m_cnt         : planted sentence (only when plant)
# Every function used (split/slice/sequence/transform/named_struct/
# array_join) is a JVM built-in — whole-stage codegen, no Python here.
_CHUNK = (
    "array_join(slice(_toks, cast(({c})*_L div _n as int) + 1,"
    " cast((({c})+1)*_L div _n as int) - cast(({c})*_L div _n as int)), ' ')"
)

_SPANS_EXPR = f"""
    transform(
      sequence(0, _n + _m_cnt + if(_plant, 1, 0) - 1),
      k -> named_struct(
        'kind',
          case when k <= _p then 'text'
               when k <= _p + _m_cnt then if((_did + (k - _p - 1)) % 2 = 0, 'image', 'table')
               when k < _n + _m_cnt then 'text'
               else 'text' end,
        'text',
          case when k <= _p then {_CHUNK.format(c='k')}
               when k <= _p + _m_cnt then concat('caption ', _did, ' ', k - _p - 1)
               when k < _n + _m_cnt then {_CHUNK.format(c='k - _m_cnt')}
               else _planted end,
        'media_ref',
          case when k > _p and k <= _p + _m_cnt then concat('media://', _did, '/', k - _p - 1)
               else '' end,
        'offset', cast(k as int)
      )
    )
"""


def synthesize_raw_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → raw_documents(doc_id string, spans array<struct>).

    Pure built-in expressions end-to-end: no shuffle, no Python
    (asserted on the sentences stage's plan in ``tests/test_plans.py``).
    """
    # the columns read have a fixed schema, so the read runs no
    # footer-inference job
    docs = spark.read.schema("doc_id bigint, text string").parquet(f"{sf_dir}/documents.parquet")
    # batched withColumns: each withColumn() call is a full analysis
    # pass over the growing plan on the driver — grouping the
    # independent columns into three dependency levels cuts the
    # plan-build latency without touching the executed plan (Catalyst
    # collapses adjacent Projects either way).
    return (
        docs.select(F.col("doc_id").alias("_did"), "text")
        .withColumns(
            {
                "_toks": F.split("text", " "),
                "_n": (F.lit(2) + F.col("_did") % 4).cast("int"),
                "_plant": F.col("_did") % 5 < 3,
                "_pat": (F.col("_did") % 3).cast("int"),
                "_ei": (F.col("_did") % N_ENTITIES).cast("int"),
                "_m_cnt": F.expr("if(_did % 3 = 0, cast(1 + _did % 2 as int), 0)"),
            }
        )
        .withColumns(
            {
                "_L": F.size("_toks"),
                "_ej": F.expr(
                    f"cast(if((7*_ei+3) % {N_ENTITIES} = _ei, (_ei+1) % {N_ENTITIES}, (7*_ei+3) % {N_ENTITIES}) as int)"
                ),
                "_p": F.expr("cast(_did % _n as int)"),
            }
        )
        .withColumn(
            "_planted",
            F.expr(
                "concat('anna', _ei, ' lee', _ei,"
                " case _pat when 0 then ' married ' when 1 then ' wife of ' else ' brother of ' end,"
                " 'bob', _ej, ' kim', _ej)"
            ),
        )
        .select(
            F.col("_did").cast("string").alias("doc_id"),
            F.expr(_SPANS_EXPR).alias("spans"),
        )
    )


def explode_spans(raw: DataFrame) -> DataFrame:
    """S7 scan: raw_documents → one row per span, order preserved.

    ``posexplode`` guards the per-row invariant: we keep both the array
    index and the embedded ``offset`` so tests can assert they agree.
    """
    return raw.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def reassembled_text(raw: DataFrame) -> DataFrame:
    """Reconstruct the original document text from the spans array.

    Drops media spans and the planted sentence (the last text span when
    planted), then joins the remaining text chunks with spaces.  Used by
    the per-row span-sequence invariant test: the result must equal
    ``documents.text`` for every doc_id.
    """
    return raw.select(
        "doc_id",
        F.expr(
            """
            array_join(
              transform(
                filter(spans, fs -> fs.kind = 'text'
                       and not (cast(doc_id as bigint) % 5 < 3
                                and fs.offset = element_at(spans, -1).offset)),
                ts -> ts.text),
              ' ')
            """
        ).alias("text"),
    )
