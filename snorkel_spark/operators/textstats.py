"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

No reference counterpart (the reference is a labeling framework); these
are the corpus-hygiene operators a 100 TB ingest needs.  All pure
built-in expressions — single projection over the scan, no shuffle, no
Python — and each has an exact DuckDB SQL twin (see __spark_entry__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword profiles for the n-gram/stopword-voting
# heuristic (word-salad corpus ⇒ the vote is dominated by 'the'/'a';
# the operator shape is what matters at scale)
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and"],
    "es": ["el", "la", "de", "y"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "la", "de", "et"],
    "zh": ["de", "le", "he", "shi"],
}

# BPE-ish tokenizer regex: letter runs, digit runs, single punctuation
BPE_RGX = "[a-z]+|[0-9]+|[^a-z0-9 ]"

FP_PRIME = 1000000007


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, n_chars_nospace)."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(lower(text), '{BPE_RGX}', 0)")).alias("n_bpe_tokens"),
        F.length(F.regexp_replace("text", " ", "")).alias("n_chars_nospace"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length / distinct-ratio / stopword-ratio / mean-token-length
    composite quality score.

    Every output is a RATIONAL of small integers (token/char counts),
    so 6-dp rounding is done in exact integer arithmetic —
    ``⌊(2a·10⁶ + b) / 2b⌋`` is round-half-up of a/b at 6 dp — instead
    of ``round(double)``: engines disagree at half-ulp boundaries
    (Spark rounds the double's shortest decimal repr, DuckDB rounds
    x·10⁶ in float), which produced a genuine 1-in-5000-rows oracle
    flake on the composite score.  quality = 0.4·min(n/64,1) +
    0.3·(d/n) + 0.2·min(4s/n,1) + 0.1·min(c/8n,1) over the common
    denominator 3200n."""
    sw = ", ".join(f"'{w}'" for w in sorted({w for ws in LANG_STOPWORDS.values() for w in ws}))

    def r6(num: str, den: str) -> str:
        return f"cast((2 * ({num}) * 1000000 + ({den})) div (2 * ({den})) as double) / 1000000"

    return (
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.expr("cast(size(toks) as bigint)").alias("_n"),
            F.expr("cast(size(array_distinct(toks)) as bigint)").alias("_d"),
            F.expr(f"cast(size(filter(toks, qt -> qt in ({sw}))) as bigint)").alias("_s"),
            F.expr("cast(aggregate(toks, 0, (acc, qw) -> acc + length(qw)) as bigint)").alias("_c"),
        )
        .select(
            "doc_id",
            F.col("_n").cast("int").alias("n_tokens"),
            F.expr(r6("_d", "_n")).alias("distinct_ratio"),
            F.expr(r6("_s", "_n")).alias("stopword_ratio"),
            F.expr(r6("_c", "_n")).alias("mean_token_len"),
            F.expr(
                r6(
                    "20 * _n * least(_n, 64) + 960 * _d"
                    " + 640 * least(4 * _s, _n) + 40 * least(_c, 8 * _n)",
                    "3200 * _n",
                )
            ).alias("quality"),
        )
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-voting language ID: argmax over per-language stopword
    hit counts; ties broken by language code (deterministic)."""
    toks = F.split("text", " ")
    scores = []
    for lang, words in sorted(LANG_STOPWORDS.items()):
        lst = ", ".join(f"'{w}'" for w in words)
        scores.append(
            F.struct(
                F.size(F.expr(f"filter(split(text, ' '), lt -> lt in ({lst}))")).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    # max_by over (hits, lang): ties → lexicographically LAST lang; make
    # deterministic-ascending by negating nothing and ordering desc on
    # struct: greatest() picks max (hits, lang)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.greatest(*scores).getField("lang").alias("pred_lang"),
        F.greatest(*scores).getField("hits").alias("sw_hits"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Deterministic positional rolling fingerprint:
    fp = Σ_i (i+1)·(ascii(tok[i][0])·257 + len(tok[i]))  mod 1e9+7.
    A content fingerprint for shard-level dedup bookkeeping; exact SQL
    twin (no engine-specific hash functions)."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (
            F.expr(
                "aggregate(zip_with(split(text, ' '), sequence(1, size(split(text, ' '))),"
                " (ft, fi) -> fi * (ascii(substring(ft, 1, 1)) * 257 + length(ft))),"
                " 0L, (acc, fx) -> acc + fx)"
            )
            % FP_PRIME
        ).alias("fingerprint"),
    )


def top_terms(docs: DataFrame, k: int = 20) -> DataFrame:
    """Top-``k`` vocabulary terms by DOCUMENT frequency (ties → term
    ascending): distinct tokens per doc explode → one hash-groupBy on
    the term (uniform key, partial agg does the heavy lifting) → a
    global top-k via ``orderBy().limit(k)``, which Spark plans as
    TakeOrderedAndProject: each task keeps a k-row heap and only k rows
    per partition reach the driver-side merge — no single-partition
    exchange of the |vocab|-row aggregate (a web-scale vocab is
    billions of rows; the previous global-rank window leaned on
    WindowGroupLimit to stay safe).  The rank column is re-derived by a
    window over the k-row result, which is trivially bounded."""
    from pyspark.sql.window import Window

    df_counts = (
        docs.select(F.explode(F.array_distinct(F.split("text", " "))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("doc_freq"))
    )
    topk = df_counts.orderBy(F.col("doc_freq").desc(), F.col("term").asc()).limit(k)
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("term").asc())
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"), "term", "doc_freq"
    )


# Conservative cross-engine PII patterns: character classes only — no
# lookaround, no \b — so Java regex (Spark) and RE2 (DuckDB) agree.
PII_PATTERNS = [
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "[EMAIL]"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}", "[PHONE]"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "[SSN]"),
]


def redact_pii(docs: DataFrame) -> DataFrame:
    """PII scrubbing for training corpora: emails, phone-shaped and
    SSN-shaped numbers are replaced by typed placeholder tokens, with
    per-doc match counts for audit.  One projection — regex replace is
    a built-in expression, no shuffle, no Python.  SSN runs BEFORE
    phone (###-##-#### would otherwise partially match the phone
    pattern's prefix); counts are measured on the ORIGINAL text so the
    audit is order-independent."""
    counts = [
        F.size(F.expr(f"regexp_extract_all(text, '{rgx}', 0)")).alias(f"n_{name}")
        for name, rgx, _ in PII_PATTERNS
    ]
    redacted = F.col("text")
    for name, rgx, token in sorted(PII_PATTERNS, key=lambda p: p[0] != "ssn"):
        redacted = F.regexp_replace(redacted, rgx, token)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        *counts,
        redacted.alias("redacted_text"),
    )


def decontaminate(
    docs: DataFrame, eval_docs: DataFrame, shingle_n: int = 3, min_hits: int = 1
) -> DataFrame:
    """Training-set decontamination: flag corpus docs sharing ≥
    ``min_hits`` distinct ``shingle_n``-gram shingles with ANY doc of
    the (small) eval/blocklist set — the standard n-gram-overlap
    contamination check before training on web-scale corpora.

    Scale shape: the eval side's distinct shingles are a **broadcast**
    build side (eval sets are thousands of docs; the corpus is the
    100 TB side), so the corpus streams through explode → broadcast
    hash semi-ish join → per-doc count — its only shuffle is the final
    groupBy on doc_id.  Returns (doc_id, n_hits), n_hits = number of
    DISTINCT contaminated shingles in the doc."""
    from snorkel_spark.operators.dedup import _shingle_set_expr

    ev = (
        eval_docs.select(F.explode(F.expr(_shingle_set_expr(shingle_n))).alias("shingle"))
        .distinct()
    )
    corpus = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.expr(_shingle_set_expr(shingle_n))).alias("shingle"),
    )
    return (
        corpus.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


def assign_splits(
    docs: DataFrame, train: int = 80, val: int = 10
) -> DataFrame:
    """Deterministic train/val/test split assignment: bucket =
    (first 4 hex digits of md5(doc_id)) mod 100 — a content-stable
    uniform hash both engines compute identically, so re-runs, resumes
    and the SQL oracle all agree on every row.  Buckets [0, train) →
    'train', [train, train+val) → 'val', rest → 'test'.  One
    projection, no shuffle; at 100 TB the same expression works as a
    write-time partition column."""
    b = F.expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as bigint) % 100"
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        b.cast("int").alias("bucket"),
        F.when(b < train, "train")
        .when(b < train + val, "val")
        .otherwise("test")
        .alias("split"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher/RefinedWeb-style repetition signals: the token-coverage
    fraction of the single most frequent 2-gram and 3-gram per doc
    (boilerplate and template text light these up).  Per-doc work is
    O(distinct·total) over the n-gram lists — quadratic in DOC length
    only, embarrassingly parallel over docs, no shuffle.  Fractions are
    6-dp rounded in exact integer arithmetic (same rationale as
    ``quality_scores``)."""

    def r6(num: str, den: str) -> str:
        return f"cast((2 * ({num}) * 1000000 + ({den})) div (2 * ({den})) as double) / 1000000"

    def max_cnt(n: int) -> str:
        # max n-gram frequency = longest run of equal elements in the
        # SORTED gram list — O(t log t) per doc.  The previous form
        # (count each distinct gram by filtering the gram list, with the
        # gram-building transform inlined into the per-gram closure) was
        # O(distinct · total · n) interpreted string building per doc —
        # guide §1.2 "per-task work": same exact counts, ~doc-length×
        # cheaper.
        grams = (
            f"transform(sequence(0, size(_toks) - {n}),"
            f" gi -> array_join(slice(_toks, gi + 1, {n}), ' '))"
        )
        run = (
            f"aggregate(array_sort({grams}),"
            f" named_struct('best', 0L, 'cur', 0L, 'prev', cast(null as string)),"
            f" (acc, g) -> named_struct("
            f"   'best', greatest(acc.best, if(acc.prev is not null and g = acc.prev, acc.cur + 1, 1L)),"
            f"   'cur', if(acc.prev is not null and g = acc.prev, acc.cur + 1, 1L),"
            f"   'prev', g),"
            f" acc -> acc.best)"
        )
        return f"if(size(_toks) < {n}, 0L, {run})"

    return (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.split("text", " ").alias("_toks"),
        )
        .select(
            "doc_id",
            F.expr("size(_toks)").alias("n_tokens"),
            F.expr(max_cnt(2)).alias("top2_cnt"),
            F.expr(max_cnt(3)).alias("top3_cnt"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "top2_cnt",
            F.expr(r6("top2_cnt * 2", "n_tokens")).alias("top2_frac"),
            "top3_cnt",
            F.expr(r6("top3_cnt * 3", "n_tokens")).alias("top3_frac"),
        )
    )


# C4-style cleaning policy (Raffel et al., "Exploring the Limits of
# Transfer Learning...", JMLR 2020 §2.2 — public rule set).  Word lists
# kept tiny and explicit so the SQL twin matches verbatim.
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_KEPT_LINES = 3
C4_POLICY_WORDS = ["javascript", "cookie"]


def c4_line_filters(
    docs: DataFrame,
    min_words: int = C4_MIN_WORDS_PER_LINE,
    min_lines: int = C4_MIN_KEPT_LINES,
) -> DataFrame:
    """C4's deterministic page-cleaning rules as one projection +
    filter: keep a LINE iff it ends in terminal punctuation, has ≥
    ``min_words`` words, mentions no policy word, and contains no
    '{' (code); keep a DOC iff it contains no 'lorem ipsum' and
    retains ≥ ``min_lines`` lines.  Returns (doc_id, n_lines, n_kept,
    clean_text) for surviving docs — clean_text is the kept lines
    re-joined.

    Scale shape: pure built-in expressions (split/filter/array_join)
    over the scan — no shuffle, no Python, trivially parallel; exactly
    the shape C4's original 156-node beam job had, minus the beam.
    """
    policy = " OR ".join(
        f"contains(lower(ln), '{w}')" for w in C4_POLICY_WORDS
    )
    kept = F.expr(
        f"""
        filter(split(text, '\n'), ln ->
          size(split(trim(ln), ' ')) >= {min_words}
          AND regexp_like(trim(ln), '[.!?"]$')
          AND NOT ({policy})
          AND NOT contains(ln, '{{'))
        """
    )
    return (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.size(F.split("text", "\n")).alias("n_lines"),
            kept.alias("_kept"),
            F.col("text"),
        )
        .filter(~F.expr("contains(lower(text), 'lorem ipsum')"))
        # the page rule drops rows through a generator, not a Filter:
        # Catalyst pushes a Filter on _kept below the projection with
        # the line rules inlined, evaluating them twice per page; a
        # Generate is a pushdown barrier
        .select(
            "doc_id", "n_lines",
            F.explode(F.filter(F.array("_kept"), lambda k: F.size(k) >= min_lines)).alias("_kept"),
        )
        .select(
            "doc_id",
            "n_lines",
            F.size("_kept").alias("n_kept"),
            F.array_join("_kept", "\n").alias("clean_text"),
        )
    )


GOPHER_STOPWORDS = ("and", "be", "have", "of", "that", "the", "to", "with")


def gopher_rules(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher/MassiveText document quality rules (Rae et al. 2021,
    arXiv:2112.11446 §A1.1) as one projection — per doc, each rule's
    verdict plus the conjunction:

    * word count in [min_words, max_words]
    * mean word length in [3, 10] characters
    * symbol-to-word ratio ('#' and '...') < 0.1
    * < 90% of lines start with a bullet ('-' / '*' / '•')
    * < 30% of lines end with an ellipsis
    * > 80% of words contain ≥1 alphabetic character
    * ≥ 2 distinct Gopher stop words appear as tokens

    Every threshold is evaluated in INTEGER arithmetic (10·symbols < n,
    5·alpha > 4·n, …) so the oracle twin is bit-exact — no float ratio
    ever materializes.  Pure built-in expressions over the scan: no
    shuffle, no Python, same 100 TB shape as ``c4_line_filters``.
    (⚠ no reference counterpart — public-paper rule set; the reference
    pipeline's analogue is its doc-preprocessor filter stage.)"""
    sw = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.split("text", " ").alias("w"),
            F.split("text", "\n").alias("ln"),
            # plain (non-regex) replace in BOTH engines: DuckDB's
            # regexp_replace is non-global by default, a silent
            # count-of-one trap
            (
                (F.length("text") - F.length(F.expr("replace(text, '#', '')")))
                + (F.length("text") - F.length(F.expr("replace(text, '...', '')"))) / F.lit(3)
            ).cast("bigint").alias("_sym"),
        )
        .select(
            "doc_id",
            F.size("w").alias("n_words"),
            F.expr("cast(aggregate(w, 0L, (acc, gw) -> acc + length(gw)) as bigint)").alias("_c"),
            "_sym",
            F.expr("size(filter(ln, gl -> trim(gl) rlike '^[-*•]'))").alias("_bul"),
            F.expr("size(filter(ln, gl -> trim(gl) rlike '\\\\.\\\\.\\\\.$'))").alias("_ell"),
            F.expr("size(filter(w, gw -> gw rlike '[a-zA-Z]'))").alias("_alpha"),
            F.expr(f"size(array_intersect(transform(w, gw -> lower(gw)), array({sw})))").alias("_swd"),
            F.size("ln").alias("_nl"),
        )
        .select(
            "doc_id",
            "n_words",
            ((F.col("n_words") >= min_words) & (F.col("n_words") <= max_words))
            .cast("int")
            .alias("r_word_count"),
            ((F.lit(3) * F.col("n_words") <= F.col("_c")) & (F.col("_c") <= F.lit(10) * F.col("n_words")))
            .cast("int")
            .alias("r_mean_word_len"),
            (F.lit(10) * F.col("_sym") < F.col("n_words")).cast("int").alias("r_symbol_ratio"),
            (F.lit(10) * F.col("_bul") < F.lit(9) * F.col("_nl")).cast("int").alias("r_bullet_lines"),
            (F.lit(10) * F.col("_ell") < F.lit(3) * F.col("_nl")).cast("int").alias("r_ellipsis_lines"),
            (F.lit(5) * F.col("_alpha") > F.lit(4) * F.col("n_words")).cast("int").alias("r_alpha_words"),
            (F.col("_swd") >= 2).cast("int").alias("r_stopwords"),
        )
        .withColumn(
            "keep",
            (
                F.col("r_word_count")
                * F.col("r_mean_word_len")
                * F.col("r_symbol_ratio")
                * F.col("r_bullet_lines")
                * F.col("r_ellipsis_lines")
                * F.col("r_alpha_words")
                * F.col("r_stopwords")
            ).cast("int"),
        )
    )


def auto_n_shards(
    total_tokens: int,
    target_tokens_per_shard: int = 100_000_000,
    min_shards: int = 16,
    max_shards: int = 1 << 20,
) -> int:
    """Growth rule for ``pack_sequences`` sharding (mirrors
    ``similarity.auto_n_planes``): n_shards ≈ ⌈corpus tokens /
    ``target_tokens_per_shard``⌉ so each shard-local window sort stays
    ≈ ``target_tokens_per_shard`` tokens (~hundreds of MB of int rows)
    no matter how large the corpus grows — a 100 TB corpus (~2.5·10¹³
    tokens) lands at ~250k shards of ~100M tokens, not 16 shards of
    6 TB.  Clamped to [min_shards, max_shards]; the cap keeps seq_id's
    ``shard·2⁴⁰`` packing collision-free (2²⁰ shards × 2⁴⁰ local
    sequences fits in a signed 64-bit long)."""
    import math

    if total_tokens <= 0:
        return min_shards
    n = math.ceil(total_tokens / max(target_tokens_per_shard, 1))
    return max(min_shards, min(max_shards, n))


def pack_sequences(
    docs: DataFrame,
    max_tokens: int = 512,
    n_shards: int | None = 16,
    target_tokens_per_shard: int = 100_000_000,
) -> DataFrame:
    """Deterministic greedy document packing — the pretraining batch
    builder: docs are laid end-to-end in doc_id order and cut into
    fixed ``max_tokens`` sequences; each doc's sequence is the one its
    STARTING offset falls in (a straddling doc belongs to the sequence
    it starts in; the trainer's loader handles the boundary trim).
    Returns (doc_id, shard, n_tokens, seq_id, offset_in_seq).

    Scale shape: a global-order cumulative sum would be ONE window over
    the whole corpus — a single-task sort at 100 TB.  Instead docs
    shard deterministically (content-stable ``doc_id % n_shards``) and
    pack WITHIN shards: the window partitions by shard, so each task
    sorts one shard; sequence ids are globally unique via
    ``shard·2⁴⁰ + local_seq``.  More shards = more parallelism and
    only boundary-fragment waste per shard (≤ max_tokens tokens each).

    ``n_shards=None`` derives the shard count from the corpus via
    ``auto_n_shards`` (one cheap count-style aggregation action), so
    the per-shard sort stays ≈ ``target_tokens_per_shard`` tokens at
    any corpus size instead of a fixed default biting at 100 TB.
    """
    from pyspark.sql.window import Window

    if n_shards is None:
        total = docs.select(
            F.sum(F.size(F.split("text", " "))).alias("t")
        ).first()["t"]
        n_shards = auto_n_shards(
            int(total or 0), target_tokens_per_shard=target_tokens_per_shard
        )

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            (F.col("doc_id") % n_shards).cast("int").alias("shard"),
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
        .withColumn("_start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "shard",
            "n_tokens",
            (
                F.col("shard").cast("long") * F.lit(1 << 40)
                + F.expr(f"_start div {max_tokens}")
            ).alias("seq_id"),
            (F.col("_start") % max_tokens).cast("int").alias("offset_in_seq"),
        )
    )


def mixture_sample(
    docs: DataFrame,
    weights_ppm: dict[str, int],
    bucket_col: str = "source",
    default_ppm: int = 0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic weighted corpus mixing: per ``bucket_col`` value
    (data source / domain / quality tier), keep each doc independently
    with probability ``weights_ppm[bucket] / 10⁶`` — the re-weighting
    step every pretraining data recipe ends with (e.g. the Pile's and
    LLaMA's per-source epoch weights, sampled here without replacement
    at rate ≤ 1).

    The coin is content-stable, not random: ``u = int(md5(doc_id‖salt)
    [:12 hex]) mod 10⁶`` — so re-runs, resumed jobs, and the SQL oracle
    all keep exactly the same rows (the ``assign_splits`` trick), and a
    different ``salt`` draws an independent sample.  Bucket weights
    ride a tiny literal map (``coalesce(map[bucket], default)``) — no
    join, no shuffle; one projection + filter over the scan, filter
    pushdown-eligible.  At 100 TB the same expression doubles as a
    write-time partition predicate.  (⚠ no reference counterpart —
    standard pretraining-mixture construction.)"""
    pairs: list = []
    for k, v in sorted(weights_ppm.items()):
        pairs += [F.lit(k), F.lit(int(v))]
    wmap = F.create_map(*pairs) if pairs else F.create_map()
    u = F.expr(
        f"cast(conv(substring(md5(concat(cast(doc_id as string), ':{salt}')),"
        f" 1, 12), 16, 10) as bigint) % 1000000"
    )
    return (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col(bucket_col).alias("bucket"),
            u.cast("int").alias("u_ppm"),
            F.coalesce(
                wmap[F.col(bucket_col)], F.lit(int(default_ppm))
            ).alias("w_ppm"),
        )
        .filter(F.col("u_ppm") < F.col("w_ppm"))
        .select("doc_id", "bucket", "u_ppm", "w_ppm")
    )


def unigram_surprisal(
    docs: DataFrame, vocab_k: int = 65536
) -> DataFrame:
    """CCNet-style LM quality scoring made engine-exact: per doc, the
    mean unigram surprisal of its tokens in integer-quantized bits —
    ``bits(tok) = ⌊log₂⌊N / count(tok)⌋⌋`` where N is the corpus token
    count, computed as ``length(bin(N div c)) − 1`` (pure integer/string
    ops, so Spark and any SQL engine agree bit-for-bit; no float ``ln``
    whose last ulp differs across libms).  Low mean-bits ≈ common-word
    text (likely fluent), high ≈ rare-token salad — the same decision
    axis as CCNet's KenLM perplexity filter, quantized.

    Scale shape: token counts are one map-side-combined groupBy; the
    vocabulary is cut to the top ``vocab_k`` by (count, token) — a
    TakeOrderedAndProject, never a global sort — and joined back
    BROADCAST (vocab_k rows, never the corpus); OOV tokens score as
    count = 1 (max surprisal).  Per-doc mean is the second bounded
    shuffle, 6-dp rounded in exact integer arithmetic (``quality_scores``
    rationale).  (⚠ no reference counterpart — CCNet, Wenzek et al.
    2020, is the public spec.)"""
    toks = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.split(F.lower("text"), " ")).alias("token"),
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("c"))
    n_total = counts.select(F.sum("c")).first()[0] or 0
    vocab = counts.orderBy(F.desc("c"), F.asc("token")).limit(vocab_k)
    bits = f"length(bin({n_total} div coalesce(c, 1L))) - 1"
    r6 = (
        "cast((2 * _sb * 1000000 + _nt) div (2 * _nt) as double) / 1000000"
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .select("doc_id", F.expr(bits).cast("long").alias("_bits"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("_nt"),
            F.sum("_bits").alias("_sb"),
        )
        .select(
            "doc_id",
            F.col("_nt").cast("int").alias("n_tokens"),
            F.expr(r6).alias("mean_bits"),
        )
    )
