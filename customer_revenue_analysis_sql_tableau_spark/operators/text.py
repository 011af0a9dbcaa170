"""Text-analysis operators over ``documents`` (driver mandate, SURVEY §7.5).

The reference's only text-search surface is a FULLTEXT index on
``film_text`` (``sql/sakila-schema.sql:204``) and app-layer substring
search (``data-mgmt-streamlit.py:56-62``); this family generalizes it to
the text operators a training-data pipeline needs: tokenization, token
and character statistics, quality scoring, language identification,
per-source top terms (the A1 top-k-per-group pattern again), and content
fingerprinting.

All hot-path logic is JVM-side (``split``/``filter``/``aggregate``
higher-order functions, whole-stage codegen) — no Python UDFs. Ratio
columns are single double divisions of exact integers → bit-reproducible
against the DuckDB oracle.

Scale posture: everything is a per-row projection or a single
groupBy(source/token) — embarrassingly parallel, no skew risk beyond
token popularity (bounded by the top-k window partition on source).
"""

from __future__ import annotations

import math
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables, source_fingerprint
from ..functions.money import round2_div, round2_div_sql
from ..session import checkpoint_layout

#: Tokenization: lowercase, trim, split on whitespace runs. Shared by all
#: text/dedup operators; the oracle uses the regexp-equivalent.
# Whitespace is an EXPLICIT class, not ``\s``: Java's ``\s`` includes
# vertical tab (\x0B) while RE2's (DuckDB) does not, so ``\s``-based
# tokenization diverges Spark-vs-oracle on any text containing VT.
WS_CLASS = r" \t\n\f\r\x0B"
TOKENS_EXPR = r"split(trim(lower(text)), '[ \\t\\n\\f\\r\\x0B]+')"
TOKENS_SQL = rf"regexp_split_to_array(trim(lower(text)), '[{WS_CLASS}]+')"

#: Punctuation class counted by the quality score.
PUNCT_CLASS = r"[.,!?;:]"

#: Stopword profiles for the language-ID heuristic (tiny, deterministic;
#: per-language function-word lists + CJK script detection for zh).
STOP_EN = ("the", "a", "of", "and", "to", "is")
STOP_DE = ("der", "die", "das", "und", "ist", "ein")
STOP_ES = ("el", "la", "de", "y", "es", "un")
STOP_FR = ("le", "la", "et", "de", "est", "un")


def _inlist(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


#: DuckDB text of the composite quality score — THE single source for
#: every oracle that gates on quality (corpus, pipeline, streaming
#: drains import it), so a future change to the score can't silently
#: desync a subset of the hash twins. Must stay the same expression
#: tree as ``quality_scored``'s Spark SQL below.
QUALITY_SQL = f"""
    len(list_filter({TOKENS_SQL}, t -> t IN ({_inlist(STOP_EN)})))
        / CAST(len({TOKENS_SQL}) AS DOUBLE) * CAST(0.4 AS DOUBLE)
    + least(len({TOKENS_SQL}) / CAST(200.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
        * CAST(0.4 AS DOUBLE)
    + (CAST(1.0 AS DOUBLE)
       - (length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')))
         / CAST(nullif(length(text), 0) AS DOUBLE)) * CAST(0.2 AS DOUBLE)"""


def _with_tokens(d: DataFrame) -> DataFrame:
    """Materialize the token array ONCE per row. Inlining TOKENS_EXPR
    into several select expressions re-runs the regex split per
    expression (linear waste here; quadratic when inlined into
    higher-order-function lambdas — see dedup._doc_shingles)."""
    return d.withColumn("toks", F.expr(TOKENS_EXPR))


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics (token counting mandate)."""
    d = _with_tokens(load_tables(spark, sf_dir, names=("documents",))["documents"])
    return d.selectExpr(
        "doc_id",
        "CAST(length(text) AS BIGINT) AS n_chars",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        "CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct_tokens",
        "CAST(aggregate(toks, 0, (acc, t) -> acc + length(t)) AS BIGINT)"
        " AS n_token_chars",
        # single double division of exact ints — reproducible
        "aggregate(toks, 0, (acc, t) -> acc + length(t))"
        " / CAST(size(toks) AS DOUBLE) AS avg_token_len",
    )


#: GPT-2-style BPE pre-tokenization pattern, restricted to constructs
#: both Java regex (Spark) and RE2 (DuckDB) support identically: ordered
#: alternation, no lookahead (the original's ``\s+(?!\S)`` is dropped —
#: RE2 has no lookahead; trailing-space runs tokenize as whitespace runs
#: here), and the explicit WS_CLASS instead of ``\s`` (Java includes
#: \x0B in ``\s``, RE2 does not).
BPE_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    rf"| ?\p{{L}}+| ?\p{{N}}+| ?[^{WS_CLASS}\p{{L}}\p{{N}}]+|[{WS_CLASS}]+"
)


def text_token_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish tier: counts pre-tokenizer pieces the way
    a byte-pair-encoding tokenizer's splitter would (contractions,
    letter runs, digit runs, punctuation runs, space-prefixed), next to
    the whitespace count — the two token-budget estimators a training
    pipeline carries. Pure JVM regexp per row, no shuffle."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    return d.select(
        "doc_id",
        F.size(F.expr(TOKENS_EXPR)).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
        (
            F.length("text")
            / F.size(
                F.regexp_extract_all("text", F.lit(BPE_PATTERN), F.lit(0))
            ).cast("double")
        ).alias("chars_per_bpe_token"),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/stopword ratios + composite score."""
    return quality_scored(
        load_tables(spark, sf_dir, names=("documents",))["documents"]
    )


def quality_scored(docs: DataFrame) -> DataFrame:
    """Per-document quality projection over any ``(doc_id, text)`` frame
    — the stateless unit the streaming ingest gate reuses per
    micro-batch (same expression tree as the registered entry, so
    streamed scores are bit-identical to batch scores)."""
    d = _with_tokens(docs)
    stop = _inlist(STOP_EN)
    return d.selectExpr(
        "doc_id",
        "CAST(length(text) AS BIGINT) AS n_chars",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        f"size(filter(toks, t -> t IN ({stop})))"
        " / CAST(size(toks) AS DOUBLE) AS stop_ratio",
        # nullif divisor: zero-length text scores NULL (ANSI Spark would
        # otherwise raise DIVIDE_BY_ZERO; DuckDB's x/0 is NULL already,
        # so the twin expressions agree) — NULL scores then sort last in
        # the curriculum's rank pass (corpus.NULL_BUCKET)
        f"(length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '')))"
        " / CAST(nullif(length(text), 0) AS DOUBLE) AS punct_ratio",
        "(length(text) - length(regexp_replace(text, '[A-Z]', '')))"
        " / CAST(nullif(length(text), 0) AS DOUBLE) AS upper_ratio",
    ).selectExpr(
        "*",
        # fixed expression tree, all-DOUBLE literals (a bare 0.4 parses as
        # DECIMAL in both engines but with different mixed-type rules)
        "stop_ratio * CAST(0.4 AS DOUBLE)"
        " + least(n_tokens / CAST(200.0 AS DOUBLE), CAST(1.0 AS DOUBLE))"
        " * CAST(0.4 AS DOUBLE)"
        " + (CAST(1.0 AS DOUBLE) - punct_ratio) * CAST(0.2 AS DOUBLE)"
        " AS quality_score",
    )


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality scoring (the CCNet-style
    perplexity gate): per document, the average negative log-probability
    of its tokens under an add-one-smoothed unigram model fitted on the
    corpus itself. High ``avg_neg_logprob`` = rare/irregular vocabulary,
    the classic signal for filtering noisy training text.

    Plan shape (no Python UDFs): one token-keyed count pass (map-side
    combined), a scalar (T, V) aggregate folded in as a broadcast 1-row
    frame, then a token→count join back to the positional token stream.
    The per-doc sum of ``log p`` is folded in FIXED token-position
    order (collect_list → array_sort → aggregate) so the DuckDB oracle
    (``list(logp ORDER BY pos)`` + left fold) reproduces the float sum
    bit-for-bit — the BM25 fixed-order recipe; round(9) after.

    100 TB: the count pass shuffles by token with partial aggregation
    (stopword skew collapses map-side); the vocab join is AQE-broadcast
    at small scale and an honest shuffle join when the vocab outgrows
    the threshold; the ordered fold's state is bounded by one document's
    token count, never global.
    """
    d = _with_tokens(load_tables(spark, sf_dir, names=("documents",))["documents"])
    tok = d.select("doc_id", F.posexplode("toks").alias("pos", "token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("T"), F.count(F.lit(1)).alias("V")
    )
    scored = (
        tok.join(counts, "token")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "pos",
            F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("T") + F.col("V")).cast("double")
            ).alias("logp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.array_sort(F.collect_list(F.struct("pos", "logp"))).alias("arr"),
    )
    fold = F.aggregate(
        F.transform("arr", lambda s: s["logp"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(-fold / F.col("n_tokens"), 9).alias("avg_neg_logprob"),
    )


def lang_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language histogram over the declared ``lang`` column."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        round2_div(
            F.sum("n_chars").cast("decimal(18,2)"), F.count(F.lit(1)), scale=2
        ).alias("avg_chars"),
    )


def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-profile voting + CJK detection.

    Deterministic argmax ladder (zh if CJK chars present, else the
    profile with the highest hit count, ties broken in a fixed order).
    The testdata vocabulary is synthetic so accuracy is not the point;
    the operator shape (pure-SQL scoring, no UDF) is.
    """
    d = _with_tokens(load_tables(spark, sf_dir, names=("documents",))["documents"])
    scored = d.selectExpr(
        "doc_id",
        "lang AS declared_lang",
        f"CAST(size(filter(toks, t -> t IN ({_inlist(STOP_EN)}))) AS BIGINT) AS s_en",
        f"CAST(size(filter(toks, t -> t IN ({_inlist(STOP_DE)}))) AS BIGINT) AS s_de",
        f"CAST(size(filter(toks, t -> t IN ({_inlist(STOP_ES)}))) AS BIGINT) AS s_es",
        f"CAST(size(filter(toks, t -> t IN ({_inlist(STOP_FR)}))) AS BIGINT) AS s_fr",
        "CAST(length(regexp_replace(text, '[^\\\\u4e00-\\\\u9fff]', '')) AS BIGINT)"
        " AS n_cjk",
    )
    return scored.selectExpr(
        "doc_id",
        "declared_lang",
        "s_en",
        "s_de",
        "s_es",
        "s_fr",
        "n_cjk",
        "CASE WHEN n_cjk > 0 THEN 'zh'"
        " WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'"
        " WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'"
        " WHEN s_es >= s_fr THEN 'es'"
        " ELSE 'fr' END AS predicted_lang",
    )


def top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per source — the A1 top-k-per-group pattern over an
    exploded token stream (tf per (source, token), window row_number)."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    toks = d.selectExpr("source", f"explode({TOKENS_EXPR}) AS token")
    counts = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("source").orderBy(F.desc("tf"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("source", "token", "tf", "rank")
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document: tf = in-doc count, idf =
    ln(N / df) over distinct-doc frequency. Two aggregations (token
    counts per doc; df per token) joined back — the inverted-index
    shape; idf is a broadcastable token-level dim at any corpus size.
    Ranked by the score itself, token tiebreak for determinism."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    toks = _with_tokens(d).selectExpr("doc_id", "explode(toks) AS token")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()  # scalar; corpus row count is driver-safe
    # JVM Math.log and libm log can differ in the final ulp; round the
    # score to 9 dp in BOTH dialects so values and rank order agree.
    scored = tf.join(F.broadcast(df_), "token").select(
        "doc_id",
        "token",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 9
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "df", "tfidf", "rank")
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 over the normalized token stream plus
    a 64-bit prefix bucket (the document-fingerprint mandate; the
    rolling-hash variant lives in dedup.simhash)."""
    d = _with_tokens(load_tables(spark, sf_dir, names=("documents",))["documents"])
    return d.selectExpr(
        "doc_id",
        "md5(array_join(toks, ' ')) AS fingerprint",
        "substring(md5(array_join(toks, ' ')), 1, 8) AS bucket",
    )


#: Polynomial rolling-hash parameters (Rabin–Karp): base/modulus chosen
#: so every intermediate fits a BIGINT in both engines.
ROLL_B = 31
ROLL_M = 1_000_000_007
#: Prefix window for the chunk-level fingerprint.
ROLL_PREFIX = 64


def _roll_expr(text_expr: str) -> str:
    """Spark SQL polynomial rolling hash over the characters of
    ``text_expr`` — portable: the DuckDB twin folds the same codepoint
    sequence with the same base/modulus."""
    return (
        f"aggregate(transform(split({text_expr}, ''),"
        " c -> CAST(ascii(c) AS BIGINT)),"
        f" 0L, (acc, x) -> (acc * {ROLL_B} + x) % {ROLL_M})"
    )


def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting, rolling-hash tier (the mandate's
    Rabin–Karp form; ``doc_fingerprint`` is the md5 tier and
    ``dedup.simhash`` the locality-sensitive tier): a polynomial hash
    over the full normalized character stream, plus the same hash over
    the first ``ROLL_PREFIX`` chars as a cheap chunk/bucket key —
    incremental-update-friendly (appending a char is one multiply-add),
    which is what makes the rolling form useful for content-defined
    chunking at scale. Per-row projection, no shuffle."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    return d.selectExpr(
        "doc_id",
        f"{_roll_expr('trim(lower(text))')} AS rolling_hash",
        f"{_roll_expr(f'substring(trim(lower(text)), 1, {ROLL_PREFIX})')}"
        " AS prefix_hash",
    )


def fulltext_search(spark: SparkSession, sf_dir: str, needle: str = "window") -> DataFrame:
    """FULLTEXT stand-in (``sql/sakila-schema.sql:204``): token-match
    search with tf scoring."""
    d = _with_tokens(load_tables(spark, sf_dir, names=("documents",))["documents"])
    # Column-API comparison, not f-string interpolation: a needle with a
    # quote must be data, never expression text.
    tf = F.size(F.filter(F.col("toks"), lambda t: t == F.lit(needle)))
    return d.select(
        "doc_id", "source", tf.cast("long").alias("tf")
    ).filter(F.col("tf") > 0)


#: Default phrase for the phrase-mode search registry entry.
PHRASE = ("window", "scan")


def text_phrase_search(
    spark: SparkSession, sf_dir: str, phrase: tuple[str, ...] = PHRASE
) -> DataFrame:
    """FULLTEXT phrase mode (``MATCH...AGAINST '"..."'``): documents
    containing the exact consecutive token sequence, with occurrence
    counts. A per-row window scan over the materialized token array —
    no explode, no shuffle; the phrase positions come from filtering
    the start-index sequence."""
    d = _with_tokens(load_tables(spark, sf_dir, names=("documents",))["documents"])
    k = len(phrase)

    def _hit(i):
        # Column-API comparisons: each phrase term is data (F.lit),
        # never expression text — a term containing a quote is safe.
        # element_at is 1-based, i ranges over 0-based start positions.
        conds = [
            F.element_at(F.col("toks"), i + F.lit(j + 1)) == F.lit(t)
            for j, t in enumerate(phrase)
        ]
        return reduce(lambda a, b: a & b, conds)

    occurrences = F.when(F.size("toks") < k, F.lit(0)).otherwise(
        F.size(F.filter(F.sequence(F.lit(0), F.size("toks") - k), _hit))
    )
    return (
        d.select("doc_id", "source", occurrences.cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


#: BM25 parameters (the Okapi/Lucene defaults) and the default query for
#: the registry entry (terms chosen from the testdata vocabulary).
BM25_K1 = 1.2
BM25_B = 0.75
RANKED_QUERY = ("window", "hash", "join")
RANKED_K = 10


def text_ranked_search(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...] = RANKED_QUERY,
    k: int = RANKED_K,
) -> DataFrame:
    """Relevance-ranked full-text retrieval: BM25 top-k — the twin of
    the reference's FULLTEXT ``MATCH...AGAINST`` relevance mode
    (``sql/sakila-schema.sql:204``; MySQL's natural-language fulltext
    search is a tf·idf ranking, BM25 is its modern standard form).

    Plan shape (two corpus passes, no explode, no per-token shuffle):

    1. per-row projection: ``tf_i`` per query term via an array
       ``filter`` on the materialized token array, plus doc length;
    2. ONE scalar aggregate → (N, Σdl, df_i) — integers, so the
       driver-side scalar is exact and the idf/avgdl constants fold
       into the row projection as literals;
    3. per-row score projection + ``ORDER BY score DESC LIMIT k``
       (TakeOrderedAndProject — no global sort).

    At 100 TB the only shuffle is the top-k merge of per-partition
    heads; the stats pass is a map-side-combined count. Per-term
    scores are summed in a FIXED left-to-right order (then rounded to
    9 dp) so the DuckDB oracle reproduces values bit-for-bit —
    summing over an exploded term stream would make the addition
    order engine-dependent.
    """
    d = _with_tokens(load_tables(spark, sf_dir, names=("documents",))["documents"])

    def _tf(term: str):
        # Column-API comparison: the term is data, never expression text.
        # (A single-param lambda — a 2-param one would be read by F.filter
        # as its (element, index) variant.)
        return F.size(F.filter(F.col("toks"), lambda t: t == F.lit(term)))

    def _base(src: DataFrame) -> DataFrame:
        return src.select(
            "doc_id",
            F.size("toks").alias("dl"),
            *[_tf(term).alias(f"tf{i}") for i, term in enumerate(terms)],
        )

    # stats over the FULL corpus (df/avgdl are corpus statistics)…
    base = _base(d)
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    ).first()
    n = float(stats["n"])
    avgdl = float(stats["sum_dl"]) / n
    # idf in Python floats with the same op order as the oracle's ln()
    idf = [
        math.log((n - float(stats[f"df{i}"]) + 0.5) / (float(stats[f"df{i}"]) + 0.5) + 1.0)
        for i in range(len(terms))
    ]

    def _w(i: int):
        tf = F.col(f"tf{i}").cast("double")
        dl = F.col("dl").cast("double")
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * (dl / F.lit(avgdl))
        )
        return F.when(
            F.col(f"tf{i}") > 0,
            F.lit(idf[i]) * (tf * F.lit(BM25_K1 + 1.0)) / denom,
        ).otherwise(F.lit(0.0))

    score = _w(0)
    for i in range(1, len(terms)):
        score = score + _w(i)
    matched = sum(
        (F.col(f"tf{i}") > 0).cast("long") for i in range(len(terms))
    )
    # …but only matching docs are scored. The idf is +1-clamped so it is
    # always positive → score > 0 ⟺ ≥1 term present; an arrays_overlap
    # pre-filter keeps the pushed-down scan predicate to ONE tokenizer
    # run (a post-hoc `score > 0` filter would push the entire score
    # expression, tokenizer and all, into the scan filter).
    hit = F.arrays_overlap(
        F.col("toks"), F.array(*[F.lit(t) for t in terms])
    )
    return (
        _base(d.filter(hit))
        .select(
            "doc_id",
            matched.alias("n_terms_matched"),
            F.round(score, 9).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


#: Gopher-style rule-gate thresholds (Rae et al. 2021 §A1.1 document
#: filters), with the token-count floor tuned to the synthetic corpus
#: (10-99 tokens/doc) so the keep flag actually varies; the line-shape
#: rules (bullet/ellipsis fractions) are omitted because the corpus is
#: single-line — they'd be constant columns, not a tested gate.
GOPHER_MIN_TOKENS = 20
GOPHER_MAX_TOKENS = 100_000
GOPHER_WORD_LEN_LO = 3.0
GOPHER_WORD_LEN_HI = 10.0
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MIN_STOPWORDS = 2


def text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document rule gate: per-doc rule measurements plus
    the composite ``keep`` flag a pre-training pipeline filters on.

    Rules (all expression-level, one scan, no shuffle): token count in
    [min, max], mean word length in [3, 10], fraction of words with an
    alphabetic character ≥ 0.8, and ≥ 2 distinct stopwords present
    (the "has real sentences" proxy). Each measurement is emitted next
    to the flag so the gate is auditable — the same
    measurements-then-boolean shape as ``dq_constraint_violations``.
    SQL-checked (integer-exact counts; the two double ratios are single
    divisions of exact ints, reproducible across engines).
    """
    d = _with_tokens(load_tables(spark, sf_dir, names=("documents",))["documents"])
    stop = _inlist(STOP_EN)
    measured = d.selectExpr(
        "doc_id",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        "CASE WHEN size(toks) = 0 THEN NULL ELSE"
        " aggregate(toks, 0, (a, t) -> a + length(t))"
        " / CAST(size(toks) AS DOUBLE) END AS mean_word_len",
        "CASE WHEN size(toks) = 0 THEN NULL ELSE"
        " size(filter(toks, t -> t rlike '[a-z]'))"
        " / CAST(size(toks) AS DOUBLE) END AS alpha_word_ratio",
        f"CAST(size(array_intersect(array_distinct(toks), array({stop})))"
        " AS BIGINT) AS n_distinct_stopwords",
    )
    return measured.selectExpr(
        "*",
        f"n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}"
        f" AND mean_word_len BETWEEN CAST({GOPHER_WORD_LEN_LO} AS DOUBLE)"
        f"  AND CAST({GOPHER_WORD_LEN_HI} AS DOUBLE)"
        f" AND alpha_word_ratio >= CAST({GOPHER_MIN_ALPHA_RATIO} AS DOUBLE)"
        f" AND n_distinct_stopwords >= {GOPHER_MIN_STOPWORDS} AS keep",
    )


#: BPE training: number of merges learned (bounded iterations — each
#: is one distributed pair-count agg + a 1-row argmax + a projection)
#: and the two token-boundary sentinels. Words are [a-z]+ (the split
#: regex guarantees it), so the control-char sentinels can never
#: collide with token content — that is what makes greedy leftmost
#: non-overlapping merge application expressible as plain string
#: ``replace`` on BOTH engines (a pattern match can only start at a
#: true token boundary).
BPE_MERGES = 6
BPE_S1 = chr(30)  # token start sentinel (RS)
BPE_S2 = chr(31)  # token end sentinel (US)


#: Word-type rows per partition for the checkpointed BPE training
#: table: the partition count derives from the VOCABULARY size, not a
#: core count — a toy corpus (31 word types at sf0.1) collapses to one
#: partition so every merge round's pair-count aggregation is
#: exchange-free (SinglePartition satisfies the groupBy distribution →
#: one stage per round instead of two), while a corpus-scale vocabulary
#: (millions of types) keeps the distributed two-stage shape, capped at
#: ``spark.sql.shuffle.partitions`` like the graph checkpoints.
BPE_WORDS_PER_PARTITION = 262_144


def _bpe_word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, cnt, tokstr) over the corpus: lowercased [a-z]+ word
    types with frequencies, each wrapped as per-character sentinel
    tokens — the classic BPE training input (Sennrich et al. 2016
    trains on the word-type table, never the raw corpus)."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    words = (
        d.select(
            F.explode(F.split(F.lower("text"), "[^a-z]+", -1)).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return words.withColumn(
        "tokstr",
        F.regexp_replace("word", "(.)", f"{BPE_S1}$1{BPE_S2}"),
    )


def _bpe_pair_counts(cur: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-symbol pair counts over the (possibly
    partially merged) word-type table — the one distributed shuffle of
    each training step (pair keys, map-side combined)."""
    tok_re = f"{BPE_S1}([^{BPE_S1}{BPE_S2}]*){BPE_S2}"
    return (
        cur.select(
            "cnt",
            F.expr(f"regexp_extract_all(tokstr, '{tok_re}', 1)").alias(
                "toks"
            ),
        )
        # single-token words have no pairs — and Spark's
        # sequence(1, 0) counts DOWN (yielding index 0), so they
        # must be filtered, not left to an empty sequence
        .filter(F.expr("size(toks) >= 2"))
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(element_at(toks, i) AS l, "
                    "element_at(toks, i + 1) AS r))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("c"))
    )


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE BPE merge-table training, distributed (r8 Next #7 — the
    regex pre-tokenizer in ``text_token_stats_bpe`` segments text; this
    learns the merge table itself, the one big text-pipeline primitive
    that was still missing). Reference semantics (Sennrich et al.,
    public): start from characters, repeat ``BPE_MERGES`` times —
    count all adjacent symbol pairs across the word-type table
    weighted by word frequency (overlapping occurrences count, e.g.
    'aaa' has (a,a) twice), merge the most frequent pair everywhere
    (greedy leftmost non-overlapping within each word), deterministic
    tie-break (count desc, left asc, right asc).

    Spark shape: the word-freq table is checkpointed ONCE (it is read
    every iteration); each iteration is one pair-count groupBy (the
    only shuffle — over pair keys, map-side combined), a 1-row
    ``limit(1).collect()`` argmax (a bounded scalar, the k-means
    centroid pattern), and a stateless ``replace`` projection, so the
    per-iteration cost is O(word types), never O(corpus). Tokenization
    state lives in the sentinel-wrapped string (see ``BPE_S1``), which
    is what makes merge application a JVM-side ``replace`` instead of
    a Python UDF loop.

    The oracle replays the identical merge sequence in DuckDB as an
    unrolled CTE chain (count → argmax → replace per iteration), so
    the driver hash proves the full training trajectory — counts,
    tie-breaks, and greedy application — not just the final table.
    Returns (rank, left, right, pair_count), rank 1-based in merge
    order. Domain: the corpus must yield at least ``BPE_MERGES``
    distinct pairs (any real corpus does; asserted loudly)."""
    merges, _ = _bpe_fit(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank long, left string, right string, pair_count long"
    )


def _bpe_fit(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the training loop; return (merge table, final word-type
    frame with fully-merged ``tokstr``). Shared by the train entry and
    the corpus tokenizer (:func:`text_bpe_tokenize`)."""
    wf = checkpoint_layout(
        spark, _bpe_word_freqs(spark, sf_dir), BPE_WORDS_PER_PARTITION
    )
    merges: list[tuple[int, str, str, int]] = []
    cur = wf
    for rank in range(1, BPE_MERGES + 1):
        pairs = _bpe_pair_counts(cur)
        best = (
            pairs.orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:  # degenerate corpus — out of the operator's domain
            raise ValueError(
                f"corpus exhausted after {rank - 1} merges; "
                f"BPE_MERGES={BPE_MERGES} needs more pair diversity"
            )
        l, r, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((rank, l, r, c))
        cur = cur.withColumn(
            "tokstr",
            F.replace(
                "tokstr",
                F.lit(f"{BPE_S1}{l}{BPE_S2}{BPE_S1}{r}{BPE_S2}"),
                F.lit(f"{BPE_S1}{l}{r}{BPE_S2}"),
            ),
        )
    return merges, cur


#: Batched BPE (r9 VERDICT Next #4): per round, the top-B mutually
#: NON-CONFLICTING pairs (sharing no symbol on either side) are merged
#: together — the public parallel-BPE recipe that collapses a 32k-merge
#: vocabulary from 32k sequential driver round-trips to vocab/B rounds.
#: Selection is a GREEDY CHAIN over the top-``BPE_BATCH_CAND``
#: candidates in (count desc, left, right) order: a candidate is taken
#: iff none of {left, right, left+right} collides with any symbol an
#: already-taken candidate used OR PRODUCED this round, stopping at B.
#: Including the merged output in the conflict set is what makes the
#: batch truly order-independent: no replace's output token can feed
#: another replace's input pattern (e.g. (a,bc) then (abc,d) is
#: rejected, as is (a,b) after an earlier round produced symbol "ab"
#: via a different derivation), so applying the batch in one pass
#: equals applying it sequentially in any order — batching changes the
#: SCHEDULE, not the semantics of each merge.
BPE_BATCH_ROUNDS = 6
BPE_BATCH_B = 16
BPE_BATCH_CAND = 64


def text_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE merge-table training — the SCALE path next to
    :func:`text_bpe_train`'s 6-merge exactness pin. Each of
    ``BPE_BATCH_ROUNDS`` rounds runs ONE pair-count shuffle, ONE
    bounded ``limit(BPE_BATCH_CAND)`` collect (TakeOrdered — the
    candidate window), a driver-side greedy non-conflicting selection
    of ≤ ``BPE_BATCH_B`` pairs, and one projection chaining their
    sentinel-delimited ``replace``s, so ≥64 merges cost 6 driver
    round-trips instead of 64+ (70 merges at sf0.1, ~the sequential
    trainer's per-6-merge price). Checkpoint cadence is MEASURED, not
    assumed: materializing the word table every round costs ~0.8 s
    more than never doing it (the localCheckpoint-of-a-wide-
    intermediate trap), but never checkpointing leaves later rounds
    recomputing up to 96 stacked ``replace``s per pair-count scan —
    a checkpoint after rounds 2 and 4 splits the difference and wins
    both A/Bs (1.66/2.05 → 1.45 s same-session min-of-3).

    The oracle replays the FULL batched trajectory in DuckDB: per
    round, the same pair counts and candidate window, the greedy chain
    expressed as a ``list_reduce`` fold carrying the used-symbol set,
    and the batch application as a fold of ``replace``s over the
    selected encodings — so the driver hash proves counts, selection
    order, conflict rule, and application, not just the final table.
    Returns (rank, round, left, right, pair_count): rank global
    1-based in merge order, pair_count measured at its round's start."""
    merges, _ = _bpe_fit_batched(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "rank long, round long, left string, right string, pair_count long",
    )


def _bpe_fit_batched(
    spark: SparkSession,
    sf_dir: str,
    *,
    rounds: int = BPE_BATCH_ROUNDS,
    b: int = BPE_BATCH_B,
    cand_window: int = BPE_BATCH_CAND,
    target: int | None = None,
) -> tuple[list[tuple[int, int, str, str, int]], DataFrame]:
    """Run the batched training loop; return (merge table, final
    word-type frame). Shared by the train entry, the batched tokenizer
    (:func:`text_bpe_tokenize_batched`), and the persisted-vocabulary
    builders. Defaults reproduce the oracle-replayed 6-round tier
    exactly. With ``target`` set (the DEEP tier), the loop stops once
    ``target`` merges are learned or the corpus genuinely runs out of
    pairs (a fully merged word-type table), instead of raising; the
    checkpoint cadence generalizes the measured (2, 4) rule to every
    other round so recomputation depth stays bounded at any depth."""
    wf = checkpoint_layout(
        spark, _bpe_word_freqs(spark, sf_dir), BPE_WORDS_PER_PARTITION
    )
    merges: list[tuple[int, int, str, str, int]] = []  # (rank, round, l, r, c)
    cur = wf
    rank = 0
    for rnd in range(1, rounds + 1):
        cand = (
            _bpe_pair_counts(cur)
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(cand_window)
            .collect()
        )
        if not cand:
            if target is not None:  # deep tier: corpus fully merged
                break
            # degenerate corpus — out of the operator's domain
            raise ValueError(f"corpus exhausted after round {rnd - 1}")
        used: set[str] = set()
        selected: list[tuple[str, str, int]] = []
        room = b if target is None else min(b, target - rank)
        for row in cand:
            if len(selected) >= room:
                break
            l, r = row["l"], row["r"]
            if l in used or r in used or f"{l}{r}" in used:
                continue
            used.update((l, r, f"{l}{r}"))
            selected.append((l, r, int(row["c"])))
        col = F.col("tokstr")
        for l, r, c in selected:
            rank += 1
            merges.append((rank, rnd, l, r, c))
            col = F.replace(
                col,
                F.lit(f"{BPE_S1}{l}{BPE_S2}{BPE_S1}{r}{BPE_S2}"),
                F.lit(f"{BPE_S1}{l}{r}{BPE_S2}"),
            )
        cur = cur.withColumn("tokstr", col)
        # measured cadence (see docstring): (2, 4) for the 6-round
        # tier, its every-other-round generalization beyond that
        if rnd % 2 == 0 and rnd < rounds:
            cur = cur.localCheckpoint()
        if target is not None and rank >= target:
            break
    return merges, cur


def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table to the WHOLE corpus — the
    tokenizer-application shape a training-data pipeline runs per
    document (token budgeting, packing, cost estimation). Training
    already produced the fully-merged segmentation of every word TYPE,
    so application is a vocabulary join, never a per-document merge
    loop: explode documents into words, join the word-type table
    (``shuffle_hash`` — both sides are corpus-sized; at 100 TB the
    vocab side is heavy-tailed Zipfian and the join is key-bounded),
    and sum. Per doc: word count, BPE token count, and the
    character-per-token compression integer-scaled ×100 (exact int —
    no float division crosses the hash). Docs with no [a-z] words
    report zero counts (left join + coalesce)."""
    _, fitted = _bpe_fit(spark, sf_dir)
    return _apply_bpe_vocab(spark, sf_dir, fitted)


def text_bpe_tokenize_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`text_bpe_tokenize` with the BATCHED 70-merge vocabulary
    (:func:`text_bpe_train_batched`) instead of the 6-merge exactness
    pin — the realistic application shape (a deeper merge table means
    materially better chars-per-token compression). Same vocabulary-
    join plan; the oracle reuses the batched training CTE chain
    through its final word table and the same exact-integer tail."""
    _, fitted = _bpe_fit_batched(spark, sf_dir)
    return _apply_bpe_vocab(spark, sf_dir, fitted)


def _apply_bpe_vocab(
    spark: SparkSession, sf_dir: str, fitted: DataFrame
) -> DataFrame:
    """Corpus-wide application of a fully-merged word-type table: the
    vocabulary join + per-doc aggregation shared by both tokenizers."""
    tok_re = f"{BPE_S1}([^{BPE_S1}{BPE_S2}]*){BPE_S2}"
    vocab = fitted.select(
        "word",
        F.expr(f"size(regexp_extract_all(tokstr, '{tok_re}', 1))")
        .cast("long")
        .alias("n_tok"),
        F.length("word").cast("long").alias("n_chr"),
    )
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    doc_words = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+", -1)).alias("word"),
    ).filter(F.col("word") != "")
    per_doc = (
        doc_words.hint("shuffle_hash")
        .join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_bpe_tokens"),
            F.sum("n_chr").alias("n_word_chars"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
            # chars-per-token x100 via exact integer division (`div`
            # == DuckDB `//` for non-negative operands, probed r7 —
            # float division + cast would round differently per engine)
            F.coalesce(
                F.expr("(n_word_chars * 100) div n_bpe_tokens"),
                F.lit(0),
            )
            .cast("long")
            .alias("chars_per_token_x100"),
        )
    )


# --------------------------------------------------------------------------
# Persisted BPE vocabulary (r10 VERDICT Next #1/#7): train once, persist
# the merge table + fitted word-type table under a content-fingerprinted
# warehouse dir, and make the tokenizer a PURE READ PATH — the same
# lifecycle split the ANN family got in r10 (similarity.py:901/1031).
# Two tiers: the 6-round tier (identical trajectory to
# text_bpe_train_batched, so both artifacts are oracle-replayed in full)
# and the DEEP tier (target ≥512 merges — the realistic vocabulary depth;
# its build summary pins structural invariants and the bound twin pins
# strict compression improvement over the shallow tier).
# --------------------------------------------------------------------------

#: Deep tier: target merge count and its training-loop geometry. The
#: 128-wide candidate window halves conflict starvation at depth (late
#: rounds have flatter counts ⇒ more same-symbol collisions in a narrow
#: window); 48 rounds of ≤16 gives 768 slots of headroom for the 512
#: target, and the loop stops at the target.
BPE_DEEP_TARGET = 512
BPE_DEEP_CAND = 128
BPE_DEEP_MAX_ROUNDS = 48


def _bpe_vocab_dir(spark: SparkSession, sf_dir: str, tier: str) -> str:
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    return f"{warehouse}/bpe_vocab_{tier}_{source_fingerprint(sf_dir, 'documents')}"


def _ensure_bpe_vocab(spark: SparkSession, sf_dir: str, tier: str) -> str:
    """Idempotent build-if-missing for a persisted vocabulary tier.
    Artifacts under the content-fingerprinted dir:

    - ``merges`` — (rank, round, left, right, pair_count): the merge
      table in trajectory order;
    - ``vocab``  — (word, cnt, tokstr): the FITTED word-type table
      (every corpus word type, fully merged) — what the tokenizer
      joins; persisting it is what removes training from the query
      path entirely;
    - ``meta``   — 1 row (tier geometry + artifact counts), written
      LAST so its presence certifies a complete build.

    Returns the artifact dir."""
    from pyspark.errors import AnalysisException

    d = _bpe_vocab_dir(spark, sf_dir, tier)
    try:
        spark.read.parquet(f"{d}/meta").collect()
        return d
    except AnalysisException:
        pass
    if tier == "b6":
        merges, fitted = _bpe_fit_batched(spark, sf_dir)
        target = BPE_BATCH_ROUNDS * BPE_BATCH_B
    elif tier == "deep":
        merges, fitted = _bpe_fit_batched(
            spark,
            sf_dir,
            rounds=BPE_DEEP_MAX_ROUNDS,
            cand_window=BPE_DEEP_CAND,
            target=BPE_DEEP_TARGET,
        )
        target = BPE_DEEP_TARGET
    else:  # pragma: no cover - internal misuse
        raise ValueError(f"unknown BPE vocab tier {tier!r}")
    spark.createDataFrame(
        merges,
        "rank long, round long, left string, right string, pair_count long",
    ).write.mode("overwrite").parquet(f"{d}/merges")
    fitted.write.mode("overwrite").parquet(f"{d}/vocab")
    n_merges = spark.read.parquet(f"{d}/merges").count()
    n_types = spark.read.parquet(f"{d}/vocab").count()
    spark.createDataFrame(
        [(tier, int(target), int(n_merges), int(n_types))],
        "tier string, target_merges int, n_merges bigint, n_word_types bigint",
    ).write.mode("overwrite").parquet(f"{d}/meta")
    return d


def _bpe_vocab_build_summary(
    spark: SparkSession, sf_dir: str, tier: str
) -> DataFrame:
    """Oracle-backed build summary computed FROM THE PERSISTED
    ARTIFACTS (not the in-memory frames), so the driver hash certifies
    what is on disk: corpus word-type count (DuckDB recomputes it
    independently from ``documents``), full corpus coverage (no word
    type missing from the vocab), merge count within the tier target,
    and token-string integrity (every fitted ``tokstr``'s tokens
    concatenate back to exactly its word — a corrupted or truncated
    artifact cannot pass)."""
    d = _ensure_bpe_vocab(spark, sf_dir, tier)
    meta = spark.read.parquet(f"{d}/meta").collect()[0]
    vocab = spark.read.parquet(f"{d}/vocab")
    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]
    corpus_types = (
        docs.select(
            F.explode(F.split(F.lower("text"), "[^a-z]+", -1)).alias("word")
        )
        .filter(F.col("word") != "")
        .distinct()
    )
    missing = corpus_types.join(
        vocab.select("word"), "word", "left_anti"
    ).count()
    tok_re = f"{BPE_S1}([^{BPE_S1}{BPE_S2}]*){BPE_S2}"
    malformed = vocab.filter(
        F.expr(
            "array_join("
            f"regexp_extract_all(tokstr, '{tok_re}', 1), '') != word"
        )
    ).count()
    return spark.createDataFrame(
        [
            (
                int(meta["n_word_types"]),
                bool(missing == 0),
                bool(0 < meta["n_merges"] <= meta["target_merges"]),
                bool(malformed == 0),
            )
        ],
        "n_word_types bigint, vocab_covers_corpus boolean,"
        " merges_within_target boolean, tokstr_wellformed boolean",
    )


def text_bpe_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD phase of the persisted-BPE lifecycle, 6-round tier: run
    the batched trainer ONCE, persist merges + fitted vocab + meta,
    and return the merge table READ BACK FROM THE PERSISTED ARTIFACT —
    the oracle replays the full batched trajectory in DuckDB
    (:func:`_bpe_oracle_batched`), so the driver hash certifies the
    on-disk merge table byte-for-byte, not just an in-memory run."""
    d = _ensure_bpe_vocab(spark, sf_dir, "b6")
    return spark.read.parquet(f"{d}/merges").orderBy("rank")


def text_bpe_tokenize_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer as a PURE READ PATH: join the corpus against the
    PERSISTED fitted word-type table — no training in the query path
    (pytest monkeypatches the trainer to raise and asserts this plan
    still runs, Python-eval-free). Must return exactly
    :func:`text_bpe_tokenize_batched`'s answer (same vocabulary, same
    join) — the oracle IS that entry's oracle, so this read path is
    hash-proven, not merely rows-counted."""
    d = _ensure_bpe_vocab(spark, sf_dir, "b6")
    fitted = spark.read.parquet(f"{d}/vocab")
    return _apply_bpe_vocab(spark, sf_dir, fitted)


def text_bpe_vocab_build_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD phase, DEEP tier: a ≥``BPE_DEEP_TARGET``-merge vocabulary
    (the realistic depth — 6 or 70 merges prove trajectories; hundreds
    are what move chars-per-token) built by the same batched loop with
    a wider candidate window, persisted once, summarized by
    :func:`_bpe_vocab_build_summary`'s structural invariants. The full
    512-step trajectory has no tractable SQL replay; correctness rests
    on (a) these hash-pinned invariants, (b) the hash-green bound twin
    :func:`text_bpe_deep_compression_bound`, and (c) pytest equality
    of the deep table's ROUND-1 batch with the oracle-replayed 6-round
    tier's (the candidate orderings coincide at the head while
    conflicts don't exhaust the narrow window —
    ``test_deep_first_round_coincides_with_shallow``)."""
    return _bpe_vocab_build_summary(spark, sf_dir, "deep")


def text_bpe_tokenize_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`text_bpe_tokenize_persisted` over the DEEP vocabulary —
    rows-only at the driver (no SQL replay at depth 512); its value
    proof is the hash-green compression bound twin plus pytest."""
    d = _ensure_bpe_vocab(spark, sf_dir, "deep")
    fitted = spark.read.parquet(f"{d}/vocab")
    return _apply_bpe_vocab(spark, sf_dir, fitted)


def text_bpe_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emit the actual TRAINING TOKEN-ID SEQUENCE per document — the
    artifact a trainer consumes, not just counts. Pure read path over
    the persisted 6-round vocabulary:

    - each word type's token list comes from its fitted ``tokstr``;
    - token ids are a deterministic dense rank over the distinct
      token strings (ascending — engine-agnostic; merge-order ids are
      an equally valid convention, the pinned one just needs no extra
      state);
    - documents explode to (word, position) keeping empties' positions
      (so both engines number words identically), join the word→ids
      table, and re-assemble ORDER-PRESERVING via
      ``sort_array(collect_list(struct(pos, ids)))`` + ``flatten`` —
      the id sequence is the in-order concatenation of per-word ids;
    - the hashed columns are (n_tokens, ids_md5) where ids_md5 is
      md5 of the comma-joined id string — an exact, order-sensitive
      digest both engines compute identically (the driver
      canonicalizer hashes scalars, not arrays).

    Scale: one shuffle-hash join on word (Zipf-bounded vocabulary) +
    one groupBy(doc_id); per-doc arrays never leave the executor —
    only the digest does."""
    tok_re = f"{BPE_S1}([^{BPE_S1}{BPE_S2}]*){BPE_S2}"
    d = _ensure_bpe_vocab(spark, sf_dir, "b6")
    fitted = spark.read.parquet(f"{d}/vocab")
    vocab_tokens = fitted.select(
        "word",
        F.expr(f"regexp_extract_all(tokstr, '{tok_re}', 1)").alias("toks"),
    )
    # the token set is BOUNDED BY CONSTRUCTION (≤ alphabet + one
    # symbol per merge), so it is a driver-side scalar like centroids:
    # collect it, and word→ids becomes a pure literal-map projection —
    # no explode, no join, no window
    toks = sorted(
        r["tok"]
        for r in vocab_tokens.select(F.explode("toks").alias("tok"))
        .distinct()
        .collect()
    )
    pairs: list = []
    for i, t in enumerate(toks):
        pairs.extend((F.lit(t), F.lit(i + 1).cast("long")))
    id_map = F.create_map(*pairs)
    word_ids = vocab_tokens.select(
        "word",
        F.transform("toks", lambda t: F.element_at(id_map, t)).alias("ids"),
    )
    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]
    doc_words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), "[^a-z]+", -1)).alias(
            "wpos", "word"
        ),
    ).filter(F.col("word") != "")
    per_doc = (
        doc_words.hint("shuffle_hash")
        .join(word_ids, "word")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "flatten(transform(array_sort(collect_list("
                "struct(wpos, ids))), x -> x.ids))"
            ).alias("ids")
        )
        .select(
            "doc_id",
            F.size("ids").cast("long").alias("n_tokens"),
            F.md5(
                F.expr("array_join(transform(ids, x -> cast(x as string)),"
                       " ',')")
            ).alias("ids_md5"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("ids_md5", F.md5(F.lit(""))).alias("ids_md5"),
        )
    )


def _bpe_encode_ids_oracle() -> str:
    """DuckDB twin of :func:`text_bpe_encode_ids`: the batched
    training CTE chain through the fitted word table, the same
    alphabetical dense-rank token ids, lockstep-unnest word positions
    (empties numbered, then filtered — identical to posexplode-then-
    filter), order-preserving flatten, and the same comma-join md5."""
    # the tokenize twin's text up to (not including) its vocab CTE is
    # exactly the training chain through the fitted word table w{N}
    prefix = _bpe_tokenize_batched_oracle().split("vocab AS")[0]
    n = BPE_BATCH_ROUNDS
    s1, s2 = "chr(30)", "chr(31)"
    tok_re = f"{s1} || '([^' || {s1} || {s2} || ']*)' || {s2}"
    return f"""{prefix}
        vt AS (
            SELECT word, regexp_extract_all(tokstr, {tok_re}, 1) AS toks
            FROM w{n}),
        idm AS (
            SELECT tok,
                   CAST(dense_rank() OVER (ORDER BY tok) AS BIGINT)
                       AS tok_id
            FROM (SELECT DISTINCT unnest(toks) AS tok FROM vt)),
        wids AS (
            SELECT word, list(tok_id ORDER BY tpos) AS ids
            FROM (
                SELECT word,
                       unnest(generate_series(1, len(toks))) AS tpos,
                       unnest(toks) AS tok
                FROM vt) t JOIN idm USING (tok)
            GROUP BY word),
        dw AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(ws))) AS wpos,
                   unnest(ws) AS word
            FROM (SELECT doc_id,
                         string_split_regex(lower(text), '[^a-z]+') AS ws
                  FROM documents)),
        agg AS (
            SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS ids
            FROM (SELECT d.doc_id, d.wpos, w.ids
                  FROM (SELECT * FROM dw WHERE word != '') d
                  JOIN wids w USING (word))
            GROUP BY doc_id)
        SELECT doc.doc_id,
               CAST(coalesce(len(a.ids), 0) AS BIGINT) AS n_tokens,
               coalesce(md5(array_to_string(a.ids, ',')), md5(''))
                   AS ids_md5
        FROM documents doc LEFT JOIN agg a USING (doc_id)"""


def text_bpe_deep_compression_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hash-green bound twin for the deep tier: joining the two
    persisted vocabularies per word type, (a) NO word tokenizes worse
    under the deep vocabulary, and (b) the corpus-weighted total token
    count strictly improves. Both hold by construction — the deep run
    extends the shallow run's merge sequence, and replaces only ever
    fuse tokens — so the oracle pins TRUE; a Spark-side regression
    (diverged trajectory, corrupted artifact, lost merges) flips a
    boolean and fails the driver hash. ``n_word_types_compared`` is
    recomputed independently by DuckDB from the raw corpus."""
    tok_re = f"{BPE_S1}([^{BPE_S1}{BPE_S2}]*){BPE_S2}"
    n_tok = F.expr(
        f"size(regexp_extract_all(tokstr, '{tok_re}', 1))"
    ).cast("long")
    d6 = _ensure_bpe_vocab(spark, sf_dir, "b6")
    dd = _ensure_bpe_vocab(spark, sf_dir, "deep")
    shallow = (
        spark.read.parquet(f"{d6}/vocab")
        .select("word", "cnt", n_tok.alias("n_shallow"))
    )
    deep = spark.read.parquet(f"{dd}/vocab").select(
        "word", n_tok.alias("n_deep")
    )
    both = shallow.join(deep, "word")
    return both.agg(
        F.count(F.lit(1)).cast("long").alias("n_word_types_compared"),
        (F.sum((F.col("n_deep") > F.col("n_shallow")).cast("int")) == 0)
        .alias("no_word_tokenizes_worse"),
        (
            F.sum(F.col("cnt") * F.col("n_deep"))
            < F.sum(F.col("cnt") * F.col("n_shallow"))
        ).alias("total_tokens_strictly_fewer"),
    )


def _bpe_oracle() -> str:
    """Unrolled DuckDB replay of the training loop: w0 is the wrapped
    word-freq table; each stage i computes pair counts p_i from w_i,
    the argmax b_i under the same (count desc, pair asc) order, and
    w_{i+1} by the same sentinel-delimited ``replace``."""
    s1, s2 = "chr(30)", "chr(31)"
    tok_re = f"{s1} || '([^' || {s1} || {s2} || ']*)' || {s2}"
    parts = [
        f"""WITH w0 AS (
            SELECT word, cnt,
                   regexp_replace(word, '(.)',
                                  {s1} || '\\1' || {s2}, 'g') AS tokstr
            FROM (
                SELECT word, CAST(count(*) AS BIGINT) AS cnt
                FROM (
                    SELECT unnest(string_split_regex(lower(text),
                                                     '[^a-z]+')) AS word
                    FROM documents)
                WHERE word != '' GROUP BY word))"""
    ]
    for i in range(BPE_MERGES):
        parts.append(f"""p{i} AS (
            SELECT pair['l'] AS l, pair['r'] AS r,
                   CAST(sum(cnt) AS BIGINT) AS c
            FROM (
                SELECT cnt,
                       unnest(list_transform(
                           generate_series(1, len(toks) - 1),
                           i -> struct_pack(l := toks[i],
                                            r := toks[i + 1]))) AS pair
                FROM (SELECT cnt,
                             regexp_extract_all(tokstr, {tok_re}, 1) AS toks
                      FROM w{i}))
            GROUP BY 1, 2),
        b{i} AS (
            SELECT {i + 1} AS rank, l, r, c FROM p{i}
            ORDER BY c DESC, l ASC, r ASC LIMIT 1),
        w{i + 1} AS (
            SELECT word, cnt,
                   replace(tokstr,
                           {s1} || b.l || {s2} || {s1} || b.r || {s2},
                           {s1} || b.l || b.r || {s2}) AS tokstr
            FROM w{i}, b{i} b)""")
    union = "\nUNION ALL\n".join(
        f"SELECT CAST(rank AS BIGINT) AS rank, l AS left, r AS right, "
        f"c AS pair_count FROM b{i}"
        for i in range(BPE_MERGES)
    )
    return ",\n".join(parts) + "\n" + union


def _bpe_used_any(acc: str, x: str) -> str:
    """DuckDB predicate: does any of the candidate's symbols
    {left, right, left+right} collide with a symbol an already-taken
    entry used or produced? Entries in ``acc`` are encoded
    ``chr(2) l chr(1) r chr(1) lr chr(3)``, so a used symbol ``s``
    appears as exactly one of the three delimited forms below; symbols
    never contain the delimiter chars, so variable-length symbols
    can't false-positive across field or entry boundaries."""
    xl = f"string_split({x}, chr(1))[1]"
    xr = f"string_split({x}, chr(1))[2]"
    syms = (xl, xr, f"({xl} || {xr})")
    checks = [
        f"contains({acc}, {pre} || {s} || {post})"
        for s in syms
        for pre, post in (
            ("chr(2)", "chr(1)"),  # s was a previous left
            ("chr(1)", "chr(1)"),  # s was a previous right
            ("chr(1)", "chr(3)"),  # s was a previous merged output
        )
    ]
    return "(" + "\n                          OR ".join(checks) + ")"


def _bpe_oracle_batched() -> str:
    """Unrolled DuckDB replay of the BATCHED training loop. Per round:
    the same pair counts, the same top-``BPE_BATCH_CAND`` candidate
    window, the greedy non-conflicting selection as a ``list_reduce``
    fold, and the batch application as a second fold of ``replace``s.
    Selected pairs are encoded ``chr(2) l chr(1) r chr(1) lr chr(3)``
    — the merged output symbol rides along so the conflict test can
    reject any candidate whose {l, r, l+r} collides with a symbol a
    taken entry used OR produced, mirroring the Spark-side rule that
    makes the batch order-independent (chr(1-3) can never occur in
    token content: tokens are [a-z] plus the 30/31 sentinels), so
    membership and in-round order come from ``list_position``. The fold's accumulator is a FLAT
    delimiter-encoded VARCHAR rather than a struct of lists — DuckDB's
    ``list_reduce`` drops list-typed struct fields across iterations
    (measured: the counter accumulated, the lists kept only the last
    element) while string concatenation folds correctly; symbol-used
    tests anchor on the delimiters so variable-length symbols can't
    false-positive, and the taken-count cap counts chr(3)
    terminators."""
    s1, s2 = "chr(30)", "chr(31)"
    tok_re = f"{s1} || '([^' || {s1} || {s2} || ']*)' || {s2}"
    enc = f"string_split(e, chr(1))"
    parts = [
        f"""WITH w0 AS (
            SELECT word, cnt,
                   regexp_replace(word, '(.)',
                                  {s1} || '\\1' || {s2}, 'g') AS tokstr
            FROM (
                SELECT word, CAST(count(*) AS BIGINT) AS cnt
                FROM (
                    SELECT unnest(string_split_regex(lower(text),
                                                     '[^a-z]+')) AS word
                    FROM documents)
                WHERE word != '' GROUP BY word))"""
    ]
    for i in range(BPE_BATCH_ROUNDS):
        parts.append(f"""p{i} AS (
            SELECT pair['l'] AS l, pair['r'] AS r,
                   CAST(sum(cnt) AS BIGINT) AS c
            FROM (
                SELECT cnt,
                       unnest(list_transform(
                           generate_series(1, len(toks) - 1),
                           i -> struct_pack(l := toks[i],
                                            r := toks[i + 1]))) AS pair
                FROM (SELECT cnt,
                             regexp_extract_all(tokstr, {tok_re}, 1) AS toks
                      FROM w{i}))
            GROUP BY 1, 2),
        c{i} AS (
            SELECT l, r, c,
                   row_number() OVER (ORDER BY c DESC, l ASC, r ASC) AS rk
            FROM p{i}
            QUALIFY rk <= {BPE_BATCH_CAND}),
        sel{i} AS (
            SELECT list_transform(
                list_filter(string_split(list_reduce(
                    list_prepend(
                        '',
                        list_transform(
                            list(struct_pack(l := l, r := r) ORDER BY rk),
                            x -> x.l || chr(1) || x.r)),
                    (acc, x) -> CASE
                        WHEN (length(acc)
                              - length(replace(acc, chr(3), '')))
                             >= {BPE_BATCH_B}
                          OR {_bpe_used_any("acc", "x")}
                        THEN acc
                        ELSE acc || chr(2) || x || chr(1)
                             || string_split(x, chr(1))[1]
                             || string_split(x, chr(1))[2]
                             || chr(3) END),
                    chr(3)), s -> s != ''),
                s -> s[2:]) AS ents
            FROM c{i}),
        b{i} AS (
            SELECT {i + 1} AS rnd,
                   list_position(s.ents,
                       c.l || chr(1) || c.r || chr(1) || c.l || c.r) AS j,
                   c.l AS l, c.r AS r, c.c AS c
            FROM c{i} c, sel{i} s
            WHERE list_position(s.ents,
                c.l || chr(1) || c.r || chr(1) || c.l || c.r) > 0),
        w{i + 1} AS (
            SELECT word, cnt,
                   list_reduce(
                       list_prepend(
                           w.tokstr,
                           list_transform(s.ents, e ->
                               {s1} || {enc}[1] || {s2}
                               || {s1} || {enc}[2] || {s2}
                               || chr(1)
                               || {s1} || {enc}[1] || {enc}[2] || {s2})),
                       (acc, x) -> replace(acc,
                                           string_split(x, chr(1))[1],
                                           string_split(x, chr(1))[2])
                   ) AS tokstr
            FROM w{i} w, sel{i} s)""")
    union = "\nUNION ALL\n".join(
        f"SELECT rnd, j, l, r, c FROM b{i}"
        for i in range(BPE_BATCH_ROUNDS)
    )
    return (
        ",\n".join(parts)
        + f"""
        SELECT CAST(row_number() OVER (ORDER BY rnd, j) AS BIGINT) AS rank,
               CAST(rnd AS BIGINT) AS round, l AS left, r AS right,
               c AS pair_count
        FROM ({union})"""
    )


def _bpe_tokenize_oracle() -> str:
    """Tokenizer-application twin: reuse the training CTE chain through
    w{N} (the fully-merged word table), then join documents' words to
    the vocabulary and aggregate per doc — same counts, same exact
    integer division (`//` == Spark `div` for non-negative)."""
    prefix = _bpe_oracle().split("\nSELECT CAST(rank")[0]
    return _bpe_tokenize_oracle_tail(prefix, BPE_MERGES)


def _bpe_tokenize_batched_oracle() -> str:
    """Batched-vocabulary application twin: the batched training CTE
    chain through its final word table + the same exact-integer tail."""
    prefix = _bpe_oracle_batched().split(
        "\n        SELECT CAST(row_number"
    )[0]
    return _bpe_tokenize_oracle_tail(prefix, BPE_BATCH_ROUNDS)


def _bpe_tokenize_oracle_tail(prefix: str, n: int) -> str:
    s1, s2 = "chr(30)", "chr(31)"
    tok_re = f"{s1} || '([^' || {s1} || {s2} || ']*)' || {s2}"
    return f"""{prefix},
        vocab AS (
            SELECT word,
                   CAST(len(regexp_extract_all(tokstr, {tok_re}, 1))
                        AS BIGINT) AS n_tok,
                   CAST(length(word) AS BIGINT) AS n_chr
            FROM w{n}),
        dw AS (
            SELECT doc_id, unnest(string_split_regex(lower(text),
                                                     '[^a-z]+')) AS word
            FROM documents),
        agg AS (
            SELECT d.doc_id,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(v.n_tok) AS BIGINT) AS n_bpe_tokens,
                   CAST(sum(v.n_chr) AS BIGINT) AS n_chr
            FROM (SELECT * FROM dw WHERE word != '') d
            JOIN vocab v USING (word) GROUP BY 1)
        SELECT doc.doc_id,
               coalesce(a.n_words, 0) AS n_words,
               coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens,
               CAST(coalesce((a.n_chr * 100) // a.n_bpe_tokens, 0)
                    AS BIGINT) AS chars_per_token_x100
        FROM documents doc LEFT JOIN agg a USING (doc_id)"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_bpe_train": text_bpe_train,
    "text_bpe_train_batched": text_bpe_train_batched,
    "text_bpe_tokenize": text_bpe_tokenize,
    "text_bpe_tokenize_batched": text_bpe_tokenize_batched,
    "text_bpe_vocab_build": text_bpe_vocab_build,
    "text_bpe_tokenize_persisted": text_bpe_tokenize_persisted,
    "text_bpe_vocab_build_deep": text_bpe_vocab_build_deep,
    "text_bpe_tokenize_deep": text_bpe_tokenize_deep,
    "text_bpe_deep_compression_bound": text_bpe_deep_compression_bound,
    "text_bpe_encode_ids": text_bpe_encode_ids,
    "text_token_stats": text_token_stats,
    "text_gopher_filters": text_gopher_filters,
    "text_token_stats_bpe": text_token_stats_bpe,
    "text_quality_score": text_quality_score,
    "text_lang_histogram": lang_histogram,
    "text_lang_id_ngram": lang_id_ngram,
    "text_top_terms_per_source": top_terms_per_source,
    "text_tfidf_top_terms": tfidf_top_terms,
    "text_doc_fingerprint": doc_fingerprint,
    "text_rolling_fingerprint": text_rolling_fingerprint,
    "text_fulltext_search": fulltext_search,
    "text_phrase_search": text_phrase_search,
    "text_ranked_search": text_ranked_search,
    "text_unigram_logprob": text_unigram_logprob,
}


def _sqlstr(t: str) -> str:
    """Escape a term for interpolation into a SQL string literal."""
    return t.replace("'", "''")


def _phrase_oracle(phrase: tuple[str, ...]) -> str:
    k = len(phrase)
    cond = " AND ".join(
        f"{TOKENS_SQL}[i+{j}] = '{_sqlstr(t)}'" for j, t in enumerate(phrase)
    )
    return f"""
        SELECT doc_id, source,
               CAST(CASE WHEN len({TOKENS_SQL}) < {k} THEN 0 ELSE
                    len(list_filter(range(1, len({TOKENS_SQL}) - {k - 2}),
                        i -> {cond})) END AS BIGINT) AS n_occurrences
        FROM documents
        WHERE CASE WHEN len({TOKENS_SQL}) < {k} THEN 0 ELSE
              len(list_filter(range(1, len({TOKENS_SQL}) - {k - 2}),
                  i -> {cond})) END > 0"""


def _roll_sql(text_expr: str) -> str:
    """DuckDB twin of ``_roll_expr`` (same codepoints, base, modulus)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(regexp_extract_all({text_expr}, '[\\s\\S]'),"
        " c -> CAST(ascii(c) AS BIGINT))),"
        f" (a, b) -> (a * {ROLL_B} + b) % {ROLL_M})"
    )


def _bm25_oracle(terms: tuple[str, ...], k: int) -> str:
    """DuckDB twin of ``text_ranked_search`` — same fixed-order
    expression tree (see the operator docstring for why order matters)."""
    idx = range(len(terms))
    tf_cols = ",\n            ".join(
        f"len(list_filter({TOKENS_SQL}, t -> t = '{_sqlstr(t)}')) AS tf{i}"
        for i, t in zip(idx, terms)
    )
    df_cols = ",\n            ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
        for i in idx
    )
    dbl = "CAST({} AS DOUBLE)".format
    k1, k1p1, b = dbl(BM25_K1), dbl(BM25_K1 + 1.0), dbl(BM25_B)
    w_terms = [
        f"""CASE WHEN tf{i} > 0 THEN
                ln((n - df{i} + {dbl(0.5)}) / (df{i} + {dbl(0.5)}) + {dbl(1.0)})
                * (CAST(tf{i} AS DOUBLE) * {k1p1})
                / (CAST(tf{i} AS DOUBLE) + {k1} * ({dbl(1.0)} - {b}
                   + {b} * (CAST(dl AS DOUBLE) / avgdl)))
            ELSE {dbl(0.0)} END"""
        for i in idx
    ]
    matched = " + ".join(f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)" for i in idx)
    return f"""
        WITH base AS (
            SELECT doc_id, len({TOKENS_SQL}) AS dl,
            {tf_cols}
            FROM documents),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
            {df_cols}
            FROM base),
        scored AS (
            SELECT doc_id,
                   CAST({matched} AS BIGINT) AS n_terms_matched,
                   round({" + ".join(w_terms)}, 9) AS score
            FROM base CROSS JOIN stats)
        SELECT doc_id, n_terms_matched, score FROM scored
        WHERE score > 0
        ORDER BY score DESC, doc_id ASC LIMIT {k}"""

_TOKCHARS = f"list_sum(list_transform({TOKENS_SQL}, t -> length(t)))"

_GOPHER_MEASURES_SQL = f"""
        SELECT doc_id,
               CAST(len({TOKENS_SQL}) AS BIGINT) AS n_tokens,
               CASE WHEN len({TOKENS_SQL}) = 0 THEN NULL ELSE
                   {_TOKCHARS} / CAST(len({TOKENS_SQL}) AS DOUBLE)
               END AS mean_word_len,
               CASE WHEN len({TOKENS_SQL}) = 0 THEN NULL ELSE
                   len(list_filter({TOKENS_SQL},
                       t -> regexp_matches(t, '[a-z]')))
                   / CAST(len({TOKENS_SQL}) AS DOUBLE)
               END AS alpha_word_ratio,
               CAST(len(list_intersect(list_distinct({TOKENS_SQL}),
                   [{_inlist(STOP_EN)}])) AS BIGINT) AS n_distinct_stopwords
        FROM documents"""

ORACLES: dict[str, str] = {
    "text_bpe_train": _bpe_oracle(),
    "text_bpe_train_batched": _bpe_oracle_batched(),
    "text_bpe_tokenize": _bpe_tokenize_oracle(),
    "text_bpe_tokenize_batched": _bpe_tokenize_batched_oracle(),
    # persisted lifecycle: the build returns the ON-DISK merge table,
    # so the trajectory replay doubles as the artifact's oracle; the
    # persisted tokenizer must equal the in-process batched tokenizer
    "text_bpe_vocab_build": _bpe_oracle_batched(),
    "text_bpe_tokenize_persisted": _bpe_tokenize_batched_oracle(),
    # the trainer-facing id sequences: order-sensitive digest of the
    # exact per-doc token ids under the persisted vocabulary
    "text_bpe_encode_ids": _bpe_encode_ids_oracle(),
    # deep tier: structural invariants (word-type count recomputed
    # independently; coverage/integrity/target booleans pinned TRUE)
    "text_bpe_vocab_build_deep": (
        "SELECT CAST(count(DISTINCT word) AS BIGINT) AS n_word_types,"
        "       TRUE AS vocab_covers_corpus,"
        "       TRUE AS merges_within_target,"
        "       TRUE AS tokstr_wellformed"
        " FROM (SELECT unnest(string_split_regex(lower(text),"
        "                     '[^a-z]+')) AS word FROM documents)"
        " WHERE word != ''"
    ),
    "text_bpe_deep_compression_bound": (
        "SELECT CAST(count(DISTINCT word) AS BIGINT)"
        "         AS n_word_types_compared,"
        "       TRUE AS no_word_tokenizes_worse,"
        "       TRUE AS total_tokens_strictly_fewer"
        " FROM (SELECT unnest(string_split_regex(lower(text),"
        "                     '[^a-z]+')) AS word FROM documents)"
        " WHERE word != ''"
    ),
    "text_gopher_filters": f"""
        WITH m AS ({_GOPHER_MEASURES_SQL})
        SELECT *,
               n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
               AND mean_word_len BETWEEN CAST({GOPHER_WORD_LEN_LO} AS DOUBLE)
                   AND CAST({GOPHER_WORD_LEN_HI} AS DOUBLE)
               AND alpha_word_ratio >= CAST({GOPHER_MIN_ALPHA_RATIO} AS DOUBLE)
               AND n_distinct_stopwords >= {GOPHER_MIN_STOPWORDS} AS keep
        FROM m""",
    "text_token_stats": f"""
        SELECT doc_id, length(text) AS n_chars,
            len({TOKENS_SQL}) AS n_tokens,
            CAST(len(list_distinct({TOKENS_SQL})) AS BIGINT) AS n_distinct_tokens,
            CAST({_TOKCHARS} AS BIGINT) AS n_token_chars,
            CAST({_TOKCHARS} AS BIGINT) / CAST(len({TOKENS_SQL}) AS DOUBLE)
                AS avg_token_len
        FROM documents""",
    "text_token_stats_bpe": f"""
        SELECT doc_id,
               CAST(len({TOKENS_SQL}) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '{BPE_PATTERN.replace("'", "''")}'))
                    AS BIGINT) AS n_bpe_tokens,
               length(text)
                   / CAST(len(regexp_extract_all(text,
                         '{BPE_PATTERN.replace("'", "''")}')) AS DOUBLE)
                   AS chars_per_bpe_token
        FROM documents""",
    "text_quality_score": f"""
        WITH base AS (
            SELECT doc_id, length(text) AS n_chars,
                len({TOKENS_SQL}) AS n_tokens,
                len(list_filter({TOKENS_SQL},
                    t -> t IN ({_inlist(STOP_EN)})))
                    / CAST(len({TOKENS_SQL}) AS DOUBLE) AS stop_ratio,
                (length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')))
                    / CAST(length(text) AS DOUBLE) AS punct_ratio,
                (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
                    / CAST(length(text) AS DOUBLE) AS upper_ratio
            FROM documents)
        SELECT *, stop_ratio * CAST(0.4 AS DOUBLE)
               + least(n_tokens / CAST(200.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                 * CAST(0.4 AS DOUBLE)
               + (CAST(1.0 AS DOUBLE) - punct_ratio) * CAST(0.2 AS DOUBLE)
               AS quality_score
        FROM base""",
    "text_lang_histogram": f"""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               {round2_div_sql("CAST(sum(n_chars) AS DECIMAL(18,2))", "count(*)", scale=2)}
                   AS avg_chars
        FROM documents GROUP BY lang""",
    "text_lang_id_ngram": f"""
        WITH s AS (
            SELECT doc_id, lang AS declared_lang,
                len(list_filter({TOKENS_SQL}, t -> t IN ({_inlist(STOP_EN)}))) AS s_en,
                len(list_filter({TOKENS_SQL}, t -> t IN ({_inlist(STOP_DE)}))) AS s_de,
                len(list_filter({TOKENS_SQL}, t -> t IN ({_inlist(STOP_ES)}))) AS s_es,
                len(list_filter({TOKENS_SQL}, t -> t IN ({_inlist(STOP_FR)}))) AS s_fr,
                length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) AS n_cjk
            FROM documents)
        SELECT doc_id, declared_lang, s_en, s_de, s_es, s_fr, n_cjk,
            CASE WHEN n_cjk > 0 THEN 'zh'
                 WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                 WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                 WHEN s_es >= s_fr THEN 'es'
                 ELSE 'fr' END AS predicted_lang
        FROM s""",
    "text_top_terms_per_source": f"""
        WITH toks AS (
            SELECT source, unnest({TOKENS_SQL}) AS token FROM documents),
        counts AS (
            SELECT source, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        ranked AS (
            SELECT source, token, tf, row_number() OVER (
                PARTITION BY source ORDER BY tf DESC, token ASC) AS rank
            FROM counts)
        SELECT source, token, tf, rank FROM ranked WHERE rank <= 3""",
    "text_tfidf_top_terms": f"""
        WITH toks AS (
            SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
            SELECT doc_id, token, tf, df,
                   round(tf * ln(CAST(n AS DOUBLE) / df), 9) AS tfidf
            FROM tf JOIN df USING (token) CROSS JOIN n),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rank
            FROM scored)
        SELECT doc_id, token, tf, df, tfidf, rank
        FROM ranked WHERE rank <= 3""",
    "text_doc_fingerprint": f"""
        SELECT doc_id,
               md5(array_to_string({TOKENS_SQL}, ' ')) AS fingerprint,
               substring(md5(array_to_string({TOKENS_SQL}, ' ')), 1, 8) AS bucket
        FROM documents""",
    "text_rolling_fingerprint": f"""
        SELECT doc_id,
               {_roll_sql("trim(lower(text))")} AS rolling_hash,
               {_roll_sql(f"substring(trim(lower(text)), 1, {ROLL_PREFIX})")}
                   AS prefix_hash
        FROM documents""",
    "text_fulltext_search": f"""
        SELECT doc_id, source,
               len(list_filter({TOKENS_SQL}, t -> t = 'window')) AS tf
        FROM documents
        WHERE len(list_filter({TOKENS_SQL}, t -> t = 'window')) > 0""",
    "text_phrase_search": _phrase_oracle(PHRASE),
    "text_ranked_search": _bm25_oracle(RANKED_QUERY, RANKED_K),
    "text_unigram_logprob": f"""
        WITH tok AS (
            SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
        tpos AS (
            SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos
            FROM tok),
        tp AS (SELECT doc_id, pos, toks[pos] AS token FROM tpos),
        counts AS (SELECT token, count(*) AS c FROM tp GROUP BY token),
        tot AS (
            SELECT CAST(sum(c) AS BIGINT) AS T,
                   CAST(count(*) AS BIGINT) AS V
            FROM counts),
        scored AS (
            SELECT doc_id, pos,
                   ln(CAST(c + 1 AS DOUBLE) / CAST(T + V AS DOUBLE)) AS logp
            FROM tp JOIN counts USING (token) CROSS JOIN tot),
        agg AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                                    list(logp ORDER BY pos)),
                       (a, b) -> a + b) AS s
            FROM scored GROUP BY doc_id)
        SELECT doc_id, n_tokens, round(-s / n_tokens, 9) AS avg_neg_logprob
        FROM agg""",
}
