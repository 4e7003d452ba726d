"""Text-analysis operators for training-data pipelines over a documents
table: token counting, language-ID heuristic, quality scoring, and document
fingerprinting.

All expressions are native ``pyspark.sql.functions`` (JVM-side, codegen'd —
no Python in the hot path) and are defined with exact DuckDB-SQL oracle
equivalents in ``__spark_entry__.py``. Functions deliberately use only
dialect-portable primitives (split on a literal, length, md5, list filter)
so the oracle comparison is byte-stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal deterministic stopword inventories for the language-ID heuristic.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that",
)
DE_STOPWORDS = (
    "der", "die", "das", "und", "oder", "von", "zu", "im", "ist", "es",
    "für", "auf", "mit", "als", "bei", "dies", "ein", "eine",
)
FR_STOPWORDS = (
    "le", "la", "les", "et", "ou", "de", "à", "dans", "est", "il",
    "pour", "sur", "avec", "comme", "par", "ce", "un", "une",
)


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization. `split` on a single space matches DuckDB's
    string_split for the space-joined corpora used here."""
    return F.split(text, " ")


def _stopword_hits(tokens: Column, stopwords: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*stopwords)))


def lang_id_col(text: Column) -> Column:
    """Argmax of stopword hit-counts over en/de/fr inventories; 'und'
    (undetermined) when no list scores a hit. Deterministic tie-break:
    en > de > fr (fixed comparison order)."""
    return _lang_id_from_tokens(tokens_col(text))


def quality_score_col(text: Column) -> Column:
    """Deterministic [0,1] quality score: mix of alphabetic-character ratio
    and stopword ratio (training-data pipelines drop low scorers). Rounded to
    6 dp so float comparison with the oracle is exact."""
    return _quality_from_tokens(text, tokens_col(text))


def fingerprint_col(text: Column) -> Column:
    """Content fingerprint: md5 of the whitespace-normalized lowercase text.
    (The rolling-hash variant lives in dedup.simhash_col.)"""
    normalized = F.lower(F.regexp_replace(text, "\\s+", " "))
    return F.md5(normalized)


def _lang_id_from_tokens(toks: Column) -> Column:
    """lang_id_col over a pre-split token array column."""
    en = _stopword_hits(toks, EN_STOPWORDS)
    de = _stopword_hits(toks, DE_STOPWORDS)
    fr = _stopword_hits(toks, FR_STOPWORDS)
    return (
        F.when((en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de > 0), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )


def _quality_from_tokens(text: Column, toks: Column) -> Column:
    """quality_score_col with the token split taken from a column."""
    n_tok = F.size(toks).cast("double")
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    total = F.greatest(F.length(text).cast("double"), F.lit(1.0))
    stop_ratio = _stopword_hits(toks, EN_STOPWORDS).cast("double") / F.greatest(
        n_tok, F.lit(1.0)
    )
    return F.round(0.5 * (alpha / total) + 0.5 * stop_ratio, 6)


def document_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach all text-stat columns in one codegen'd projection.

    The token split is materialized once as its own projection: the five
    stopword/size consumers would otherwise each re-split the text (HOF
    arguments are not covered by codegen subexpression elimination)."""
    t = F.col(text_col)
    tmp = "__dp_stats_toks"
    if tmp in df.columns:
        raise ValueError(f"input already has a column named {tmp}")
    tk = F.col(tmp)
    return (
        df.withColumn(tmp, tokens_col(t))
        .withColumn("token_count", F.size(tk))
        .withColumn("lang_id", _lang_id_from_tokens(tk))
        .withColumn("quality_score", _quality_from_tokens(t, tk))
        .withColumn("fingerprint", fingerprint_col(t))
        .drop(tmp)
    )


def _bigrams_col(toks: Column) -> Column:
    """Adjacent word pairs as 'w_i w_{i+1}' strings; empty array below 2
    tokens (guarding F.sequence, which yields DESCENDING for (1, 0))."""
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", toks[i], toks[i + 1]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _repetition_from_bigrams(bigrams: Column) -> dict[str, Column]:
    """The repetition signals over a bigram-array column (pass a
    materialized attribute on hot paths — see repetition_stats)."""
    n = F.size(bigrams)
    sorted_bg = F.array_sort(bigrams)
    top_count = F.aggregate(
        sorted_bg,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    guard = n >= 1
    return {
        "n_bigrams": F.when(guard, n).cast("int"),
        "top_bigram_frac": F.when(
            guard, F.round(top_count.cast("double") / n, 6)
        ),
        "dup_bigram_frac": F.when(
            guard,
            F.round(
                (n - F.size(F.array_distinct(bigrams))).cast("double") / n, 6
            ),
        ),
    }


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the repetition-signal columns in one codegen'd projection.

    Tokens and bigrams are materialized as intermediate projections so the
    three output columns share ONE bigram build (each otherwise replays
    the transform chain, with the split re-evaluated per bigram inside the
    lambda — the r6 shingle finding)."""
    tmp_t, tmp_b = "__dp_rep_toks", "__dp_rep_bigrams"
    for tmp in (tmp_t, tmp_b):
        if tmp in df.columns:
            raise ValueError(f"input already has a column named {tmp}")
    return (
        df.withColumn(tmp_t, tokens_col(F.col(text_col)))
        .withColumn(tmp_b, _bigrams_col(F.col(tmp_t)))
        .withColumns(_repetition_from_bigrams(F.col(tmp_b)))
        .drop(tmp_t, tmp_b)
    )


# GPT-2-ish pretokenizer shape, restricted to dialect-portable RE2/Java
# constructs (letter runs | digit runs | single non-alnum-non-space): the
# "BPE-ish regex" token counter for budget estimation over a corpus.
# Derived from tokenize.SUBTOKEN_RE (the per-word variant) by excluding the
# space separator from the catch-all class, so the two BPE-ish patterns
# change in lockstep.
from .tokenize import SUBTOKEN_RE as _SUBTOKEN_RE

BPE_TOKEN_PATTERN = _SUBTOKEN_RE.replace("[^A-Za-z0-9]", "[^A-Za-z0-9 ]")
assert BPE_TOKEN_PATTERN != _SUBTOKEN_RE  # the derivation must keep biting


def subword_count_col(text: Column) -> Column:
    """Count of BPE-ish pretokens — native regexp_count, codegen'd."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN))


# ---------------------------------------------------------------------------
# C4-style line-level cleaning (Raffel et al. 2020, the public C4 recipe):
# keep only lines that end in terminal punctuation AND have >= 5 words;
# drop whole documents containing code braces or the "lorem ipsum"
# placeholder, or retaining < 3 lines after the line filter. Everything is
# native higher-order functions (filter/transform/size over the split
# array) — scan → project, zero shuffle, zero Python, same 100 TB shape as
# the Gopher repetition filters above.
# ---------------------------------------------------------------------------

C4_MIN_WORDS_PER_LINE = 5
C4_MIN_LINES_PER_DOC = 3
C4_TERMINAL_PUNCT = (".", "!", "?", '"')


def c4_kept_lines_col(text: Column) -> Column:
    """array<string> of the lines surviving the C4 line filter."""
    lines = F.split(text, "\n")
    def keep(line: Column) -> Column:
        trimmed = F.trim(line)
        terminal = F.substring(trimmed, -1, 1)
        # words_col (empty tokens dropped) is decision-equivalent to the
        # oracle's unfiltered split here: post-trim, the only divergent
        # input is the empty line (0 vs 1 "words"), and both are < the
        # 5-word minimum
        return (
            terminal.isin(*C4_TERMINAL_PUNCT)
            & (F.size(words_col(trimmed)) >= C4_MIN_WORDS_PER_LINE)
        )
    return F.filter(lines, keep)


def c4_clean(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the C4 line-filter outputs: ``text_clean`` (kept lines
    re-joined), ``n_lines_kept``, and the document-level ``c4_keep`` flag
    (no code braces, no lorem-ipsum placeholder, >= 3 surviving lines).

    NULL text is treated as empty (keep=False, 0 lines, empty clean text)
    — a NULL flag would make such rows vanish from BOTH the keep-side and
    the reject-side filter, so kept + rejected would no longer partition
    the input."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    # the kept-lines filter is the expensive expression (per-line word
    # split inside the lambda): materialize it once, consume it thrice
    tmp = "__dp_c4_kept"
    if tmp in df.columns:
        raise ValueError(f"input already has a column named {tmp}")
    kept = F.col(tmp)
    return (
        df.withColumn(tmp, c4_kept_lines_col(text))
        .select(
            "*",
            F.array_join(kept, "\n").alias("text_clean"),
            F.size(kept).alias("n_lines_kept"),
            (
                ~F.contains(text, F.lit("{"))
                & ~F.contains(F.lower(text), F.lit("lorem ipsum"))
                & (F.size(kept) >= C4_MIN_LINES_PER_DOC)
            ).alias("c4_keep"),
        )
        .drop(tmp)
    )


def words_col(text: Column) -> Column:
    """Whitespace-run tokenization with empty tokens dropped — the shared
    word splitter for operators that must agree on word counts across
    multi-space text (tfidf_top_terms, the C4 line rule)."""
    return F.filter(F.split(text, " +"), lambda t: t != "")


# ---------------------------------------------------------------------------
# TF-IDF-style top terms per document — the keyword/topic profile stage of
# a curation pipeline (domain tagging, topic balancing). The idf is the
# SMOOTHED LINEAR form (N+1)/(df+1) rather than its logarithm — libm ln()
# is not ulp-pinned between the JVM and C — and the RANKING KEY is the
# exact integer microscore
#
#     score_micro = round_half_up(tf * (N+1) * 1e6 / (df+1))
#                 = (2*tf*(N+1)*1e6 + (df+1)) div (2*(df+1))
#
# computed with integer arithmetic on BOTH engines: round(double, 6) would
# reintroduce the half-boundary divergence (Spark rounds the shortest
# decimal repr half-up, DuckDB the raw binary — the tpch_q10 bug class;
# tf*(N+1)/(df+1) can sit exactly on a 6-dp half). Overflow bound:
# 2e6 * tf * (N+1) must stay under 2^63 → tf*N < 4.6e12, far past any
# contract scale (Spark long wraps silently on overflow, so the bound is
# documented rather than discovered).
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """(doc_id, term, tf, score, rank) for each document's top-k terms,
    rank deterministic via (score_micro desc, term asc) — integers, so no
    float boundary exists anywhere in the ordering. ``score`` is
    score_micro / 1e6 (same division of the same integer on both engines).

    Lazy: N is an aggregate broadcast-joined into the plan, not a
    driver-side count, so composing this after expensive upstream
    transforms does not execute them twice. Two shuffles: the
    document-frequency aggregate on term and the per-document top-k
    window (AQE skew-join backstops stopword-heavy corpora)."""
    from pyspark.sql.window import Window

    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    terms = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words_col(F.col(text_col))).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(doc_freq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.expr(
                "(2 * tf * (n_docs + 1) * 1000000 + (df + 1))"
                " div (2 * (df + 1))"
            ).alias("score_micro"),
        )
        .select(
            "doc_id",
            "term",
            "tf",
            "score_micro",
            (F.col("score_micro") / F.lit(1_000_000.0)).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .drop("score_micro")
    )


def unigram_surprisal_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10,
) -> DataFrame:
    """CCNet-style language-model quality bucketing (Wenzek et al. 2020
    score documents by LM perplexity and keep/weight by quantile bucket),
    rebuilt on an EXACT-INTEGER unigram surprisal so the ranking has no
    float boundary anywhere (the tfidf_top_terms discipline — libm ln is
    not ulp-pinned across engines):

        surprisal(token) = length(bin(total_tokens div count(token)))
                         = floor(log2(total/count)) + 1      (exact int)
        surprisal_micro(doc) = (sum(surprisal) * 1e6) div n_tokens

    Returns (doc_id, n_tokens, surprisal_micro, quality_bucket) where
    bucket 1 holds the most common-language-like documents (lowest mean
    surprisal) and n_buckets the most out-of-model ones — the two tails
    are what a CCNet-style curation drops or down-weights.

    Plan shape: token-count aggregate (one shuffle, map-side combined),
    scalar total broadcast lazily (never a driver count), per-doc join on
    token + per-doc aggregate (shuffles on token then doc_id), and bucket
    boundaries as ONE exact-percentile scalar row broadcast into a
    map-side fold — no global sort / single-partition window anywhere.
    At petabyte scale swap the exact percentile for approx_percentile;
    the assignment fold is unchanged.
    """
    from ..partitioning import ensure_min_parallelism

    toks = ensure_min_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    ).select("doc_id", F.explode(tokens_col(F.col("_t"))).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("bigint").alias("total_tokens"))
    surprisal = counts.crossJoin(F.broadcast(total)).select(
        "token",
        F.length(F.bin(F.expr("total_tokens div cnt"))).cast("long").alias("s"),
    )
    per_doc = (
        toks.join(surprisal, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.expr("(sum(s) * 1000000) div count(*)").alias("surprisal_micro"),
        )
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = per_doc.agg(
        F.percentile("surprisal_micro", F.array(*[F.lit(q) for q in qs])).alias("bs")
    )
    return (
        per_doc.crossJoin(F.broadcast(bounds))
        .select(
            "doc_id",
            "n_tokens",
            "surprisal_micro",
            (
                F.lit(1)
                + F.aggregate(
                    "bs",
                    F.lit(0),
                    lambda acc, b: acc
                    + F.when(F.col("surprisal_micro") > b, F.lit(1)).otherwise(
                        F.lit(0)
                    ),
                )
            ).cast("int").alias("quality_bucket"),
        )
    )
