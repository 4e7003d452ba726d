"""Deduplication operators for web-scale training-data pipelines.

Four families, all shuffle-conscious and all deterministic (hashes derived
from md5, which exists identically in Spark and DuckDB — so every stage is
oracle-checkable; Python's salted ``hash()`` is never used, cf. SURVEY.md
§2.5 H13):

- exact:     sha2-256 content groups → canonical (min id) per group.
- MinHash:   word n-gram window keys → k independent min-hashes (min
             over a seeded integer mix of each key) → banded LSH bucket
             join → candidate pairs. The band join is the classic
             sub-quadratic near-dup path; AQE skew-join handles hot
             buckets.
- SimHash:   per-token md5-derived bit votes → fixed-width signature;
             hamming-adjacent signatures are near-dups.
- n-gram Jaccard: shared-shingle join with document-frequency capping (stop
             shingles dropped) → exact Jaccard on candidates only.

Scale notes (100 TB): every join here is equi-join on a hash/bucket key —
shuffle-partitionable, no cross join anywhere; the DF cap bounds the shared-
shingle join's worst key; signatures are tiny (k bigints) relative to text,
so the wide text column is dropped before any shuffle.

Every md5-derived key is the 60-bit key of functions/rolling (``h60`` here,
``h60_sql`` in the DuckDB oracles), and every n-gram key is rolling's
window key: :func:`doc_shingle_hashes` evaluates ``window_key_sql`` per
row for MinHash, Jaccard and contamination, duplicate_spans and
winnow_fingerprints use ``rolling_window_hashes``, and the oracles use
``window_key_oracle_cte``. The MinHash oracle chain is built once by
:func:`minhash_oracle_ctes`.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rolling import (
    ROLL_M1, h60, modmul_sql, window_key_oracle_cte, window_key_sql)

DEFAULT_SHINGLE_N = 3
DEFAULT_MINHASH_K = 8
DEFAULT_BAND_ROWS = 2
DEFAULT_DF_CAP = 50          # drop shingles present in more docs than this
SIMHASH_BITS = 16


def doc_shingle_hashes(df: DataFrame, id_col: str, text_col: str,
                       n: int = DEFAULT_SHINGLE_N) -> DataFrame:
    """Long (doc_id, sh_hash int64) pairs: the key of every n-token window
    of each document, rolling.window_key_sql evaluated inside the row —
    equal to rolling_window_hashes(k=n)'s win_hash, with no Exchange. A
    window repeated within a document repeats its pair; docs shorter than
    n tokens (and NULL text) yield none.

    The projected (id, text) relation is parallelism-rescued first: a
    single-row-group source otherwise serializes the keying on one core
    (no-op on well-partitioned inputs — see
    partitioning.ensure_min_parallelism). The token hashes are one h60
    per token in a materialized array; a posexplode of its first
    size - n + 1 hashes gives each window's start and first term, and
    the other n - 1 terms index the array. (An arrays_zip of n slices
    generated code too large for the JIT at n = 13: 4x slower.)"""
    from ..partitioning import ensure_min_parallelism

    slim = ensure_min_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    )
    th = slim.select(
        "doc_id", F.transform(F.split(F.col("_t"), " "), h60).alias("_th")
    )
    n_win = F.greatest(F.size("_th") - F.lit(n - 1), F.lit(0))
    wins = th.select("doc_id", "_th", F.posexplode(
        F.slice("_th", 1, n_win)).alias("_i", "_t0"))
    terms = ["_t0"] + [f"_th[_i + {j}]" for j in range(1, n)]
    # never NULL (every term is an in-range h60), but Catalyst cannot see
    # that: a join on a nullable key infers isnotnull(key) and pushes it
    # below this projection as a second copy of the whole key expression
    # (contamination_check ran 5x slower); coalesce makes it non-nullable
    key = F.coalesce(F.expr(window_key_sql(terms)), F.lit(0).cast("long"))
    return wins.select("doc_id", key.alias("sh_hash"))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, canonical_id, group_size): canonical = min id per sha2 group.

    One shuffle on the 64-hex digest; group_size>1 marks duplicates.

    Scale note: the window has no map-side partial aggregation, so a
    mass-duplicated page concentrates its whole group (text included) on
    one reducer. That is inherent to this operator's OUTPUT (a per-row
    canonical/group_size annotation). Pipelines that only need the
    surviving rows should use exact_dedup_survivors below — groupBy
    winners + semi-join, skew-immune.
    """
    h = F.sha2(F.col(text_col), 256).alias("content_hash")
    w = Window.partitionBy("content_hash")
    return (
        df.select(F.col(id_col).alias("doc_id"), h)
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count("*").over(w))
        .select("doc_id", "canonical_id", "group_size")
    )


def minhash_seed_coeffs(k: int) -> list[tuple[int, int]]:
    """The (a, b) of each of the k seeds' mix a * x + b mod ROLL_M1
    (1 <= a < M, 0 <= b < M): plan-time literals, derived from md5 so
    every engine and the Python twin read the same draw."""
    def draw(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest(), 16)

    return [(draw(f"minhash:{s}:a") % (ROLL_M1 - 1) + 1,
             draw(f"minhash:{s}:b") % ROLL_M1) for s in range(k)]


def minhash_mix_sql(key: str, a: str, b: str) -> str:
    """One seed's hash of a window key as SQL text both engines evaluate:
    (a * (key mod M) + b) mod M, M = rolling.ROLL_M1 prime < 2**40 —
    a universal-hash draw per seed from the one key; the modmul keeps
    every product < 2**62."""
    m = ROLL_M1
    return f"({modmul_sql(f'({key}) % {m}', a, m)} + ({b})) % {m}"


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       k: int = DEFAULT_MINHASH_K,
                       n: int = DEFAULT_SHINGLE_N) -> DataFrame:
    """(doc_id, seed, minhash bigint): k independent min-hashes per document.

    h_seed(w) = :func:`minhash_mix_sql` of the window key
    (:func:`doc_shingle_hashes`) with the seed's coefficients; the numeric
    minimum per seed is a valid MinHash. One md5 per token feeds all k
    seeds. Portable across Spark/DuckDB: :func:`minhash_oracle_ctes` is
    the oracle twin.

    The minhash is NUMERIC (bigint), not a hex string, deliberately: min()
    over a string buffer is not eligible for Spark's hash-aggregate fast
    path (ObjectHashAggregate/SortAggregate fallback — the r03 plan showed
    SortAggregate on both sides of the Exchange, sorting every partition by
    doc_id twice). Primitive bigint buffers keep the k min() aggregates in
    HashAggregate with map-side partial aggregation.

    Plan shape: explode(windows) → single groupBy(doc_id) with k min()
    aggregates — one shuffle, HashAggregate both sides.
    """
    keys = doc_shingle_hashes(df, id_col, text_col, n)
    aggs = [
        F.min(F.expr(minhash_mix_sql("sh_hash", str(a), str(b)))).alias(f"mh{seed}")
        for seed, (a, b) in enumerate(minhash_seed_coeffs(k))
    ]
    wide = keys.groupBy("doc_id").agg(*aggs)
    stacked = F.array(
        *[
            F.struct(F.lit(seed).alias("seed"), F.col(f"mh{seed}").alias("minhash"))
            for seed in range(k)
        ]
    )
    return wide.select("doc_id", F.explode(stacked).alias("s")).select(
        "doc_id", "s.seed", "s.minhash"
    )


def minhash_bands(signatures: DataFrame, band_rows: int = DEFAULT_BAND_ROWS) -> DataFrame:
    """(doc_id, band, band_hash): concat `band_rows` consecutive minhashes.
    Docs sharing any (band, band_hash) are LSH candidates.

    minhash is bigint; the band hash md5's the numerically-sorted decimal
    renderings (DuckDB twin: string_agg(mh::varchar, '|' order by mh))."""
    banded = signatures.withColumn(
        "band", (F.col("seed") / F.lit(band_rows)).cast("int")
    )
    return banded.groupBy("doc_id", "band").agg(
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.sort_array(F.collect_list("minhash")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("band_hash")
    )


def minhash_oracle_ctes(src: str, k: int = DEFAULT_MINHASH_K,
                        band_rows: int = DEFAULT_BAND_ROWS,
                        prefix: str = "") -> str:
    """DuckDB twin of :func:`minhash_signatures` + :func:`minhash_bands`
    as a CTE chain over the relation ``src`` (doc_id, text). Exposes
    ``{prefix}win`` (doc_id, pos, win_hash), ``{prefix}sig`` (doc_id,
    seed, mh) and ``{prefix}bands`` (doc_id, band, band_hash); ``prefix``
    keeps two chains in one query apart."""
    seeds = ", ".join(f"({s}, {a}::bigint, {b}::bigint)"
                      for s, (a, b) in enumerate(minhash_seed_coeffs(k)))
    band = f"cast(seed // {band_rows} as int)"
    return f"""{window_key_oracle_cte(src, DEFAULT_SHINGLE_N, name=prefix + "win")},
    {prefix}sig as (
        select doc_id, seed, min({minhash_mix_sql("win_hash", "a", "b")}) as mh
        from {prefix}win cross join (values {seeds}) as s(seed, a, b)
        group by doc_id, seed
    ),
    {prefix}bands as (
        select doc_id, {band} as band,
            md5(string_agg(mh::varchar, '|' order by mh)) as band_hash
        from {prefix}sig group by doc_id, {band}
    )"""


def minhash_star_edges(df: DataFrame, id_col: str, text_col: str,
                       k: int = DEFAULT_MINHASH_K,
                       band_rows: int = DEFAULT_BAND_ROWS,
                       n: int = DEFAULT_SHINGLE_N) -> DataFrame:
    """(doc_a, doc_b) with doc_a = its LSH bucket's MINIMUM doc id,
    doc_a < doc_b, distinct — the STAR form of the band join.

    For keep-the-minimum dedup semantics the full pair clique per bucket is
    redundant: a doc loses iff some bucket contains a lower id, which holds
    iff its bucket's MIN is lower — and connected components over the star
    edges equal components over the clique (every bucket member touches the
    bucket min). So stars produce IDENTICAL losers (one-pass rule) and
    IDENTICAL clusters (transitive rule) to minhash_candidate_pairs.

    Scale shape: the clique join emits O(m^2) rows for an m-doc bucket — a
    mass-templated crawl (30% of pages sharing a band) dies
    combinatorially, and AQE skew-split cannot shrink the OUTPUT. Stars are
    O(m) per bucket: one groupBy(band, band_hash) for the bucket minimum
    (map-side combined), one equi-join back (AQE skew-split handles the hot
    bucket; rows are 16-byte id pairs). Use minhash_candidate_pairs only
    when the pair list itself (with shared_bands counts) is the product.
    """
    bands = minhash_bands(minhash_signatures(df, id_col, text_col, k, n), band_rows)
    mins = bands.groupBy("band", "band_hash").agg(
        F.min("doc_id").alias("doc_a")
    )
    return (
        bands.join(mins, ["band", "band_hash"])
        .where(F.col("doc_id") > F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
        .distinct()
    )


def exact_dedup_survivors(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The rows of `df` whose id is the MINIMUM of their exact-content
    group — exact dedup for pipelines that only need survivors.

    Skew shape: exact_duplicates' window (min over partition by sha2) has
    NO map-side partial aggregation — a mass-duplicated page (one boilerplate
    document = 30% of a crawl) sends 30% of all rows, TEXT INCLUDED, to one
    reducer. Here the winner set is a groupBy over (hash, id) pairs only
    (map-side combine collapses the hot hash to one row per input
    partition; text never shuffles), then a semi-join back on the UNIQUE id
    — a uniformly distributed key regardless of content skew.
    """
    winners = (
        df.select(F.sha2(F.col(text_col), 256).alias("content_hash"),
                  F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, id_col, "semi")


def minhash_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                            k: int = DEFAULT_MINHASH_K,
                            band_rows: int = DEFAULT_BAND_ROWS,
                            n: int = DEFAULT_SHINGLE_N) -> DataFrame:
    """(doc_a, doc_b, shared_bands) for doc_a < doc_b — the LSH bucket join.

    Equi-join on (band, band_hash); AQE skew-join splits hot buckets.
    """
    bands = minhash_bands(minhash_signatures(df, id_col, text_col, k, n), band_rows)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared_bands"))
    )


# ---------------------------------------------------------------- caches
#
# Operators that persist an intermediate (ngram_jaccard_pairs' `rare`,
# duplicate_spans' `windows`, cross_doc_line_dedup's `lines`, and
# plans.curate's survivors) persist it through _register_persist, which
# registers the handle in ONE of two places:
#
# - inside a `with dedup_cache_scope() as scope:` block (thread-local),
#   the handle joins the scope and is unpersisted when the block exits —
#   concurrent driver threads and interleaved sweeps each own their
#   persists and cannot drop each other's (r3/r4 ADVICE, applied r5);
# - otherwise the legacy single-slot module global: each new call
#   unpersists the previous one, so repeated sweeps in a long-lived
#   session never accumulate executor cache; each slot's release_*()
#   frees its last handle. (Unpersist is lazy-safe: a not-yet-consumed
#   plan simply recomputes the stage.)

import threading

_SCOPE_STACK = threading.local()


class DedupCacheScope:
    """Collects the DataFrames persisted by dedup operator calls made
    inside its `with` block; unpersists them all on exit."""

    def __init__(self) -> None:
        self._dfs: list[DataFrame] = []

    def add(self, df: DataFrame) -> None:
        self._dfs.append(df)

    def release(self) -> None:
        # blocking so a scope exit is externally observable at once (the
        # async default races observers of getRDDStorageInfo — seen as a
        # test flake, r6)
        _release(self._dfs, blocking=True)

    def __enter__(self) -> "DedupCacheScope":
        stack = getattr(_SCOPE_STACK, "stack", None)
        if stack is None:
            stack = _SCOPE_STACK.stack = []
        stack.append(self)
        return self

    def __exit__(self, *exc) -> None:
        _SCOPE_STACK.stack.pop()
        self.release()


def dedup_cache_scope() -> DedupCacheScope:
    """Scoped ownership of dedup intermediates' persists — see module
    cache notes. Usage::

        with dedup_cache_scope():
            pairs = ngram_jaccard_pairs(...)
            spans = duplicate_spans(...)
            ...consume both...
        # both intermediates unpersisted here, nobody else's dropped
    """
    return DedupCacheScope()


def _release(slot: list[DataFrame], blocking: bool = False) -> None:
    """Unpersist and forget every handle in ``slot``."""
    while slot:
        try:
            slot.pop().unpersist(blocking=blocking)
        except Exception:  # session already stopped — nothing to release
            pass


def _register_persist(df: DataFrame, legacy_slot: list[DataFrame]) -> DataFrame:
    """Persist ``df`` under the current owner and return the handle.

    The legacy slot is released BEFORE the persist: Spark's CacheManager
    keys entries by plan, so a call repeating the previous call's plan
    finds the old entry already cached (its persist is a no-op), and
    releasing the old handle afterwards would drop the one shared entry
    — the new handle would then never be cached."""
    stack = getattr(_SCOPE_STACK, "stack", None)
    if stack:
        stack[-1].add(df)
    else:
        _release(legacy_slot)
        legacy_slot.append(df)
    return df.persist()


_JACCARD_CACHE: list[DataFrame] = []
_LINE_CACHE: list[DataFrame] = []


def release_line_cache() -> None:
    """Unpersist the intermediate cached by the last cross_doc_line_dedup."""
    _release(_LINE_CACHE)


def release_jaccard_cache() -> None:
    """Unpersist the intermediate cached by the last ngram_jaccard_pairs."""
    _release(_JACCARD_CACHE)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = DEFAULT_SHINGLE_N,
                        threshold: float = 0.5,
                        df_cap: int = DEFAULT_DF_CAP) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with capped-Jaccard >= threshold.

    CAPPED Jaccard via the shared-shingle equi-join:
        J = |A'∩B'| / (|A'| + |B'| − |A'∩B'|)
    where A', B' are the shingle sets AFTER document-frequency capping:
    shingles shared by > df_cap documents are dropped before the join — the
    standard stop-shingle cut that keeps the worst join key bounded at
    corpus scale (extremely common shingles carry no near-dup signal).
    Numerator AND denominator use the same capped universe: mixing uncapped
    set sizes with a capped intersection would bias J downward for
    boilerplate-heavy near-duplicates (stop-shingles inflating only the
    denominator). All joins run on 8-byte window keys
    (:func:`doc_shingle_hashes`), not strings; a window a document
    repeats counts once, since each key's doc list is a set.
    """
    pairs = doc_shingle_hashes(df, id_col, text_col, n)
    # One groupBy collects each rare shingle's (sorted, distinct) doc list;
    # the df-cap bounds the list at df_cap, so the ordered-pair explosion is
    # <= C(df_cap, 2) rows per shingle — bounded worst key by construction,
    # and NO self-join of the shingle relation (the previous equi-join
    # shape recomputed the shingle scan per consumer; measured 2x wall).
    # `rare` is the compact grouped form (one row per surviving shingle);
    # it feeds both the pair explosion and the per-doc sizes, so persist it
    # (at full crawl scale this intermediate checkpoints to storage).
    # Cache lifecycle: see the module cache notes — inside a
    # dedup_cache_scope the handle belongs to the scope; otherwise the
    # legacy single slot (each call releases the previous call's handle,
    # release_jaccard_cache() frees the last).
    rare = _register_persist(
        pairs.groupBy("sh_hash")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .where(F.size("docs") <= df_cap),
        _JACCARD_CACHE,
    )
    sizes = (
        rare.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"))
    )
    ordered_pairs = F.explode(
        F.expr(
            "flatten(transform(docs, (x, i) -> "
            "transform(slice(docs, i + 2, size(docs)), "
            "y -> struct(x as doc_a, y as doc_b))))"
        )
    )
    inter = (
        rare.select(ordered_pairs.alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


DEFAULT_SPAN_K = 50          # tokens per window, à la Lee et al. 2022
DEFAULT_SPAN_DF_CAP = 1000   # drop windows present in more docs than this

# The persisted `windows` intermediate of the latest duplicate_spans call —
# same single-slot lifecycle as _JACCARD_CACHE above: each call releases
# the previous handle, release_span_cache() frees the last one. Persisted
# because the relation feeds BOTH the distinct-doc count and the join-back
# probe side (different Exchange subtrees — ReuseExchange cannot dedup
# them), and its production cost (md5 of every overlapping k-token window)
# is the operator's dominant map work; at full crawl scale this
# intermediate checkpoints to storage instead.
_SPAN_CACHE: list[DataFrame] = []


def release_span_cache() -> None:
    """Unpersist the intermediate cached by the last duplicate_spans."""
    _release(_SPAN_CACHE)


def duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                    k: int = DEFAULT_SPAN_K,
                    min_docs: int = 2,
                    df_cap: int = DEFAULT_SPAN_DF_CAP) -> DataFrame:
    """Cross-document exact-substring detection ("Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2022 — the ExactSubstr
    pass, reformulated relationally): emit, per document, the MAXIMAL token
    ranges covered by at least one k-token window whose exact text also
    appears in >= ``min_docs`` distinct documents.

    Returns (doc_id, span_start, span_len, n_windows) — span_start is the
    0-based token offset, span_len the token length of the merged range,
    n_windows how many duplicated k-windows the range absorbs.

    CALLER CONTRACT: any document longer than rolling.DEFAULT_MAXLEN
    (65,536) tokens fails the whole job fast (raise_error — a silent miss
    would silently drop its windows). Production curation runs over
    uncapped crawls must pre-filter or truncate documents to <= 65,536
    tokens before this stage; the bound is the window key's constant, not
    an option.

    Not a suffix array: the reference algorithm builds a monolithic suffix
    array, which cannot shard. The relational twin hashes every overlapping
    k-token window (Rabin-Karp rolling hash, functions/rolling.py — O(1)
    per position after one md5 per TOKEN, replacing the round-4 O(k)
    md5-per-window; same ~60-bit cross-engine-exact key contract), counts
    distinct docs per window hash, keeps hashes seen in
    [min_docs, df_cap] docs, joins back, and merges overlapping windows per
    doc with a lag/cumsum interval union.

    Scale shape (100 TB): deliberately count-then-join, NOT the
    groupBy-collect shape ngram_jaccard_pairs uses — site boilerplate makes
    some window hashes astronomically hot, and a collect_set on those keys
    is unbounded, while countDistinct partial-aggregates (doc_id, hash)
    pairs map-side and the df_cap filter runs BEFORE the join, so the worst
    surviving join key is df_cap rows by construction. Four shuffles
    (rolling prefix-sum window on doc_id, distinct-count, join, per-doc
    merge window), all on 8-byte keys; the wide text column never
    shuffles, and the hash work the extra shuffle buys back is k-fold.
    """
    from ..functions.rolling import rolling_window_hashes

    # no parallelism rescue here: rolling_window_hashes repartitions the
    # doc rows by doc_id itself (r6) — which both parallelizes single-split
    # sources and pre-satisfies its window partitioning
    slim = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias(text_col)
    )
    windows = _register_persist(
        rolling_window_hashes(slim, "doc_id", text_col, k)
        .withColumnRenamed("pos", "span_start")
        .select("doc_id", "span_start", "win_hash"),
        _SPAN_CACHE,
    )
    dup_hashes = (
        windows.groupBy("win_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where((F.col("n_docs") >= min_docs) & (F.col("n_docs") <= df_cap))
        .select("win_hash")
    )
    occ = windows.join(dup_hashes, "win_hash").select("doc_id", "span_start")
    # interval union per doc: windows cover [start, start+k); a window opens
    # a new run iff it starts beyond the previous covered range (all
    # intervals have equal length, so the running max end is lag(start)+k)
    order_w = Window.partitionBy("doc_id").orderBy("span_start")
    cum_w = order_w.rowsBetween(Window.unboundedPreceding, 0)
    prev_s = F.lag("span_start").over(order_w)
    is_new = F.when(
        prev_s.isNull() | (F.col("span_start") - prev_s > k), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        occ.withColumn("run_id", F.sum(is_new).over(cum_w))
        .groupBy("doc_id", "run_id")
        .agg(
            F.min("span_start").alias("span_start"),
            (F.max("span_start") + F.lit(k) - F.min("span_start")).alias("span_len"),
            F.count("*").alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_len", "n_windows")
    )


def build_dedup_index(df: DataFrame, id_col: str, text_col: str,
                      k: int = DEFAULT_MINHASH_K,
                      band_rows: int = DEFAULT_BAND_ROWS,
                      n: int = DEFAULT_SHINGLE_N) -> tuple[DataFrame, DataFrame]:
    """The persistable dedup index of a corpus: (content_hashes(content_hash),
    bands(band, band_hash)) — what a continuous-ingestion pipeline writes
    after each run so the NEXT delta dedups against everything already
    ingested without rescanning it."""
    hashes = df.select(
        F.sha2(F.col(text_col), 256).alias("content_hash")
    ).distinct()
    bands = (
        minhash_bands(minhash_signatures(df, id_col, text_col, k, n), band_rows)
        .select("band", "band_hash")
        .distinct()
    )
    return hashes, bands


def incremental_dedup(delta: DataFrame, index_hashes: DataFrame,
                      index_bands: DataFrame, id_col: str, text_col: str,
                      k: int = DEFAULT_MINHASH_K,
                      band_rows: int = DEFAULT_BAND_ROWS,
                      n: int = DEFAULT_SHINGLE_N) -> DataFrame:
    """Continuous-ingestion dedup: annotate each NEW document with
    ``drop_reason`` — 'exact' when its content hash is already in the
    index, 'near' when any of its MinHash bands collides with an indexed
    band, NULL otherwise (keep). Exact outranks near.

    Scale shape: the DELTA (a crawl increment — small next to the
    historical index) computes its hashes/bands once; both probes are
    BROADCAST joins with the delta key-set on the build side, so the
    historical index streams map-side and never shuffles — at 10^12
    indexed documents the probe cost is one scan of the index, zero
    Exchange on it. (If a delta ever outgrows the broadcast threshold,
    drop the hints and AQE shuffles both sides on the hash keys.)"""
    d_hash = delta.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.col(text_col), 256).alias("content_hash"),
    )
    exact_hits = (
        index_hashes.join(F.broadcast(d_hash), "content_hash")
        .select("doc_id")
        .distinct()
        .withColumn("_exact", F.lit(True))
    )
    d_bands = minhash_bands(
        minhash_signatures(delta, id_col, text_col, k, n), band_rows
    )
    near_hits = (
        index_bands.join(F.broadcast(d_bands), ["band", "band_hash"])
        .select("doc_id")
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    return (
        delta.withColumnRenamed(id_col, "doc_id")
        .join(F.broadcast(exact_hits), "doc_id", "left")
        .join(F.broadcast(near_hits), "doc_id", "left")
        .withColumn(
            "drop_reason",
            F.when(F.col("_exact"), F.lit("exact"))
            .when(F.col("_near"), F.lit("near"))
            .otherwise(F.lit(None).cast("string")),
        )
        .drop("_exact", "_near")
    )


def remove_duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                           k: int = DEFAULT_SPAN_K,
                           min_docs: int = 2,
                           df_cap: int = DEFAULT_SPAN_DF_CAP) -> DataFrame:
    """The REMOVAL step of ExactSubstr dedup (Lee et al. 2022 cut the
    duplicated byte ranges out of every document; this is the token-range
    twin): returns (doc_id, clean_text, n_tokens_removed) where clean_text
    is the original token stream with every cross-document duplicated span
    (per ``duplicate_spans``) deleted.

    Plan shape: spans collect per doc (bounded: spans are merged maximal
    ranges, not windows), broadcast-eligible left join back to the corpus,
    then the cut is a native filter over the token array inside codegen —
    the text column is touched exactly once, map-side, after the id-only
    span machinery."""
    spans = (
        duplicate_spans(df, id_col, text_col, k, min_docs, df_cap)
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("span_start").alias("s"),
                         (F.col("span_start") + F.col("span_len")).alias("e"))
            ).alias("cut")
        )
    )
    # tokens and the surviving-token filter are materialized as projected
    # attributes: `kept` is O(n_tokens * n_spans) per row and is consumed
    # twice (re-join + size), and an inline split captured by the
    # transform lambda would re-evaluate per element (r6 shingle finding).
    tmp_t, tmp_k = "__dp_cut_toks", "__dp_cut_kept"
    toks = F.col(tmp_t)
    indexed = F.transform(
        toks, lambda t, i: F.struct(t.alias("t"), i.cast("long").alias("i"))
    )
    covered = lambda i: F.exists(  # noqa: E731 — inline predicate
        F.col("cut"), lambda c: (i >= c.s) & (i < c.e)
    )
    kept = F.col(tmp_k)
    return (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias(text_col))
        .join(spans, "doc_id", "left")
        .withColumn(tmp_t, F.split(F.col(text_col), " "))
        .withColumn(
            tmp_k,
            F.when(
                F.col("cut").isNotNull(),
                F.filter(indexed, lambda x: ~covered(x.i)),
            ),
        )
        .select(
            "doc_id",
            F.when(
                F.col("cut").isNull(), F.col(text_col)
            ).otherwise(
                F.array_join(F.transform(kept, lambda x: x.t), " ")
            ).alias("clean_text"),
            F.when(F.col("cut").isNull(), F.lit(0).cast("long")).otherwise(
                (F.size(toks) - F.size(kept)).cast("long")
            ).alias("n_tokens_removed"),
        )
    )


def cross_doc_line_dedup(df: DataFrame, id_col: str, text_col: str,
                         min_count: int = 2) -> DataFrame:
    """RefinedWeb/MassiveText line-wise deduplication (Penedo et al. 2023
    §3.3 / Rae et al. 2021 repetition removal at line granularity): delete
    every line whose exact text occurs >= ``min_count`` times across the
    WHOLE corpus (within-doc repeats included, as in the reference
    pipelines) — the standard kill for per-site boilerplate lines
    (cookie banners, nav footers) that survive document-level dedup
    because their host pages differ.

    Returns (doc_id, clean_text, n_lines_removed); clean_text preserves
    surviving lines in order, a fully-boilerplate document collapses to
    ''. Line identity is exact string equality via the module's 60-bit
    md5 contract (oracle-portable); all lines participate, including
    empty ones. NULL text is treated as '' (one empty line), so every
    input doc gets an output row.

    Scale shape: posexplode lines -> groupBy(line_hash) count with
    map-side combine (the hot-line relation is DISTINCT hashes, so the
    join back is 1:N with no row explosion; a line in a million docs
    joins a million rows against ONE build row) -> left_anti -> per-doc
    reassembly window-free via groupBy + array_sort. Two Exchanges on
    8-byte keys plus the doc_id reassembly; the line text rides the
    reassembly shuffle only (it must — it IS the output).

    The exploded line relation feeds THREE consumers (the hot-count
    build side, the anti-join probe side, and the per-doc line totals),
    so it is persisted like duplicate_spans' windows — without it each
    consumer replays the line split + md5 over the whole corpus
    (measured 44s -> 28s at sf10). Same cache-scope lifecycle as the
    other dedup persists; at full crawl scale this intermediate
    checkpoints to storage instead."""
    # NULL text reads as '' so the doc keeps its one empty-line row:
    # split(NULL) would explode to zero rows and drop the doc silently
    lines = _register_persist(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
            ).alias("pos", "line"),
        ).withColumn("lh", h60(F.col("line"))),
        _LINE_CACHE,
    )
    hot = (
        lines.groupBy("lh")
        .agg(F.count("*").alias("n_occ"))
        .where(F.col("n_occ") >= min_count)
        .select("lh")
    )
    kept = lines.join(hot, "lh", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").alias("_n_kept"),
    )
    # every doc emits >= 1 line row (split of "" is [""], and NULL text
    # is coalesced to ""), so the per-doc line total IS the per-doc row
    # count of the persisted relation — no third pass over the corpus text
    totals = lines.groupBy("doc_id").agg(
        F.count("*").alias("_n_total")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("_n_total") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long").alias("n_lines_removed"),
        )
    )


def simhash_col(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """Portable SimHash: bit j's vote per token = +1 if the first hex char of
    md5(j || ':' || token) is in 0-7, else −1; bit set iff the sum > 0.

    Uses only md5/substr/CASE so Spark and DuckDB agree exactly. The
    signature packs into a BIGINT.
    """
    toks = F.split(text, " ")

    def _vote_fn(j: int):
        def _fn(acc, t):
            return acc + F.when(
                F.substring(F.md5(F.concat(F.lit(f"{j}:"), t)), 1, 1).isin(
                    *"01234567"
                ),
                F.lit(1),
            ).otherwise(F.lit(-1))

        return _fn

    bit_terms = []
    for j in range(bits):
        vote = F.aggregate(toks, F.lit(0), _vote_fn(j))
        bit_terms.append(F.when(vote > 0, F.lit(2 ** j)).otherwise(F.lit(0)))
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out.cast("bigint")


def simhash_table(df: DataFrame, id_col: str, text_col: str,
                  bits: int = SIMHASH_BITS) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"), simhash_col(F.col(text_col), bits).alias("simhash")
    )


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 5, w: int = 4) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003, the MOSS scheme):
    per document, hash every overlapping k-token window, slide a w-window
    over the hash sequence, and select each w-window's minimum — the
    classic guarantee that any shared run of >= w+k-1 tokens between two
    documents shares at least one fingerprint, with ~2/(w+1) of positions
    selected. Tie rule: LEFTMOST minimum (deterministic, engine-portable)
    — Schleimer et al.'s robust winnowing specifies RIGHTMOST, so on tied
    minima (a k-gram repeated within w positions) fp_pos differs from a
    to-the-letter MOSS implementation while fp_hash — what cross-document
    matching uses — is identical; the shared-run guarantee holds under
    either rule.

    Returns distinct (doc_id, fp_pos, fp_hash).

    Relational formulation: window hashes come from the shared Rabin-Karp
    rolling-hash stage (functions/rolling.py — O(1) per position, one md5
    per token, ~62-bit packed key; round-5 replacement for the O(k)
    md5-per-window); the per-window argmin rides a single window function
    over a sort key that IS the (hash, pos) order — the sub-2**63 hash
    zero-padded to 19 digits concatenated with the zero-padded position,
    so lexicographic min == numeric (hash, pos) min in both engines. The
    rolling prefix-sum window and the argmin window share the SAME
    partitioning (doc_id) and sort (pos), so the plan still carries ONE
    Exchange; distinct collapses the repeated selections map-side first.
    """
    from ..functions.rolling import rolling_window_hashes

    # no parallelism rescue: rolling_window_hashes repartitions by doc_id
    # itself (r6), pre-satisfying the argmin window's partitioning too
    slim = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias(text_col)
    )
    hashes = (rolling_window_hashes(slim, "doc_id", text_col, k)
              .withColumnRenamed("win_hash", "h"))
    key = F.concat(
        F.lpad(F.col("h").cast("string"), 19, "0"),
        F.lit(":"),
        F.lpad(F.col("pos").cast("string"), 10, "0"),
    )
    over = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    n_in_win = F.count("*").over(over)
    sel = F.min(key).over(over)
    return (
        hashes.select(
            "doc_id", n_in_win.alias("_n"), sel.alias("_sel")
        )
        .where(F.col("_n") == w)  # full windows only (classic winnowing)
        .select(
            "doc_id",
            F.substring(F.col("_sel"), 21, 10).cast("long").alias("fp_pos"),
            F.substring(F.col("_sel"), 1, 19).cast("long").alias("fp_hash"),
        )
        .distinct()
    )


# --------------------------------------------------------- bloom pre-filter

def bloom_bit_positions(hash_col: Column, m_bits: int,
                        n_hashes: int) -> Column:
    """The ``n_hashes`` Bloom bit positions of a hex content hash:
    position_j = h60(hash || '#' || j) % m_bits. Built on the module's
    portable 60-bit md5-prefix key, so a DuckDB oracle reproduces every
    position bit-for-bit; m_bits nonneg-mod of a nonneg 60-bit int needs
    no pmod on either engine."""
    return F.array(*[
        (h60(F.concat_ws("#", hash_col, F.lit(str(j)))) % m_bits)
        .cast("int")
        for j in range(n_hashes)
    ])


def bloom_prefilter_dedup(delta: DataFrame, index_hashes: DataFrame,
                          id_col: str, text_col: str,
                          m_bits: int = 1 << 20,
                          n_hashes: int = 4) -> DataFrame:
    """Bloom pre-filter in front of continuous-ingestion EXACT dedup — the
    classic crawl membership filter (Heritrix's already-seen set, Bloom
    1970): the historical index is summarized as the DISTINCT set-bit
    relation of a Bloom filter over its content hashes, and only delta
    documents whose ``n_hashes`` probe positions are ALL set ("bloom
    candidates") pay the full-index confirmation join. Everything else is
    definitely new by Bloom's no-false-negative guarantee.

    Returns (doc_id, bloom_candidate, drop_reason): drop_reason 'exact'
    for confirmed duplicates, NULL for keeps. bloom_candidate=1 with NULL
    drop_reason is a measured false positive — the operator's output makes
    the filter's FP rate directly observable.

    Scale shape (100 TB): the set-bit relation is ONE pass over the index
    (explode n_hashes positions -> distinct, <= m_bits rows = m_bits/8
    bytes of effective state however large the index grows) and is
    broadcast to the delta probe, so the probe is map-side with zero
    Exchange on the delta; only the candidate sliver (true dups + the
    m/n-tunable FP rate) reaches the exact-confirm join, whose candidate
    hash set is broadcast so the 10^12-row historical index streams
    without shuffling. Complements ``incremental_dedup`` (which broadcasts
    the whole delta key-set): the Bloom summary stays small even when the
    DELTA outgrows the broadcast threshold.

    Sizing assumptions (r5 advice): the CANDIDATE relations broadcast in
    the confirm step scale with |delta| x (dup rate + FP rate) — a
    high-duplication recrawl increment makes them O(|delta|), so the
    operator assumes the candidate sliver is small relative to executor
    memory; drop the broadcast hints (let AQE decide) when it is not.
    And the row-per-set-bit spelling stops broadcasting past m ~ 10^9
    bits (m ≈ 10·n_index for ~1% FP): at 10^12-doc index scale use a
    packed bloom_filter_agg/might_contain variant with this relation kept
    as the oracle twin."""
    set_bits = index_hashes.select(
        F.explode(
            bloom_bit_positions(F.col("content_hash"), m_bits, n_hashes)
        ).alias("bit_pos")
    ).distinct()
    d = delta.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.col(text_col), 256).alias("content_hash"),
    )
    probes = d.select(
        "doc_id",
        F.explode(
            bloom_bit_positions(F.col("content_hash"), m_bits, n_hashes)
        ).alias("bit_pos"),
    )
    cand = (
        probes.join(F.broadcast(set_bits), "bit_pos")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_set"))
        .where(F.col("n_set") == n_hashes)
        .select("doc_id")
    )
    confirmed = (
        index_hashes.join(
            F.broadcast(
                d.join(F.broadcast(cand), "doc_id")
                .select("content_hash")
                .distinct()
            ),
            "content_hash",
        )
        .select("content_hash")
        .distinct()
    )
    return (
        d.join(
            F.broadcast(cand.withColumn("_cand", F.lit(True))),
            "doc_id", "left",
        )
        .join(
            F.broadcast(confirmed.withColumn("_dup", F.lit(True))),
            "content_hash", "left",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("_cand"), F.lit(False))
            .cast("int").alias("bloom_candidate"),
            F.when(F.col("_dup"), F.lit("exact"))
            .otherwise(F.lit(None).cast("string"))
            .alias("drop_reason"),
        )
    )
