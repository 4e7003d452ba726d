"""The one n-gram key: Rabin-Karp window hashes of k consecutive tokens.
Every n-gram key of the dedup family comes from here — MinHash, n-gram
Jaccard and contamination (per row, :func:`window_key_sql`), ExactSubstr
span detection (operators/dedup.duplicate_spans) and MOSS winnowing
(operators/dedup.winnow_fingerprints, both through
:func:`rolling_window_hashes`), and every DuckDB oracle of them
(:func:`window_key_oracle_cte`).

Scheme (all arithmetic exact int64, bit-identical in Spark, DuckDB and
pure Python — every product and sum is proven < 2**63):

    th[j]  = md5-60bit(token_j) mod M          (one md5 per TOKEN, not
                                                per window)
    H0[i]  = th[i] + th[i+1]*B + ... + th[i+k-1]*B**(k-1)   mod M
    H[i]   = B**L * H0[i]                                   mod M

so identical windows at different positions (and in different documents)
collide exactly. Two independent (B, M) pairs run in parallel and pack
into ONE bigint join key:

    win_hash = H1 * 2**22 + H2 div 2**18       (~62 bits of entropy,
                                                comparable to the module's
                                                60-bit md5 contract)

Two evaluators compute the same H[i]:

- per row, :func:`window_key_sql`: B**L * (sum_j th[i+j] * B**j mod M),
  one modmul by a literal power per token of the window and one by
  B**L. It needs no positions and no shuffle, so MinHash, Jaccard and
  contamination key their windows inside each document's row.
- prefix sums, :func:`rolling_window_hashes`, O(1) per position at any k:

    a[j]   = th[j] * B**j            mod M     (modmul via 20-bit split)
    S[i]   = a[0] + ... + a[i]                 (EXACT running sum — each
                                                a[j] < M < 2**41, so up
                                                to 2**22 tokens/doc fit)
    d[i]   = (S[i+k-1] - S[i-1]) mod M  ==  B**i * H0[i] mod M
    H[i]   = d[i] * B**(L-i) mod M      ==  B**L * H0[i] mod M

  — multiplying by the COMPLEMENT power B**(L-i) cancels the position
  factor without a modular inverse. Spans and winnowing (k = 50 and 5 by
  default) use it: at k = 50 the per-row form measured 2.5-5.7x slower.

B**e mod M for the prefix-sum form comes from two small driver-built
broadcast tables, NOT a per-row fold and NOT one row per exponent: with
e = hi * 2**11 + lo,

    lo[lo] = B**lo          mod M   (2**11 rows)
    hi[hi] = B**(hi * 2**11) mod M  ((maxlen >> 11) + 1 rows, <= 2**11 + 1)
    B**e   = modmul(hi[e >> 11], lo[e & (2**11 - 1)], M)

Both factors are < M, so the same 20-bit-split modmul keeps every
product < 2**63. The tables stay a few thousand rows at any maxlen, so
Catalyst's constant folding of them costs nothing per plan build (a
maxlen+1-row table was 65,537 rows at the default maxlen, folded on every
build and re-optimisation). The prefix sum rides ONE per-doc window
(Exchange on doc_id + sort on pos), which winnowing needed anyway for its
argmin window — same partitioning, same order, so the sort is reused and
winnowing gains no extra shuffle.

In the prefix-sum form, documents longer than ``maxlen`` tokens fail fast
with raise_error (a silent miss would silently drop their windows): the
position power is guarded by ``pos < maxlen``; the prefix-sum int64 bound
holds to 2**22 tokens, so maxlen above that is rejected at plan-build
time. The per-row form has no position and no such bound.

The arithmetic (modmul, window difference, pack, the per-row key) and
the 60-bit token key each have ONE spelling as SQL text
(:func:`modmul_sql`, :func:`window_diff_sql`, :func:`pack_sql`,
:func:`window_key_sql`, :func:`h60_sql`), which the Spark side evaluates
through F.expr and the DuckDB oracles embed. :func:`py_window_hashes` is
the pure-Python fuzz twin, written with plain modular products.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# The cross-engine hash CONTRACT: change any of these in every oracle (via
# window_key_oracle_cte), the Spark side, and py_window_hashes together or
# nowhere. M1/M2 prime (Miller-Rabin-verified), < 2**40 so the 20-bit
# split modmul never leaves int64.
ROLL_B1 = 1000003
ROLL_M1 = (1 << 40) - 87        # 1099511627689, prime
ROLL_B2 = 100019
ROLL_M2 = 999999999989          # prime
_SPLIT_BITS = 20                # modmul split: b = b_hi * 2**20 + b_lo
_SPLIT = 1 << _SPLIT_BITS
_PACK_HI = 1 << 22              # win_hash = H1 * 2**22 + H2 // 2**18
_PACK_LO_BITS = 18
DEFAULT_MAXLEN = 1 << 16        # 65536 tokens/doc; hard int64 bound 2**22


def h60(col: Column) -> Column:
    """The ONE portable 60-bit string key, Spark side: the first 15 hex
    chars of md5 as a bigint. The 15-char width is a cross-engine CONTRACT
    shared with :func:`h60_sql` — change both together or neither. Every
    md5-keyed operator (dedup, sketch, this module) calls it."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    """The same 60-bit key as DuckDB SQL text over the string ``expr``:
    every oracle embeds this, never a hand-spelled md5 prefix."""
    return f"('0x' || substr(md5({expr}), 1, 15))::bigint"


def modmul_sql(a: str, b: str, m: int) -> str:
    """(a * b) mod m for 0 <= a, b < m < 2**41 without leaving int64, as
    SQL text Spark (F.expr) and DuckDB evaluate alike: b splits into
    20-bit halves, every intermediate stays < 2**62."""
    return (f"(((({a}) * (({b}) >> {_SPLIT_BITS})) % {m}) * {_SPLIT}"
            f" + ({a}) * (({b}) % {_SPLIT})) % {m}")


def window_diff_sql(end: str, cum: str, first: str, m: int) -> str:
    """(S[i+k-1] - S[i-1]) mod M: the window's position-shifted hash from
    its end prefix sum ``end`` and the start row's sum ``cum`` and term
    ``first`` (S[i-1] = S[i] - a[i])."""
    return f"(({end}) - (({cum}) - ({first}))) % {m}"


def pack_sql(h1: str, h2: str) -> str:
    """win_hash = H1 * 2**22 + H2 div 2**18 — both hash pairs in one
    bigint join key."""
    return f"({h1}) * {_PACK_HI} + (({h2}) >> {_PACK_LO_BITS})"


_LO_BITS = 11                   # B**e = B**(hi * 2**11) * B**lo
_LO_ROWS = 1 << _LO_BITS

# Memo of the CONSTANT power tables per (application, maxlen). This is not
# result caching: the tables are a pure function of the module's fixed
# (B, M) constants and maxlen — independent of any input data — and
# re-creating them per operator call costs a driver pandas->Arrow
# createDataFrame round-trip on every duplicate_spans/winnow_fingerprints
# plan build. Entries of any other application are evicted on insert: a
# process that stops and recreates sessions would otherwise pin every
# dead session's DataFrames.
_POWERS_CACHE: dict[tuple[str, int], tuple[DataFrame, DataFrame]] = {}


def _power_rows(base1: int, base2: int, n: int) -> dict[str, list[int]]:
    """(i, p1, p2) columns for i in [0, n): base1**i mod M1, base2**i mod M2."""
    p1 = [1] * n
    p2 = [1] * n
    for i in range(1, n):
        p1[i] = p1[i - 1] * base1 % ROLL_M1
        p2[i] = p2[i - 1] * base2 % ROLL_M2
    return {"i": list(range(n)), "p1": p1, "p2": p2}


def power_tables(
    spark: SparkSession, maxlen: int
) -> tuple[DataFrame, DataFrame]:
    """(hi, lo) tables of columns (i, p1, p2): hi holds B**(i * 2**11) mod M
    for i in [0, maxlen >> 11], lo holds B**i mod M for i in [0, 2**11).
    Driver-built (a few thousand modmuls) and broadcast; memoized per
    (application, maxlen) because the content is a pure constant."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, maxlen)
    cached = _POWERS_CACHE.get(key)
    if cached is not None:
        return cached
    import pandas as pd

    hi = _power_rows(pow(ROLL_B1, _LO_ROWS, ROLL_M1),
                     pow(ROLL_B2, _LO_ROWS, ROLL_M2),
                     (maxlen >> _LO_BITS) + 1)
    lo = _power_rows(ROLL_B1, ROLL_B2, _LO_ROWS)
    tables = (spark.createDataFrame(pd.DataFrame(hi)),
              spark.createDataFrame(pd.DataFrame(lo)))
    for stale in [k for k in _POWERS_CACHE if k[0] != app_id]:
        del _POWERS_CACHE[stale]
    _POWERS_CACHE[key] = tables
    return tables


def _with_powers(
    df: DataFrame,
    e: Column,
    tables: tuple[DataFrame, DataFrame],
    p1: str,
    p2: str,
) -> DataFrame:
    """``df`` plus B**e mod M per hash pair as columns ``p1``/``p2``: two
    broadcast lookups (map-side) and one modmul each. An exponent past
    the hi table yields NULL (left joins never drop a row)."""
    hi, lo = tables
    return (
        df.withColumn("_e", e)
        .join(F.broadcast(hi.toDF("_hi", "_h1", "_h2")),
              F.shiftright(F.col("_e"), _LO_BITS) == F.col("_hi"), "left")
        .join(F.broadcast(lo.toDF("_lo", "_l1", "_l2")),
              F.col("_e").bitwiseAND(_LO_ROWS - 1) == F.col("_lo"), "left")
        .select(
            *df.columns,
            F.expr(modmul_sql("_h1", "_l1", ROLL_M1)).alias(p1),
            F.expr(modmul_sql("_h2", "_l2", ROLL_M2)).alias(p2),
        )
    )


def shuffle_partitions(spark: SparkSession) -> int:
    """spark.sql.shuffle.partitions as an int. Some platforms set it to a
    non-numeric value ('auto'); those fall back to the default
    parallelism."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def rolling_window_hashes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    maxlen: int = DEFAULT_MAXLEN,
) -> DataFrame:
    """(doc_id, pos, win_hash) for every overlapping k-token window of
    every document — win_hash equal iff (modulo ~2**-62 collisions) the
    window token slices are equal, across positions and documents.

    Plan shape (r6): repartition the DOC rows by doc_id (~6 bytes/token of
    text) BEFORE the posexplode, so the per-doc prefix-sum/lead windows
    find their required hashpartitioning(doc_id) already satisfied and
    only add a local sort — the exploded (doc_id, pos, a1, a2) stream
    (32 bytes/token) never rides an Exchange. Then posexplode -> hi/lo
    broadcast power lookups (map-side) -> local sort -> two Window passes
    -> hi/lo lookups of the complement powers (the same two broadcasts,
    reused). One shuffle total, of the narrowest possible representation
    of the data."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if maxlen > (1 << 22):
        raise ValueError(
            f"maxlen {maxlen} exceeds the int64 prefix-sum bound 2**22"
        )
    spark = df.sparkSession
    tables = power_tables(spark, maxlen)

    # explicit partition count (the session's shuffle knob): a bare
    # repartition(col) is AQE-coalescible and collapses a small corpus to
    # ONE partition, serializing the md5/window work — measured 2.5x
    # slower than the pinned form at sf0.1
    n_part = shuffle_partitions(spark)
    src = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    ).repartition(n_part, F.col("doc_id"))
    tok = src.select(
        "doc_id",
        F.posexplode(F.split(F.col("_t"), " ")).alias("pos", "t"),
    )
    h = tok.select("doc_id", "pos", h60(F.col("t")).alias("h"))
    j = _with_powers(h, F.col("pos"), tables, "pw1", "pw2")
    # fail fast on docs longer than maxlen: a doc of maxlen tokens has max
    # pos maxlen-1, so a doc of exactly maxlen+1 tokens raises — the same
    # boundary py_window_hashes draws. coalesce only evaluates raise_error
    # on the guarded miss.
    pw1 = (
        f"coalesce(case when pos < {maxlen} then pw1 end, "
        f"cast(raise_error('document exceeds rolling-hash maxlen "
        f"{maxlen} tokens') as bigint))"
    )
    base = j.select(
        "doc_id",
        "pos",
        F.expr(modmul_sql(f"h % {ROLL_M1}", pw1, ROLL_M1)).alias("a1"),
        F.expr(modmul_sql(f"h % {ROLL_M2}", "pw2", ROLL_M2)).alias("a2"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    cum = wdoc.rowsBetween(Window.unboundedPreceding, 0)
    sums = base.select(
        "doc_id", "pos", "a1", "a2",
        F.sum("a1").over(cum).alias("s1"),
        F.sum("a2").over(cum).alias("s2"),
    ).select(
        "doc_id", "pos", "a1", "a2", "s1", "s2",
        F.lead("s1", k - 1).over(wdoc).alias("e1"),
        F.lead("s2", k - 1).over(wdoc).alias("e2"),
    )
    hh = sums.where(F.col("e1").isNotNull()).select(
        "doc_id",
        "pos",
        F.expr(window_diff_sql("e1", "s1", "a1", ROLL_M1)).alias("d1"),
        F.expr(window_diff_sql("e2", "s2", "a2", ROLL_M2)).alias("d2"),
    )
    # complement powers pc(pos) = B**(maxlen - pos) mod M; pos < maxlen
    # here, so the exponent is in [1, maxlen] and always found
    return _with_powers(
        hh, F.lit(maxlen) - F.col("pos"), tables, "pc1", "pc2"
    ).select(
        "doc_id",
        "pos",
        F.expr(pack_sql(modmul_sql("d1", "pc1", ROLL_M1),
                        modmul_sql("d2", "pc2", ROLL_M2))).alias("win_hash"),
    )


def window_key_sql(terms: list[str], maxlen: int = DEFAULT_MAXLEN) -> str:
    """The key of ONE window as SQL text over its n token hashes ``terms``
    (h60 values, in window order): per hash pair
    H0 = sum_j th_j * B**j mod M (one modmul by a literal power < M per
    token; the sum of n terms stays below n * 2**40), then
    modmul(H0, B**maxlen), packed. That is the value
    rolling_window_hashes(k=n, maxlen) reaches through prefix sums and
    the complement power, so the two forms are equal by construction.

    modmul_sql spells H0 twice; Spark's subexpression elimination moves
    it into methods of its own, which keeps the per-row code of an
    n-gram key under the JVM's 8,000-byte JIT limit to about n = 26
    (folded into one B**(maxlen + j) literal per token, the 16-gram key
    outgrew it and ran interpreted, 4x slower)."""
    def half(b: int, m: int) -> str:
        h0 = "(" + " + ".join(
            modmul_sql(f"({t}) % {m}", str(pow(b, j, m)), m)
            for j, t in enumerate(terms)
        ) + f") % {m}"
        return modmul_sql(h0, str(pow(b, maxlen, m)), m)

    return pack_sql(half(ROLL_B1, ROLL_M1), half(ROLL_B2, ROLL_M2))


def window_key_oracle_cte(src: str, n: int, maxlen: int = DEFAULT_MAXLEN,
                          name: str = "win") -> str:
    """DuckDB CTE ``name`` (doc_id, pos, win_hash): every n-token window
    of each row of the relation ``src`` (doc_id, text), keyed by
    :func:`window_key_sql` over the row's h60 token array. Docs shorter
    than n tokens (and NULL text) yield none."""
    terms = [f"th[i + {j}]" for j in range(1, n + 1)]
    return f"""{name} as (
        select doc_id, i as pos, {window_key_sql(terms, maxlen)} as win_hash
        from (select doc_id, list_transform(string_split(text, ' '),
                                            t -> {h60_sql("t")}) as th
              from {src}),
             lateral unnest(range(len(th) - {n - 1})) as u(i)
    )"""


def py_window_hashes(
    tokens: list[str], k: int, maxlen: int = DEFAULT_MAXLEN
) -> list[tuple[int, int]]:
    """Pure-Python twin (the fuzz pin): [(pos, win_hash)] for every
    k-token window, bit-identical to rolling_window_hashes."""
    n = len(tokens)
    if n > maxlen:
        raise ValueError("document exceeds rolling-hash maxlen")
    pw1 = [1] * (maxlen + 1)
    pw2 = [1] * (maxlen + 1)
    for e in range(1, maxlen + 1):
        pw1[e] = pw1[e - 1] * ROLL_B1 % ROLL_M1
        pw2[e] = pw2[e - 1] * ROLL_B2 % ROLL_M2

    # plain modular products (Python ints never overflow): the twin checks
    # the engines' 20-bit-split modmul_sql against the arithmetic it stands
    # for, not against a copy of itself
    th = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in tokens]
    a1 = [th[i] % ROLL_M1 * pw1[i] % ROLL_M1 for i in range(n)]
    a2 = [th[i] % ROLL_M2 * pw2[i] % ROLL_M2 for i in range(n)]
    s1 = [0] * n
    s2 = [0] * n
    for i in range(n):
        s1[i] = (s1[i - 1] if i else 0) + a1[i]
        s2[i] = (s2[i - 1] if i else 0) + a2[i]
    out = []
    for i in range(n - k + 1):
        d1 = (s1[i + k - 1] - (s1[i - 1] if i else 0)) % ROLL_M1
        d2 = (s2[i + k - 1] - (s2[i - 1] if i else 0)) % ROLL_M2
        out.append((
            i,
            d1 * pw1[maxlen - i] % ROLL_M1 * _PACK_HI
            + (d2 * pw2[maxlen - i] % ROLL_M2 >> _PACK_LO_BITS),
        ))
    return out
