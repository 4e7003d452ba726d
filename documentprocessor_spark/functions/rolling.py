"""Rabin-Karp rolling window hashes — O(1) per position instead of the
O(k) md5-of-joined-slice, shared by ExactSubstr span detection
(operators/dedup.duplicate_spans) and MOSS winnowing
(operators/dedup.winnow_fingerprints).

Scheme (all arithmetic exact int64, bit-identical in Spark, DuckDB and
pure Python — every product and sum is proven < 2**63):

    th[j]  = md5-60bit(token_j) mod M          (one md5 per TOKEN, not
                                                per window — the whole
                                                O(n*k) -> O(n) win)
    a[j]   = th[j] * B**j            mod M     (modmul via 20-bit split)
    S[i]   = a[0] + ... + a[i]                 (EXACT running sum — each
                                                a[j] < M < 2**41, so up
                                                to 2**22 tokens/doc fit)
    d[i]   = (S[i+k-1] - S[i-1]) mod M  ==  B**i * H0[i] mod M
    H[i]   = d[i] * B**(L-i) mod M      ==  B**L * H0[i] mod M

where H0[i] is the canonical polynomial hash of window i — multiplying by
the COMPLEMENT power B**(L-i) cancels the position factor without needing
a modular inverse, so identical windows at different positions (and in
different documents) collide exactly. Two independent (B, M) pairs run in
parallel and pack into ONE bigint join key:

    win_hash = H1 * 2**22 + H2 div 2**18       (~62 bits of entropy,
                                                comparable to the module's
                                                60-bit md5 contract)

B**e mod M comes from two small driver-built broadcast tables, NOT a
per-row fold and NOT one row per exponent: with e = hi * 2**11 + lo,

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

Documents longer than ``maxlen`` tokens fail fast with raise_error (a
silent miss would silently drop their windows): the position power is
guarded by ``pos < maxlen``; the prefix-sum int64 bound holds to 2**22
tokens, so maxlen above that is rejected at plan-build time.

The DuckDB oracle twin is generated by :func:`rolling_oracle_ctes` (the
powers table becomes a recursive CTE), and :func:`py_window_hashes` is
the pure-Python fuzz twin.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# The cross-engine hash CONTRACT: change any of these in every oracle (via
# rolling_oracle_ctes), the Spark side, and py_window_hashes together or
# nowhere. M1/M2 prime (Miller-Rabin-verified), < 2**40 so the 20-bit
# split modmul never leaves int64; B*M < 2**63 so the recursive powers
# CTE never overflows.
ROLL_B1 = 1000003
ROLL_M1 = (1 << 40) - 87        # 1099511627689, prime
ROLL_B2 = 100019
ROLL_M2 = 999999999989          # prime
_SPLIT = 1 << 20                # modmul split: b = b_hi * 2**20 + b_lo
_PACK_HI = 1 << 22              # win_hash = H1 * 2**22 + H2 // 2**18
_PACK_LO = 1 << 18
DEFAULT_MAXLEN = 1 << 16        # 65536 tokens/doc; hard int64 bound 2**22


def _modmul(a: Column, b: Column, m: int) -> Column:
    """(a * b) mod m for a, b < m < 2**41 without leaving int64:
    split b into 20-bit halves; every intermediate < 2**62."""
    b_hi = (b / F.lit(_SPLIT)).cast("long")   # exact: b >= 0
    return ((a * b_hi) % m * _SPLIT + a * (b % _SPLIT)) % m


def _h60(col: Column) -> Column:
    # the same 15-hex-chars-of-md5 contract as operators/dedup._h60
    # (duplicated literally rather than imported: functions/ must not
    # depend on operators/)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


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
            _modmul(F.col("_h1"), F.col("_l1"), ROLL_M1).alias(p1),
            _modmul(F.col("_h2"), F.col("_l2"), ROLL_M2).alias(p2),
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
    h = tok.select("doc_id", "pos", _h60(F.col("t")).alias("h"))
    j = _with_powers(h, F.col("pos"), tables, "pw1", "pw2")
    # fail fast on docs longer than maxlen: a doc of maxlen tokens has max
    # pos maxlen-1, so a doc of exactly maxlen+1 tokens raises — the same
    # boundary py_window_hashes draws. coalesce only evaluates raise_error
    # on the guarded miss.
    pw1 = F.coalesce(
        F.when(F.col("pos") < maxlen, F.col("pw1")),
        F.expr(
            f"cast(raise_error('document exceeds rolling-hash maxlen "
            f"{maxlen} tokens') as bigint)"
        ),
    )
    base = j.select(
        "doc_id",
        "pos",
        _modmul(F.col("h") % ROLL_M1, pw1, ROLL_M1).alias("a1"),
        _modmul(F.col("h") % ROLL_M2, F.col("pw2"), ROLL_M2).alias("a2"),
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
        ((F.col("e1") - (F.col("s1") - F.col("a1"))) % ROLL_M1).alias("d1"),
        ((F.col("e2") - (F.col("s2") - F.col("a2"))) % ROLL_M2).alias("d2"),
    )
    # complement powers pc(pos) = B**(maxlen - pos) mod M; pos < maxlen
    # here, so the exponent is in [1, maxlen] and always found
    return _with_powers(
        hh, F.lit(maxlen) - F.col("pos"), tables, "pc1", "pc2"
    ).select(
        "doc_id",
        "pos",
        (
            _modmul(F.col("d1"), F.col("pc1"), ROLL_M1) * _PACK_HI
            + (_modmul(F.col("d2"), F.col("pc2"), ROLL_M2) / F.lit(_PACK_LO))
            .cast("long")
        ).alias("win_hash"),
    )


def rolling_oracle_ctes(
    k: int,
    maxlen: int,
    docs_cte: str = "docs_src",
    out_cte: str = "roll_win",
) -> str:
    """The DuckDB twin as a CTE chain — paste after a CTE named
    ``docs_cte`` with columns (doc_id, text); exposes ``out_cte``
    (doc_id, pos, win_hash). Arithmetic is the literal mirror of
    rolling_window_hashes (same constants, same 20-bit split modmul,
    same exact-int64 prefix sums)."""
    b1, m1, b2, m2, sp = ROLL_B1, ROLL_M1, ROLL_B2, ROLL_M2, _SPLIT
    return f"""
    roll_p(e, pw1, pw2) as (
        select 0, 1::bigint, 1::bigint
        union all
        select e + 1, (pw1 * {b1}) % {m1}, (pw2 * {b2}) % {m2}
        from roll_p where e < {maxlen}
    ),
    roll_tok as (
        select doc_id, i as pos, toks[i + 1] as t
        from (select doc_id, string_split(text, ' ') as toks
              from {docs_cte}),
             lateral unnest(range(len(toks))) u(i)
    ),
    roll_th as (
        select doc_id, pos,
            ('0x' || substr(md5(t), 1, 15))::bigint as h
        from roll_tok
    ),
    roll_base as (
        select doc_id, pos,
            ((h % {m1}) * (pw1 // {sp})) % {m1} * {sp}
                + (h % {m1}) * (pw1 % {sp}) as _r1,
            ((h % {m2}) * (pw2 // {sp})) % {m2} * {sp}
                + (h % {m2}) * (pw2 % {sp}) as _r2
        from roll_th join roll_p on roll_p.e = roll_th.pos
    ),
    roll_a as (
        select doc_id, pos, _r1 % {m1} as a1, _r2 % {m2} as a2 from roll_base
    ),
    roll_cum as (
        select doc_id, pos, a1, a2,
            sum(a1) over w as s1, sum(a2) over w as s2
        from roll_a
        window w as (partition by doc_id order by pos
                     rows unbounded preceding)
    ),
    roll_lead as (
        select doc_id, pos, a1, a2, s1, s2,
            lead(s1, {k - 1}) over wo as e1,
            lead(s2, {k - 1}) over wo as e2
        from roll_cum
        window wo as (partition by doc_id order by pos)
    ),
    roll_d as (
        select doc_id, pos,
            (e1 - (s1 - a1)) % {m1} as d1,
            (e2 - (s2 - a2)) % {m2} as d2
        from roll_lead where e1 is not null
    ),
    {out_cte} as (
        select roll_d.doc_id, roll_d.pos,
            ((d1 * (pw1 // {sp})) % {m1} * {sp} + d1 * (pw1 % {sp})) % {m1}
                * {_PACK_HI}
            + (((d2 * (pw2 // {sp})) % {m2} * {sp} + d2 * (pw2 % {sp}))
                % {m2}) // {_PACK_LO} as win_hash
        from roll_d
        join roll_p on roll_p.e = {maxlen} - roll_d.pos
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

    def mm(a: int, b: int, m: int) -> int:
        return ((a * (b >> 20)) % m * _SPLIT + a * (b % _SPLIT)) % m

    th = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in tokens]
    a1 = [mm(th[i] % ROLL_M1, pw1[i], ROLL_M1) for i in range(n)]
    a2 = [mm(th[i] % ROLL_M2, pw2[i], ROLL_M2) for i in range(n)]
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
            mm(d1, pw1[maxlen - i], ROLL_M1) * _PACK_HI
            + (mm(d2, pw2[maxlen - i], ROLL_M2) >> 18),
        ))
    return out
