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
                                                (L = DEFAULT_MAXLEN)

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

L is the key's constant DEFAULT_MAXLEN = 2**16. B**e mod M for the
prefix-sum form (e = i for a[i], e = L - i for the complement, both in
[0, L]) is computed inside the row expression, from literal arrays: the
6-bit digits e = d0 + d1 * 2**6 + d2 * 2**12 each index one array,

    P_j[d] = B**(d * 2**(6j)) mod M    (64 entries; P_2 has (L >> 12) + 1)
    B**e   = modmul(modmul(P_0[d0], P_1[d1]), P_2[d2])

so the plan holds no power table, no join and no driver-built
DataFrame. Every factor is < M, so the same 20-bit-split modmul keeps
every product < 2**63. Three 6-bit digits keep the speed of the old
broadcast-join lookups; two 8-bit digits ran 2-10% faster but doubled
the plan text (the literals), four 4-bit digits ran up to 15% slower.
The prefix sum rides ONE per-doc window
(Exchange on doc_id + sort on pos), which winnowing needed anyway for its
argmin window — same partitioning, same order, so the sort is reused and
winnowing gains no extra shuffle.

In the prefix-sum form, documents longer than L tokens fail fast with
raise_error (a silent miss would silently drop their windows): the
position exponent is guarded by ``pos < L``. L is far below the 2**22
tokens the exact int64 running sum holds. The per-row form has no
position and no such bound.

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
DEFAULT_MAXLEN = 1 << 16        # L: the key's B**L and the tokens/doc bound


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


_DIGIT_BITS = 6                 # B**e from e's 6-bit digits
_DIGITS = 3                     # the top digit, e >> 12, is not masked


def _with_powers(df: DataFrame, e: Column, p1: str, p2: str) -> DataFrame:
    """``df`` plus B**e mod M per hash pair as columns ``p1``/``p2``, for
    0 <= e <= DEFAULT_MAXLEN: each 6-bit digit d_j of e indexes a literal
    array of B**(d * 2**(6j)) mod M, and modmul folds the factors.
    Spark cannot parse SQL text with an array(...) literal followed by
    ``>>``: the digits use shiftright, and the lookups are projected to
    columns before modmul_sql's text."""
    lookups, products = [], []
    for p, b, m in ((p1, ROLL_B1, ROLL_M1), (p2, ROLL_B2, ROLL_M2)):
        product = None
        for j in range(_DIGITS):
            shift = j * _DIGIT_BITS
            if j < _DIGITS - 1:
                n = 1 << _DIGIT_BITS
                digit = f"shiftright(_e, {shift}) & {n - 1}"
            else:
                n = (DEFAULT_MAXLEN >> shift) + 1
                digit = f"shiftright(_e, {shift})"
            # one SQL text per array: a Column literal per element would
            # cost one py4j round trip each at every plan build
            table = ", ".join(f"{pow(b, d << shift, m)}L" for d in range(n))
            name = f"_{p}_{j}"
            lookups.append(F.expr(
                f"element_at(array({table}), ({digit}) + 1)").alias(name))
            product = name if product is None else modmul_sql(product, name, m)
        products.append(F.expr(product).alias(p))
    return (
        df.withColumn("_e", e)
        .select(*df.columns, *lookups)
        .select(*df.columns, *products)
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
) -> DataFrame:
    """(doc_id, pos, win_hash) for every overlapping k-token window of
    every document — win_hash equal iff (modulo ~2**-62 collisions) the
    window token slices are equal, across positions and documents.

    Plan shape (r6): repartition the DOC rows by doc_id (~6 bytes/token of
    text) BEFORE the posexplode, so the per-doc prefix-sum/lead windows
    find their required hashpartitioning(doc_id) already satisfied and
    only add a local sort — the exploded (doc_id, pos, a1, a2) stream
    (32 bytes/token) never rides an Exchange. Then posexplode -> position
    powers (in-row digit lookups) -> local sort -> two Window passes ->
    complement powers (the same lookups). One shuffle total, of the
    narrowest possible representation of the data, and no join.

    A document longer than DEFAULT_MAXLEN tokens raises."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = df.sparkSession

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
    # fail fast on docs longer than L: a doc of L tokens has max pos L-1,
    # so a doc of exactly L+1 tokens raises — the same boundary
    # py_window_hashes draws. CASE evaluates raise_error only on the miss.
    pos = F.when(F.col("pos") < DEFAULT_MAXLEN, F.col("pos")).otherwise(
        F.raise_error(F.lit(
            f"document exceeds rolling-hash maxlen {DEFAULT_MAXLEN} tokens"))
    )
    base = _with_powers(h, pos, "pw1", "pw2").select(
        "doc_id",
        "pos",
        F.expr(modmul_sql(f"h % {ROLL_M1}", "pw1", ROLL_M1)).alias("a1"),
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
    # complement powers pc(pos) = B**(L - pos) mod M; pos < L here, so
    # the exponent is in [1, L]
    return _with_powers(
        hh, F.lit(DEFAULT_MAXLEN) - F.col("pos"), "pc1", "pc2"
    ).select(
        "doc_id",
        "pos",
        F.expr(pack_sql(modmul_sql("d1", "pc1", ROLL_M1),
                        modmul_sql("d2", "pc2", ROLL_M2))).alias("win_hash"),
    )


def window_key_sql(terms: list[str]) -> str:
    """The key of ONE window as SQL text over its n token hashes ``terms``
    (h60 values, in window order): per hash pair
    H0 = sum_j th_j * B**j mod M (one modmul by a literal power < M per
    token; the sum of n terms stays below n * 2**40), then
    modmul(H0, B**L), packed. That is the value
    rolling_window_hashes(k=n) reaches through prefix sums and
    the complement power, so the two forms are equal by construction.

    modmul_sql spells H0 twice; Spark's subexpression elimination moves
    it into methods of its own, which keeps the per-row code of an
    n-gram key under the JVM's 8,000-byte JIT limit to about n = 26
    (folded into one B**(L + j) literal per token, the 16-gram key
    outgrew it and ran interpreted, 4x slower)."""
    def half(b: int, m: int) -> str:
        h0 = "(" + " + ".join(
            modmul_sql(f"({t}) % {m}", str(pow(b, j, m)), m)
            for j, t in enumerate(terms)
        ) + f") % {m}"
        return modmul_sql(h0, str(pow(b, DEFAULT_MAXLEN, m)), m)

    return pack_sql(half(ROLL_B1, ROLL_M1), half(ROLL_B2, ROLL_M2))


def window_key_oracle_cte(src: str, n: int, name: str = "win") -> str:
    """DuckDB CTE ``name`` (doc_id, pos, win_hash): every n-token window
    of each row of the relation ``src`` (doc_id, text), keyed by
    :func:`window_key_sql` over the row's h60 token array. Docs shorter
    than n tokens (and NULL text) yield none."""
    terms = [f"th[i + {j}]" for j in range(1, n + 1)]
    return f"""{name} as (
        select doc_id, i as pos, {window_key_sql(terms)} as win_hash
        from (select doc_id, list_transform(string_split(text, ' '),
                                            t -> {h60_sql("t")}) as th
              from {src}),
             lateral unnest(range(len(th) - {n - 1})) as u(i)
    )"""


def py_window_hashes(tokens: list[str], k: int) -> list[tuple[int, int]]:
    """Pure-Python twin (the fuzz pin): [(pos, win_hash)] for every
    k-token window, bit-identical to rolling_window_hashes."""
    n = len(tokens)
    if n > DEFAULT_MAXLEN:
        raise ValueError("document exceeds rolling-hash maxlen")

    # plain modular products and pow (Python ints never overflow): the twin
    # checks the engines' 20-bit-split modmul_sql and digit lookups against
    # the arithmetic they stand for, not against a copy of themselves
    th = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in tokens]
    a1 = [th[i] % ROLL_M1 * pow(ROLL_B1, i, ROLL_M1) % ROLL_M1
          for i in range(n)]
    a2 = [th[i] % ROLL_M2 * pow(ROLL_B2, i, ROLL_M2) % ROLL_M2
          for i in range(n)]
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
            d1 * pow(ROLL_B1, DEFAULT_MAXLEN - i, ROLL_M1) % ROLL_M1 * _PACK_HI
            + (d2 * pow(ROLL_B2, DEFAULT_MAXLEN - i, ROLL_M2) % ROLL_M2
               >> _PACK_LO_BITS),
        ))
    return out
