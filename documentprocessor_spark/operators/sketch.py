"""KMV (k-minimum-values) distinct-count sketch.

The novel-sketch slot in the operator inventory: estimate the number of
distinct values from the k smallest hashes. If hashes are uniform in
[0, 1), the k-th smallest is ~ k / (n + 1), so n̂ = (k - 1) / h_(k) —
the classic KMV/bottom-k estimator (Bar-Yossef et al. 2002).

Unlike HyperLogLog or Count-Min (engine-private binary states), KMV built
on md5 is EXACTLY reproducible across engines: md5 hex strings sort
identically everywhere, so the driver gate can hash-compare the estimate
itself, not a tolerance. The hash is the 60-bit key of functions/rolling
(h60 of the value as a string — fits a signed 64-bit int in both
engines).

Scale shape: distinct-then-TakeOrdered(k) — the distinct is one shuffle on
the hash (the same price as exact count-distinct's shuffle, but the merge
state is k values, and at k ≪ n the sketch union across partitions is the
point: a per-partition bottom-k (partial TakeOrdered) flows to the driver
as k rows per partition, never the full distinct set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rolling import h60

HASH_BITS = 60
_SCALE = float(1 << HASH_BITS)


def kmv_sketch(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """One-row DataFrame: (k, kth_hash, distinct_estimate). The estimate is
    round((k-1) * 2^60 / h_(k)) when at least k distinct hashes exist, else
    the exact distinct count (the sketch is exact below its capacity)."""
    # NULLs don't count as a distinct value (and would sort nulls-first
    # into the bottom-k on the Spark side while DuckDB sorts them last)
    hashes = (
        df.where(F.col(col).isNotNull())
        .select(h60(F.col(col).cast("string")).alias("h"))
        .distinct()
    )
    bottom = hashes.orderBy("h").limit(k)
    agg = bottom.agg(
        F.count("*").alias("n_seen"), F.max("h").alias("kth_hash")
    )
    return agg.select(
        F.lit(k).alias("k"),
        F.col("kth_hash"),
        F.when(
            F.col("n_seen") < k, F.col("n_seen").cast("double")
        )
        .otherwise(
            F.round(F.lit(float(k - 1)) * F.lit(_SCALE) / F.col("kth_hash"))
        )
        .alias("distinct_estimate"),
    )
