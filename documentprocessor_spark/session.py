"""SparkSession factory with scale-oriented defaults.

The confs here are the ones that matter at 100 TB / 1000 executors, applied
identically in local[] test mode so plans exercised by tests are the plans
shipped: AQE (runtime partition coalescing + skew-join splitting), Arrow
batching for the pandas-UDF extraction kernels, a generated-code cache
that holds a whole job's classes across the jobs of a long-lived session,
zstd for every Parquet write, and a shuffle-partition count that callers
override per environment. Under spark-submit they are only defaults: the
launcher's master, app name and every ``--conf`` win.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Batches of html/binary columns should stay ~tens of MB (SURVEY.md §7.4):
# 2k rows of ~10 KB pages ≈ 20 MB per Arrow batch.
ARROW_BATCH_ROWS = "2048"


def get_spark(
    app_name: str = "documentprocessor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # A live session is returned as it is: getOrCreate would re-apply this
    # builder's modifiable confs (shuffle partitions, the codec,
    # maxPartitionBytes) to it, changing them under every other user of
    # the session. Every setting below applies only to a session this
    # call creates. getOrCreate keys on the process-wide session, not the
    # thread's active one, so both are checked, and a session whose
    # context was stopped is not live (pyspark's own getOrCreate test).
    live = (
        SparkSession.getActiveSession() or SparkSession._instantiatedSession
    )
    if live is not None and live._sc._jsc is not None:
        return live
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = 32
    conf = {
        "spark.app.name": app_name,
        "spark.master": master or f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": ARROW_BATCH_ROWS,
        # InferFiltersFromGenerate synthesizes `size(gen)>0 AND
        # isnotnull(gen)` below every explode/posexplode. Our generators
        # are expensive interpreted HOF chains (shingle/line/chunk builds),
        # so the inferred filter re-evaluates the whole generator twice per
        # input row — and predicate pushdown substitutes it through
        # projections, re-inlining the hoisted token split below the
        # exchange. Selectivity of the inferred filter on document corpora
        # is ~0 (docs shorter than one shingle/window). Measured r6:
        # minhash 3.58s -> 0.56s, spans 1.47 -> 0.57, winnow 1.05 -> 0.75
        # at sf0.1; the effect is scale-independent (it is per-row compute
        # duplication, worst on the widest inputs).
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        # Python-kernel stages want fine-grained scan tasks for load balance:
        # an 8 MB split of ~1 KB pages ≈ 8k docs ≈ 2-3 s of kernel time.
        # (At petabyte scale raise this per-workload; the knob matters more
        # than shuffle partitions for map-only extraction jobs.)
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.session.timeZone": "UTC",
        # One curate_job run generates ~140 distinct Janino classes; the
        # default LRU of 100 evicts them all before a second run can reuse
        # them, and a long-lived session would recompile ~110 per job.
        # 1000 holds ~7 such jobs. A static conf: it only takes effect on
        # a session this function creates.
        "spark.sql.codegen.cache.maxEntries": "1000",
        # The cache keys on the generated source. With the codegen stage id
        # in the class name, a job whose AQE stages finish in another order
        # than last time generates new source for the same plan, and
        # recompiles it (~3x the residual compiles per steady-state
        # curation job). The id stays in a comment of the source.
        "spark.sql.codegen.useIdInClassName": "false",
        # Every Parquet sink (results, spans, manifest, curated,
        # line_deduped, chunks, fingerprints, checkpoints, debug samples,
        # streaming file sinks) takes its codec from this one conf; no
        # writer sets `compression`. Snappy compressed the survivors'
        # clean_text only ~1.2x; zstd halves it. Measured on a 4-vCPU VM
        # (BENCH/BASELINE.md): perfbench out_bytes_per_in_byte 2.31 -> 1.37
        # on curate_skewed and 1.61 -> 1.14 on extract_fresh, wall_s and
        # peak RSS inside the benchmark's bounds. Spark, pyarrow and DuckDB
        # all read zstd, also next to older snappy files of one table.
        "spark.sql.parquet.compression.codec": "zstd",
        # per-process default: concurrent sessions on a shared box must
        # not clobber each other's managed tables
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_WAREHOUSE", f"/tmp/dp_spark_warehouse_{os.getpid()}"
        ),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # spark-submit started the JVM: attach to it and let each key the
        # launcher set win. Without a gateway the builder launches the JVM
        # with the whole table, driver memory and heap flags included.
        from pyspark import SparkConf, SparkContext

        SparkContext._ensure_initialized()
        launcher = {k for k, _ in SparkConf().getAll()}
        conf = {k: v for k, v in conf.items() if k not in launcher}
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
