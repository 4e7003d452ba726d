"""Optimization-round measurement harness (guide §1) — NOT the driver bench.

Per headline query: construction time (plan build, incl. any driver-side
work in the query function) vs execution time (noop sink, guide §1.4),
best-of-N timings, and the Janino compiles over the timed reps
(``codegen_compiles``). bench.py stays frozen; this file exists so
optimization work can iterate on isolated numbers and cite them in
OPTIMIZATION_r06.md.

Usage:
  python bench_extra.py                 # all headline queries, 3 reps
  python bench_extra.py q1 q2 ...       # subset
  SPARK_GRAFT_SF_DIR=... to change data dir (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "3"))


def main() -> None:
    from bench import HEADLINE  # the one headline-query list
    from documentprocessor_spark.queries import QUERIES
    from documentprocessor_spark.session import get_spark

    names = sys.argv[1:] or HEADLINE
    spark = get_spark(
        app_name="bench-extra", master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    # Janino compiles in this JVM; counted over the timed reps, a non-zero
    # figure means the leaf rebuilds generated classes on every run
    compiles = (sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())

    out = {}
    for name in names:
        fn = QUERIES[name]
        sc.setJobDescription(f"bench_extra:{name}")
        samples = []
        build_s = exec_s = None
        for i in range(REPS + 1):  # first rep is warm
            if i == 1:
                compiles_before = compiles.getCount()
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            t1 = time.monotonic()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.monotonic()
            spark.catalog.clearCache()
            if i > 0:
                samples.append(round(t2 - t0, 3))
                build_s = round(t1 - t0, 3)
                exec_s = round(t2 - t1, 3)
        out[name] = {
            "total_best": min(samples),
            "samples": samples,
            "last_build_s": build_s,
            "last_exec_s": exec_s,
            "codegen_compiles": compiles.getCount() - compiles_before,
        }
        print(f"{name}: best={min(samples)} samples={samples} "
              f"build={build_s} exec={exec_s} "
              f"compiles={out[name]['codegen_compiles']}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
