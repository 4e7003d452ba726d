"""Pins the benchmark's span tracer and Spark event-log parser on a tiny
job.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracing import (Tracer, event_log_files, layer_stage_metrics,  # noqa: E402
                     parse_event_log, spark_eventlog_conf)


def test_self_time_subtracts_direct_children():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"]
    own = t.self_times()
    assert own["outer"] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))


def test_task_skew_is_worst_stage_max_over_median():
    rows = [
        {"shuffle_write_bytes": 10, "shuffle_read_bytes": 0, "spill_bytes": 0,
         "gc_s": 0.5, "task_s_max": 4.0, "task_s_median": 1.0},
        {"shuffle_write_bytes": 0, "shuffle_read_bytes": 10, "spill_bytes": 2,
         "gc_s": 0.25, "task_s_max": 1.0, "task_s_median": 1.0},
    ]
    m = layer_stage_metrics(rows)
    assert m == {"shuffle_write_bytes": 10, "shuffle_read_bytes": 10,
                 "spill_bytes": 2, "gc_s": 0.75, "task_skew": 4.0}
    assert layer_stage_metrics([])["task_skew"] == 1.0


def test_event_log_maps_stages_to_span_groups(tmp_path):
    SparkSession = pytest.importorskip("pyspark.sql").SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    builder = (SparkSession.builder.master("local[2]")
               .appName("tracing-test")
               .config("spark.ui.enabled", "false")
               .config("spark.sql.shuffle.partitions", "3")
               .config("spark.sql.adaptive.enabled", "false"))
    for k, v in spark_eventlog_conf(str(log_dir)).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        t = Tracer(spark.sparkContext)
        df = spark.range(0, 1000, numPartitions=2)
        with t.span("tiny.group"):
            rows = df.groupBy((df.id % 7).alias("k")).count().collect()
        with t.span("tiny.scan"):
            df.count()
    finally:
        spark.stop()
    assert len(rows) == 7

    stages = parse_event_log(event_log_files(str(log_dir)))
    groups = t.last_groups()
    agg = stages[groups["tiny.group"]]
    assert [s["tasks"] for s in agg] == [2, 3]
    map_side, reduce_side = agg
    assert map_side["shuffle_write_bytes"] > 0
    assert reduce_side["shuffle_read_bytes"] == map_side["shuffle_write_bytes"]
    assert all(s["task_s_max"] >= s["task_s_median"] for s in agg)
    assert groups["tiny.scan"] in stages


def test_peak_rss_keeps_a_peak_freed_before_exit():
    from tracing import PeakRss, _hwm_bytes

    size = 64 << 20
    with PeakRss(os.getpid()) as p:
        block = b"\x01" * size
        del block
    with open(f"/proc/{os.getpid()}/status") as f:
        rss_now = next(int(line.split()[1]) * 1024 for line in f
                       if line.startswith("VmRSS:"))
    assert p.peak == _hwm_bytes(os.getpid())
    assert p.peak >= rss_now + size * 3 // 4
