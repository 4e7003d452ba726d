"""Under spark-submit the launcher's settings win.

spark-submit starts the JVM with its master and every ``--conf`` and hands
the Python driver a gateway to it. ``session.get_spark`` then fills in its
own defaults only for keys the launcher left unset. Each test runs a real
spark-submit child, so the suite's shared session stays up."""

from __future__ import annotations

import json
import os
import subprocess

from pyspark.find_spark_home import _find_spark_home
from test_parquet_codec import _codecs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAUNCHER_ARGS = [
    "--master", "local[2]",
    "--conf", "spark.sql.shuffle.partitions=7",
    "--conf", "spark.sql.parquet.compression.codec=snappy",
]
PROBE = """
import json
from documentprocessor_spark.session import get_spark

s = get_spark()
keys = ("spark.master", "spark.sql.shuffle.partitions",
        "spark.sql.parquet.compression.codec",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.codegen.cache.maxEntries")
print("PROBE " + json.dumps({k: s.conf.get(k) for k in keys}))
s.stop()
"""


def _spark_submit(tmp_path, *args):
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
               # the session factory's own default would be local[4]
               SPARK_GRAFT_CPUS="4",
               SPARK_WAREHOUSE=str(tmp_path / "warehouse"))
    cmd = [os.path.join(_find_spark_home(), "bin", "spark-submit"),
           "--driver-memory", "512m", *LAUNCHER_ARGS, *args]
    proc = subprocess.run(cmd, env=env, cwd=str(tmp_path),
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


def test_launcher_confs_win_over_session_defaults(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    out = _spark_submit(tmp_path, str(probe))
    line = next(ln for ln in out.splitlines() if ln.startswith("PROBE "))
    assert json.loads(line[len("PROBE "):]) == {
        "spark.master": "local[2]",
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.parquet.compression.codec": "snappy",
        # defaults the launcher did not set still apply
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.codegen.cache.maxEntries": "1000",
    }


def test_extract_job_writes_with_the_launchers_codec(spark, tmp_path):
    from documentprocessor_spark.sources.synthetic import distributed_corpus

    pages = str(tmp_path / "pages")
    distributed_corpus(spark, 20).write.parquet(pages)
    out = tmp_path / "out"
    stdout = _spark_submit(tmp_path, os.path.join(ROOT, "jobs", "extract_job.py"),
                           "--input", pages, "--output", str(out),
                           "--buckets", "2")
    stats = json.loads(stdout.strip().splitlines()[-1])
    assert stats["rows_total_committed"] == 20
    assert _codecs(out, "results") == {"SNAPPY"}
