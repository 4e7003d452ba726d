"""Results-lake maintenance CLI — the job a deployment schedules between
extraction runs.

    spark-submit jobs/maintenance_job.py compact \\
        --path <out>/results [--files-per-bucket 1]

``compact`` collapses the append-per-run small files back to
``files_per_bucket`` files per url_bucket partition via
``sources.tables.compact_results`` (count-verified tmp→swap commit; on
Iceberg this is ``rewrite_data_files``). Prints one JSON stats line.

The session is named ``dp-maintenance-<command>`` only when
``python jobs/maintenance_job.py`` starts it. spark-submit always sets
``spark.app.name`` (``--name``, else the script's file name), and that
name wins; an in-process call on a live session keeps the session's
name.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None, *, stop_session: bool = True) -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("command", choices=("compact",))
    parser.add_argument("--path", required=True,
                        help="results table directory (url_bucket= layout)")
    parser.add_argument("--files-per-bucket", type=int, default=1)
    args = parser.parse_args(argv)

    from documentprocessor_spark.session import get_spark
    from documentprocessor_spark.sources.tables import compact_results

    spark = get_spark(app_name=f"dp-maintenance-{args.command}")
    t0 = time.monotonic()
    stats = compact_results(
        spark, args.path, files_per_bucket=args.files_per_bucket
    )
    stats["elapsed_sec"] = time.monotonic() - t0
    print(json.dumps(stats))
    if stop_session:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
