"""Training-data curation CLI — the spark-submit surface for
plans.curate over a documents parquet table.

    spark-submit --py-files dp.zip jobs/curate_job.py \\
        --input <docs parquet> --output <dir> \\
        [--lang en] [--min-quality 0.3] [--transitive] \\
        [--exact-substr-k 50] [--checkpoint <ckpt dir>] \\
        [--chunk-tokens 512 [--chunk-stride 256]] [--winnow-k 5 [--winnow-w 4]]

Writes the surviving rows as parquet under <output>/curated and prints
one JSON stats line. Every mode runs the one curate_documents plan,
honoring ``--transitive`` and ``--exact-substr-k``. ``--checkpoint``
commits its exact, pairs and clusters stages under the given dir
(transitive by construction, resumable past the connected-components
stage after a kill); the ExactSubstr cut runs over the committed stages,
so ``--checkpoint --exact-substr-k K`` writes the same clean_text as
``--transitive --exact-substr-k K``.

Optional post-curation stages over the SURVIVORS (both map-only over the
curated set; they run on clean_text when --exact-substr-k produced one,
else on the original text joined back by id):

- ``--chunk-tokens N [--chunk-stride S]`` → <output>/chunks —
  sliding-window training chunks (operators.packing.chunk_documents).
- ``--winnow-k K [--winnow-w W]`` → <output>/fingerprints — MOSS
  winnowing fingerprints (operators.dedup.winnow_fingerprints), the
  compact per-doc signature table downstream overlap tooling joins on.
- ``--line-dedup-min-count N`` → <output>/line_deduped — RefinedWeb
  line-wise boilerplate kill (operators.dedup.cross_doc_line_dedup)
  over the survivor texts; chunking/winnowing run on the line-deduped
  text when this stage is active.

The session is named ``dp-curate`` only when
``python jobs/curate_job.py`` starts it. spark-submit always sets
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
    parser.add_argument("--input", required=True, help="documents parquet")
    parser.add_argument("--output", required=True)
    parser.add_argument("--id-col", default="doc_id")
    parser.add_argument("--text-col", default="text")
    parser.add_argument("--lang", default="en")
    parser.add_argument("--min-quality", type=float, default=0.3)
    parser.add_argument("--minhash-k", type=int, default=8)
    parser.add_argument("--band-rows", type=int, default=2)
    parser.add_argument("--transitive", action="store_true")
    parser.add_argument("--exact-substr-k", type=int, default=None)
    parser.add_argument("--checkpoint", default=None,
                        help="per-stage checkpoint dir (implies transitive)")
    parser.add_argument("--chunk-tokens", type=int, default=None,
                        help="also write <output>/chunks (sliding-window "
                             "chunking of the curated survivors)")
    parser.add_argument("--chunk-stride", type=int, default=None,
                        help="chunk stride (default: chunk-tokens, disjoint)")
    parser.add_argument("--winnow-k", type=int, default=None,
                        help="also write <output>/fingerprints (MOSS "
                             "winnowing, k-token shingles)")
    parser.add_argument("--winnow-w", type=int, default=4,
                        help="winnowing window in shingles (default 4)")
    parser.add_argument("--line-dedup-min-count", type=int, default=None,
                        help="also write <output>/line_deduped (drop lines "
                             "occurring >= N times corpus-wide)")
    args = parser.parse_args(argv)

    from documentprocessor_spark.operators.dedup import dedup_cache_scope
    from documentprocessor_spark.session import get_spark

    spark = get_spark(app_name="dp-curate")
    # the scope owns every relation the stages persist (survivors, span
    # windows, lines) and unpersists them on return: a long-lived caller
    # must not keep this run's cached text, which a later query over the
    # same path could match
    with dedup_cache_scope():
        _run(spark, args)
    if stop_session:
        spark.stop()


def _write_counted(df, output: str, table: str) -> int:
    """Overwrite ``<output>/<table>`` with ``df``; returns the rows
    written, observed on the write itself (no read-back count)."""
    from documentprocessor_spark.observe import counted

    df, obs = counted(df, table)
    df.write.mode("overwrite").parquet(f"{output}/{table}")
    return obs.get["rows"]


def _run(spark, args) -> None:
    from pyspark.sql import functions as F

    from documentprocessor_spark.observe import counted, observed_rows
    from documentprocessor_spark.plans.curate import curate_documents

    t0 = time.monotonic()
    docs = spark.read.parquet(args.input)
    # rows_in rides the plan's own scan via observe() — a driver-side
    # count() here would be a full EXTRA pass over a TB-scale input
    # (review finding r4). A checkpointed run executes several actions
    # and may legitimately SKIP the input scan on resume, so it counts
    # input rows with an explicit (documented) pass instead, as does a
    # run whose observed scan AQE dropped (observe.observed_rows), e.g.
    # when curation keeps nothing.
    obs_in = None
    if not args.checkpoint:
        docs, obs_in = counted(docs, "curate-in")
    out = curate_documents(
        docs, id_col=args.id_col, text_col=args.text_col, lang=args.lang,
        min_quality=args.min_quality, minhash_k=args.minhash_k,
        band_rows=args.band_rows, transitive=args.transitive,
        exact_substr_k=args.exact_substr_k, checkpoint_dir=args.checkpoint,
    )
    # one REBALANCE before the write: AQE coalesces it to files of the
    # advisory size, whatever partitioning the plan's last join left
    # (a broadcast join back of the persisted survivors would otherwise
    # write one small file per survivor partition)
    n_out = _write_counted(out.hint("rebalance"), args.output, "curated")

    def count_input() -> int:
        return spark.read.parquet(args.input).count()

    n_in = count_input() if obs_in is None else observed_rows(obs_in, count_input)
    extra = {}
    if (args.chunk_tokens is not None or args.winnow_k is not None
            or args.line_dedup_min_count is not None):
        curated = spark.read.parquet(f"{args.output}/curated")
        if "clean_text" in curated.columns:
            # the ExactSubstr stage already carried the survivor text through
            texts = curated.select("doc_id",
                                   F.col("clean_text").alias("text"))
        else:
            # semi-join the survivor ids back to the input for their text —
            # the id set streams broadcast/shuffle-pruned, text never rides
            # a shuffle it wasn't going to anyway
            texts = (
                spark.read.parquet(args.input)
                .select(F.col(args.id_col).alias("doc_id"),
                        F.col(args.text_col).alias("text"))
                .join(curated.select("doc_id"), "doc_id", "left_semi")
            )
        if args.line_dedup_min_count is not None:
            from documentprocessor_spark.operators.dedup import (
                cross_doc_line_dedup)

            extra["n_line_deduped"] = _write_counted(cross_doc_line_dedup(
                texts, "doc_id", "text",
                min_count=args.line_dedup_min_count,
            ), args.output, "line_deduped")
            # downstream chunk/winnow stages consume the cleaned text
            texts = (spark.read.parquet(f"{args.output}/line_deduped")
                     .select("doc_id", F.col("clean_text").alias("text")))
        if args.chunk_tokens is not None:
            from documentprocessor_spark.operators.packing import (
                chunk_documents)

            extra["n_chunks"] = _write_counted(chunk_documents(
                texts, "doc_id", "text",
                chunk_tokens=args.chunk_tokens, stride=args.chunk_stride,
            ), args.output, "chunks")
        if args.winnow_k is not None:
            from documentprocessor_spark.operators.dedup import (
                winnow_fingerprints)

            extra["n_fingerprints"] = _write_counted(winnow_fingerprints(
                texts, "doc_id", "text", k=args.winnow_k, w=args.winnow_w,
            ), args.output, "fingerprints")
    print(json.dumps({
        "rows_in": n_in,
        "rows_kept": n_out,
        "rows_dropped": n_in - n_out,
        "mode": "checkpointed" if args.checkpoint
                else ("transitive" if args.transitive else "one-pass"),
        "exact_substr_k": args.exact_substr_k,
        **extra,
        "elapsed_sec": round(time.monotonic() - t0, 3),
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
