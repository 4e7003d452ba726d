"""Training-data curation CLI — the spark-submit surface for
plans.curate over a documents parquet table.

    spark-submit --py-files dp.zip jobs/curate_job.py \\
        --input <docs parquet> --output <dir> \\
        [--lang en] [--min-quality 0.3] [--transitive] \\
        [--exact-substr-k 50] [--checkpoint <ckpt dir>] \\
        [--chunk-tokens 512 [--chunk-stride 256]] [--winnow-k 5 [--winnow-w 4]]

Writes the surviving rows as parquet under <output>/curated and prints
one JSON stats line. ``--checkpoint`` switches to the per-stage
checkpointed plan (curate_documents_checkpointed — transitive by
construction, resumable past the connected-components stage after a
kill); without it the single-plan curate_documents runs, honoring
``--transitive`` and ``--exact-substr-k``.

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


def _run(spark, args) -> None:
    from documentprocessor_spark.plans.curate import (
        curate_documents,
        curate_documents_checkpointed,
    )

    t0 = time.monotonic()
    docs = spark.read.parquet(args.input)
    # rows_in rides the plan's own scan via observe() — a driver-side
    # count() here would be a full EXTRA pass over a TB-scale input
    # (review finding r4). The checkpointed plan runs multiple actions
    # and may legitimately SKIP the input scan on resume, so it counts
    # input rows with an explicit (documented) pass instead.
    obs = None
    if not args.checkpoint:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation("curate-in")
        docs = docs.observe(obs, F.count(F.lit(1)).alias("rows_in"))
    common = dict(
        id_col=args.id_col, text_col=args.text_col, lang=args.lang,
        min_quality=args.min_quality, minhash_k=args.minhash_k,
        band_rows=args.band_rows,
    )
    if args.checkpoint:
        out = curate_documents_checkpointed(
            spark, docs, args.checkpoint, **common
        )
    else:
        out = curate_documents(
            docs, transitive=args.transitive,
            exact_substr_k=args.exact_substr_k, **common
        )
    dest = f"{args.output}/curated"
    out.write.mode("overwrite").parquet(dest)
    # parquet count() reads row-group metadata, not data — cheap, and it
    # doubles as a read-back verification of the committed output
    n_out = spark.read.parquet(dest).count()
    n_in = obs.get["rows_in"] if obs is not None else (
        spark.read.parquet(args.input).count()
    )
    extra = {}
    if (args.chunk_tokens is not None or args.winnow_k is not None
            or args.line_dedup_min_count is not None):
        from pyspark.sql import functions as F

        curated = spark.read.parquet(dest)
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

            cross_doc_line_dedup(
                texts, "doc_id", "text",
                min_count=args.line_dedup_min_count,
            ).write.mode("overwrite").parquet(f"{args.output}/line_deduped")
            deduped = spark.read.parquet(f"{args.output}/line_deduped")
            extra["n_line_deduped"] = deduped.count()
            # downstream chunk/winnow stages consume the cleaned text
            texts = deduped.select("doc_id",
                                   F.col("clean_text").alias("text"))
        if args.chunk_tokens is not None:
            from documentprocessor_spark.operators.packing import (
                chunk_documents)

            chunk_documents(
                texts, "doc_id", "text",
                chunk_tokens=args.chunk_tokens, stride=args.chunk_stride,
            ).write.mode("overwrite").parquet(f"{args.output}/chunks")
            extra["n_chunks"] = spark.read.parquet(
                f"{args.output}/chunks").count()
        if args.winnow_k is not None:
            from documentprocessor_spark.operators.dedup import (
                winnow_fingerprints)

            winnow_fingerprints(
                texts, "doc_id", "text", k=args.winnow_k, w=args.winnow_w,
            ).write.mode("overwrite").parquet(f"{args.output}/fingerprints")
            extra["n_fingerprints"] = spark.read.parquet(
                f"{args.output}/fingerprints").count()
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
