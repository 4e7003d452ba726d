"""Phase-separated CLI: each pipeline phase independently runnable over
parquet checkpoint tables — the Spark analog of the reference's
preprocess/ocr/inference commands (/root/reference/Ocr/cli.py:56-126), where
every phase reads the previous phase's artifact from disk and can be rerun
in isolation.

    spark-submit jobs/phase_job.py parse \\
        --input <pages parquet|warc dir|pdf dir> --output <ckpt>/words \\
        [--format parquet|warc|pdf-dir]
    spark-submit jobs/phase_job.py normalize \\
        --input <ckpt>/words --output <ckpt>/normalized
    spark-submit jobs/phase_job.py extract \\
        --input <ckpt>/normalized --output <out>/results [--mode model]
    spark-submit jobs/phase_job.py extract \\
        --input <ckpt>/words --output <out>/results --mode heuristic

Phase tables:
    parse:      pages → (url, words)            — the `ocr` analog (S6 seam);
                %PDF- payloads content-sniffed like the fused kernel
    normalize:  (url, words) → (url, extracted_text, words 0-1000)
    extract:    model mode consumes the NORMALIZED table (inference analog);
                heuristic mode consumes the RAW words table (the heuristic
                kernel reads layout geometry in page units)

Chaining parse → normalize → extract --mode model reproduces the fused
extract_from_pages_with_model byte-for-byte (the CLI calls the very same
stage functions the fused plan composes); parse → extract --mode heuristic
reproduces the fused heuristic kernel byte-for-byte (same tuples, same
extractor). Both pinned by tests/test_phase_job.py.

The session is named ``dp-phase-<phase>`` only when
``python jobs/phase_job.py`` starts it. spark-submit always sets
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
    parser.add_argument("phase", choices=("parse", "normalize", "extract"))
    parser.add_argument("--input", required=True,
                        help="previous phase's checkpoint table (or the"
                             " pages source for `parse`)")
    parser.add_argument("--output", required=True)
    parser.add_argument("--format", choices=("parquet", "warc", "pdf-dir"),
                        default="parquet", help="`parse` input format")
    parser.add_argument("--mode", choices=("heuristic", "model"),
                        default="model",
                        help="`extract` phase: model consumes the normalized"
                             " table, heuristic the raw words table")
    parser.add_argument("--entry-c", action="store_true",
                        help="`extract --mode heuristic` only: entry-C"
                             " quirk-compatible kernel twin")
    args = parser.parse_args(argv)

    if args.entry_c and not (args.phase == "extract" and args.mode == "heuristic"):
        raise SystemExit(
            "--entry-c applies only to `extract --mode heuristic` (the "
            "model path and the parse/normalize phases have no entry-C "
            "variant)"
        )

    from documentprocessor_spark.session import get_spark

    spark = get_spark(app_name=f"dp-phase-{args.phase}")
    t0 = time.monotonic()

    if args.phase == "parse":
        from documentprocessor_spark.plans.pipeline import parse_stage
        from documentprocessor_spark.sources.readers import read_pages

        out = parse_stage(read_pages(spark, args.input, args.format))
    elif args.phase == "normalize":
        from documentprocessor_spark.plans.pipeline import normalize_stage

        out = normalize_stage(spark.read.parquet(args.input))
    else:
        if args.mode == "model":
            from documentprocessor_spark.plans.pipeline import infer_stage

            out = infer_stage(spark.read.parquet(args.input))
        else:
            from documentprocessor_spark.operators.extract import (
                attach_extraction,
            )

            words = spark.read.parquet(args.input)
            out = attach_extraction(words, entry_c=args.entry_c).drop("words")

    out.write.mode("overwrite").parquet(args.output)
    n_rows = spark.read.parquet(args.output).count()
    print(json.dumps({
        "phase": args.phase,
        "output": args.output,
        "rows": n_rows,
        "elapsed_sec": time.monotonic() - t0,
    }))
    if stop_session:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
