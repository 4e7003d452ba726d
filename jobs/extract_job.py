"""Production entrypoint: the spark-submit job the north_rule ships.

    zip -r dp.zip documentprocessor_spark/          # package once
    spark-submit --py-files dp.zip jobs/extract_job.py \\
        --input  <pages parquet/iceberg path | warc dir | pdf dir> \\
        --output <output dir (results/spans/manifest)> \\
        [--format parquet|warc|pdf-dir] [--buckets 64] \\
        [--mode heuristic|model] [--entry-c] [--no-resume] \\
        [--config job.yaml] [--debug-samples N]

Reads the pages table (url, warc_ts, html, text, lang) — or builds it
straight from a Common-Crawl WARC directory (--format warc; HTML and PDF
response bodies both extract, the fused kernel content-sniffs %PDF-) or a
directory of PDFs (--format pdf-dir) — runs the fused extraction pipeline,
writes url-hash-bucketed results + spans + a per-bucket manifest, and
resumes from the last manifest-acknowledged commit if killed.

Spark settings come from the launcher: pass the master, executor and any
other conf on the spark-submit command line (``--master``, ``--conf
spark.sql.shuffle.partitions=N``). They win over the session factory's
defaults, which fill in only the keys left unset. The job config holds no
Spark settings; a config file with a ``session:`` block is refused. Run
in-process on a live session (``main(..., stop_session=False)``), the job
uses that session as it is.

The session is named ``dp-extract-<mode>`` only when
``python jobs/extract_job.py`` starts it. spark-submit always sets
``spark.app.name`` (``--name``, else the script's file name), and that
name wins; an in-process call on a live session keeps the session's
name.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None, *, stop_session: bool = True) -> None:
    """stop_session=False lets in-process callers (tests) keep the shared
    SparkSession alive; spark-submit always tears down."""
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--config", default=None,
                        help="YAML/JSON config file (defaults + recursive"
                             " merge, reference Ocr/src/config.py analog);"
                             " explicit CLI flags override it")
    # None-sentinel defaults: an UNSET flag falls through to the config
    # file, then to DEFAULT_CONFIG — a SET flag always wins
    parser.add_argument("--format", choices=("parquet", "warc", "pdf-dir"),
                        default=None,
                        help="pages parquet table, Common-Crawl WARC dir,"
                             " or a directory of .pdf files")
    parser.add_argument("--buckets", type=int, default=None)
    parser.add_argument("--mode", choices=("heuristic", "model"),
                        default=None)
    # BooleanOptionalAction: every boolean knob gets an explicit negative
    # (--no-entry-c / --no-resume), so a config file setting
    # one true can always be overridden back from the command line
    parser.add_argument("--entry-c", action=argparse.BooleanOptionalAction,
                        default=None,
                        help="entry-C quirk-compatible kernel twin")
    parser.add_argument("--resume", action=argparse.BooleanOptionalAction,
                        default=None)
    parser.add_argument("--debug-samples", type=int, default=None,
                        help="write N-row per-stage debug samples next to"
                             " the manifest (0 = off)")
    args = parser.parse_args(argv)

    from documentprocessor_spark.config import load_config

    cfg = load_config(args.config)
    if "session" in cfg:
        raise SystemExit(
            f"{args.config}: the session block is gone; pass Spark settings"
            " as spark-submit --conf key=value"
        )
    job_cfg, ext_cfg = cfg["job"], cfg["extraction"]
    fmt, buckets, mode, resume, debug_samples = (
        job_cfg[k] if getattr(args, k) is None else getattr(args, k)
        for k in ("format", "buckets", "mode", "resume", "debug_samples")
    )
    entry_c = args.entry_c if args.entry_c is not None else ext_cfg["entry_c"]

    from documentprocessor_spark.plans.pipeline import (
        confidence_filter,
        extract_from_pages,
        extract_from_pages_with_model,
        run_job,
        with_quality_columns,
    )
    from documentprocessor_spark.session import get_spark

    if entry_c and mode == "model":
        # fail fast instead of silently running the authoritative model
        # path: the entry-C twins are heuristic-kernel options
        raise SystemExit(
            "--entry-c / extraction.entry_c applies to the heuristic kernel "
            "only; the model path has no entry-C variant"
        )

    from documentprocessor_spark.sources.readers import read_pages

    spark = get_spark(app_name=f"dp-extract-{mode}")
    if mode == "model":
        # M8 allow-list + model-type + device validation, driver-side,
        # before any work (reference commands.py:476-494 validates the
        # model up front); the same (name, device) is then BOUND into the
        # inference UDF below, so the executors run exactly what was
        # validated
        from documentprocessor_spark.operators.model_infer import (
            get_model,
            validate_model_type,
        )

        try:
            validate_model_type(cfg["model"]["type"])
        except ValueError as e:
            raise SystemExit(f"model.type: {e}") from e
        get_model(cfg["model"]["name_or_path"], cfg["model"]["device"])
    pages = read_pages(spark, args.input, fmt)

    # both modes share run_job's commit/resume/manifest semantics; model
    # mode writes to its own subdirectory (different output schema)
    output = args.output if mode == "heuristic" else f"{args.output}/model"
    if mode == "heuristic":
        base_extractor = (
            (lambda p: extract_from_pages(p, entry_c=True)) if entry_c else None
        )
    else:
        m_name, m_dev = cfg["model"]["name_or_path"], cfg["model"]["device"]
        base_extractor = (  # noqa: E731
            lambda p: extract_from_pages_with_model(p, m_name, m_dev)
        )

    # extraction.apply_quality: opt-in H11 confidence filter + H10 totals
    # verification on the committed rows (SURVEY §8.7 — defined by the
    # reference, kept out of ITS default path, so opt-in here too)
    if ext_cfg["apply_quality"]:
        inner = base_extractor or extract_from_pages
        min_conf = ext_cfg["min_confidence"]
        verify = ext_cfg["verify_totals"]

        def extractor(p):
            # H10 verifies the RAW extracted amounts (the reference's
            # verify_totals input), BEFORE the H11 filter nulls low-
            # confidence fields — same order q_h10_h11_quality certifies
            out = inner(p)
            if verify:
                out = with_quality_columns(out)
            return confidence_filter(out, min_confidence=min_conf)

    else:
        extractor = base_extractor
    stats = run_job(
        spark,
        pages,
        output,
        n_buckets=buckets,
        resume=resume,
        extractor=extractor,
        debug_samples=debug_samples,
    )
    stats["mode"] = mode
    print(json.dumps(stats, default=str))
    if stop_session:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
