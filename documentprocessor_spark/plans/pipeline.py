"""End-to-end extraction job plan: pages → results/spans/manifest, resumable.

This replaces the reference's orchestration layer (HTTP → subprocess → temp
files → volatile in-memory job registry,
/root/reference/Api/ServiceSideDocumentProcessor.cs:20,528-634) with the
north_rule architecture:

- explicit hash partitioning on url (``pmod(xxhash64(url), n_buckets)``) —
  heavy domains spread uniformly because the key is the full url, and the
  bucket column makes the layout reusable by downstream readers;
- the fused extraction kernel runs at source parallelism (the html never
  crosses a shuffle); its OUTPUT is then shuffled once by bucket id, so
  write partition i holds exactly bucket i and each run commits one file
  per ``url_bucket=`` directory;
- a per-bucket manifest (run_id, url_bucket, rows, bytes_in) appended on
  every commit — the lineage table the north_rule requires. The run's
  elapsed time stays in run_job's returned stats, never a literal in the
  manifest plan: Spark compiles numeric literals into the generated
  class, so a per-run value would recompile it on every run;
- resume = left_anti join of the input against already-committed urls, so a
  killed job never reprocesses a finished document. With Iceberg the commit
  unit is a snapshot; on plain parquet (this sandbox) the commit unit is the
  run directory, which gives the same at-least-once-skip semantics.

At 100 TB the plan is scan → kernel → Exchange(bucket id) → write: the
one shuffle moves extracted rows, not html, and its n_buckets partitions
are fixed (AQE does not coalesce an explicit partition count). Nothing
here collects to the driver.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from ..observe import counted, observed_rows
from ..operators.extract import fused_extract
from ..schemas import RESULT, SCALAR_FIELDS
from ..sources.tables import hadoop_fs, read_committed

DEFAULT_BUCKETS = 64


def with_url_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "url_bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )


def bucket_results(
    results: DataFrame, n_buckets: int, run_id: str
) -> DataFrame:
    """Extraction output → the rows ``run_job`` commits: ``url_bucket`` and
    ``run_id`` columns, shuffled once by bucket id so write partition i
    holds exactly bucket i — one file per bucket directory per run. The
    shuffle sits above the kernel and carries extracted rows, never html."""
    return with_url_bucket(results, n_buckets).withColumn(
        "run_id", F.lit(run_id)
    ).repartitionById(n_buckets, F.col("url_bucket"))


def extract_from_pages(pages: DataFrame, entry_c: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → one result row per url, at
    source parallelism (no shuffle; ``run_job`` owns the result layout).

    Column-pruned: only url/html/text flow into the kernels; Catalyst prunes
    the parquet scan to exactly those columns. ``entry_c=True`` swaps in the
    entry-C quirk-compatible kernel twin (config ``extraction.entry_c``).
    """
    # Single-row-group sources plan as one split, serializing the Python
    # kernel on one core; the rescue repartition is a strict plan-time
    # no-op on multi-split inputs (partitioning.py), so a 100 TB scan
    # reaches the kernel without a shuffle while small exports parallelize.
    from ..partitioning import ensure_min_parallelism

    df = ensure_min_parallelism(pages.select("url", "html", "text"))
    return fused_extract(df, entry_c=entry_c).select(
        "url",
        "extracted_text",
        *SCALAR_FIELDS,
        "line_items",
        "status",
        "error",
    )


def with_quality_columns(results: DataFrame) -> DataFrame:
    """H10 totals verification as a data-quality column
    (field_extractor.py:327-359: all three present AND
    |subtotal + tax − total| ≤ 0.02).

    "Present" is the reference's TRUTHINESS check (`if not all([subtotal,
    tax, total])`): a 0.00 amount is falsy, so any zero amount verifies
    False — matching reference_semantics.verify_totals exactly, not just
    the null case."""
    s = F.col("subtotal.value").cast("decimal(12,2)")
    t = F.col("tax_amount.value").cast("decimal(12,2)")
    tot = F.col("total_amount.value").cast("decimal(12,2)")
    absent = (
        s.isNull() | t.isNull() | tot.isNull()
        | (s == 0) | (t == 0) | (tot == 0)
    )
    verified = F.when(absent, F.lit(False)).otherwise(
        F.abs((s + t) - tot) <= F.lit(0.02)
    )
    return results.withColumn("totals_verified", verified)


def with_iso_dates(results: DataFrame) -> DataFrame:
    """H7 date ISO-normalization as an OPT-IN data-quality column: adds
    `date_iso` (yyyy-MM-dd or null) from date.value via the six-format
    strptime cascade (field_extractor.py:62-86). Deliberately NOT part of
    the default output path — the reference defines the function but never
    wires it (SURVEY.md §8.7), and the byte-identity contract keeps the raw
    matched date string in date.value."""
    from ..functions.dates import iso_date_col

    return results.withColumn("date_iso", iso_date_col(F.col("date.value")))


def confidence_filter(results: DataFrame, min_confidence: float = 0.5) -> DataFrame:
    """H11 consolidate_fields (field_extractor.py:361-387): null out any
    extracted field whose confidence is below the threshold."""
    out = results
    for name in SCALAR_FIELDS:
        out = out.withColumn(
            name,
            F.when(
                F.col(f"{name}.confidence") >= min_confidence, F.col(name)
            ),
        )
    return out


# ---------------------------------------------------------------------------
# The model pipeline's three phases as NAMED stage functions. The fused
# entrypoint (extract_from_pages_with_model) and the phase-separated CLI
# (jobs/phase_job.py, the reference cli.py:56-126 preprocess/ocr/inference
# analog) compose exactly these, so chained-phase output is byte-identical
# to the fused job by construction.
# ---------------------------------------------------------------------------


def parse_stage(pages: DataFrame) -> DataFrame:
    """Phase 1 (the reference `ocr` command analog): pages → (url, words).
    Rows route through ``html_parse.page_tuples``, as in the fused kernel."""
    from ..operators.html_parse import parse_pages

    return parse_pages(pages.select("url", "html", "text")).select("url", "words")


def normalize_stage(words_df: DataFrame) -> DataFrame:
    """Phase 2 (the reference `preprocess` analog in the words domain):
    (url, words) → (url, extracted_text, words 0-1000-normalized). The raw
    text is assembled BEFORE normalization — O5 reads layout order from the
    raw coordinates."""
    from ..functions.boxes import normalize_words_col, raw_text_col
    from ..layout import PAGE_H, PAGE_W

    return words_df.select(
        "url",
        raw_text_col(F.col("words")).alias("extracted_text"),
        normalize_words_col(
            F.col("words"), F.lit(PAGE_W), F.lit(PAGE_H)
        ).alias("words"),
    )


def infer_stage(normalized_df: DataFrame,
                model_name: str = "stub-token-classifier",
                device: str = "auto") -> DataFrame:
    """Phase 3 (the reference `inference` command analog): normalized words
    → model token classification (M1, stubbed) → BIO merge (M2/M3) →
    model-first merge with heuristic backfill (H12). The (model, device)
    choice ships to executors inside the classifier UDF closure."""
    from ..operators.model_infer import model_extract

    df = model_extract(normalized_df, model_name=model_name, device=device)
    return df.select(
        "url",
        "extracted_text",
        *[F.col(f"model_{name}").alias(name) for name in SCALAR_FIELDS],
        F.col("model_line_items").alias("line_items"),
    )


def extract_from_pages_with_model(
    pages: DataFrame,
    model_name: str = "stub-token-classifier",
    device: str = "auto",
) -> DataFrame:
    """The reference's FULL pipeline shape (skip_model=False,
    receipt_processor.py:156-219): parse → 0-1000 normalize → model token
    classification (M1, stubbed) → BIO merge (M2/M3) → model-first merge
    with heuristic backfill (H12).

    Three vectorized stages; line_items carry the model shape
    (description/confidence/box — quantities only come from the heuristic
    fallback, matching the reference's model-path output).
    """
    return infer_stage(normalize_stage(parse_stage(pages)), model_name, device)


def validate_against_golden(results: DataFrame, golden: DataFrame) -> DataFrame:
    """Correctness-harness join (SURVEY.md §2.9): extracted results ⋈ golden
    table on url (golden side broadcast), emitting per-url byte-equality of
    the extracted text plus an aggregate row count of mismatches."""
    g = F.broadcast(golden.select("url", F.col("text").alias("golden_text")))
    return (
        results.select("url", "extracted_text")
        .join(g, "url", "left")
        .withColumn(
            "text_matches",
            F.col("extracted_text").eqNullSafe(F.col("golden_text")),
        )
    )


def results_to_spans(results: DataFrame) -> DataFrame:
    """Wide results → long spans table (url, run_id, field, value,
    confidence, box). The run_id ties each span to the manifest entry that
    commits it, as for results rows."""
    span_structs = F.array(
        *[
            F.struct(
                F.lit(name).alias("field"),
                F.col(f"{name}.value").alias("value"),
                F.col(f"{name}.confidence").alias("confidence"),
                F.col(f"{name}.box").alias("box"),
            )
            for name in SCALAR_FIELDS
        ]
    )
    return (
        results.select("url", "run_id", F.explode(span_structs).alias("s"))
        .where(F.col("s.value").isNotNull())
        .select("url", "run_id", "s.field", "s.value", "s.confidence", "s.box")
    )


def _acknowledged(rows: DataFrame, manifest: DataFrame) -> DataFrame:
    """``rows`` written by runs the manifest acknowledges. The manifest is
    written LAST, so it is the commit marker: rows of a run killed before
    its manifest write are orphans, and every committed-state read drops
    them here."""
    runs = F.broadcast(manifest.select("run_id").distinct())
    # a USING join puts run_id first; keep the table's column order
    return rows.join(runs, "run_id", "left_semi").select(*rows.columns)


def _committed_urls(
    spark: SparkSession, results_path: str, manifest_path: str
) -> DataFrame | None:
    """COMMITTED urls = results rows whose run_id is acknowledged in the
    manifest. Orphan result rows of a killed run are NOT committed: their
    urls are reprocessed and the orphans superseded."""
    manifest = read_committed(spark, manifest_path)
    results = None if manifest is None else read_committed(spark, results_path)
    if results is None:
        return None
    return _acknowledged(results.select("url", "run_id"), manifest).select("url")


def _no_results(spark: SparkSession) -> DataFrame:
    """No results, in the layout ``run_job`` commits: ``schemas.RESULT``,
    then ``run_id`` and the ``url_bucket`` partition column, which a read
    of the table puts last."""
    layout = StructType([*RESULT.fields]).add("run_id", "string")
    return spark.createDataFrame([], layout.add("url_bucket", "integer"))


def _committed_rows(
    spark: SparkSession, output_dir: str, table: str, empty
) -> DataFrame:
    """The ``<output_dir>/<table>`` rows of acknowledged runs; none before
    any manifest exists. ``empty(spark)`` is the view while the table has
    no data file: an empty-input first run leaves ``results`` with only
    ``_SUCCESS`` and writes no ``spans``."""
    rows = read_committed(spark, f"{output_dir}/{table}")
    if rows is None:
        return empty(spark)
    manifest = read_committed(spark, f"{output_dir}/manifest")
    return rows.limit(0) if manifest is None else _acknowledged(rows, manifest)


def read_committed_results(spark: SparkSession, output_dir: str) -> DataFrame:
    """The consumer-facing view of the results table: only rows from runs
    the manifest acknowledged, with orphan duplicates from crashed runs
    removed (first committed run per url wins). Before any manifest
    exists no run is acknowledged, and the view is empty."""
    w = Window.partitionBy("url").orderBy("run_id")
    return (
        _committed_rows(spark, output_dir, "results", _no_results)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def read_committed_spans(spark: SparkSession, output_dir: str) -> DataFrame:
    """The spans of ``read_committed_results``: rows of acknowledged runs,
    and of each url only its first committed run's, so each (url, field)
    pair appears once."""
    first = F.min("run_id").over(Window.partitionBy("url"))
    return (
        _committed_rows(spark, output_dir, "spans",
                        lambda s: results_to_spans(_no_results(s)))
        .withColumn("_first", first)
        .where(F.col("run_id") == F.col("_first"))
        .drop("_first")
    )


def _committed_count(spark: SparkSession, manifest_path: str) -> int:
    """Committed row count from the manifest (a few rows per run-bucket) —
    never scans the results table."""
    manifest = read_committed(spark, manifest_path)
    if manifest is None:
        return 0
    return int(manifest.agg(F.sum("rows")).first()[0] or 0)


def _delete_temporary(spark: SparkSession, path: str) -> None:
    """Delete ``<path>/_temporary``, which only a killed writer leaves: an
    append's job commit takes every task directory under it, so a dead
    run's committed tasks would join this run's commit."""
    fs, Path = hadoop_fs(spark, path)
    fs.delete(Path(f"{path}/_temporary"), True)


# Below this many committed urls the resume anti-join broadcasts the
# committed set; above it, a shuffled join (AQE-planned) — broadcasting a
# 10^9-url set would OOM the driver.
BROADCAST_RESUME_LIMIT = 5_000_000


def write_debug_samples(
    pages: DataFrame, output_dir: str, run_id: str, n: int, extractor=None
) -> str:
    """Opt-in per-stage debug sample sink — the Spark analog of the
    reference's ``DebugOutputManager`` (``cli/debug_output.py:24-339``),
    which dumps each preprocessing/OCR/result stage as a per-document
    artifact. Here each STAGE TABLE gets an n-row sample written under
    ``<output_dir>/debug/run_id=<id>/<stage>``: ``pages`` (raw input),
    ``words`` (html→words stage), ``normalized`` (the OUTPUT OF
    ``normalize_stage`` — the exact 0-1000/PAGE_W×PAGE_H normalization the
    model pipeline consumes, so debug boxes are comparable to model
    behavior, never a lookalike), and ``fields`` (final extraction). The
    sample is ``orderBy(url).limit(n)`` — deterministic, and per-url
    consistent across all four stage tables.

    Debug-only path: runs the kernels on n extra rows, never touches the
    main job's plan or its results/manifest."""
    sample = pages.orderBy("url").limit(n).persist()
    base = f"{output_dir}/debug/run_id={run_id}"
    sample.write.mode("overwrite").parquet(f"{base}/pages")
    words = parse_stage(sample).persist()
    words.write.mode("overwrite").parquet(f"{base}/words")
    normalize_stage(words).write.mode("overwrite").parquet(f"{base}/normalized")
    extract = extractor or extract_from_pages
    extract(sample).write.mode("overwrite").parquet(f"{base}/fields")
    words.unpersist()
    sample.unpersist()
    return base


def run_job(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    resume: bool = True,
    run_id: str | None = None,
    extractor=None,
    debug_samples: int = 0,
) -> dict:
    """Execute the extraction job with resume + manifest. Returns run stats:
    ``rows_in`` (pages read), ``rows_skipped_resume`` (pages whose url was
    already committed) and ``rows_total_committed`` (the manifest's row
    total after this run). The first two, and the rows this run writes,
    are Observations on the results write's own plan, not extra passes;
    the manifest is aggregated once, before the run. A run that commits
    no rows writes no spans or manifest.

    ``extractor`` swaps the extraction stage: a function of the pages
    DataFrame (default extract_from_pages; pass
    ``extract_from_pages_with_model`` for the model path) —
    commit/resume/spans/manifest semantics and the result layout are
    identical.

    Layout: the extractor runs at source parallelism, then
    ``bucket_results`` shuffles its output once by bucket id, so a run
    writes exactly one file into each ``url_bucket=`` directory it
    touches (n_buckets files at most), whatever the input's split count.

    One writer per output dir is assumed: before its first write a run
    deletes the ``_temporary`` dirs of results, spans and manifest, which
    only a killed writer leaves behind.

    ``debug_samples > 0`` additionally writes an N-row sample of each
    pipeline stage under ``<output_dir>/debug/run_id=<id>/`` (see
    ``write_debug_samples``)."""
    run_id = run_id or uuid.uuid4().hex[:12]
    results_path = f"{output_dir}/results"
    spans_path = f"{output_dir}/spans"
    manifest_path = f"{output_dir}/manifest"
    for path in (results_path, spans_path, manifest_path):
        _delete_temporary(spark, path)

    n_committed = _committed_count(spark, manifest_path)
    committed = (
        _committed_urls(spark, results_path, manifest_path) if resume else None
    )
    if committed is not None and n_committed <= BROADCAST_RESUME_LIMIT:
        committed = F.broadcast(committed)

    def unprocessed(df: DataFrame) -> DataFrame:
        if committed is None:
            return df
        # rescue an under-split source BEFORE the anti-join: the join's
        # Exchange would make the extractor's own rescue a no-op, and the
        # kernel would run at the source's split count
        from ..partitioning import ensure_min_parallelism

        return ensure_min_parallelism(df).join(committed, "url", "left_anti")

    if debug_samples > 0:
        # unobserved: the samples' actions must not fill the run's counts
        write_debug_samples(
            unprocessed(pages), output_dir, run_id, debug_samples, extractor
        )

    t0 = time.monotonic()
    todo, obs_in = counted(pages, "run_job-in")
    obs_todo = obs_in
    if committed is not None:
        todo, obs_todo = counted(unprocessed(todo), "run_job-todo")
    extract = extractor or extract_from_pages
    results, obs_out = counted(
        bucket_results(extract(todo), n_buckets, run_id), "run_job-out"
    )
    results.write.mode("append").partitionBy("url_bucket").parquet(results_path)
    elapsed = time.monotonic() - t0

    n_in = observed_rows(obs_in, pages.count)
    n_todo = observed_rows(obs_todo, lambda: unprocessed(pages).count())
    n_out = obs_out.get["rows"]  # the write's root: always in its plan
    if n_out:
        # Derive spans + manifest from the COMMITTED rows of this run
        # (read-back, not recompute — the expensive kernels run exactly
        # once per document; cached so spans and manifest share one scan).
        committed_now = (
            spark.read.parquet(results_path)
            .where(F.col("run_id") == run_id)
            .persist()
        )
        results_to_spans(committed_now).write.mode("append").parquet(spans_path)
        manifest = (
            committed_now.groupBy("url_bucket")
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.length("extracted_text")).alias("bytes_in"),
            )
            .withColumn("run_id", F.lit(run_id))
            .select("run_id", "url_bucket", "rows", "bytes_in")
        )
        manifest.write.mode("append").parquet(manifest_path)
        committed_now.unpersist()
    return {
        "run_id": run_id,
        "results_path": results_path,
        "rows_in": n_in,
        "rows_skipped_resume": n_in - n_todo,
        "rows_total_committed": n_committed + n_out,
        "elapsed_sec": elapsed,
    }
