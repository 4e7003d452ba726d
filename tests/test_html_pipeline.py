"""Stage-1 HTML parsing + full pages pipeline: boilerplate stripping,
text byte-identity, and resume semantics."""

import pytest
from pyspark.sql import functions as F

from documentprocessor_spark import reference_semantics as ref
from documentprocessor_spark.layout import layout_words
from documentprocessor_spark.operators.html_parse import (
    extract_content_lines,
    html_to_words,
    html_tuples,
    page_tuples,
)
from documentprocessor_spark.plans.pipeline import extract_from_pages, run_job
from documentprocessor_spark.schemas import PAGES
from documentprocessor_spark.sources.synthetic import (
    RECEIPT_LINES,
    generate_corpus,
    render_html,
)


def test_boilerplate_stripped():
    html = render_html(RECEIPT_LINES)
    lines = extract_content_lines(html)
    joined = " ".join(lines)
    # content survives
    assert "GROCERY STORE" in joined
    assert "TOTAL $12.40" in joined
    # nav/footer/sidebar link farms and script payloads do not
    for boiler in ("Home", "About", "Privacy", "Sitemap", "Deals", "tracker"):
        assert boiler not in joined, boiler


def test_html_roundtrip_matches_layout_model():
    html = render_html(RECEIPT_LINES)
    words = html_to_words(html)
    expected = layout_words([l for l in RECEIPT_LINES if l.strip()])
    assert [(w["text"], w["x0"], w["y0"], w["x1"], w["y1"], w["confidence"])
            for w in words] == expected


def test_malformed_html_never_raises():
    assert extract_content_lines(b"<p>ok<div><<<>><a href=") is not None
    assert html_to_words(b"\xff\xfe garbage bytes") is not None


def test_fast_scanner_equals_htmlparser_reference():
    """The regex fast path and the stdlib-HTMLParser reference implementation
    must segment identically on the supported dialect."""
    cases = [
        render_html(RECEIPT_LINES),
        b"<p>ok<div><<<>><a href=",
        b"\xff\xfe garbage",
        b"",
        b'<p>a&amp;b &lt;x&gt;</p><!-- <p>no</p> -->'
        b'<script>var a="<p>hi</p>";</script><p>end</p>',
        b"<P>UPPER</P><A HREF=x>link</A>",
        b'<!DOCTYPE html><td>a</td><td att=">">b</td>',
        b"<nav><a>x</a></nav><main><p>keep</p></main><footer>f</footer>",
    ]
    cases += [h for _u, _ts, h, _t, _l, _w, _pw, _ph in generate_corpus(200, seed=11)]
    for html in cases:
        assert extract_content_lines(html, "fast") == extract_content_lines(
            html, "parser"
        ), html[:80]


def test_page_tuples_routes_each_row_kind():
    """page_tuples is the one content-routing rule of a pages row: PDF
    payloads, html bytes, html str, NULL html with text, all-NULL."""
    from documentprocessor_spark.sources.pdf import pdf_tuples, write_pdf

    pdf = bytes(write_pdf("invoice 7 total 7.99 alpha beta"))
    html = render_html(RECEIPT_LINES)
    assert page_tuples(pdf, None) == pdf_tuples(pdf)
    assert [w[0] for w in page_tuples(pdf, "ignored")] == [
        "invoice", "7", "total", "7.99", "alpha", "beta"]
    assert page_tuples(html, None) == layout_words(
        [l for l in RECEIPT_LINES if l.strip()])
    assert page_tuples(html.decode(), "ignored") == html_tuples(html)
    assert page_tuples(None, "Total 12.50 USD") == layout_words(["Total 12.50 USD"])
    assert page_tuples(None, "") == []
    assert page_tuples(None, None) == []


@pytest.fixture(scope="module")
def corpus_pages(spark):
    rows = [
        (url, ts, html, text, lang)
        for url, ts, html, text, lang, _w, _pw, _ph in generate_corpus(60, seed=7)
    ]
    return spark.createDataFrame(rows, PAGES)


def test_pipeline_text_byte_identical_to_golden(spark, corpus_pages):
    results = {
        r["url"]: r.asDict(recursive=True)
        for r in extract_from_pages(corpus_pages).collect()
    }
    for url, _ts, _html, text, _lang, words, _pw, _ph in generate_corpus(60, seed=7):
        assert results[url]["extracted_text"] == text, url
        golden = ref.extract_fields(words)
        for f in ("vendor_name", "date", "total_amount", "subtotal",
                  "tax_amount", "currency"):
            assert results[url][f] == golden[f], f"{url}.{f}"
        assert results[url]["line_items"] == golden["line_items"], url


def test_crashed_run_is_reprocessed_not_lost(spark, corpus_pages, tmp_path):
    """Manifest-as-commit-marker semantics: result rows whose run never
    reached the manifest write are NOT treated as committed — the documents
    are reprocessed on resume, and read_committed_results hides orphans."""
    from documentprocessor_spark.plans.pipeline import (
        read_committed_results,
        run_job,
        with_url_bucket,
        extract_from_pages,
    )

    out = str(tmp_path / "crashjob")
    # simulate a run that died after the results write: write result rows
    # with a run_id that never reaches the manifest
    partial = with_url_bucket(
        extract_from_pages(corpus_pages.limit(10)), 4
    ).withColumn("run_id", F.lit("deadrun000000"))
    partial.write.mode("append").partitionBy("url_bucket").parquet(f"{out}/results")

    stats = run_job(spark, corpus_pages, out, n_buckets=4)
    # nothing was considered committed -> nothing skipped, all reprocessed
    assert stats["rows_skipped_resume"] == 0
    assert stats["rows_total_committed"] == corpus_pages.count()
    # raw results contain orphan duplicates; the committed view does not
    raw = spark.read.parquet(f"{out}/results")
    assert raw.count() == corpus_pages.count() + 10
    committed = read_committed_results(spark, out)
    assert committed.count() == corpus_pages.count()
    assert committed.where(F.col("run_id") == "deadrun000000").count() == 0


def _result_files_per_bucket(out):
    import glob
    import os

    return {
        os.path.basename(d): len(glob.glob(f"{d}/*.parquet"))
        for d in glob.glob(f"{out}/results/url_bucket=*")
    }


def test_run_job_commits_one_file_per_bucket(spark, tmp_path):
    """run_job shuffles the kernel output by bucket id, so a run over a
    16-split source leaves exactly one parquet file in each url_bucket
    directory it touched (not one per source split), and spans follow."""
    import glob

    from documentprocessor_spark.sources.synthetic import distributed_corpus

    out = str(tmp_path / "job")
    stats = run_job(spark, distributed_corpus(spark, 200, n_partitions=16),
                    out, n_buckets=4)
    assert stats["rows_total_committed"] == 200
    files = _result_files_per_bucket(out)
    assert files and all(n == 1 for n in files.values()), files
    assert len(glob.glob(f"{out}/spans/*.parquet")) <= 4


def test_run_job_model_path_commits_one_file_per_bucket(spark, tmp_path):
    """The result layout belongs to run_job, not the extractor: the
    model-path extractor gets the same one-file-per-bucket commit."""
    from documentprocessor_spark.plans.pipeline import (
        extract_from_pages_with_model,
    )
    from documentprocessor_spark.sources.synthetic import distributed_corpus

    out = str(tmp_path / "modeljob")
    run_job(spark, distributed_corpus(spark, 60, n_partitions=16), out,
            n_buckets=4, extractor=extract_from_pages_with_model)
    files = _result_files_per_bucket(out)
    assert files and all(n == 1 for n in files.values()), files


def test_results_write_plan_shuffles_only_kernel_output(spark):
    """The plan run_job writes has exactly one shuffle Exchange — the
    bucket-id repartition — and it sits ABOVE the MapInArrow kernel, so
    html never crosses a shuffle."""
    from documentprocessor_spark.plans.pipeline import bucket_results
    from documentprocessor_spark.sources.synthetic import distributed_corpus

    pages = distributed_corpus(spark, 64, n_partitions=16)
    plan = (bucket_results(extract_from_pages(pages), 4, "r")
            ._jdf.queryExecution().executedPlan().toString().splitlines())
    exchanges = [i for i, line in enumerate(plan) if "Exchange" in line]
    kernels = [i for i, line in enumerate(plan) if "MapInArrow" in line]
    assert len(exchanges) == 1, plan
    assert "direct_shuffle_partition_id(url_bucket" in plan[exchanges[0]]
    assert len(kernels) == 1 and exchanges[0] < kernels[0], plan


def test_run_job_resume_skips_committed(spark, corpus_pages, tmp_path):
    out = str(tmp_path / "job")
    first = run_job(spark, corpus_pages.limit(30), out, n_buckets=8)
    assert first["rows_skipped_resume"] == 0
    second = run_job(spark, corpus_pages, out, n_buckets=8)
    assert second["rows_skipped_resume"] == 30
    assert second["rows_total_committed"] == corpus_pages.count()
    # manifest has lineage rows for both runs
    manifest = spark.read.parquet(f"{out}/manifest")
    assert manifest.select("run_id").distinct().count() == 2
    assert manifest.agg(F.sum("rows")).first()[0] == corpus_pages.count()
    # spans long table exists and references only committed urls
    spans = spark.read.parquet(f"{out}/spans")
    assert spans.count() > 0
    assert spans.join(
        spark.read.parquet(f"{out}/results"), "url", "left_anti"
    ).count() == 0


def test_run_job_raises_on_a_corrupt_manifest(spark, corpus_pages, tmp_path):
    """An unreadable manifest is not "nothing committed": the resumed run
    raises before it extracts, and appends no result rows."""
    import glob
    import os

    out = str(tmp_path / "job")
    run_job(spark, corpus_pages.limit(30), out, n_buckets=4)
    for f in glob.glob(f"{out}/manifest/*"):
        if f.endswith(".parquet"):
            with open(f, "wb") as fh:
                fh.write(b"not a parquet file")
        elif f.endswith(".crc"):
            os.remove(f)
    with pytest.raises(Exception):
        run_job(spark, corpus_pages, out, n_buckets=4)
    assert spark.read.parquet(f"{out}/results").count() == 30


def test_manifest_of_only_temporary_is_nothing_committed(
        spark, corpus_pages, tmp_path):
    """A first run killed while its manifest tasks were writing leaves
    result rows and a manifest dir holding only ``_temporary`` (an
    uncommitted task attempt's file): nothing is committed, so
    the read view is empty and the rerun commits every url exactly once."""
    import os
    import shutil

    from documentprocessor_spark.plans.pipeline import read_committed_results

    out = str(tmp_path / "job")
    run_job(spark, corpus_pages.limit(30), out, n_buckets=4)
    attempt = f"{out}/manifest/_temporary/0/_temporary/attempt_0"
    os.makedirs(attempt)
    for f in os.listdir(f"{out}/manifest"):
        if f.endswith(".parquet"):
            shutil.move(f"{out}/manifest/{f}", attempt)
    for f in os.listdir(f"{out}/manifest"):
        if f != "_temporary":
            os.remove(f"{out}/manifest/{f}")
    assert read_committed_results(spark, out).count() == 0

    stats = run_job(spark, corpus_pages, out, n_buckets=4)
    assert stats["rows_skipped_resume"] == 0
    assert stats["rows_total_committed"] == corpus_pages.count()
    committed = read_committed_results(spark, out)
    assert committed.count() == corpus_pages.count()
    assert committed.select("url").distinct().count() == corpus_pages.count()


def test_read_committed_of_a_missing_path_never_reads(
        spark, tmp_path, monkeypatch):
    """A missing path is "nothing committed" without a read: a failed
    read logs a listener stack trace in a session that has run an
    Observation. A directory with no data files still goes through the
    read and its UNABLE_TO_INFER_SCHEMA rule."""
    from pyspark.sql.readwriter import DataFrameReader

    from documentprocessor_spark.sources.tables import read_committed

    (tmp_path / "empty").mkdir()
    reads = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert read_committed(spark, str(tmp_path / "missing")) is None
    assert read_committed(spark, f"file://{tmp_path}/missing") is None
    assert reads == []
    assert read_committed(spark, str(tmp_path / "empty")) is None
    assert reads == [(str(tmp_path / "empty"),)]


def test_run_job_counts_come_from_the_write_plan(
        spark, corpus_pages, tmp_path, monkeypatch):
    """rows_in, rows_skipped_resume and rows_total_committed are observed
    on the plan the results write runs, with no count() over the pages or
    the resume anti-join: on a fresh run, a superset resume, an
    all-committed rerun, an empty input and a run with debug samples. A
    fresh run aggregates no manifest after its commit."""
    from pyspark.sql import DataFrame

    def no_count(self):
        raise AssertionError("run_job counted rows in a pass of its own")

    monkeypatch.setattr(DataFrame, "count", no_count)
    sc = spark.sparkContext

    def last_job():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(sc.statusTracker().getJobIdsForGroup(), default=-1)

    def run(pages, out, **kw):
        s = run_job(spark, pages, str(tmp_path / out), n_buckets=4, **kw)
        return s["rows_in"], s["rows_skipped_resume"], s["rows_total_committed"]

    before = last_job()
    assert run(corpus_pages, "fresh") == (60, 0, 60)
    # results write (2 query stages), read-back, spans, manifest (2)
    assert last_job() - before <= 6
    assert run(corpus_pages.limit(30), "job") == (30, 0, 30)
    assert run(corpus_pages, "job") == (60, 30, 60)
    assert run(corpus_pages, "job") == (60, 60, 60)
    assert run(corpus_pages.limit(0), "empty") == (0, 0, 0)
    assert run(corpus_pages.limit(0), "job") == (0, 0, 60)
    assert run(corpus_pages, "debug", debug_samples=5) == (60, 0, 60)
    assert run(corpus_pages, "debug", debug_samples=5) == (60, 60, 60)


def test_stale_temporary_task_output_is_not_committed(
        spark, corpus_pages, tmp_path):
    """A run killed between its manifest's task commit and job commit
    leaves the task output under ``manifest/_temporary/0/task_0``. The next
    run deletes it before writing, so its manifest commit does not take
    the dead run's rows in: 60 committed rows for 60 urls, not 90."""
    import os
    import shutil

    out = str(tmp_path / "job")
    dead = run_job(spark, corpus_pages.limit(30), out, n_buckets=4)
    task = f"{out}/manifest/_temporary/0/task_0"
    os.makedirs(task)
    for f in os.listdir(f"{out}/manifest"):
        if f.endswith(".parquet"):
            shutil.move(f"{out}/manifest/{f}", task)
        elif f != "_temporary":
            os.remove(f"{out}/manifest/{f}")

    stats = run_job(spark, corpus_pages, out, n_buckets=4)
    assert stats["rows_skipped_resume"] == 0
    assert stats["rows_total_committed"] == corpus_pages.count()
    manifest = spark.read.parquet(f"{out}/manifest")
    assert manifest.agg(F.sum("rows")).first()[0] == corpus_pages.count()
    assert manifest.where(F.col("run_id") == dead["run_id"]).count() == 0
    again = run_job(spark, corpus_pages, out, n_buckets=4)
    assert again["rows_skipped_resume"] == corpus_pages.count()
    assert again["rows_total_committed"] == corpus_pages.count()


def test_committed_spans_hold_each_url_field_once(
        spark, corpus_pages, tmp_path):
    """A dead run's results and spans, left without a manifest, sit next
    to the rerun's: the committed spans view drops the orphans by run_id,
    so each (url, field) pair appears once, and it equals the spans of
    the committed results."""
    import shutil

    from documentprocessor_spark.plans.pipeline import (
        read_committed_results,
        read_committed_spans,
        results_to_spans,
    )

    dead, out = str(tmp_path / "dead"), str(tmp_path / "job")
    run_job(spark, corpus_pages, dead, n_buckets=4)
    for table in ("results", "spans"):
        shutil.copytree(f"{dead}/{table}", f"{out}/{table}")
    run_job(spark, corpus_pages, out, n_buckets=4)

    raw = spark.read.parquet(f"{out}/spans")
    spans = read_committed_spans(spark, out).select(*raw.columns)
    assert raw.count() == 2 * spans.count() > 0
    assert spans.groupBy("url", "field").count().where("count > 1").count() == 0
    want = results_to_spans(read_committed_results(spark, out))
    assert spans.exceptAll(want).count() == 0
    assert want.exceptAll(spans).count() == 0


def test_committed_views_of_an_empty_first_run_are_empty(
        spark, corpus_pages, tmp_path):
    """An empty-input first run commits no data file: ``results`` holds
    only ``_SUCCESS``, and there is no ``spans`` dir and no manifest. Both
    committed views are then empty, in the layout a run with rows
    commits."""
    from documentprocessor_spark.plans.pipeline import (
        read_committed_results,
        read_committed_spans,
    )

    empty, full = str(tmp_path / "empty"), str(tmp_path / "full")
    run_job(spark, corpus_pages.limit(0), empty, n_buckets=4)
    run_job(spark, corpus_pages.limit(5), full, n_buckets=4)
    for read in (read_committed_results, read_committed_spans):
        view = read(spark, empty)
        assert view.count() == 0
        assert view.dtypes == read(spark, full).dtypes


def test_run_job_rerun_compiles_no_new_classes(
        spark, corpus_pages, tmp_path, codegen_compiles):
    """A second run_job into a fresh output dir reuses the first run's
    generated classes: nothing run-specific (elapsed time, counters) is a
    literal in its plans."""
    run_job(spark, corpus_pages, str(tmp_path / "first"), n_buckets=4)
    before = codegen_compiles()
    run_job(spark, corpus_pages, str(tmp_path / "second"), n_buckets=4)
    assert codegen_compiles() - before == 0


def test_resume_reads_manifest_files_of_the_older_layout(
        spark, corpus_pages, tmp_path):
    """Manifest files written before the manifest lost its partition_id,
    ms and status columns still acknowledge their runs: resume and
    read_committed_results read only run_id and rows."""
    import shutil

    from documentprocessor_spark.plans.pipeline import read_committed_results

    out = str(tmp_path / "job")
    run_job(spark, corpus_pages.limit(30), out, n_buckets=4)
    old = spark.createDataFrame(
        [(r.run_id, r.url_bucket, r.url_bucket, r.rows, r.bytes_in, 812.5,
          "committed")
         for r in spark.read.parquet(f"{out}/manifest").collect()],
        "run_id string, partition_id int, url_bucket int, rows long, "
        "bytes_in long, ms double, status string",
    )
    shutil.rmtree(f"{out}/manifest")
    old.write.parquet(f"{out}/manifest")

    stats = run_job(spark, corpus_pages, out, n_buckets=4)
    assert stats["rows_skipped_resume"] == 30
    assert stats["rows_total_committed"] == corpus_pages.count()
    assert read_committed_results(spark, out).count() == corpus_pages.count()


def test_resume_run_rescues_under_split_source(spark, corpus_pages, tmp_path):
    """A resume run (a committed earlier run in the output dir) over a
    single-row-group pages file still runs the kernel at >=
    defaultParallelism partitions: the rescue happens before the resume
    anti-join, whose Exchange would otherwise hide the under-split
    source from the extractor's own rescue."""
    src = str(tmp_path / "pages")
    corpus_pages.coalesce(1).write.parquet(src)
    pages = spark.read.parquet(src)
    assert pages.rdd.getNumPartitions() == 1
    out = str(tmp_path / "job")
    run_job(spark, pages.limit(20), out, n_buckets=4)

    kernels = []

    def extractor(todo):
        kernels.append(extract_from_pages(todo))
        return kernels[-1]

    stats = run_job(spark, pages, out, n_buckets=4, extractor=extractor)
    assert stats["rows_skipped_resume"] == 20
    assert stats["rows_total_committed"] == corpus_pages.count()
    assert (kernels[0].rdd.getNumPartitions()
            >= spark.sparkContext.defaultParallelism)


def test_results_read_prunes_url_bucket_partitions(spark, tmp_path):
    """The results sink is partitioned by url_bucket; a bucket-filtered
    read must prune at the LISTING level (PartitionFilters in the scan),
    the property that makes selective re-reads cheap at 100 TB."""
    from pyspark.sql import functions as F

    from documentprocessor_spark.plans.pipeline import run_job
    from documentprocessor_spark.sources.synthetic import distributed_corpus

    out = str(tmp_path / "job")
    run_job(spark, distributed_corpus(spark, 200), out)
    res = spark.read.parquet(out + "/results")
    bucket = res.select("url_bucket").first().url_bucket
    one = res.filter(F.col("url_bucket") == bucket)
    plan = one._jdf.queryExecution().executedPlan().toString()
    # the filter must be INSIDE the PartitionFilters bracket — matching the
    # 120 chars after the keyword would false-pass on an unpartitioned sink
    # whose adjacent PushedFilters clause also names url_bucket
    import re as _re

    assert _re.search(r"PartitionFilters: \[[^\]]*url_bucket", plan), plan
    # pruned read returns exactly that bucket's rows
    assert one.count() > 0


def test_compact_results_preserves_rows_and_resume(spark, corpus_pages, tmp_path):
    """Small-file compaction: two appended runs leave multiple files per
    bucket; compaction collapses each bucket to one file with identical
    rows, the same partition layout, and resume semantics untouched."""
    import glob
    import os

    from documentprocessor_spark.sources.tables import compact_results

    out = str(tmp_path / "job")
    run_job(spark, corpus_pages.limit(30), out, n_buckets=4)
    run_job(spark, corpus_pages, out, n_buckets=4)
    results = f"{out}/results"

    def files_per_bucket():
        return {
            os.path.basename(d): len(glob.glob(f"{d}/*.parquet"))
            for d in glob.glob(f"{results}/url_bucket=*")
        }

    before_rows = sorted(
        spark.read.parquet(results).collect(), key=lambda r: r.url
    )
    assert any(n > 1 for n in files_per_bucket().values())  # fragmented

    stats = compact_results(spark, results, files_per_bucket=1)
    assert stats["rows"] == len(before_rows)
    after = files_per_bucket()
    assert after and all(n == 1 for n in after.values())
    after_rows = sorted(
        spark.read.parquet(results).collect(), key=lambda r: r.url
    )
    assert after_rows == before_rows
    # no leftover tmp/bak dirs
    assert not os.path.exists(results + ".compact.tmp")
    assert not os.path.exists(results + ".compact.bak")
    # resume still sees everything as committed
    third = run_job(spark, corpus_pages, out, n_buckets=4)
    assert third["rows_skipped_resume"] == corpus_pages.count()


def test_maintenance_job_cli_compacts(spark, corpus_pages, tmp_path, capsys):
    import glob
    import json as _json
    import os

    from jobs.maintenance_job import main

    out = str(tmp_path / "job")
    run_job(spark, corpus_pages.limit(30), out, n_buckets=4)
    run_job(spark, corpus_pages, out, n_buckets=4)
    results = f"{out}/results"
    n_before = spark.read.parquet(results).count()
    main(["compact", "--path", results], stop_session=False)
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows"] == n_before
    for d in glob.glob(f"{results}/url_bucket=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1, os.path.basename(d)


def test_compact_results_preserves_evolved_schema(spark, tmp_path):
    """Compaction of a schema-evolved lake must keep columns that exist
    only in newer-generation files (a single-footer read would silently
    drop them — permanent data loss the row-count check cannot see)."""
    from pyspark.sql import functions as F2

    from documentprocessor_spark.sources.tables import (
        compact_results,
        read_results,
    )

    path = str(tmp_path / "results")
    gen1 = spark.range(0, 10).select(
        F2.concat(F2.lit("u"), "id").alias("url"),
        F2.lit("r1").alias("run_id"),
        (F2.col("id") % 4).cast("int").alias("url_bucket"),
    )
    gen1.write.mode("append").partitionBy("url_bucket").parquet(path)
    gen2 = spark.range(10, 20).select(
        F2.concat(F2.lit("u"), "id").alias("url"),
        F2.lit("r2").alias("run_id"),
        (F2.col("id") % 4).cast("int").alias("url_bucket"),
        (F2.col("id") * 2).alias("extra"),
    )
    gen2.write.mode("append").partitionBy("url_bucket").parquet(path)

    compact_results(spark, path)
    back = read_results(spark, path, merge_schema=True)
    assert "extra" in back.columns
    assert back.filter("extra is not null").count() == 10
    assert back.count() == 20


def test_compact_results_recovers_from_interrupted_swap(spark, tmp_path):
    """A crash between the two swap renames leaves the table only at .bak;
    the next compaction must restore it instead of failing forever."""
    import os

    from documentprocessor_spark.sources.tables import compact_results

    path = str(tmp_path / "results")
    df = spark.range(0, 12).selectExpr(
        "concat('u', id) as url", "'r1' as run_id",
        "cast(id % 3 as int) as url_bucket",
    )
    df.write.mode("append").partitionBy("url_bucket").parquet(path)
    # simulate the crash window: table renamed to .bak, new table never moved
    os.rename(path, path + ".compact.bak")
    stats = compact_results(spark, path)
    assert stats["rows"] == 12
    assert spark.read.parquet(path).count() == 12
    assert not os.path.exists(path + ".compact.bak")


def test_compact_results_on_a_file_uri(spark, tmp_path):
    """compact_results takes any Hadoop path: given a file:// URI it
    restores a table left at .bak by an interrupted swap, compacts it in
    place and leaves no tmp or bak dir behind."""
    import os

    from documentprocessor_spark.sources.tables import compact_results

    path = str(tmp_path / "results")
    df = spark.range(0, 12).selectExpr(
        "concat('u', id) as url", "'r1' as run_id",
        "cast(id % 3 as int) as url_bucket",
    )
    for _ in range(2):
        df.write.mode("append").partitionBy("url_bucket").parquet(path)
    os.rename(path, path + ".compact.bak")
    stats = compact_results(spark, f"file://{path}")
    assert stats["rows"] == 24
    assert spark.read.parquet(path).count() == 24
    assert sorted(os.listdir(tmp_path)) == ["results"]


def test_words_path_equals_fused_kernel_on_rows_without_html(spark):
    """parse_words_udf and the fused kernel route a row without html the
    same way: its text through the layout model, NULL or empty text to no
    words, with identical fields on both paths."""
    from datetime import datetime

    from documentprocessor_spark.operators.extract import (
        attach_extraction,
        fused_extract,
    )
    from documentprocessor_spark.operators.html_parse import parse_pages
    from documentprocessor_spark.schemas import RESULT

    ts = datetime(2021, 1, 15, 12, 0, 0)
    text = "ACME MARKET Total 12.50 USD thanks"
    pages = spark.createDataFrame(
        [("t://text", ts, None, text, None),
         ("t://empty", ts, None, "", None),
         ("t://null", ts, None, None, None)],
        schema=PAGES,
    )
    words = parse_pages(pages.select("url", "html", "text"))
    got_words = {
        r.url: [tuple(w) for w in r.words]
        for r in words.select("url", "words").collect()
    }
    assert got_words == {
        "t://text": layout_words([text]), "t://empty": [], "t://null": []}

    cols = RESULT.names
    chained = {
        r.url: r for r in attach_extraction(words).select(*cols).collect()}
    fused = {r.url: r for r in fused_extract(pages).select(*cols).collect()}
    assert chained == fused
    assert chained["t://text"].extracted_text == text
    for url in ("t://empty", "t://null"):
        assert chained[url].extracted_text == ""
        assert chained[url].status == "done"
