"""Every Parquet sink takes its codec from the one session conf
(`spark.sql.parquet.compression.codec=zstd` in session.get_spark): no
writer sets `compression`, so whatever run_job and curate_job write is
zstd. A table written under another codec (snappy, Spark's default, in
output dirs from before the conf) stays readable by resume and by
read_committed_results next to the zstd files a later run adds."""

from __future__ import annotations

import pathlib

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from documentprocessor_spark.plans.pipeline import (
    read_committed_results,
    results_to_spans,
    run_job,
)
from documentprocessor_spark.schemas import PAGES
from documentprocessor_spark.sources.synthetic import generate_corpus

CODEC = "spark.sql.parquet.compression.codec"

DOCS = [
    (1, "shared banner line\nunique body one two three four five six"),
    (2, "shared banner line\nother body six seven eight nine ten eleven"),
    (3, "completely different document body with its own words here now"),
    (4, "completely different document body with its own words here now"),
    (5, "the third unique document that shares nothing with the other pages"),
]


def _pages(spark, n):
    rows = [(url, ts, html, text, lang)
            for url, ts, html, text, lang, *_ in generate_corpus(n, seed=7)]
    return spark.createDataFrame(rows, PAGES)


def _codecs(root, sink):
    """{column-chunk codec} over every .parquet file under root/sink."""
    files = sorted(pathlib.Path(root, sink).rglob("*.parquet"))
    assert files, f"{sink}: no parquet files written"
    codecs = set()
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            codecs.update(rg.column(c).compression
                          for c in range(rg.num_columns))
    return codecs


def test_run_job_and_curate_job_write_only_zstd(spark, tmp_path, capsys):
    from jobs.curate_job import main

    out = str(tmp_path / "extract")
    run_job(spark, _pages(spark, 40), out, n_buckets=4)
    for sink in ("results", "spans", "manifest"):
        assert _codecs(out, sink) == {"ZSTD"}, sink

    src = str(tmp_path / "docs")
    spark.createDataFrame(DOCS, ["doc_id", "text"]).write.parquet(src)
    cur = str(tmp_path / "curate")
    main(["--input", src, "--output", cur, "--min-quality", "0.0",
          "--exact-substr-k", "3", "--line-dedup-min-count", "2",
          "--chunk-tokens", "4", "--winnow-k", "3", "--winnow-w", "2"],
         stop_session=False)
    capsys.readouterr()
    for sink in ("curated", "line_deduped", "chunks", "fingerprints"):
        assert _codecs(cur, sink) == {"ZSTD"}, sink


def test_resume_over_a_table_of_mixed_codecs(spark, tmp_path):
    """A first run written snappy, a resumed run written zstd into the same
    output dir: resume skips exactly the committed urls, and the committed
    view, spans and manifest are those of an all-zstd table."""
    pages = _pages(spark, 60)
    first_pages = pages.limit(30)
    out = str(tmp_path / "job")

    session_codec = spark.conf.get(CODEC)
    spark.conf.set(CODEC, "snappy")
    try:
        first = run_job(spark, first_pages, out, n_buckets=4)
    finally:
        spark.conf.set(CODEC, session_codec)
    for sink in ("results", "spans", "manifest"):
        assert _codecs(out, sink) == {"SNAPPY"}, sink
    assert first["rows_total_committed"] == 30

    second = run_job(spark, pages, out, n_buckets=4)
    assert second["rows_skipped_resume"] == 30
    assert second["rows_total_committed"] == 60
    for sink in ("results", "spans", "manifest"):
        assert _codecs(out, sink) == {"SNAPPY", "ZSTD"}, sink

    committed = read_committed_results(spark, out)
    golden = {url: text for url, _ts, _h, text, *_ in generate_corpus(60, seed=7)}
    assert {r["url"]: r["extracted_text"] for r in
            committed.select("url", "extracted_text").collect()} == golden

    manifest = spark.read.parquet(f"{out}/manifest")
    per_run = {r["run_id"]: r["rows"] for r in
               manifest.groupBy("run_id").agg(F.sum("rows").alias("rows"))
               .collect()}
    assert sorted(per_run.values()) == [30, 30]

    spans = spark.read.parquet(f"{out}/spans")
    want = results_to_spans(committed)
    assert spans.count() > 0
    assert (spans.exceptAll(want).count() == 0
            and want.exceptAll(spans).count() == 0)

