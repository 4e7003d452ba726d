"""Byte-identity: the Spark extraction operators vs the pure-Python golden
surface, over every FIXTURES.md document."""

import pytest
from pyspark.sql import functions as F

from documentprocessor_spark import reference_semantics as ref
from documentprocessor_spark.functions.boxes import normalize_words_col
from documentprocessor_spark.operators.extract import (
    attach_extraction,
    words_long_to_arrays,
)
from documentprocessor_spark.sources.synthetic import (
    build_fixture_tables,
    fixture_docs,
)


def golden_per_url():
    """Pure-Python goldens keyed by url, multi-page words concatenated in
    page order (receipt_processor.py:156-196)."""
    merged = {}
    for url, pno, words, _w, _h, _lines in sorted(
        fixture_docs(), key=lambda d: (d[0], d[1])
    ):
        merged.setdefault(url, []).extend(words)
    return {
        url: {"extracted_text": ref.raw_text(words), **ref.extract_fields(words)}
        for url, words in merged.items()
    }


@pytest.fixture(scope="module")
def spark_results(spark):
    pages, words, _meta = build_fixture_tables(spark)
    # words_long_to_arrays only yields urls that have words; the pages table
    # supplies the url universe (documents with zero words still get a row,
    # as in the pages-driven pipeline).
    arrays = pages.select("url").join(
        words_long_to_arrays(words), "url", "left"
    ).withColumn(
        "words",
        F.coalesce(F.col("words"), F.array().cast(
            "array<struct<text:string,x0:int,y0:int,x1:int,y1:int,confidence:double>>"
        )),
    )
    out = attach_extraction(arrays, "words")
    return {r["url"]: r.asDict(recursive=True) for r in out.collect()}


def test_extracted_text_byte_identical(spark_results):
    goldens = golden_per_url()
    assert set(spark_results) == set(goldens)
    for url, g in goldens.items():
        assert spark_results[url]["extracted_text"] == g["extracted_text"], url


def test_all_fields_equal_golden(spark_results):
    goldens = golden_per_url()
    for url, g in goldens.items():
        got = spark_results[url]
        for field in ("vendor_name", "date", "total_amount", "subtotal",
                      "tax_amount", "currency", "merchant_address"):
            assert got[field] == g[field], f"{url}.{field}: {got[field]} != {g[field]}"
        assert got["line_items"] == g["line_items"], f"{url}.line_items"
        assert got["status"] == "done"
        assert got["error"] is None


def test_native_normalize_matches_python(spark):
    _pages, words, meta = build_fixture_tables(spark)
    arrays = words_long_to_arrays(words)
    # single-page urls only: normalization is per-page (multi-page pages
    # normalize per page before concat)
    single = arrays.join(
        meta.groupBy("url").count().where(F.col("count") == 1), "url"
    ).join(meta.select("url", "image_width", "image_height"), "url")
    normed = single.select(
        "url",
        normalize_words_col(
            F.col("words"), F.col("image_width"), F.col("image_height")
        ).alias("normed"),
    )
    got = {r["url"]: r.asDict(recursive=True)["normed"] for r in normed.collect()}
    for url, pno, words_py, w, h, _lines in fixture_docs():
        if url not in got:
            continue
        expected = [
            {"text": t, "x0": a, "y0": b, "x1": c, "y1": d, "confidence": cf}
            for (t, a, b, c, d, cf) in ref.normalize_words(words_py, w, h)
        ]
        assert got[url] == expected, url


def test_result_row_shape_matches_reference_contract(spark):
    """The serialized result row carries exactly the reference's top-level
    job-result keys (receipt_processor.py:139-151), minus the process-salted
    job_id (excluded per FIXTURES.md §5) plus our status/error/url columns."""
    import json

    from documentprocessor_spark.plans.pipeline import extract_from_pages
    from documentprocessor_spark.schemas import PAGES
    from documentprocessor_spark.sources.synthetic import generate_corpus

    rows = [(u, ts, h, t, l) for u, ts, h, t, l, *_ in generate_corpus(2, seed=1)]
    pages = spark.createDataFrame(rows, PAGES)
    row = extract_from_pages(pages).first()
    payload = json.loads(json.dumps(row.asDict(recursive=True), default=str))
    reference_keys = {
        "vendor_name", "merchant_address", "date", "total_amount",
        "subtotal", "tax_amount", "currency", "line_items", "status",
    }
    assert reference_keys <= set(payload)
    fld = payload["vendor_name"]
    assert set(fld) == {"value", "confidence", "box"}
    assert set(fld["box"]) == {"x0", "y0", "x1", "y1"}
    li = payload["line_items"][0]
    assert set(li) == {"description", "quantity", "unit_price", "line_total",
                       "box", "confidence"}


def test_profile_kernel_tool_runs(tmp_path):
    """tools/profile_kernel.py drives the fused kernel through private
    names (_PA_OUT, _extract_one_from_tuples): a kernel refactor that
    breaks them fails here. Pure Python, no Spark."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "profile_kernel.py"), "50"],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "n=50" in proc.stdout
    assert "fused kernel e2e:" in proc.stdout
