"""Curation plan, salted aggregation, sources (binaryFile/base64/JSON), and
the H10/H11 quality columns."""

import hashlib

import pytest
from pyspark.sql import functions as F

from documentprocessor_spark.operators.skew import salted_counts, salted_domain_stats
from documentprocessor_spark.plans.curate import curate_documents
from documentprocessor_spark.plans.pipeline import (
    confidence_filter,
    extract_from_pages,
    with_quality_columns,
)
from documentprocessor_spark.schemas import PAGES
from documentprocessor_spark.sources.readers import (
    binary_dir_to_pages,
    decode_base64_column,
    read_json_results,
    write_json_results,
)
from documentprocessor_spark.sources.synthetic import generate_corpus, render_html


def test_salted_counts_equal_plain_groupby(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    salted = {
        (r["event_type"]): (r["n_rows"], r["sum_value"])
        for r in salted_counts(ev, "event_type", "event_id", "value").collect()
    }
    plain = {
        r["event_type"]: (r["n"], r["s"])
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert salted == plain


def test_salted_domain_stats_handles_heavy_domain(spark):
    rows = [
        (u, ts, h, t, l)
        for u, ts, h, t, l, *_ in generate_corpus(300, seed=5)
    ]
    pages = spark.createDataFrame(rows, PAGES)
    stats = {r["domain"]: r["n_rows"] for r in salted_domain_stats(pages).collect()}
    # ~20% of bulk urls land on the heavy domain by construction
    assert stats["bigstore.example.com"] > 30
    assert sum(stats.values()) == 300


def test_curate_documents_filters_and_dedups(spark):
    docs = spark.createDataFrame(
        [
            (1, "the fox is in the barn and it is fast"),
            (2, "the fox is in the barn and it is fast"),   # exact dup -> dropped
            (3, "the fox is in the barn and it is slow"),   # near dup of 1 -> dropped
            (4, "der hund ist im haus und die katze auch"), # not en -> dropped
            (5, "zzz qqq xxx"),                             # und -> dropped
            (6, "a completely different english text about the spark engine and the sea"),
        ],
        ["doc_id", "text"],
    )
    kept = sorted(r["doc_id"] for r in curate_documents(docs, min_quality=0.2).collect())
    assert 1 in kept and 6 in kept
    assert 2 not in kept and 4 not in kept and 5 not in kept


def test_binary_dir_source(spark, tmp_path):
    d = tmp_path / "htmldir"
    d.mkdir()
    (d / "a.html").write_bytes(render_html(["Hello World", "Total $5.00"]))
    (d / "b.htm").write_bytes(render_html(["Other Page"]))
    (d / "skip.txt").write_bytes(b"not html")
    pages = binary_dir_to_pages(spark, str(d))
    assert pages.count() == 2  # .txt filtered at the source listing
    results = {r["url"].split("/")[-1]: r for r in extract_from_pages(pages).collect()}
    assert "Hello World" in results["a.html"]["extracted_text"]
    assert results["a.html"]["total_amount"]["value"] == "5.00"


def test_base64_decode(spark):
    import base64

    payload = b"<p>Total $9.99</p>"
    df = spark.createDataFrame(
        [("u1", base64.b64encode(payload).decode())], ["url", "b64"]
    )
    out = decode_base64_column(df, "b64", "html").select("html").first()
    assert bytes(out["html"]) == payload


def test_json_sink_roundtrip(spark, tmp_path):
    rows = [
        (u, ts, h, t, l) for u, ts, h, t, l, *_ in generate_corpus(10, seed=9)
    ]
    pages = spark.createDataFrame(rows, PAGES)
    results = extract_from_pages(pages).select("url", "extracted_text", "status")
    path = str(tmp_path / "json_out")
    write_json_results(results, path)
    back = read_json_results(spark, path)
    assert {r["url"]: r["extracted_text"] for r in back.collect()} == {
        r["url"]: r["extracted_text"] for r in results.collect()
    }


def test_h10_totals_verified_column(spark):
    rows = [
        (u, ts, h, t, l) for u, ts, h, t, l, *_ in generate_corpus(40, seed=13)
    ]
    pages = spark.createDataFrame(rows, PAGES)
    res = with_quality_columns(extract_from_pages(pages))
    got = res.select("url", "subtotal", "tax_amount", "total_amount",
                     "totals_verified").collect()
    from decimal import Decimal
    checked_true = 0
    for r in got:
        s, t, tot = (
            x["value"] if x else None
            for x in (r["subtotal"], r["tax_amount"], r["total_amount"])
        )
        if None in (s, t, tot):
            expected = False
        else:
            expected = abs((Decimal(s) + Decimal(t)) - Decimal(tot)) <= Decimal("0.02")
        assert r["totals_verified"] == expected, r["url"]
        checked_true += bool(expected)

    # Crafted doc where extraction aligns: 'Total' keyword precedes any
    # 'Subtotal' (which would shadow it — extract_total's substring match),
    # and the backward windows of Subtotal/Tax are digit-free.
    doc = "Total 3.30 x y Subtotal 3.00 a b Tax 0.30"
    crafted = spark.createDataFrame(
        [("v://ok", rows[0][1], None, doc, "en")], PAGES
    )
    r = with_quality_columns(extract_from_pages(crafted)).first()
    assert r["total_amount"]["value"] == "3.30"
    assert r["subtotal"]["value"] == "3.00"
    assert r["tax_amount"]["value"] == "0.30"
    assert r["totals_verified"] is True


def test_h11_confidence_filter(spark):
    rows = [
        (u, ts, h, t, l) for u, ts, h, t, l, *_ in generate_corpus(10, seed=2)
    ]
    pages = spark.createDataFrame(rows, PAGES)
    res = extract_from_pages(pages)
    strict = confidence_filter(res, min_confidence=0.99)
    # layout-model confidences are < 0.99, so every field is nulled
    for r in strict.collect():
        assert r["vendor_name"] is None and r["total_amount"] is None
    loose = confidence_filter(res, min_confidence=0.0)
    assert loose.where(F.col("vendor_name").isNotNull()).count() == 10


def test_validate_against_golden_join(spark):
    from documentprocessor_spark.plans.pipeline import (
        extract_from_pages,
        validate_against_golden,
    )

    rows = [
        (u, ts, h, t, l) for u, ts, h, t, l, *_ in generate_corpus(25, seed=6)
    ]
    pages = spark.createDataFrame(rows, PAGES)
    results = extract_from_pages(pages)
    validated = validate_against_golden(results, pages)
    assert validated.where(~F.col("text_matches")).count() == 0
    # corrupt one golden row -> exactly one mismatch
    corrupted = pages.withColumn(
        "text",
        F.when(F.col("url") == rows[0][0], F.lit("CORRUPTED")).otherwise(
            F.col("text")
        ),
    )
    assert validate_against_golden(results, corrupted).where(
        ~F.col("text_matches")
    ).count() == 1


def test_approx_distinct_within_tolerance(spark):
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    exact = ev.agg(F.countDistinct("user_id")).first()[0]
    approx = ev.agg(F.approx_count_distinct("user_id", 0.01)).first()[0]
    assert abs(approx - exact) <= max(1, exact * 0.05)


def test_model_mode_job_resumes(spark, tmp_path):
    """Model mode goes through run_job's commit/resume semantics too."""
    from documentprocessor_spark.plans.pipeline import (
        extract_from_pages_with_model,
        run_job,
    )

    rows = [(u, ts, h, t, l) for u, ts, h, t, l, *_ in generate_corpus(15, seed=17)]
    pages = spark.createDataFrame(rows, PAGES)
    out = str(tmp_path / "modeljob")
    extractor = extract_from_pages_with_model
    first = run_job(spark, pages.limit(8), out, n_buckets=4, extractor=extractor)
    second = run_job(spark, pages, out, n_buckets=4, extractor=extractor)
    assert second["rows_skipped_resume"] == 8
    assert second["rows_total_committed"] == 15
    res = spark.read.parquet(f"{out}/results")
    assert res.count() == 15
    assert "vendor_name" in res.columns


def test_domain_length_quantiles_grouped_map(spark):
    from documentprocessor_spark.operators.skew import domain_length_quantiles

    rows = [(u, ts, h, t, l) for u, ts, h, t, l, *_ in generate_corpus(200, seed=8)]
    pages = spark.createDataFrame(rows, PAGES)
    got = {r["domain"]: r.asDict() for r in domain_length_quantiles(pages).collect()}
    assert sum(r["n_pages"] for r in got.values()) == 200
    # exact check for the heavy domain against pandas on the driver
    import pandas as pd
    heavy = pd.Series(
        [len(h) for u, _ts, h, *_ in rows if "bigstore" in u]
    )
    g = got["bigstore.example.com"]
    assert g["n_pages"] == len(heavy)
    assert g["p50"] == float(heavy.quantile(0.5))
    assert g["p99"] == float(heavy.quantile(0.99))


def test_read_results_merges_evolved_schemas(spark, tmp_path):
    """A results table written by two job versions (second adds a column)
    must read back as the UNION schema with nulls for the old files."""
    from pyspark.sql import functions as F

    from documentprocessor_spark.sources.tables import read_results

    p = str(tmp_path / "res")
    v1 = spark.createDataFrame(
        [("u1", "t1", 0)], "url string, extracted_text string, url_bucket int"
    )
    v1.write.mode("append").partitionBy("url_bucket").parquet(p)
    v2 = v1.withColumn("quality", F.lit(0.9)).withColumn(
        "url", F.lit("u2")
    ).withColumn("url_bucket", F.lit(1))
    v2.write.mode("append").partitionBy("url_bucket").parquet(p)
    got = {r.url: r for r in read_results(spark, p).collect()}
    assert set(got) == {"u1", "u2"}
    assert got["u2"].quality == 0.9 and got["u1"].quality is None


def test_read_results_raises_on_a_corrupt_file(spark, tmp_path):
    import pytest as _pytest

    from documentprocessor_spark.sources.tables import read_results

    p = str(tmp_path / "res2")
    spark.createDataFrame(
        [("u1", 0)], "url string, url_bucket int"
    ).write.mode("append").partitionBy("url_bucket").parquet(p)
    (tmp_path / "res2" / "url_bucket=0" / "junk.parquet").write_bytes(
        b"PAR1 this is not a real parquet file"
    )
    with _pytest.raises(Exception):
        read_results(spark, p).collect()  # the corruption surfaces


# ---------------------------------------------------------------------------
# checkpointed transitive curation (kill-resume across the CC stage)
# ---------------------------------------------------------------------------

CKPT_DOCS = [
    # near-dup chain 1~2~3 (one component, canonical 1), exact dup 4==5,
    # unique 6; all English-looking so the lang/quality filters keep them
    (1, "the quick brown fox jumps over the lazy dog and the cat today ok"),
    (2, "the quick brown fox jumps over the lazy dog and the cat today no"),
    (3, "the quick brown fox jumps over the lazy dog and the cat today so"),
    (4, "the completely different second document with the other words in it"),
    (5, "the completely different second document with the other words in it"),
    (6, "the third unique document that shares nothing with the other pages"),
]


def test_checkpointed_curation_matches_transitive(spark, tmp_path):
    docs = spark.createDataFrame(CKPT_DOCS, ["doc_id", "text"])
    want = {r["doc_id"] for r in
            curate_documents(docs, transitive=True).collect()}
    got_df = curate_documents(docs, checkpoint_dir=str(tmp_path / "ck"))
    got = {r["doc_id"] for r in got_df.collect()}
    assert got == want and 1 in got and 4 in got and 6 in got


def test_checkpointed_curation_resumes_past_completed_stages(
    spark, tmp_path, monkeypatch
):
    """Kill-resume across the iterative CC stage: after a full run, a
    second invocation must NOT re-run pair generation or CC (their
    checkpoints carry _SUCCESS); after deleting only the clusters commit
    (a job killed mid-CC), the rerun recomputes CC from the COMMITTED
    pairs table without touching the upstream text stages."""
    import shutil

    from documentprocessor_spark.operators import dedup as dedup_mod
    from documentprocessor_spark.operators import graph as graph_mod
    from documentprocessor_spark.plans import curate as curate_mod

    docs = spark.createDataFrame(CKPT_DOCS, ["doc_id", "text"])
    ck = str(tmp_path / "ck")
    first = {r["doc_id"] for r in
             curate_mod.curate_documents(docs, checkpoint_dir=ck).collect()}

    def boom(*a, **k):
        raise AssertionError("completed stage was re-run on resume")

    real_dedup_clusters = graph_mod.dedup_clusters
    # full resume: NO stage recomputes
    monkeypatch.setattr(dedup_mod, "exact_dedup_survivors", boom)
    monkeypatch.setattr(dedup_mod, "minhash_star_edges", boom)
    monkeypatch.setattr(graph_mod, "dedup_clusters", boom)
    again = {r["doc_id"] for r in
             curate_mod.curate_documents(docs, checkpoint_dir=ck).collect()}
    assert again == first

    # killed mid-CC: clusters commit gone, pairs still committed -> only
    # the CC stage reruns (text stages stay monkeypatch-poisoned)
    shutil.rmtree(str(tmp_path / "ck" / "clusters"))
    monkeypatch.setattr(graph_mod, "dedup_clusters", real_dedup_clusters)
    resumed = {r["doc_id"] for r in
               curate_mod.curate_documents(docs, checkpoint_dir=ck).collect()}
    assert resumed == first


def test_checkpointed_curation_invalidates_on_param_change(spark, tmp_path):
    """Rerunning against an existing ckpt_dir with DIFFERENT parameters
    must recompute the stages, not silently return results computed under
    the old parameters (r4 ADVICE)."""
    docs = spark.createDataFrame(CKPT_DOCS, ["doc_id", "text"])
    ck = str(tmp_path / "ck")
    first = {r["doc_id"] for r in
             curate_documents(docs, checkpoint_dir=ck).collect()}
    assert first  # baseline keeps something

    # an impossible quality bar: stale-checkpoint reuse would return
    # `first`, a correct invalidation returns nothing
    strict = curate_documents(
        docs, checkpoint_dir=ck, min_quality=1.5)
    assert strict.count() == 0

    # switching back recomputes again under the original parameters
    back = {r["doc_id"] for r in
            curate_documents(docs, checkpoint_dir=ck).collect()}
    assert back == first


def test_curate_exact_substr_stage(spark):
    """exact_substr_k adds a clean_text column with cross-doc duplicated
    spans cut from SURVIVOR texts (built after near-dup dropping)."""
    docs = spark.createDataFrame(
        [(1, "the shared header line one two three " + "alpha beta gamma " * 3),
         (2, "the shared header line one two three " + "delta epsilon zeta " * 3),
         (3, "the totally different body with its own tokens here now")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["clean_text"] for r in curate_documents(
        docs, min_quality=0.0, exact_substr_k=5, minhash_k=2).collect()}
    # both survivors lose the shared 7-token prefix; doc 3 is untouched
    assert 1 in out and not out[1].startswith("the shared header")
    assert "alpha beta gamma" in out[1]
    assert out[3] == "the totally different body with its own tokens here now"


def _physical_nodes(plan) -> list:
    """Nodes of a physical plan, through AQE wrappers but not into cached
    relations: an InMemoryTableScan is a leaf here."""
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    nodes = [plan]
    children = plan.children()
    for i in range(children.size()):
        nodes += _physical_nodes(children.apply(i))
    return nodes


def _cached_scans(nodes) -> dict:
    """InMemoryTableScans among ``nodes``, keyed by the cached relation's
    column names."""
    scans = {}
    for n in nodes:
        if n.getClass().getSimpleName() == "InMemoryTableScanExec":
            out = n.relation().output()
            cols = tuple(out.apply(i).name() for i in range(out.size()))
            scans.setdefault(cols, []).append(n)
    return scans


def _mentions(nodes, word: str) -> bool:
    return any(word in n.simpleString(1000) for n in nodes)


def test_curate_exact_substr_reads_survivors_from_one_cache(spark):
    """With exact_substr_k, survivors (textstats -> exact -> MinHash ->
    anti-join) feed three consumers: the span windows, the cut join-back
    and the stats join. All three read it through InMemoryTableScan, and
    the MinHash stage (its band_hash grouping) exists only inside the
    cached survivors relation."""
    from documentprocessor_spark.plans.curate import release_survivors_cache

    docs = spark.createDataFrame(
        [(i, "the shared header line one two three words %d more" % (i % 3))
         for i in range(9)],
        ["doc_id", "text"],
    )
    out = curate_documents(docs, min_quality=0.0, exact_substr_k=5,
                           minhash_k=2)
    top = _physical_nodes(out._jdf.queryExecution().executedPlan())
    survivors_cols = ("doc_id", "text", "lang_id", "quality_score")
    windows_cols = ("doc_id", "span_start", "win_hash")
    scans = _cached_scans(top)
    # stats join + cut join-back read survivors at the top level; the span
    # windows relation (itself cached) reads it inside its cached plan
    assert len(scans.get(survivors_cols, [])) == 2, scans
    assert scans.get(windows_cols), scans
    windows = _physical_nodes(
        scans[windows_cols][0].relation().cachedPlan())
    assert len(_cached_scans(windows).get(survivors_cols, [])) == 1
    assert not _mentions(top, "band_hash")
    assert not _mentions(windows, "band_hash")
    survivors = _physical_nodes(
        scans[survivors_cols][0].relation().cachedPlan())
    assert _mentions(survivors, "band_hash")
    release_survivors_cache()


def test_curate_job_releases_its_persists(spark, tmp_path, capsys):
    """curate_job persists survivors, span windows and lines; main()
    unpersists all of them before returning, so a long-lived caller keeps
    no cached text of the run."""
    from jobs.curate_job import main

    def cached_rdds():
        jsc = spark.sparkContext._jsc.sc()
        return {r.id() for r in jsc.getRDDStorageInfo()}

    docs = spark.createDataFrame(CKPT_DOCS, ["doc_id", "text"])
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    base = cached_rdds()
    main(["--input", src, "--output", str(tmp_path / "out"),
          "--min-quality", "0.0", "--exact-substr-k", "3",
          "--line-dedup-min-count", "2", "--winnow-k", "3"],
         stop_session=False)
    capsys.readouterr()
    assert not cached_rdds() - base


def test_curate_job_rerun_reuses_generated_classes(
        spark, tmp_path, capsys, codegen_compiles):
    """A long-lived session that re-runs curate_job with exact-substr, line
    dedup and winnowing on reuses the first run's ~145 generated classes:
    the session's codegen cache holds a whole job, and the plans carry no
    per-run numeric literal. With a cache smaller than one job, the second
    run recompiles 100+ classes.

    The bound is not 0: AQE sometimes plans a join of the second run
    differently from the first (stage completion order varies), and the
    new stages compile once on the driver and once in the tasks. Measured
    residuals were 0-9 classes."""
    from jobs.curate_job import main

    src = str(tmp_path / "docs")
    spark.createDataFrame(CKPT_DOCS, ["doc_id", "text"]).write.parquet(src)

    def run(out):
        main(["--input", src, "--output", str(tmp_path / out),
              "--min-quality", "0.0", "--exact-substr-k", "3",
              "--line-dedup-min-count", "2", "--winnow-k", "3",
              "--winnow-w", "2"], stop_session=False)

    run("first")
    before = codegen_compiles()
    run("second")
    capsys.readouterr()
    assert codegen_compiles() - before <= 20


def test_curate_job_cli(spark, tmp_path, capsys):
    """The spark-submit curation CLI end to end: in-process main() on a
    small corpus, one-pass then checkpointed mode into the same output."""
    import json

    from jobs.curate_job import main

    docs = spark.createDataFrame(CKPT_DOCS, ["doc_id", "text"])
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out = str(tmp_path / "out")
    main(["--input", src, "--output", out, "--min-quality", "0.0"],
         stop_session=False)
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_in"] == 6 and stats["mode"] == "one-pass"
    kept_onepass = {r["doc_id"] for r in
                    spark.read.parquet(out + "/curated").collect()}

    main(["--input", src, "--output", out, "--min-quality", "0.0",
          "--checkpoint", str(tmp_path / "ck")], stop_session=False)
    stats2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats2["mode"] == "checkpointed"
    kept_ck = {r["doc_id"] for r in
               spark.read.parquet(out + "/curated").collect()}
    assert kept_ck == kept_onepass  # same clusters on this corpus


def test_curate_job_exact_substr_writes_one_curated_file(
        spark, tmp_path, capsys):
    """An --exact-substr-k run over a multi-file input writes its small
    curated table as ONE file: the write goes through a REBALANCE, which
    AQE coalesces, instead of inheriting the partitions of the cut's
    join back (a broadcast join of the persisted survivors wrote one
    file per survivor partition)."""
    import glob

    from jobs.curate_job import main

    docs = spark.createDataFrame(
        [(i, f"the shared opening words of every page and then body {i} "
             f"with the words {i % 7} and {i * 3} of the page")
         for i in range(48)],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "docs")
    docs.repartition(4).write.parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) == 4
    out = str(tmp_path / "out")
    main(["--input", src, "--output", out, "--min-quality", "0.0",
          "--exact-substr-k", "3"], stop_session=False)
    capsys.readouterr()
    assert len(glob.glob(f"{out}/curated/*.parquet")) == 1
    assert spark.read.parquet(f"{out}/curated").count() > 0


def test_curate_job_cli_chunk_and_winnow_stages(spark, tmp_path, capsys):
    """--chunk-tokens / --winnow-k write post-curation tables over the
    SURVIVORS only, matching the operators run directly on the survivor
    text (r4 verdict directive: newest certified ops reachable from
    spark-submit, not only the query registry)."""
    import json

    from documentprocessor_spark.operators.dedup import winnow_fingerprints
    from documentprocessor_spark.operators.packing import chunk_documents
    from jobs.curate_job import main

    docs = spark.createDataFrame(CKPT_DOCS, ["doc_id", "text"])
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out = str(tmp_path / "out")
    main(["--input", src, "--output", out, "--min-quality", "0.0",
          "--chunk-tokens", "6", "--chunk-stride", "3",
          "--winnow-k", "3", "--winnow-w", "2"], stop_session=False)
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    kept = spark.read.parquet(out + "/curated").select("doc_id")
    survivor_texts = docs.join(kept, "doc_id", "left_semi")
    want_chunks = chunk_documents(
        survivor_texts, "doc_id", "text", chunk_tokens=6, stride=3)
    got_chunks = spark.read.parquet(out + "/chunks")
    assert got_chunks.count() == stats["n_chunks"] == want_chunks.count() > 0
    assert (got_chunks.exceptAll(want_chunks).count() == 0
            and want_chunks.exceptAll(got_chunks).count() == 0)
    # chunks exist ONLY for survivors
    assert got_chunks.join(kept, "doc_id", "left_anti").count() == 0

    want_fps = winnow_fingerprints(survivor_texts, "doc_id", "text", k=3, w=2)
    got_fps = spark.read.parquet(out + "/fingerprints")
    assert got_fps.count() == stats["n_fingerprints"] == want_fps.count() > 0
    assert (got_fps.exceptAll(want_fps).count() == 0
            and want_fps.exceptAll(got_fps).count() == 0)


def test_curate_job_cli_line_dedup_stage(spark, tmp_path, capsys):
    """--line-dedup-min-count writes <output>/line_deduped over survivors
    and feeds the cleaned text into the chunk stage."""
    import json

    from jobs.curate_job import main

    docs = spark.createDataFrame(
        [(1, "shared banner line\nunique body one two three four five"),
         (2, "shared banner line\nother body six seven eight nine ten"),
         (3, "completely different document body with its own words here")],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out = str(tmp_path / "out")
    main(["--input", src, "--output", out, "--min-quality", "0.0",
          "--line-dedup-min-count", "2", "--chunk-tokens", "4"],
         stop_session=False)
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_line_deduped"] == stats["rows_kept"]
    cleaned = {r["doc_id"]: r["clean_text"] for r in
               spark.read.parquet(out + "/line_deduped").collect()}
    assert all("shared banner line" not in t for t in cleaned.values())
    # chunks built FROM the cleaned text: no chunk contains the banner
    chunks = spark.read.parquet(out + "/chunks").collect()
    assert chunks and all("banner" not in c["chunk_text"] for c in chunks)


def test_curate_job_counts_are_the_written_row_counts(spark, tmp_path, capsys):
    """The stats line's counts are observed on each table's own write
    (no read-back count): each equals the row count of the table it names,
    also when curation keeps nothing and every stage writes an empty
    table."""
    import json

    from jobs.curate_job import main

    src = str(tmp_path / "docs")
    spark.createDataFrame(CKPT_DOCS, ["doc_id", "text"]).write.parquet(src)
    sinks = {"rows_kept": "curated", "n_line_deduped": "line_deduped",
             "n_chunks": "chunks", "n_fingerprints": "fingerprints"}
    for min_quality, out in (("0.0", "kept"), ("1.01", "none")):
        out = str(tmp_path / out)
        main(["--input", src, "--output", out, "--min-quality", min_quality,
              "--exact-substr-k", "3", "--line-dedup-min-count", "2",
              "--chunk-tokens", "4", "--winnow-k", "3", "--winnow-w", "2"],
             stop_session=False)
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        written = {key: spark.read.parquet(f"{out}/{table}").count()
                   for key, table in sinks.items()}
        assert {key: stats[key] for key in sinks} == written
        assert stats["rows_in"] == len(CKPT_DOCS)
        assert stats["rows_dropped"] == len(CKPT_DOCS) - stats["rows_kept"]
        assert (stats["rows_kept"] > 0) == (min_quality == "0.0")


def test_ingest_dedup_job_cli_bootstrap_then_probe(spark, tmp_path, capsys):
    """The continuous-ingestion CLI end to end: first increment bootstraps
    the index; the second (overlapping) increment drops its re-crawled
    docs on BOTH probe shapes, and the bloom path reports its FP count."""
    import json

    from jobs.ingest_dedup_job import main

    inc1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different content about spark engines")],
        ["doc_id", "text"],
    )
    src1 = str(tmp_path / "inc1")
    inc1.write.parquet(src1)
    idx = str(tmp_path / "index")
    main(["--input", src1, "--index", idx, "--output",
          str(tmp_path / "out1"), "--update-index"], stop_session=False)
    stats1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats1["probe"] == "bootstrap" and stats1["rows_kept"] == 2

    inc2 = spark.createDataFrame(
        [(3, "the quick brown fox jumps over the lazy dog"),   # re-crawl
         (4, "entirely novel words never indexed before today")],
        ["doc_id", "text"],
    )
    src2 = str(tmp_path / "inc2")
    inc2.write.parquet(src2)
    main(["--input", src2, "--index", idx, "--output",
          str(tmp_path / "out2")], stop_session=False)
    stats2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats2["probe"] == "broadcast-delta"
    kept2 = {r["doc_id"] for r in
             spark.read.parquet(str(tmp_path / "out2") + "/kept").collect()}
    assert kept2 == {4}

    main(["--input", src2, "--index", idx, "--output",
          str(tmp_path / "out3"), "--bloom-m-bits", "65536"],
         stop_session=False)
    stats3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats3["probe"] == "bloom"
    assert stats3["by_reason"].get("exact") == 1
    assert stats3["bloom_false_positives"] == 0
    kept3 = {r["doc_id"] for r in
             spark.read.parquet(str(tmp_path / "out3") + "/kept").collect()}
    assert kept3 == {4}


def test_ingest_dedup_job_reads_its_index_by_the_commit_rule(
        spark, tmp_path, capsys):
    """A missing index dir, or one whose tables hold no data files,
    bootstraps; a corrupt index file raises instead of keeping every
    delta doc."""
    import json
    import os

    from jobs.ingest_dedup_job import main

    src = str(tmp_path / "delta")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    ).write.parquet(src)

    def run(index, out):
        main(["--input", src, "--index", index, "--output",
              str(tmp_path / out), "--update-index"], stop_session=False)
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    empty = tmp_path / "empty_index"
    for table in ("content_hashes", "window_bands"):
        os.makedirs(empty / table / "_temporary" / "0")
    assert run(str(empty), "out0")["probe"] == "bootstrap"

    idx = str(tmp_path / "index")
    assert run(idx, "out1")["probe"] == "bootstrap"
    for f in os.listdir(f"{idx}/content_hashes"):
        if f.endswith(".parquet"):
            with open(f"{idx}/content_hashes/{f}", "wb") as fh:
                fh.write(b"not a parquet file")
        elif f.endswith(".crc"):
            os.remove(f"{idx}/content_hashes/{f}")
    with pytest.raises(Exception):
        run(idx, "out2")
    assert not os.path.exists(tmp_path / "out2" / "kept")


def test_ingest_dedup_job_refuses_an_index_without_current_bands(
        spark, tmp_path, capsys):
    """An index whose bands predate the window-key MinHash (kept in
    ``<index>/bands``) never matches today's bands: the default probe and
    --update-index exit naming a rebuild instead of silently finding no
    near-duplicates; an exact-only bloom probe still runs."""
    import json
    import shutil

    from jobs.ingest_dedup_job import main

    src = str(tmp_path / "delta")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    ).write.parquet(src)
    idx = str(tmp_path / "index")
    main(["--input", src, "--index", idx, "--output", str(tmp_path / "o0"),
          "--update-index"], stop_session=False)
    shutil.move(f"{idx}/window_bands", f"{idx}/bands")
    capsys.readouterr()

    for flags in ([], ["--update-index"],
                  ["--bloom-m-bits", "1024", "--update-index"]):
        with pytest.raises(SystemExit, match="Rebuild the index"):
            main(["--input", src, "--index", idx, "--output",
                  str(tmp_path / "o1"), *flags], stop_session=False)
    main(["--input", src, "--index", idx, "--output", str(tmp_path / "o2"),
          "--bloom-m-bits", "1024"], stop_session=False)
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["probe"] == "bloom" and stats["by_reason"] == {"exact": 1}


def _curate_cli(tmp_path, out, *flags):
    from jobs.curate_job import main

    main(["--input", str(tmp_path / "docs"), "--output", str(tmp_path / out),
          "--min-quality", "0.0", "--exact-substr-k", "3", *flags],
         stop_session=False)


def test_checkpointed_curate_job_writes_the_exact_substr_cut(
        spark, tmp_path, capsys, monkeypatch):
    """--checkpoint --exact-substr-k K writes the same curated rows,
    clean_text included, as --transitive --exact-substr-k K; a rerun over
    the committed checkpoint rebuilds none of its stages."""
    from documentprocessor_spark.operators import dedup as dedup_mod
    from documentprocessor_spark.operators import graph as graph_mod

    spark.createDataFrame(CKPT_DOCS, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "docs"))
    ck = str(tmp_path / "ck")

    def curated(out):
        return sorted(spark.read.parquet(str(tmp_path / out / "curated"))
                      .select("doc_id", "lang_id", "quality_score",
                              "clean_text").collect())

    _curate_cli(tmp_path, "trans", "--transitive")
    _curate_cli(tmp_path, "ckpt", "--checkpoint", ck)
    want = curated("trans")
    assert want and curated("ckpt") == want

    def boom(*a, **k):
        raise AssertionError("a committed stage was rebuilt")

    for mod, name in ((dedup_mod, "exact_dedup_survivors"),
                      (dedup_mod, "minhash_star_edges"),
                      (graph_mod, "dedup_clusters")):
        monkeypatch.setattr(mod, name, boom)
    _curate_cli(tmp_path, "again", "--checkpoint", ck)
    assert curated("again") == want
    capsys.readouterr()
