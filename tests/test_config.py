"""Config system: defaults + YAML/JSON override with recursive merge,
mirroring the reference's semantics (Ocr/src/config.py:13-97 — override
wins, nested dicts merge, scalars/lists replace, bad/missing files fall back
to defaults), plus the --config wiring of jobs/extract_job.py and the
per-stage debug sample sink (cli/debug_output.py analog)."""

import copy
import json

import pytest

from documentprocessor_spark.config import (
    DEFAULT_CONFIG,
    load_config,
    merge_configs,
    save_config,
)


# ---------------------------------------------------------------------------
# merge semantics (reference _merge_configs, config.py:81-97)
# ---------------------------------------------------------------------------


def test_merge_nested_override_keeps_siblings():
    merged = merge_configs(DEFAULT_CONFIG, {"job": {"buckets": 8}})
    assert merged["job"]["buckets"] == 8
    assert merged["job"]["format"] == "parquet"  # sibling untouched
    assert merged["extraction"] == DEFAULT_CONFIG["extraction"]


def test_merge_scalar_replaces_dict_and_dict_replaces_scalar():
    # reference semantics: only dict-over-dict recurses; any other pairing
    # replaces wholesale
    m1 = merge_configs({"a": {"x": 1}}, {"a": 5})
    assert m1["a"] == 5
    m2 = merge_configs({"a": 5}, {"a": {"x": 1}})
    assert m2["a"] == {"x": 1}


def test_merge_lists_replace_not_concat():
    m = merge_configs({"a": {"l": [1, 2]}}, {"a": {"l": [3]}})
    assert m["a"]["l"] == [3]


def test_merge_adds_unknown_keys():
    m = merge_configs(DEFAULT_CONFIG, {"custom": {"k": 1}})
    assert m["custom"] == {"k": 1}


def test_merge_does_not_mutate_inputs():
    base = {"a": {"x": 1, "y": 2}}
    snap_base = copy.deepcopy(base)
    override = {"a": {"x": 9}}
    snap_override = copy.deepcopy(override)
    merge_configs(base, override)
    assert base == snap_base and override == snap_override


def test_merge_result_shares_no_structure_with_inputs():
    """Mutating the merged config must never write through into an input —
    in particular, load_config callers tweaking the result must not corrupt
    the process-global DEFAULT_CONFIG (the reference's shallow .copy() has
    exactly that aliasing bug; deliberately not reproduced)."""
    snap = copy.deepcopy(DEFAULT_CONFIG)
    cfg = load_config(None)
    cfg["job"]["buckets"] = 999
    cfg["extraction"]["entry_c"] = True
    assert DEFAULT_CONFIG == snap
    base = {"a": {"l": [1, 2]}}
    merged = merge_configs(base, {"b": {"m": [3]}})
    merged["a"]["l"].append(99)
    merged["b"]["m"].append(99)
    assert base == {"a": {"l": [1, 2]}}


# ---------------------------------------------------------------------------
# load_config (reference config.py:49-78)
# ---------------------------------------------------------------------------


def test_load_no_path_returns_defaults():
    assert load_config(None) == DEFAULT_CONFIG


def test_load_missing_file_returns_defaults(tmp_path):
    assert load_config(str(tmp_path / "nope.yaml")) == DEFAULT_CONFIG


def test_load_yaml_override(tmp_path):
    p = tmp_path / "c.yaml"
    p.write_text("job:\n  buckets: 16\n  mode: model\nextraction:\n  entry_c: true\n")
    cfg = load_config(str(p))
    assert cfg["job"]["buckets"] == 16
    assert cfg["job"]["mode"] == "model"
    assert cfg["extraction"]["entry_c"] is True
    assert cfg["extraction"]["min_confidence"] == 0.5  # sibling kept
    assert DEFAULT_CONFIG["job"]["buckets"] == 64  # defaults not mutated


def test_load_json_override(tmp_path):
    p = tmp_path / "c.json"
    p.write_text(json.dumps({"job": {"buckets": 4, "debug_samples": 3}}))
    cfg = load_config(str(p))
    assert cfg["job"]["buckets"] == 4
    assert cfg["job"]["debug_samples"] == 3


def test_load_empty_file_is_noop(tmp_path):
    p = tmp_path / "c.yaml"
    p.write_text("")
    assert load_config(str(p)) == DEFAULT_CONFIG


def test_load_unparseable_falls_back_to_defaults(tmp_path):
    # reference behavior: log the error, run on defaults — never raise
    p = tmp_path / "c.yaml"
    p.write_text("{:::: not yaml ::::")
    assert load_config(str(p)) == DEFAULT_CONFIG


def test_load_non_mapping_root_falls_back(tmp_path):
    p = tmp_path / "c.yaml"
    p.write_text("- just\n- a\n- list\n")
    assert load_config(str(p)) == DEFAULT_CONFIG


def test_save_load_roundtrip(tmp_path):
    cfg = load_config(None)
    cfg["job"]["buckets"] = 7
    y = tmp_path / "out.yaml"
    save_config(cfg, str(y))
    assert load_config(str(y)) == cfg
    j = tmp_path / "out.json"
    save_config(cfg, str(j))
    assert load_config(str(j)) == cfg


# ---------------------------------------------------------------------------
# --config wiring: config drives the job, explicit CLI flags override it
# ---------------------------------------------------------------------------


@pytest.fixture()
def pages_parquet(spark, tmp_path):
    from documentprocessor_spark.sources.synthetic import distributed_corpus

    path = str(tmp_path / "pages")
    distributed_corpus(spark, 40).write.parquet(path)
    return path


def _run_job_cli(spark, argv):
    from jobs.extract_job import main

    main(argv, stop_session=False)


def test_extract_job_reads_config(spark, pages_parquet, tmp_path, capsys):
    cfgp = tmp_path / "job.yaml"
    cfgp.write_text("job:\n  buckets: 4\n")
    out = str(tmp_path / "out")
    _run_job_cli(spark, [
        "--input", pages_parquet, "--output", out, "--config", str(cfgp),
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_total_committed"] == 40
    res = spark.read.parquet(out + "/results")
    n_buckets = res.select("url_bucket").distinct().count()
    assert n_buckets <= 4  # bucketed by the config value, not the default 64


def test_extract_job_cli_flag_overrides_config(spark, pages_parquet, tmp_path, capsys):
    cfgp = tmp_path / "job.yaml"
    cfgp.write_text("job:\n  buckets: 4\n")
    out = str(tmp_path / "out")
    _run_job_cli(spark, [
        "--input", pages_parquet, "--output", out,
        "--config", str(cfgp), "--buckets", "2",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_total_committed"] == 40
    res = spark.read.parquet(out + "/results")
    assert res.select("url_bucket").distinct().count() <= 2


def test_extract_job_config_entry_c_matches_direct_kernel(
    spark, pages_parquet, tmp_path, capsys
):
    from documentprocessor_spark.plans.pipeline import extract_from_pages

    cfgp = tmp_path / "job.yaml"
    cfgp.write_text("extraction:\n  entry_c: true\n")
    out = str(tmp_path / "out")
    _run_job_cli(spark, [
        "--input", pages_parquet, "--output", out, "--config", str(cfgp),
    ])
    got = spark.read.parquet(out + "/results")
    pages = spark.read.parquet(pages_parquet)
    want = extract_from_pages(pages, entry_c=True)
    cols = ["url", "extracted_text", "status"]
    assert sorted(got.select(*cols).collect()) == sorted(want.select(*cols).collect())


def test_extract_job_refuses_a_session_block(tmp_path):
    """Spark settings come from the launcher only: a config file that
    still carries the removed session block exits before any Spark work,
    naming the flag that replaces it, instead of being silently ignored."""
    cfgp = tmp_path / "job.yaml"
    cfgp.write_text("session:\n  shuffle_partitions: 8\n")
    with pytest.raises(SystemExit, match="spark-submit --conf"):
        _run_job_cli(None, [
            "--input", str(tmp_path / "pages"),
            "--output", str(tmp_path / "out"), "--config", str(cfgp),
        ])
    assert not (tmp_path / "out").exists()


def test_jobs_leave_a_live_sessions_confs_alone(spark, pages_parquet, tmp_path,
                                               capsys):
    """A job run in-process on a live session uses it as it is: neither
    extract_job nor curate_job re-applies the session factory's codec or
    shuffle partitions to it."""
    from jobs.curate_job import main as curate_main

    codec, parts = ("spark.sql.parquet.compression.codec",
                    "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in (codec, parts)}
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog and the cat")],
        ["doc_id", "text"],
    ).write.parquet(docs)
    try:
        spark.conf.set(codec, "snappy")
        spark.conf.set(parts, "4")
        _run_job_cli(spark, ["--input", pages_parquet,
                             "--output", str(tmp_path / "out")])
        curate_main(["--input", docs, "--output", str(tmp_path / "cur")],
                    stop_session=False)
        assert (spark.conf.get(codec), spark.conf.get(parts)) == ("snappy",
                                                                  "4")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    capsys.readouterr()


def test_extract_job_apply_quality_config(spark, pages_parquet, tmp_path, capsys):
    """extraction.apply_quality wires H11 confidence filter + H10 totals
    verification into the committed results."""
    cfgp = tmp_path / "job.yaml"
    cfgp.write_text(
        "extraction:\n  apply_quality: true\n  min_confidence: 0.99\n"
    )
    out = str(tmp_path / "out")
    _run_job_cli(spark, [
        "--input", pages_parquet, "--output", out, "--config", str(cfgp),
    ])
    res = spark.read.parquet(out + "/results")
    assert "totals_verified" in res.columns
    # min_confidence 0.99 nulls every sub-0.99 field the kernel emitted
    from documentprocessor_spark.plans.pipeline import extract_from_pages

    raw = extract_from_pages(spark.read.parquet(pages_parquet))
    n_low = raw.filter(
        "vendor_name is not null and vendor_name.confidence < 0.99"
    ).count()
    if n_low:  # the corpus does produce sub-0.99 vendors
        assert res.filter(
            "vendor_name is not null and vendor_name.confidence < 0.99"
        ).count() == 0


def test_extract_job_entry_c_with_model_mode_fails_fast(spark, pages_parquet, tmp_path):
    with pytest.raises(SystemExit):
        _run_job_cli(spark, [
            "--input", pages_parquet, "--output", str(tmp_path / "out"),
            "--mode", "model", "--entry-c",
        ])


def test_extract_job_model_config_validates_allow_list(spark, pages_parquet, tmp_path):
    cfgp = tmp_path / "job.yaml"
    cfgp.write_text("model:\n  name_or_path: llava-13b\njob:\n  mode: model\n")
    with pytest.raises(ValueError, match="unsupported model"):
        _run_job_cli(spark, [
            "--input", pages_parquet, "--output", str(tmp_path / "out"),
            "--config", str(cfgp),
        ])


# ---------------------------------------------------------------------------
# debug sample sink (reference cli/debug_output.py analog)
# ---------------------------------------------------------------------------


def test_debug_samples_written_and_match_pipeline(spark, pages_parquet, tmp_path):
    from documentprocessor_spark.plans.pipeline import run_job

    out = str(tmp_path / "out")
    stats = run_job(
        spark,
        spark.read.parquet(pages_parquet),
        out,
        n_buckets=4,
        debug_samples=5,
    )
    base = f"{out}/debug/run_id={stats['run_id']}"
    stage_urls = {}
    for stage in ("pages", "words", "normalized", "fields"):
        df = spark.read.parquet(f"{base}/{stage}")
        rows = df.select("url").collect()
        assert len(rows) == 5, stage
        stage_urls[stage] = sorted(r.url for r in rows)
    # per-url lineage: all four stage tables sample the SAME documents
    assert len(set(map(tuple, stage_urls.values()))) == 1
    # stage content is the real pipeline's: fields sample == main results
    fields = spark.read.parquet(f"{base}/fields").select("url", "extracted_text")
    main_res = spark.read.parquet(out + "/results").select("url", "extracted_text")
    sample_vs_main = fields.alias("s").join(
        main_res.alias("m"), "url"
    ).filter("s.extracted_text <> m.extracted_text")
    assert sample_vs_main.count() == 0
    # the normalized stage table IS normalize_stage's output (the exact
    # normalization the model pipeline consumes), not a lookalike
    from documentprocessor_spark.plans.pipeline import (
        normalize_stage,
        parse_stage,
    )

    norm = spark.read.parquet(f"{base}/normalized")
    pages = spark.read.parquet(pages_parquet)
    sample_urls = stage_urls["pages"]
    want = normalize_stage(
        parse_stage(pages.filter(pages.url.isin(sample_urls)))
    )
    assert sorted(norm.columns) == sorted(want.columns)
    got_rows = {r.url: (r.extracted_text, r.words) for r in norm.collect()}
    want_rows = {r.url: (r.extracted_text, r.words) for r in want.collect()}
    assert got_rows == want_rows


def test_debug_samples_off_writes_nothing(spark, pages_parquet, tmp_path):
    import os

    from documentprocessor_spark.plans.pipeline import run_job

    out = str(tmp_path / "out")
    run_job(
        spark, spark.read.parquet(pages_parquet), out,
        n_buckets=4,
    )
    assert not os.path.exists(f"{out}/debug")


def test_quality_zero_amount_verifies_false(spark):
    """H10 'present' is the reference's TRUTHINESS check: tax of 0.00 must
    verify False (ref_sem.verify_totals: Decimal('0.00') is falsy), not
    slip through a null-only check."""
    from documentprocessor_spark.plans.pipeline import with_quality_columns
    from documentprocessor_spark.reference_semantics import verify_totals
    from decimal import Decimal

    rows = [
        (1, "10.00", "0.00", "10.00"),   # zero tax -> False
        (2, "10.00", "1.00", "11.00"),   # consistent -> True
        (3, "10.00", "1.00", "12.00"),   # off by 1.00 -> False
        (4, None, "1.00", "11.00"),      # missing -> False
    ]
    df = spark.createDataFrame(
        [
            (i,) + tuple(
                {"value": v, "confidence": 0.9, "box": None} for v in (s, t, tot)
            )
            for i, s, t, tot in rows
        ],
        "doc_id int, subtotal struct<value:string,confidence:double,box:struct<x0:int,y0:int,x1:int,y1:int>>, "
        "tax_amount struct<value:string,confidence:double,box:struct<x0:int,y0:int,x1:int,y1:int>>, "
        "total_amount struct<value:string,confidence:double,box:struct<x0:int,y0:int,x1:int,y1:int>>",
    )
    got = {r.doc_id: r.totals_verified
           for r in with_quality_columns(df).collect()}
    assert got == {1: False, 2: True, 3: False, 4: False}
    # and the pure twin agrees case-by-case
    for i, s, t, tot in rows:
        dec = lambda x: Decimal(x) if x is not None else None
        assert verify_totals(dec(s), dec(t), dec(tot)) == got[i], i


def test_quality_verified_before_confidence_filter(spark):
    """The job's apply_quality composition verifies RAW amounts first: a
    consistent receipt extracted at low confidence keeps
    totals_verified=True even though H11 then nulls the fields."""
    from documentprocessor_spark.plans.pipeline import (
        confidence_filter,
        with_quality_columns,
    )

    from documentprocessor_spark.schemas import SCALAR_FIELDS

    fld = "struct<value:string,confidence:double,box:struct<x0:int,y0:int,x1:int,y1:int>>"
    values = {"subtotal": "10.00", "tax_amount": "1.00", "total_amount": "11.00"}
    df = spark.createDataFrame(
        [
            (1,)
            + tuple(
                {"value": values.get(n, "x"), "confidence": 0.3, "box": None}
                for n in SCALAR_FIELDS
            )
        ],
        "doc_id int, " + ", ".join(f"{n} {fld}" for n in SCALAR_FIELDS),
    )
    out = confidence_filter(with_quality_columns(df), min_confidence=0.9)
    row = out.collect()[0]
    assert row.totals_verified is True     # verified on the raw values
    assert row.subtotal is None            # then filtered by confidence


def test_cli_no_entry_c_overrides_config(spark, pages_parquet, tmp_path, capsys):
    """--no-entry-c must beat a config file's entry_c: true — otherwise a
    shared heuristic config makes --mode model permanently unrunnable."""
    cfgp = tmp_path / "job.yaml"
    cfgp.write_text("extraction:\n  entry_c: true\n")
    out = str(tmp_path / "out")
    _run_job_cli(spark, [
        "--input", pages_parquet, "--output", out, "--config", str(cfgp),
        "--mode", "model", "--no-entry-c",
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_total_committed"] == 40


def test_model_type_validated(spark, pages_parquet, tmp_path):
    cfgp = tmp_path / "job.yaml"
    cfgp.write_text("model:\n  type: gpt-neo\njob:\n  mode: model\n")
    with pytest.raises(SystemExit, match="model.type"):
        _run_job_cli(spark, [
            "--input", pages_parquet, "--output", str(tmp_path / "out"),
            "--config", str(cfgp),
        ])
