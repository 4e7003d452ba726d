"""The oracles assembled from shared SQL text — the 60-bit key
(rolling.h60_sql), the Rabin-Karp arithmetic (rolling.modmul_sql and
friends, via rolling_oracle_ctes), the MinHash chain
(dedup.minhash_oracle_ctes / shingle_oracle_cte) and the lang/quality
scoring (queries._scored_sql) — must return exactly the rows their Spark
queries return. Same comparison as tools/check_contract.py (its rowset is
imported, not copied), over the sf0.001 tables."""

from __future__ import annotations

import importlib.util
import pathlib
import random

import duckdb
import pytest

from documentprocessor_spark.functions.rolling import (
    ROLL_M1, ROLL_M2, modmul_sql)
from documentprocessor_spark.queries import ORACLES, QUERIES
from documentprocessor_spark.sources.tables import TPCH_TABLES

SF_DIR = "/root/testdata/sf0.001"
_REPO = pathlib.Path(__file__).resolve().parents[1]

# every query whose oracle embeds one of the shared builders
SHARED_TEXT_QUERIES = (
    "dedup_minhash_signatures",
    "incremental_dedup",
    "curate_documents",
    "minhash_band_pairs",
    "dedup_ngram_jaccard",
    "contamination_check",
    "dedup_spans",
    "dedup_span_removal",
    "winnow_fingerprints",
    "line_dedup",
    "bloom_incremental_dedup",
    "kmv_distinct_sketch",
    "text_stats",
    "lang_id_counts",
)


@pytest.fixture(scope="module")
def contract():
    spec = importlib.util.spec_from_file_location(
        "check_contract", _REPO / "tools" / "check_contract.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def rowset(contract):
    return contract.rowset


def test_empty_rows_certify_only_below_sf01(contract):
    """check_contract passes a row both engines return empty only on the
    small shipped scales; at sf0.1 and above, or on a directory whose
    name gives no scale, an EMPTY row fails."""
    assert contract.empty_certifies("/data/sf0.01")
    assert contract.empty_certifies("/data/sf0.001/")
    for sf_dir in ("/data/sf0.1", "/tmp/sf1.0", "/tmp/sf10", "/tmp/gen"):
        assert not contract.empty_certifies(sf_dir), sf_dir


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TPCH_TABLES:
        c.sql(f"create view {t} as select * from "
              f"read_parquet('{SF_DIR}/{t}.parquet')")
    yield c
    c.close()


@pytest.mark.parametrize("name", SHARED_TEXT_QUERIES)
def test_shared_text_oracle_matches_query(spark, con, rowset, name):
    sdf = QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [[r[c] for c in scols] for r in sdf.collect()]
    atbl = con.sql(ORACLES[name]).arrow()  # Arrow fetch, as check_contract
    dcols = atbl.column_names
    drows = list(zip(*[c.to_pylist() for c in atbl.columns]))
    assert sorted(scols) == sorted(dcols)
    assert srows, "an empty result would compare nothing"
    assert rowset(scols, srows) == rowset(dcols, drows)


def test_modmul_sql_is_the_modular_product_in_duckdb(con):
    """The split modmul text both engines evaluate equals (a * b) mod m
    over random and boundary operands (the Spark side is pinned by the
    rolling fuzz twins)."""
    rnd = random.Random(7)
    for m in (ROLL_M1, ROLL_M2):
        edges = [0, 1, (1 << 20) - 1, 1 << 20, m - 1, m - 2]
        pairs = [(a, b) for a in edges for b in edges]
        pairs += [(rnd.randrange(m), rnd.randrange(m)) for _ in range(500)]
        values = ", ".join(
            f"({i}, {a}::bigint, {b}::bigint)" for i, (a, b) in enumerate(pairs))
        got = con.sql(
            f"select {modmul_sql('a', 'b', m)} "
            f"from (values {values}) t(i, a, b) order by i"
        ).fetchall()
        assert [g for (g,) in got] == [a * b % m for a, b in pairs]
