"""Generate a synthetic scale-factor directory with the SAME schemas and
value distributions as the driver's /root/testdata/sf* tables (TESTDATA.md),
for local scale probes ABOVE sf0.1 (the driver only ships 0.001/0.01/0.1).

    python tools/gen_sf.py 1.0 /tmp/sf1

Deterministic (numpy PCG64, seed 42), vectorized end-to-end, written with
pyarrow (same physical encoding as the driver tables: plain timestamp[us],
parquet-cpp writer). Row counts scale linearly from the sf0.1 reference
(documents: 5,000 rows at sf0.1): lineitem 6M·sf, orders 1.5M·sf, events
1M·sf, documents 50k·sf, embeddings 20k·sf.

NOT a TPC-H dbgen replacement: correctness is certified against DuckDB on
the driver's own tables; this data exists so plan transitions (broadcast →
shuffle join), throughput, and scaling can be MEASURED at 10x the shipped
volume instead of argued from design.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES",
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "P", "F"]
ADJS = ["large", "hot", "blue", "red", "small", "green", "cold", "dark"]
NOUNS = ["ring", "bolt", "gear", "cog", "pin", "plate", "rod", "cap"]
PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
# the shipped documents' words, drawn uniformly (the English stopwords `a`
# and `the` among them, so language ID finds English text); the 31st
# shipped word, `dup`, only ends a near-duplicate
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NEAR_DUP_SHARE = 0.05

DAY_US = 86_400_000_000


def _ts_us(base_date: str, offset_us: np.ndarray) -> pa.Array:
    base = np.datetime64(base_date, "us").astype("int64")
    return pa.array(base + offset_us, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    print(f"  {name}: {table.num_rows} rows")


def generate(sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": NATIONS,
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10_000, n_supp), 2),
    }))
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([
            f"{ADJS[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, len(ADJS), n_part),
                            rng.integers(0, len(NOUNS), n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, len(PTYPES), n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    }))

    # orders: dates span 1995-01-01 .. 2001-08-01 at day granularity
    o_days = rng.integers(0, 2405, n_ord)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 400_000, n_ord), 2),
        "o_orderdate": _ts_us("1995-01-01", o_days * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }))

    # lineitem: 1..7 lines per order (avg ~4), shipdate = orderdate + 1..95d
    lines_per = rng.integers(1, 8, n_ord)
    l_orderkey = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(l_orderkey)
    l_linenumber = (np.arange(n_li)
                    - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1)
    ship_days = np.repeat(o_days, lines_per) + rng.integers(1, 96, n_li)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(l_orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_us("1995-01-01", ship_days * DAY_US),
    }))

    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts_us("2024-01-01", rng.integers(0, 30 * DAY_US, n_evt)),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_evt), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": np.round(rng.uniform(0, 560, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    }))

    # documents, like the shipped ones: 10..99 tokens from the 30-word
    # vocab, 5% near-duplicates (another document's text plus " dup") and
    # ~0.16% exact dups
    n_toks = rng.integers(10, 100, n_doc)
    tok_ids = rng.integers(0, len(VOCAB), int(n_toks.sum()))
    vocab_arr = np.array(VOCAB)
    texts, pos = [], 0
    for nt in n_toks:
        texts.append(" ".join(vocab_arr[tok_ids[pos:pos + nt]]))
        pos += nt
    near = rng.choice(n_doc, int(n_doc * NEAR_DUP_SHARE), replace=False)
    for i, src in zip(near, rng.integers(0, n_doc, len(near))):
        texts[i] = f"{texts[src]} dup"
    for i in range(0, n_doc // 625):  # exact duplicates, like the reference data
        texts[n_doc - 1 - i] = texts[i]
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: 10 gaussian clusters on the unit sphere, 64-dim
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(scale=0.35, size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32"))),
        "label": pa.array(labels, pa.int32()),
    }))


if __name__ == "__main__":
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    out = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/sf{sys.argv[1]}"
    generate(sf, out)
    print(f"wrote sf={sf} to {out}")
