"""Seeded input generators owned by the benchmark.

The program under test receives only the parquet files written here; the
golden answers stay in this process. Everything is a pure function of the
seed, so the same seed gives byte-identical inputs.

- ``write_pages``: a Common-Crawl-style pages table of rendered receipts,
  20% of urls on one heavy domain, split over several parquet files. The
  golden extracted text of a page is its content lines' whitespace tokens
  joined by single spaces (nav, sidebar and footer are boilerplate the
  extractor must strip).
- ``write_documents``: an English documents corpus for curation with one
  exact-duplicate hot hash, a few small exact-duplicate groups, one
  near-duplicate template group and short boilerplate lines repeated
  across documents; every other document is built to be unique.
"""

from __future__ import annotations

import hashlib
import os
import random
import string
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

HEAVY_DOMAIN = "bigstore.example.com"
HEAVY_SHARE = 0.20
N_TAIL_DOMAINS = 997

_VENDORS = ("GROCERY STORE", "MEGA MART", "CORNER SHOP", "BIG BOX",
            "DAILY DELI", "FRESH FOODS", "TECH WORLD", "BOOK NOOK")
_ITEMS = ("Milk", "Bread", "Eggs", "Cheese", "Apples", "Coffee", "Rice",
          "Pasta", "Soap", "Towels", "Cable", "Battery", "Notebook", "Pen")
_NAV = ('<nav class="menu"><a href="/">Home</a> <a href="/about">About</a> '
        '<a href="/contact">Contact</a></nav>')
_SIDEBAR = ('<div class="side"><a href="/d">Deals</a> <a href="/c">Coupons'
            '</a> <a href="/g">Gift cards</a></div>')
_FOOTER = ('<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms'
           '</a> © example</footer>')


def _rng(seed: int, *key) -> random.Random:
    """Independent stream per (seed, key): stable across Python versions,
    unlike hash() of a tuple of strings."""
    digest = hashlib.sha256(repr((seed, *key)).encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def _receipt_lines(rng: random.Random) -> list[str]:
    lines = [rng.choice(_VENDORS), f"{100 + rng.randrange(900)} Main Street",
             f"Date: {1 + rng.randrange(12):02d}/{1 + rng.randrange(28):02d}"
             f"/{2023 + rng.randrange(2)}"]
    subtotal = 0.0
    for _ in range(1 + rng.randrange(7)):
        item, qty = rng.choice(_ITEMS), 1 + rng.randrange(3)
        price = round(0.5 + rng.randrange(2000) / 100.0, 2)
        total = round(qty * price, 2)
        subtotal = round(subtotal + total, 2)
        lines.append(f"{qty}x {item} {price:.2f} {total:.2f}" if qty > 1
                     else f"{item} ${total:.2f}")
    tax = round(subtotal * 0.08, 2)
    lines += [f"Subtotal ${subtotal:.2f}", f"Tax ${tax:.2f}",
              f"TOTAL ${round(subtotal + tax, 2):.2f}", "Thank you!"]
    return lines


def _render(lines: list[str], title: str) -> bytes:
    body = "\n".join(f'<p class="c">{line}</p>' for line in lines)
    return (
        f"<!DOCTYPE html><html><head><title>{title}</title>"
        "<script>var t=1;</script></head><body>"
        f"{_NAV}{_SIDEBAR}<main>\n{body}\n</main>{_FOOTER}</body></html>"
    ).encode()


def write_pages(path: str, seed: int, n: int, n_files: int) -> tuple[dict, dict]:
    """Write ``n`` pages as ``n_files`` parquet files under ``path``.

    Returns (golden url -> text, measured input shares). The ``text``
    column is left null so the program can only answer from the html."""
    os.makedirs(path, exist_ok=True)
    golden, heavy = {}, 0
    rows = []
    t0 = datetime(2024, 1, 1)
    for i in range(n):
        rng = _rng(seed, "page", i)
        if rng.random() < HEAVY_SHARE:
            domain, heavy = HEAVY_DOMAIN, heavy + 1
        else:
            domain = f"shop{rng.randrange(N_TAIL_DOMAINS)}.example.org"
        url = f"https://{domain}/receipt/{seed}/{i}"
        lines = _receipt_lines(rng)
        golden[url] = " ".join(tok for line in lines for tok in line.split())
        rows.append((url, t0 + timedelta(seconds=i), _render(lines, f"r{i}")))
    schema = pa.schema([
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    per_file = -(-n // n_files)
    for f in range(n_files):
        part = rows[f * per_file:(f + 1) * per_file]
        if not part:
            break
        table = pa.table({
            "url": [r[0] for r in part],
            "warc_ts": [r[1] for r in part],
            "html": [r[2] for r in part],
            "text": [None] * len(part),
            "lang": ["en"] * len(part),
        }, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))
    return golden, {"pages": n, "files": n_files, "heavy_domain_share": heavy / n}


# ------------------------------------------------------------ documents

_STOPWORDS = ("the", "of", "and", "to", "in", "is", "for", "with", "on", "at")
EXACT_HOT_SHARE = 0.10
EXACT_SMALL_SHARE = 0.04
TEMPLATE_SHARE = 0.10
BOILERPLATE_DOC_SHARE = 0.5
N_BOILERPLATE = 16


def _vocab(seed: int, size: int = 6000) -> list[str]:
    rng = _rng(seed, "vocab")
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(string.ascii_lowercase)
                          for _ in range(4 + rng.randrange(6))))
    return sorted(words)


def _sentence(rng: random.Random, vocab: list[str], n_tok: int) -> str:
    """Vocabulary words with a stopword after roughly every fourth word and
    never two stopwords in a row, so no two built-to-be-unique documents
    share a 3-token shingle by chance."""
    out, prev_stop = [], True
    while len(out) < n_tok:
        if not prev_stop and rng.random() < 0.25:
            out.append(rng.choice(_STOPWORDS))
            prev_stop = True
        else:
            out.append(rng.choice(vocab))
            prev_stop = False
    return " ".join(out)


def _unique_doc(rng: random.Random, vocab: list[str]) -> list[str]:
    return [_sentence(rng, vocab, 10 + rng.randrange(10))
            for _ in range(5 + rng.randrange(5))]


def write_documents(path: str, seed: int, n: int) -> tuple[dict, dict]:
    """Write an (doc_id, text) parquet corpus of ``n`` documents.

    Returns (expectations, measured shares). ``expectations`` holds
    ``unique_ids`` (every one must survive curation) and
    ``exact_groups`` (lists of ids with identical text; only each list's
    minimum may survive). Boilerplate lines are four tokens long and sit
    between content lines, so joined by newlines they share no 3-token
    shingle across documents and cannot trigger near-duplicate drops."""
    os.makedirs(path, exist_ok=True)
    vocab = _vocab(seed)
    rng = _rng(seed, "layout")
    ids = list(range(n))
    rng.shuffle(ids)
    n_hot, n_small = int(n * EXACT_HOT_SHARE), int(n * EXACT_SMALL_SHARE)
    n_tmpl = int(n * TEMPLATE_SHARE)
    hot_ids = sorted(ids[:n_hot])
    small_ids = ids[n_hot:n_hot + n_small]
    tmpl_ids = sorted(ids[n_hot + n_small:n_hot + n_small + n_tmpl])
    unique_ids = sorted(ids[n_hot + n_small + n_tmpl:])
    boiler = [_sentence(_rng(seed, "boiler", b), vocab, 4)
              for b in range(N_BOILERPLATE)]

    texts: dict[int, str] = {}
    hot_text = "\n".join(_unique_doc(_rng(seed, "hot"), vocab))
    for i in hot_ids:
        texts[i] = hot_text
    groups = [hot_ids]
    for g in range(0, len(small_ids), 3):
        members = sorted(small_ids[g:g + 3])
        text = "\n".join(_unique_doc(_rng(seed, "small", g), vocab))
        for i in members:
            texts[i] = text
        groups.append(members)
    template = " ".join(_unique_doc(_rng(seed, "tmpl"), vocab)).split()
    for i in tmpl_ids:
        r = _rng(seed, "tmpl", i)
        toks = list(template)
        toks[r.randrange(len(toks))] = r.choice(vocab)
        texts[i] = " ".join(toks)
    boiler_lines = total_lines = 0
    for i in unique_ids:
        r = _rng(seed, "doc", i)
        lines = _unique_doc(r, vocab)
        if r.random() < BOILERPLATE_DOC_SHARE:
            lines.insert(1 + r.randrange(len(lines) - 1), r.choice(boiler))
            boiler_lines += 1
        total_lines += len(lines)
        texts[i] = "\n".join(lines)
    for i in ids[:n_hot + n_small + n_tmpl]:
        total_lines += texts[i].count("\n") + 1
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array([texts[i] for i in range(n)], pa.string()),
    })
    n_files = 4
    per_file = -(-n // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * per_file, per_file),
                       os.path.join(path, f"part-{f:03d}.parquet"))
    shares = {
        "docs": n,
        "exact_duplicate_share": (n_hot + n_small) / n,
        "exact_hot_hash_share": n_hot / n,
        "template_share": n_tmpl / n,
        "boilerplate_line_share": boiler_lines / total_lines,
    }
    return {"unique_ids": unique_ids, "exact_groups": groups}, shares
