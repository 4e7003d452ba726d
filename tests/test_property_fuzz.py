"""Property-based fuzzing (hypothesis) of the semantic contracts:

- extract_fields_fast ≡ extract_fields on arbitrary word lists;
- fast HTML scanner ≡ HTMLParser reference on generated well-formed pages;
- normalization invariants (range, idempotence on clamped space);
- group_lines partition properties.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from documentprocessor_spark import reference_semantics as ref
from documentprocessor_spark.operators.html_parse import extract_content_lines

# -- word-list strategy: realistic receipt-ish tokens + adversarial ones ----

token = st.one_of(
    st.sampled_from(
        ["Total", "total", "Subtotal", "TAX", "due", "Grand", "amount",
         "$3.99", "0.00", "$1,234.56", "12/25/2023", "2023-12-25",
         "Jan 15, 2024", "Milk", "2x", "x3", "€5.00", "£2", "USD", "Store",
         "7", "...", "a-b", "$", ""]
    ),
    st.text(
        alphabet="abcdefgXYZ0123456789$.,/-: ", min_size=0, max_size=12
    ),
)

word = st.tuples(
    token,
    st.integers(-50, 900),   # x0
    st.integers(-50, 1300),  # y0
    st.integers(-50, 900),   # x1
    st.integers(-50, 1300),  # y1
    st.floats(0.0, 1.0, allow_nan=False),
)

words_lists = st.lists(word, min_size=0, max_size=40)


@settings(max_examples=200, deadline=None)
@given(words_lists)
def test_fast_equals_reference_shaped(words):
    assert ref.extract_fields_fast(words) == ref.extract_fields(words)


@settings(max_examples=200, deadline=None)
@given(words_lists)
def test_normalize_range_and_passthrough(words):
    normed = ref.normalize_words(words, 800, 1200)
    assert len(normed) == len(words)
    for orig, n in zip(words, normed):
        assert n[0] == orig[0] and n[5] == orig[5]
        assert all(0 <= c <= 1000 for c in n[1:5])


@settings(max_examples=100, deadline=None)
@given(words_lists)
def test_group_lines_is_a_partition(words):
    lines = ref.group_lines(words)
    flat = [w for line in lines for w in line]
    assert sorted(flat) == sorted(words)  # no loss, no duplication
    for line in lines:
        assert line == sorted(line, key=lambda w: w[1])  # x-sorted within


# -- HTML strategy: well-formed-ish pages ------------------------------------

text_chunk = st.text(
    alphabet="abcXYZ 0123456789$.&;", min_size=0, max_size=20
).map(lambda s: s.replace("&", "&amp;"))

element = st.deferred(
    lambda: st.one_of(
        text_chunk,
        st.tuples(
            st.sampled_from(["p", "div", "li", "span", "b", "a", "nav",
                             "footer", "td", "h1"]),
            st.lists(element, max_size=3),
        ).map(lambda t: f"<{t[0]}>" + "".join(t[1]) + f"</{t[0]}>"),
        st.tuples(
            st.sampled_from(["script", "style", "title"]), text_chunk
        ).map(lambda t: f"<{t[0]}>{t[1]}</{t[0]}>"),
        st.just("<!-- comment <p>x</p> -->"),
        st.just("<br>"),
    )
)

pages = st.lists(element, max_size=8).map(
    lambda parts: ("<!DOCTYPE html><html><body>" + "".join(parts) + "</body></html>").encode()
)


@settings(max_examples=150, deadline=None)
@given(pages)
def test_fast_scanner_equals_parser_on_generated_html(html):
    assert extract_content_lines(html, "fast") == extract_content_lines(
        html, "parser"
    )


# -- OCR roundtrip: arbitrary CHARSET text must survive render→recognize ----

from documentprocessor_spark.operators.ocr_kernel import (  # noqa: E402
    CHARSET,
    TemplateOcrEngine,
    render_page,
)

ocr_word = st.text(alphabet=CHARSET, min_size=1, max_size=10)
ocr_lines = st.lists(
    st.lists(ocr_word, min_size=1, max_size=6).map(" ".join),
    min_size=1,
    max_size=6,
)


@settings(max_examples=60, deadline=None)
@given(ocr_lines)
def test_ocr_roundtrip_any_charset_text(lines):
    img, golden = render_page(lines)
    words = TemplateOcrEngine().detect_and_recognize(img)
    assert [w["text"] for w in words] == [g[0] for g in golden]
    assert all(w["confidence"] == 1.0 for w in words)


# -- token2json roundtrip: nested structures survive serialization ----------

from documentprocessor_spark.operators.genmodel_parse import token2json  # noqa: E402

key_name = st.sampled_from(["menu", "nm", "cnt", "price", "sub_total",
                            "total", "tax_price", "a", "b2"])
# leaves are whitespace-normalized: the parser collapses runs of spaces by
# design, so the roundtrip property quantifies over normalized text
leaf = st.text(alphabet="abcXYZ0123456789$. ", min_size=1, max_size=8).map(
    lambda s: " ".join(s.split())
).filter(bool)

node = st.deferred(
    lambda: st.one_of(
        leaf,
        st.dictionaries(key_name, node, min_size=1, max_size=3),
        st.lists(
            st.dictionaries(key_name, leaf, min_size=1, max_size=3),
            min_size=2,
            max_size=3,
        ),
    )
)


def to_cord(obj) -> str:
    if isinstance(obj, str):
        return obj
    if isinstance(obj, list):
        return "<sep/>".join(to_cord(x) for x in obj)
    return "".join(f"<s_{k}>{to_cord(v)}</s_{k}>" for k, v in obj.items())


@settings(max_examples=120, deadline=None)
@given(st.dictionaries(key_name, node, min_size=1, max_size=3))
def test_token2json_roundtrip(obj):
    assert token2json(to_cord(obj)) == obj


# --- WARC parser robustness: arbitrary bytes must never raise or hang ------

warc_fragments = st.lists(
    st.one_of(
        st.binary(max_size=40),
        st.just(b"WARC/1.0\r\n"),
        st.just(b"WARC-Type: response\r\n"),
        st.just(b"WARC-Target-URI: http://x/1\r\n"),
        st.just(b"Content-Length: "),
        st.just(b"Content-Length: -5\r\n"),
        st.just(b"\r\n\r\n"),
        st.just(b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"),
        st.just(b"Transfer-Encoding: chunked\r\n"),
        st.just(b"\x1f\x8b"),  # gzip magic
        st.just(b"-ffffffff\r\n"),  # negative chunk-size line
    ),
    max_size=12,
)


@given(warc_fragments)
@settings(max_examples=200, deadline=None)
def test_warc_parser_never_raises_on_garbage(fragments):
    from documentprocessor_spark.sources.warc import parse_warc_records

    raw = b"".join(fragments)
    # must terminate and never raise — malformed records surface as
    # {'_skipped': reason} rows, never as task failures
    out = list(parse_warc_records(raw))
    for rec in out:
        assert ("_skipped" in rec) or (
            rec.get("url") and isinstance(rec.get("html"), (bytes, bytearray))
        )


@given(st.binary(max_size=300))
@settings(max_examples=200, deadline=None)
def test_warc_parser_never_raises_on_random_bytes(raw):
    from documentprocessor_spark.sources.warc import parse_warc_records

    list(parse_warc_records(raw))


# ---------------------------------------------------------------------------
# PII redaction: the Spark (Java-regex) pipeline must agree with Python
# `re` on arbitrary text — the patterns are the portable contract, the
# engines interchangeable. Fuzzed over text that MIXES near-miss shapes
# (digits, dots, @, dashes) with real PII-looking tokens.
# ---------------------------------------------------------------------------

_pii_atoms = st.sampled_from([
    "word", "a@b.co", "x@y", "@", "5.5", "1.2.3.4", "256.1.1.1",
    "555-123-4567", "555-12-4567", "5555-123-4567", "user.name+x@ex.org",
    "10.0.0.", ".1.2.3.4", "a..b@c..d.com", "$", "-", ".", "123",
    "end.", "v1.2.3", "call555-123-4567now",
])
_pii_texts = st.lists(_pii_atoms, min_size=0, max_size=12).map(" ".join)


@given(st.lists(_pii_texts, min_size=1, max_size=8))
@settings(max_examples=25, deadline=None)
def test_pii_spark_matches_python_re_fuzz(spark, texts):
    import re

    from documentprocessor_spark.operators.pii import PII_RULES, redact_pii

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {r.doc_id: (r.text_redacted, r.n_email, r.n_phone, r.n_ip)
           for r in redact_pii(df).collect()}
    for i, t in enumerate(texts):
        staged, counts = t, []
        for pattern, token in PII_RULES:
            counts.append(len(re.findall(pattern, staged)))
            staged = re.sub(pattern, token, staged)
        assert got[i] == (staged, *counts), t


# -- duplicate_spans ≡ pure-Python reference over random tiny corpora ------

_span_vocab = list("abcdefgh")
_span_doc = st.lists(
    st.sampled_from(_span_vocab), min_size=0, max_size=20
).map(" ".join)


def _py_duplicate_spans(docs, k, min_docs=2, df_cap=1000):
    """Straightforward set-based twin of dedup.duplicate_spans."""
    from collections import defaultdict

    wins = defaultdict(set)  # window text -> doc ids
    per_doc = defaultdict(list)  # doc -> [start, ...]
    for did, text in docs:
        toks = text.split(" ")
        for i in range(len(toks) - k + 1):
            w = " ".join(toks[i:i + k])
            wins[w].add(did)
            per_doc[did].append((i, w))
    dup = {w for w, ds in wins.items() if min_docs <= len(ds) <= df_cap}
    out = set()
    for did, occ in per_doc.items():
        starts = sorted(i for i, w in occ if w in dup)
        run = []
        for s in starts:
            if run and s - run[-1] > k:
                out.add((did, run[0], run[-1] + k - run[0], len(run)))
                run = []
            run.append(s)
        if run:
            out.add((did, run[0], run[-1] + k - run[0], len(run)))
    return out


@given(st.lists(_span_doc, min_size=1, max_size=8),
       st.integers(min_value=2, max_value=5))
@settings(max_examples=25, deadline=None)
def test_duplicate_spans_matches_python_fuzz(spark, texts, k):
    """The relational span machinery (window hash -> distinct count ->
    join-back -> interval union) must agree with a direct set computation
    on arbitrary tiny corpora — including duplicated docs, empty docs, and
    docs shorter than k (the small vocab makes window collisions common)."""
    from documentprocessor_spark.operators.dedup import duplicate_spans

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_len, r.n_windows)
        for r in duplicate_spans(df, "doc_id", "text", k=k).collect()
    }
    assert got == _py_duplicate_spans(docs, k)


# -- chunk_documents ≡ pure-Python reference over random docs --------------

_chunk_doc = st.lists(
    st.sampled_from(list("pqrs")), min_size=1, max_size=40
).map(" ".join)


def _py_chunks(docs, chunk, stride):
    out = set()
    for did, text in docs:
        toks = text.split(" ")
        n = len(toks)
        n_extra = max(0, -(-(n - chunk) // stride))  # ceil, clamped
        for c in range(n_extra + 1):
            piece = toks[c * stride : c * stride + chunk]
            out.add((did, c, c * stride, len(piece), " ".join(piece)))
    return out


@given(st.lists(_chunk_doc, min_size=1, max_size=6),
       st.integers(min_value=2, max_value=9), st.integers(min_value=1, max_value=9))
@settings(max_examples=25, deadline=None)
def test_chunk_documents_matches_python_fuzz(spark, texts, chunk, stride):
    from documentprocessor_spark.operators.packing import chunk_documents

    stride = min(stride, chunk)
    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_id, r.chunk_start, r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents(df, "doc_id", "text", chunk, stride).collect()
    }
    assert got == _py_chunks(docs, chunk, stride)


# -- rolling window hashes ≡ pure-Python twin, bit-for-bit -----------------

_roll_doc = st.lists(
    st.sampled_from(["a", "b", "ab", "ba", "longtoken", "x1"]),
    min_size=0, max_size=60,
).map(" ".join)


@given(texts=st.lists(_roll_doc, min_size=1, max_size=5),
       k=st.one_of(st.integers(min_value=1, max_value=6), st.just(50)))
@settings(max_examples=12, deadline=None)
def test_rolling_window_hashes_match_python_twin(spark, texts, k):
    """functions/rolling: the Spark window-hash values must be BIT-identical
    to py_window_hashes (the same 62-bit packed Rabin-Karp key both DuckDB
    oracles spell) — on empty docs, docs shorter than k, repeated tokens,
    and every position, at the spans' k = 50 too. The repeated small vocab
    forces identical windows at many positions; their hashes must collide
    exactly."""
    from documentprocessor_spark.functions.rolling import (
        py_window_hashes, rolling_window_hashes)

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in rolling_window_hashes(df, "doc_id", "text", k).collect():
        got.setdefault(r.doc_id, []).append((r.pos, r.win_hash))
    for d in got:
        got[d].sort()
    want = {
        i: py_window_hashes(t.split(" "), k)
        for i, t in docs
        if len(t.split(" ")) >= k
    }
    want = {i: v for i, v in want.items() if v}
    assert got == want


@given(texts=st.lists(st.one_of(st.none(), _roll_doc), min_size=1,
                      max_size=5),
       n=st.sampled_from([3, 5, 13]))
@settings(max_examples=12, deadline=None)
def test_per_row_window_keys_equal_rolling_and_python(spark, texts, n):
    """The one n-gram key: dedup.doc_shingle_hashes (window_key_sql per
    row), rolling_window_hashes(k=n) (prefix sums) and py_window_hashes
    give the same multiset of keys per doc — on empty, short, NULL and
    repeated-token docs."""
    from collections import Counter

    from documentprocessor_spark.functions.rolling import (
        py_window_hashes, rolling_window_hashes)
    from documentprocessor_spark.operators.dedup import doc_shingle_hashes

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    per_row, rolled = {}, {}
    for r in doc_shingle_hashes(df, "doc_id", "text", n).collect():
        per_row.setdefault(r.doc_id, Counter())[r.sh_hash] += 1
    for r in rolling_window_hashes(df, "doc_id", "text", n).collect():
        rolled.setdefault(r.doc_id, Counter())[r.win_hash] += 1
    want = {i: Counter(h for _, h in py_window_hashes(t.split(" "), n))
            for i, t in docs if t is not None}
    want = {i: c for i, c in want.items() if c}
    assert per_row == rolled == want


def test_rolling_maxlen_boundary_twins_agree(spark):
    """Both twins draw the maxlen boundary identically (r5 advice found
    them one row apart): exactly DEFAULT_MAXLEN tokens computes on both
    sides, one more raises on both sides."""
    import pytest

    from documentprocessor_spark.functions.rolling import (
        DEFAULT_MAXLEN, py_window_hashes, rolling_window_hashes)

    ok = " ".join(f"t{i % 97}" for i in range(DEFAULT_MAXLEN))
    over = ok + " t0"
    df_ok = spark.createDataFrame([(1, ok)], "doc_id long, text string")
    got = sorted(
        (r.pos, r.win_hash)
        for r in rolling_window_hashes(df_ok, "doc_id", "text", 3).collect()
    )
    assert got == py_window_hashes(ok.split(" "), 3)
    with pytest.raises(ValueError):
        py_window_hashes(over.split(" "), 3)
    df_over = spark.createDataFrame([(1, over)], "doc_id long, text string")
    with pytest.raises(Exception, match="exceeds rolling-hash maxlen"):
        rolling_window_hashes(df_over, "doc_id", "text", 3).collect()
