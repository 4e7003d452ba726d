"""Stage 1: HTML bytes → word stream (the webtext analog of the reference's
preprocessing + OCR stages, SURVEY.md §2.2-2.3).

A deterministic, dependency-free tokenizer built on the stdlib HTMLParser:

1. script/style/noscript content is dropped (P3-analog noise removal);
2. the DOM is segmented into text blocks at block-level tag boundaries;
3. boilerplate is stripped with two signals — container tags
   (nav/header/footer/aside) and per-block link density > 1/3 — the
   Boilerpipe-style text-density classification the north_star calls for;
4. surviving blocks become lines; the shared layout model
   (``documentprocessor_spark.layout``) assigns deterministic pseudo-boxes,
   giving downstream geometry heuristics the same input shape the
   reference's OCR produces (ocr_engine.py:145-149).

``page_tuples`` is the one routing rule of a pages row (HTML, PDF
payloads, pre-extracted text); the fused kernel (operators/extract.py) and
``parse_words_udf`` both call it.

Vectorization: one pandas UDF over the binary html column — per-document
pure Python inside an Arrow batch, no per-row Spark dispatch (BASELINE.json
input_hint: "no per-row Python").
"""

from __future__ import annotations

from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType

from ..layout import layout_words
from ..schemas import WORD
from ..sources.pdf import pdf_tuples

BLOCK_TAGS = frozenset(
    "p div li h1 h2 h3 h4 h5 h6 td th tr table ul ol main article section "
    "blockquote pre br hr form".split()
)
SKIP_TAGS = frozenset(
    ("script", "style", "noscript", "svg", "template", "title", "textarea")
)
BOILER_CONTAINERS = frozenset(("nav", "header", "footer", "aside"))
MAX_LINK_DENSITY = 1.0 / 3.0


class _BlockCollector(HTMLParser):
    """Segments character data into blocks with per-block anchor-char counts."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int, int, bool]] = []
        self._buf: list[str] = []
        self._anchor_chars = 0
        self._skip_depth = 0
        self._boiler_depth = 0
        self._anchor_depth = 0

    def _flush(self):
        text = " ".join("".join(self._buf).split())
        if text:
            self.blocks.append(
                (text, self._anchor_chars, len("".join(self._buf)),
                 self._boiler_depth > 0)
            )
        self._buf = []
        self._anchor_chars = 0

    def handle_starttag(self, tag, attrs):
        if tag in SKIP_TAGS:
            self._skip_depth += 1
        if tag in BLOCK_TAGS or tag in BOILER_CONTAINERS:
            self._flush()
        if tag in BOILER_CONTAINERS:
            self._boiler_depth += 1
        if tag == "a":
            self._anchor_depth += 1

    def handle_endtag(self, tag):
        if tag in SKIP_TAGS and self._skip_depth:
            self._skip_depth -= 1
        if tag in BLOCK_TAGS or tag in BOILER_CONTAINERS:
            self._flush()
        if tag in BOILER_CONTAINERS and self._boiler_depth:
            self._boiler_depth -= 1
        if tag == "a" and self._anchor_depth:
            self._anchor_depth -= 1

    def handle_data(self, data):
        if self._skip_depth:
            return
        self._buf.append(data)
        if self._anchor_depth:
            self._anchor_chars += len(data)


import re as _re
from html import unescape as _unescape

# One-pass tag scanner for the tokenizer: comments, then tags. The
# attribute body uses POSSESSIVE quantifiers (++/*+, Python 3.11):
# without them an UNTERMINATED tag makes the (x+)* shape backtrack
# exponentially (a truncated crawl page would hang an executor task).
# One behavior change vs the backtracking form, deliberate and test-pinned:
# a truncated tag with an unclosed quoted attribute ('<a x="1>2"' at EOF)
# no longer half-matches via backtracking — the whole tail stays text,
# which AGREES with the stdlib _BlockCollector reference.
_TAG_RE = _re.compile(
    r"<!--.*?-->|<[!?][^>]*>"
    r"|<(/?)([a-zA-Z][a-zA-Z0-9]*)(?:\"[^\"]*\"|'[^']*'|[^>\"']++|\"|')*+>",
    _re.DOTALL,
)
_RAWTEXT_CLOSER = {t: f"</{t}" for t in ("script", "style", "title", "noscript", "svg", "template", "textarea")}


# Pre-pass: excise well-formed raw-text elements (script/style/…) in one
# C-level sub; the first '</name[^>]*>' terminates, matching the scanner's
# find('</name') behaviour. Unterminated openers survive and the main loop
# truncates at them, as before. Possessive attribute body (++/*+) for the
# same reason as _TAG_RE — the non-possessive shape backtracks
# exponentially on an unterminated opener full of quoted strings.
_RAWTEXT_SUB_RE = _re.compile(
    r"<(script|style|noscript|svg|template|textarea|title)(?=[\s/>])"
    r"(?:\"[^\"]*\"|'[^']*'|[^>\"']++|\"|')*+>.*?</\1[^>]*>",
    _re.DOTALL | _re.IGNORECASE,
)

_BLOCKY = BLOCK_TAGS | BOILER_CONTAINERS

# Round-2 measured note: a "remove noise tags in one C pass, split only on
# interesting tags" variant is SLOWER on receipt-shaped pages (107 vs 55
# us/doc) — the negative-lookahead noise regex scans every tag while the
# corpus has ~3 noise tags per page. The single split + Python loop below
# wins whenever interesting tags dominate; revisit only for inline-tag-heavy
# corpora (real Common-Crawl bodies).


def _fast_blocks(html: str) -> list[tuple[str, int, int, bool]]:
    """Regex-based block segmentation — same output contract as
    _BlockCollector (text, anchor_chars, total_chars, in_boiler) but much
    faster (the hot path of the extraction kernel; the HTMLParser-based
    collector remains the reference implementation, asserted equivalent in
    tests/test_html_pipeline.py). One sub pass removes raw-text elements,
    one C-level split walks the remaining tags."""
    html = _RAWTEXT_SUB_RE.sub("", html)
    # one C-level split: [text, slash, name, text, slash, name, ..., text]
    # (comments/declarations contribute (None, None) group slots)
    parts = _TAG_RE.split(html)
    blocks: list[tuple[str, int, int, bool]] = []
    buf: list[str] = []
    append = buf.append
    anchor_chars = 0
    boiler_depth = 0
    anchor_depth = 0
    truncated = False
    # stride-3 zip walk instead of manual indexing (the zip triples are
    # C-built; measured faster than the i/i+1/i+2 loop); the final
    # trailing text slot has no (slash, name) pair and is flushed after.
    for chunk, slash, name in zip(parts[0::3], parts[1::3], parts[2::3]):
        if chunk:
            if "&" in chunk:
                chunk = _unescape(chunk)
            append(chunk)
            if anchor_depth:
                anchor_chars += len(chunk)
        if name is not None:
            tag = name.lower()
            closing = slash == "/"
            if not closing and tag in _RAWTEXT_CLOSER:
                # only unterminated raw-text openers survive the sub
                # pre-pass: drop everything after, like a failed find()
                truncated = True
                break
            if tag in _BLOCKY:
                raw = buf[0] if len(buf) == 1 else "".join(buf)
                text = " ".join(raw.split())
                if text:
                    blocks.append((text, anchor_chars, len(raw), boiler_depth > 0))
                buf = []
                append = buf.append
                anchor_chars = 0
                if tag in BOILER_CONTAINERS:
                    if closing:
                        if boiler_depth:
                            boiler_depth -= 1
                    else:
                        boiler_depth += 1
            elif tag == "a":
                if closing:
                    if anchor_depth:
                        anchor_depth -= 1
                else:
                    anchor_depth += 1
    if not truncated:
        chunk = parts[-1]
        if chunk:
            if "&" in chunk:
                chunk = _unescape(chunk)
            append(chunk)
            if anchor_depth:
                anchor_chars += len(chunk)
    raw = buf[0] if len(buf) == 1 else "".join(buf)
    text = " ".join(raw.split())
    if text:
        blocks.append((text, anchor_chars, len(raw), boiler_depth > 0))
    return blocks


def _parser_blocks(html: str) -> list[tuple[str, int, int, bool]]:
    """stdlib-HTMLParser reference implementation of block segmentation.

    Equivalence with the fast scanner holds on the supported dialect
    (well-formed raw-text closers); on pathological closers like
    ``</script2>`` HTMLParser's CDATA mode differs — there the FAST scanner
    is the engine's authoritative behaviour (it is the deployed kernel and
    is deterministic; this implementation exists for cross-checking)."""
    collector = _BlockCollector()
    try:
        collector.feed(html)
        collector.close()
    except Exception:
        pass  # malformed markup: keep whatever was collected (never fail a row)
    collector._flush()
    return collector.blocks


def extract_content_lines(html: bytes | str, engine: str = "fast") -> list[str]:
    """HTML → boilerplate-stripped content lines, document order.

    engine='fast' (default) uses the regex scanner; engine='parser' uses the
    stdlib HTMLParser — both produce identical blocks on the supported HTML
    dialect (cross-checked in tests)."""
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    blocks = _fast_blocks(html) if engine == "fast" else _parser_blocks(html)
    lines = []
    for text, anchor_chars, total_chars, in_boiler in blocks:
        if in_boiler:
            continue
        if total_chars and anchor_chars / total_chars > MAX_LINK_DENSITY:
            continue
        lines.append(text)
    return lines


def html_tuples(html: bytes | str) -> list[tuple]:
    """HTML → word tuples (text, x0, y0, x1, y1, conf) — the zero-copy form
    the fused extraction kernel consumes."""
    return layout_words(extract_content_lines(html))


def text_tuples(text: str | None) -> list[tuple]:
    """Pre-extracted text → word tuples (one line; the layout model supplies
    geometry); [] for NULL or empty text."""
    if not text:
        return []
    return layout_words([text])


def page_tuples(html: bytes | str | None, text: str | None) -> list[tuple]:
    """The one content-routing rule for a pages row, shared by the fused
    kernel and parse_words_udf. A Common-Crawl-style pages table carries PDF
    responses in the same binary html column as HTML: a payload that starts
    with the PDF magic goes to the PDF text-layer parser (sources/pdf.py),
    other html to the HTML scanner, and a row without html to its
    pre-extracted text. (No legal HTML document starts with the PDF magic,
    so the HTML byte-identity contract is untouched.)"""
    if html is None:
        return text_tuples(text)
    if isinstance(html, (bytes, bytearray, memoryview)) and bytes(html[:5]) == b"%PDF-":
        return pdf_tuples(html)
    return html_tuples(html)


def _word_dicts(tuples: list[tuple]) -> list[dict]:
    return [
        {"text": t, "x0": x0, "y0": y0, "x1": x1, "y1": y1, "confidence": c}
        for (t, x0, y0, x1, y1, c) in tuples
    ]


def html_to_words(html: bytes | str) -> list[dict]:
    """HTML → word dicts with deterministic layout-model boxes."""
    return _word_dicts(html_tuples(html))


@pandas_udf(ArrayType(WORD))
def parse_words_udf(html: pd.Series, text: pd.Series) -> pd.Series:
    """Batched stage-1 kernel: a pages row (html bytes, or pre-extracted
    text when html is null) → array<WORD>, routed by page_tuples exactly
    like the fused kernel (operators/extract.py), so the modular two-stage
    path — the model pipeline, the phase CLI, the debug sink — extracts
    mixed HTML+PDF crawls identically."""
    return pd.Series([_word_dicts(page_tuples(h, t)) for h, t in zip(html, text)])


def parse_pages(pages: DataFrame, html_col: str = "html", text_col: str = "text") -> DataFrame:
    """Append a `words` array<WORD> column to a pages DataFrame."""
    return pages.withColumn(
        "words", parse_words_udf(F.col(html_col), F.col(text_col))
    )
