"""Pure-Python, dependency-free reimplementation of the reference's
deterministic extraction semantics.

This module is the *semantic contract* of the engine: it is used both to
generate golden outputs for the pytest byte-identity suite and as the
per-document kernel inside the Arrow-batched extraction UDF
(``documentprocessor_spark.operators.extract``).

The authoritative behaviour is the path the reference's own unit tests pin
(``/root/reference/Ocr/tests/test_cli_unit.py:275-367`` →
``receipt_processor.extract_fields_heuristic`` →
``ReceiptProcessor.postprocess_results(None, words)``):

- box normalization: ``receipt_processor.py:262-299`` (int-truncation to a
  0-1000 model space, clamped)
- raw text: ``receipt_processor.py:175`` (space-join in OCR order)
- vendor:   ``postprocessing/field_extractor.py:88-134`` (top-3 by y0,
  stable sort)
- total:    ``postprocessing/field_extractor.py:136-174`` (keyword → forward
  window of 5, Decimal-parsed amount, zero-amount skipped by truthiness)
- date:     ``receipt_processor.py:418-447`` (regex cascade over the joined
  text, first containing/contained word supplies confidence+box)
- subtotal: ``receipt_processor.py:449-472`` (keyword → window [-2, +4])
- tax:      ``receipt_processor.py:474-497`` (same window, keywords
  tax/vat/gst/hst)
- currency: ``receipt_processor.py:499-510`` (USD/EUR/GBP only on this path)
- line items: ``postprocessing/field_extractor.py:176-325`` (y-proximity
  line clustering with first-word anchor, price/quantity classification)

Known reference divergences between entry points (SURVEY.md §8) are resolved
in favour of this path; the ``commands.py`` variants (wider currency set,
tax-box y0 quirk, resampled-dims normalization) are reproduced ONLY as the
flag-gated entry-C twins (``extract_tax_entry_c`` etc.) and never reach the
default output.

Words are represented as plain tuples ``(text, x0, y0, x1, y1, confidence)``
in OCR order — flat and Arrow-friendly, unlike the reference's dict rows.
"""

from __future__ import annotations

import re
import heapq
from bisect import bisect_right
from operator import itemgetter
from datetime import datetime
from decimal import Decimal, InvalidOperation

# --- regexes / keyword tables (the semantic surface; values must not drift) ---

AMOUNT_RE = re.compile(r"\$?\s*(\d{1,3}(?:,\d{3})*(?:\.\d{2})?)")
DATE_PATTERNS = [
    re.compile(r"(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})", re.IGNORECASE),
    re.compile(r"(\d{4}[/-]\d{1,2}[/-]\d{1,2})", re.IGNORECASE),
    re.compile(
        r"((?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]* \d{1,2},? \d{4})",
        re.IGNORECASE,
    ),
]
PRICE_FULLMATCH_RE = re.compile(r"^\$?\d{1,3}(?:,\d{3})*(?:\.\d{2})?$")
QUANTITY_RE = re.compile(r"^(\d+)x?$|^x(\d+)$", re.IGNORECASE)

TOTAL_KEYWORDS = ("total", "grand", "amount", "due", "balance")
SUBTOTAL_KEYWORDS = ("subtotal", "sub total", "sub-total")
TAX_KEYWORDS = ("tax", "vat", "gst", "hst")
LINE_SKIP_KEYWORDS = (
    "total", "subtotal", "tax", "change", "cash", "credit",
    "card", "visa", "mastercard", "thank", "receipt", "store",
)

LINE_Y_THRESHOLD = 20
VENDOR_TOP_K = 3
NORM_SCALE = 1000

# word tuple field offsets
TEXT, X0, Y0, X1, Y1, CONF = range(6)


def normalize_box(x0, y0, x1, y1, width, height, scale=NORM_SCALE):
    """0-``scale`` model-space box via int() truncation + clamp.

    Matches /root/reference/Ocr/src/receipt_processor.py:262-299 exactly
    (truncation, not rounding; clamp after scaling).
    """
    coords = (
        int(x0 * scale / width),
        int(y0 * scale / height),
        int(x1 * scale / width),
        int(y1 * scale / height),
    )
    return tuple(max(0, min(scale, c)) for c in coords)


def normalize_words(words, width, height, scale=NORM_SCALE):
    """Normalize every word's box; text/confidence pass through unchanged."""
    out = []
    for w in words:
        b = normalize_box(w[X0], w[Y0], w[X1], w[Y1], width, height, scale)
        out.append((w[TEXT], b[0], b[1], b[2], b[3], w[CONF]))
    return out


def raw_text(words):
    """Space-joined text in OCR order (/root/reference .../receipt_processor.py:175).

    This is the byte-identity invariant per url.
    """
    return " ".join(w[TEXT] for w in words)


def _parse_amount(text):
    """Decimal amount or None; commas stripped.

    Matches FieldExtractor.extract_amount (field_extractor.py:42-60).
    """
    m = AMOUNT_RE.search(text)
    if not m:
        return None
    try:
        return Decimal(m.group(1).replace(",", ""))
    except InvalidOperation:
        return None


def _field(value, confidence, box):
    return {"value": value, "confidence": confidence, "box": box}


def _box_dict(x0, y0, x1, y1):
    return {"x0": x0, "y0": y0, "x1": x1, "y1": y1}


def extract_vendor(words):
    """Top-3 words by y0 (stable sort), space-joined; mean confidence;
    envelope box. field_extractor.py:88-134."""
    if not words:
        return None
    # nsmallest is documented equivalent to sorted(key=key)[:n] including
    # stability — same top-3, O(n) instead of a full sort
    top = heapq.nsmallest(VENDOR_TOP_K, words, key=itemgetter(Y0))
    return _field(
        " ".join(w[TEXT] for w in top),
        sum(w[CONF] for w in top) / len(top),
        _box_dict(
            min(w[X0] for w in top),
            min(w[Y0] for w in top),
            max(w[X1] for w in top),
            max(w[Y1] for w in top),
        ),
    )


def extract_total(words):
    """First keyword word → first *truthy* Decimal amount in words[i:i+5).

    field_extractor.py:136-174. Note the reference's ``if amount:`` — a
    parsed 0/0.00 is skipped. Value is str(Decimal), so "07.50" → "7.50".
    """
    for i, w in enumerate(words):
        low = w[TEXT].lower()
        if any(k in low for k in TOTAL_KEYWORDS):
            for j in range(i, min(i + 5, len(words))):
                amount = _parse_amount(words[j][TEXT])
                if amount:
                    wj = words[j]
                    return _field(
                        str(amount), wj[CONF],
                        _box_dict(wj[X0], wj[Y0], wj[X1], wj[Y1]),
                    )
    return None


def _extract_windowed_amount(words, keywords):
    """Keyword at i → first regex amount in words[max(0,i-2):i+5).

    receipt_processor.py:449-497 (subtotal/tax). Unlike extract_total the
    value is the raw regex group with commas stripped (no Decimal), and a
    "0" match is kept (no truthiness filter).
    """
    for i, w in enumerate(words):
        low = w[TEXT].lower()
        if any(k in low for k in keywords):
            for j in range(max(0, i - 2), min(len(words), i + 5)):
                m = AMOUNT_RE.search(words[j][TEXT])
                if m:
                    wj = words[j]
                    return _field(
                        m.group(1).replace(",", ""), wj[CONF],
                        _box_dict(wj[X0], wj[Y0], wj[X1], wj[Y1]),
                    )
    return None


def extract_subtotal(words):
    return _extract_windowed_amount(words, SUBTOTAL_KEYWORDS)


def extract_tax(words):
    return _extract_windowed_amount(words, TAX_KEYWORDS)


def extract_date(words):
    """Regex cascade over the joined text; the first word whose text contains
    or is contained by the match supplies confidence and box.

    receipt_processor.py:418-447. All three patterns search case-insensitively
    on this path.
    """
    full = raw_text(words)
    for pat in DATE_PATTERNS:
        m = pat.search(full)
        if not m:
            continue
        date_str = m.group(1)
        for w in words:
            if date_str in w[TEXT] or w[TEXT] in date_str:
                return _field(
                    date_str, w[CONF], _box_dict(w[X0], w[Y0], w[X1], w[Y1])
                )
    return None


# --- entry-C compatibility (cli/commands.py variants, SURVEY §8.3-8.5) ----
#
# The reference's CLI entry point diverges from the authoritative
# receipt_processor path in three documented ways. The engine's default
# output stays on the authoritative path; these flag-gated twins make it
# golden-compatible with BOTH reference entry points.


def extract_tax_entry_c(words):
    """Entry-C tax window (cli/commands.py:166-189): identical scan to
    extract_tax EXCEPT the returned box's y0 comes from the KEYWORD word,
    not the matched amount word — the reference's inconsistent-box quirk
    (`"y0": w['box'][1]` while x0/x1/y1 use words[j]), reproduced exactly."""
    for i, w in enumerate(words):
        low = w[TEXT].lower()
        if any(k in low for k in TAX_KEYWORDS):
            for j in range(max(0, i - 2), min(len(words), i + 5)):
                m = AMOUNT_RE.search(words[j][TEXT])
                if m:
                    wj = words[j]
                    return _field(
                        m.group(1).replace(",", ""), wj[CONF],
                        _box_dict(wj[X0], w[Y0], wj[X1], wj[Y1]),
                    )
    return None


def detect_currency_entry_c(words):
    """Entry-C currency detection (cli/commands.py:192-209): the extended
    set — JPY/CNY at confidence 0.8, CAD and AUD at 0.9 — after the
    authoritative USD/EUR/GBP cascade."""
    full = raw_text(words)
    if "$" in full or "USD" in full:
        return _field("USD", 0.9, None)
    if "€" in full or "EUR" in full:
        return _field("EUR", 0.9, None)
    if "£" in full or "GBP" in full:
        return _field("GBP", 0.9, None)
    if "¥" in full or "JPY" in full or "CNY" in full:
        return _field("JPY/CNY", 0.8, None)
    if "CAD" in full:
        return _field("CAD", 0.9, None)
    if "AUD" in full:
        return _field("AUD", 0.9, None)
    return None


def normalize_words_entry_c(words, width, height, current_dpi, target_dpi=300,
                            scale=NORM_SCALE):
    """Entry-C normalization (cli/commands.py:398-407 + SURVEY §8.3): boxes
    are normalized against the RESAMPLED image dimensions (the exact int-
    truncation math of image_preprocessor.resampleToDpi), not the original
    ones — the OCR ran on the resampled image, so entry C scales by the
    dims it measured."""
    from .operators.imageprep import calculate_resampled_dimensions

    rw, rh = calculate_resampled_dimensions(width, height, current_dpi, target_dpi)
    return normalize_words(words, rw, rh, scale)


def extract_fields_entry_c(words):
    """Entry-C field extraction: the authoritative extractors with the two
    entry-C heuristic divergences swapped in (tax-box y0 quirk, extended
    currency set). Line items and vendor/total/subtotal/date are shared —
    the entry points only diverge where documented."""
    fields = extract_fields(words)
    fields["tax_amount"] = extract_tax_entry_c(words)
    fields["currency"] = detect_currency_entry_c(words)
    return fields


DATE_ISO_FORMATS = (
    "%m/%d/%Y", "%d/%m/%Y", "%Y-%m-%d", "%m-%d-%Y", "%B %d, %Y", "%b %d, %Y",
)


def normalize_date_iso(date_str):
    """H7 date ISO-normalization: strptime over the six reference formats in
    order, first success rendered %Y-%m-%d, else None.

    /root/reference/Ocr/src/postprocessing/field_extractor.py:62-86 defines
    this but never wires it into any output path (SURVEY.md §8.7), so the
    engine keeps it OUT of the default pipeline too — it is the opt-in
    column helper plans.pipeline.with_iso_dates / functions.dates.iso_date_col.
    """
    if date_str is None:
        return None
    for fmt in DATE_ISO_FORMATS:
        try:
            return datetime.strptime(date_str, fmt).strftime("%Y-%m-%d")
        except ValueError:
            continue
    return None


def detect_currency(words):
    """USD/EUR/GBP substring detection over the joined text; box is null.

    receipt_processor.py:499-510 — deliberately NOT the wider commands.py set.
    """
    full = raw_text(words)
    if "$" in full or "USD" in full:
        return _field("USD", 0.9, None)
    if "€" in full or "EUR" in full:
        return _field("EUR", 0.9, None)
    if "£" in full or "GBP" in full:
        return _field("GBP", 0.9, None)
    return None


# Compiled substring-alternation twins of the keyword tuples: a single
# C-level search replaces the any(k in low ...) generator; `k in low` for a
# literal k is exactly regex search of the escaped literal, so semantics are
# unchanged. Keep these in sync with the tuples above.
_TOTAL_KW_RE = re.compile("|".join(map(re.escape, TOTAL_KEYWORDS)))
_SUBTOTAL_KW_RE = re.compile("|".join(map(re.escape, SUBTOTAL_KEYWORDS)))
_TAX_KW_RE = re.compile("|".join(map(re.escape, TAX_KEYWORDS)))
_SKIP_KW_RE = re.compile("|".join(map(re.escape, LINE_SKIP_KEYWORDS)))



def group_lines(words, y_threshold=LINE_Y_THRESHOLD):
    """Cluster words into visual lines.

    field_extractor.py:283-325: sort by (y0, x0); a word joins the current
    line iff |y0 - anchor_y0| <= threshold where the anchor is the line's
    FIRST word (not the previous word — a lag-based sessionization is NOT
    equivalent); each finished line is re-sorted by x0.
    """
    if not words:
        return []
    # itemgetter keys are C-level; identical sort keys/stability to the
    # lambda forms
    ordered = sorted(words, key=itemgetter(Y0, X0))
    by_x0 = itemgetter(X0)
    lines = []
    current = [ordered[0]]
    anchor_y = ordered[0][Y0]
    for w in ordered[1:]:
        if abs(w[Y0] - anchor_y) <= y_threshold:
            current.append(w)
        else:
            lines.append(sorted(current, key=by_x0))
            current = [w]
            anchor_y = w[Y0]
    lines.append(sorted(current, key=by_x0))
    return lines


def extract_line_items(words):
    """Per-line item parse. field_extractor.py:176-281. THE single
    implementation — used by both extract_fields and extract_fields_fast.

    Per line of >=2 words, skipping lines containing any stop keyword (the
    compiled alternation regex is exactly the reference's any-containment
    test): classify each word — full-match price (1st → line_total; 2nd
    shifts the 1st into unit_price), quantity ``2x``/``x2``, else
    description. Derive the missing price via round(·, 2) arithmetic. Emit
    only if a description and at least one price were found.
    """
    items = []
    for line in group_lines(words):
        if len(line) < 2:
            continue
        line_text = " ".join(w[TEXT] for w in line).lower()
        if _SKIP_KW_RE.search(line_text):
            continue
        desc_parts = []
        quantity = None
        unit_price = None
        line_total = None
        for w in line:
            text = w[TEXT].strip()
            if PRICE_FULLMATCH_RE.match(text):
                value = float(text.replace("$", "").replace(",", ""))
                if line_total is None:
                    line_total = value
                elif unit_price is None:
                    unit_price = line_total
                    line_total = value
            else:
                qm = QUANTITY_RE.match(text)
                if qm:
                    quantity = int(qm.group(1) or qm.group(2))
                else:
                    desc_parts.append(text)
        if not desc_parts or (line_total is None and unit_price is None):
            continue
        if unit_price is None and quantity and line_total:
            unit_price = round(line_total / quantity, 2)
        elif unit_price is None:
            unit_price = line_total
        if line_total is None and quantity and unit_price:
            line_total = round(unit_price * quantity, 2)
        elif line_total is None:
            line_total = unit_price
        items.append(
            {
                "description": " ".join(desc_parts),
                "quantity": quantity or 1,
                "unit_price": unit_price,
                "line_total": line_total,
                "box": _box_dict(
                    min(w[X0] for w in line),
                    min(w[Y0] for w in line),
                    max(w[X1] for w in line),
                    max(w[Y1] for w in line),
                ),
                "confidence": sum(w[CONF] for w in line) / len(line),
            }
        )
    return items


_DIGITS = frozenset("0123456789")


def _line_items_fast(words):
    """Bit-identical hot-kernel twin of :func:`extract_line_items` (pinned by
    the fast-path equivalence and fuzz suites; any semantic change lands in
    BOTH). Digit-free words skip the price/quantity regexes — both require
    a digit to match — and hot lookups are bound once per call."""
    items = []
    isdisjoint = _DIGITS.isdisjoint
    price_match = PRICE_FULLMATCH_RE.match
    qty_match = QUANTITY_RE.match
    skip_search = _SKIP_KW_RE.search
    for line in group_lines(words):
        if len(line) < 2:
            continue
        # digit-free lines can never emit an item (price and quantity
        # regexes both require a digit, so line_total/unit_price stay None
        # and the emit guard below rejects the line) — skip the join/
        # lower/regex/envelope work entirely. Output-identical.
        if all(isdisjoint(w[TEXT]) for w in line):
            continue
        line_text = " ".join(w[TEXT] for w in line).lower()
        if skip_search(line_text):
            continue
        desc_parts = []
        quantity = None
        unit_price = None
        line_total = None
        # single pass accumulates the envelope box + confidence sum too
        # (replaces five generator traversals per emitted item)
        w0 = line[0]
        bx0, by0, bx1, by1 = w0[X0], w0[Y0], w0[X1], w0[Y1]
        conf_sum = 0.0
        for w in line:
            if w[X0] < bx0:
                bx0 = w[X0]
            if w[Y0] < by0:
                by0 = w[Y0]
            if w[X1] > bx1:
                bx1 = w[X1]
            if w[Y1] > by1:
                by1 = w[Y1]
            conf_sum += w[CONF]
            text = w[TEXT].strip()
            if isdisjoint(text):
                desc_parts.append(text)
            elif price_match(text):
                value = float(text.replace("$", "").replace(",", ""))
                if line_total is None:
                    line_total = value
                elif unit_price is None:
                    unit_price = line_total
                    line_total = value
            else:
                qm = qty_match(text)
                if qm:
                    quantity = int(qm.group(1) or qm.group(2))
                else:
                    desc_parts.append(text)
        if not desc_parts or (line_total is None and unit_price is None):
            continue
        if unit_price is None and quantity and line_total:
            unit_price = round(line_total / quantity, 2)
        elif unit_price is None:
            unit_price = line_total
        if line_total is None and quantity and unit_price:
            line_total = round(unit_price * quantity, 2)
        elif line_total is None:
            line_total = unit_price
        items.append(
            {
                "description": " ".join(desc_parts),
                "quantity": quantity or 1,
                "unit_price": unit_price,
                "line_total": line_total,
                "box": _box_dict(bx0, by0, bx1, by1),
                "confidence": conf_sum / len(line),
            }
        )
    return items


def extract_fields(words):
    """Full heuristic field extraction for one document — the golden surface.

    Equivalent to ReceiptProcessor.postprocess_results(None, words)
    (receipt_processor.py:362-416, heuristic branch). merchant_address is
    always None on this path.
    """
    return {
        "vendor_name": extract_vendor(words),
        "date": extract_date(words),
        "total_amount": extract_total(words),
        "subtotal": extract_subtotal(words),
        "tax_amount": extract_tax(words),
        "currency": detect_currency(words),
        "merchant_address": None,
        "line_items": extract_line_items(words),
    }


def extract_fields_fast(words):
    """Semantically identical to :func:`extract_fields`, restructured for the
    hot kernel: lowercased texts and amount-regex matches are computed once
    per word and shared by the total/subtotal/tax scans (the reference
    recomputes them per extractor — same results, 3x the regex work), and
    keyword containment tests run as compiled alternation regexes.
    Equality with extract_fields is pinned by tests over every fixture and a
    500-doc corpus; any semantic change must land in BOTH functions.
    """
    if not words:
        return {
            "vendor_name": None,
            "date": None,
            "total_amount": None,
            "subtotal": None,
            "tax_amount": None,
            "currency": None,
            "merchant_address": None,
            "line_items": [],
        }

    texts = [w[TEXT] for w in words]
    lowers = [t.lower() for t in texts]
    full_lower = " ".join(lowers)
    n = len(words)
    amount_search = AMOUNT_RE.search
    isdisjoint = _DIGITS.isdisjoint
    # AMOUNT_RE requires a digit, so digit-free words (most of real web
    # text) skip the regex entirely — a C-level frozenset check
    amatches = [None if isdisjoint(t) else amount_search(t) for t in texts]

    # word-start offsets in full_lower (word i spans
    # [starts[i], starts[i] + len(lowers[i])))
    starts = [0] * n
    pos = 0
    for i, low in enumerate(lowers):
        starts[i] = pos
        pos += len(low) + 1

    def kw_word_indexes(kw_re):
        """Indexes of words containing a keyword, ascending — ONE C-level
        finditer over the joined text instead of a search per word. A match
        that crosses a word boundary (only possible for space-bearing
        keywords like 'sub total') is exactly what per-word containment
        would reject, so it is skipped here too."""
        last = -1
        for m in kw_re.finditer(full_lower):
            i = bisect_right(starts, m.start()) - 1
            if i != last and m.end() <= starts[i] + len(lowers[i]):
                last = i
                yield i

    def windowed(kw_re, lo_off):
        for i in kw_word_indexes(kw_re):
            for j in range(max(0, i + lo_off), min(n, i + 5)):
                m = amatches[j]
                if m:
                    wj = words[j]
                    return _field(
                        m.group(1).replace(",", ""), wj[CONF],
                        _box_dict(wj[X0], wj[Y0], wj[X1], wj[Y1]),
                    )
        return None

    # total: forward window, Decimal-parsed, zero skipped by truthiness
    total = None
    for i in kw_word_indexes(_TOTAL_KW_RE):
        for j in range(i, min(i + 5, n)):
            m = amatches[j]
            if m:
                try:
                    amount = Decimal(m.group(1).replace(",", ""))
                except InvalidOperation:
                    continue
                if amount:
                    wj = words[j]
                    total = _field(
                        str(amount), wj[CONF],
                        _box_dict(wj[X0], wj[Y0], wj[X1], wj[Y1]),
                    )
                    break
        if total:
            break

    full_text = " ".join(texts)
    date = None
    for pat in DATE_PATTERNS:
        m = pat.search(full_text)
        if not m:
            continue
        date_str = m.group(1)
        for k, t in enumerate(texts):
            if date_str in t or t in date_str:
                w = words[k]
                date = _field(
                    date_str, w[CONF], _box_dict(w[X0], w[Y0], w[X1], w[Y1])
                )
                break
        if date:  # word-locate failure falls through to the NEXT pattern,
            break  # exactly like the reference's loop structure

    if "$" in full_text or "USD" in full_text:
        currency = _field("USD", 0.9, None)
    elif "€" in full_text or "EUR" in full_text:
        currency = _field("EUR", 0.9, None)
    elif "£" in full_text or "GBP" in full_text:
        currency = _field("GBP", 0.9, None)
    else:
        currency = None

    return {
        "vendor_name": extract_vendor(words),
        "date": date,
        "total_amount": total,
        "subtotal": windowed(_SUBTOTAL_KW_RE, -2),
        "tax_amount": windowed(_TAX_KW_RE, -2),
        "currency": currency,
        "merchant_address": None,
        "line_items": _line_items_fast(words),
    }


# --- model path: BIO entity merge (M2) + entity save (M3) + merge (H12) ----

# /root/reference/Ocr/src/models/layoutlmv3.py:16-30
RECEIPT_LABELS = {
    0: "O",
    1: "B-VENDOR", 2: "I-VENDOR",
    3: "B-DATE", 4: "I-DATE",
    5: "B-TOTAL", 6: "I-TOTAL",
    7: "B-SUBTOTAL", 8: "I-SUBTOTAL",
    9: "B-TAX", 10: "I-TAX",
    11: "B-ITEM", 12: "I-ITEM",
}

_ENTITY_FIELD = {
    "VENDOR": "vendor_name",
    "DATE": "date",
    "TOTAL": "total_amount",
    "SUBTOTAL": "subtotal",
    "TAX": "tax_amount",
    "ITEM": "line_items",
}


def _save_entity(entities, entity_type, tokens, boxes, confidences):
    """layoutlmv3.py:437-501: join tokens, average confidence, envelope box;
    ITEM appends to line_items; scalar fields keep the strictly-highest
    confidence occurrence."""
    value = " ".join(tokens)
    conf = sum(confidences) / len(confidences) if confidences else 0.0
    box = (
        _box_dict(
            min(b[0] for b in boxes),
            min(b[1] for b in boxes),
            max(b[2] for b in boxes),
            max(b[3] for b in boxes),
        )
        if boxes
        else None
    )
    field = _ENTITY_FIELD.get(entity_type)
    if field is None:
        return
    if field == "line_items":
        entities["line_items"].append(
            {"description": value, "confidence": conf, "box": box}
        )
    elif entities[field] is None or conf > entities[field].get("confidence", 0):
        entities[field] = _field(value, conf, box)


def extract_entities(tokens, predictions, confidences, boxes):
    """BIO merge over a token sequence — layoutlmv3.py:350-435 exactly:

    - out-of-range prediction ids become O;
    - O flushes the open entity; B- flushes and starts a new one;
    - I- extends ONLY when its type matches the open entity — a mismatched
      I- token is silently dropped and the open entity stays open (the
      reference's quirk; it does NOT flush);
    - an I- with no open entity is dropped.
    """
    entities = {
        "vendor_name": None,
        "date": None,
        "total_amount": None,
        "subtotal": None,
        "tax_amount": None,
        "line_items": [],
    }
    cur_type = None
    cur_tokens, cur_boxes, cur_confs = [], [], []
    n = min(len(tokens), len(predictions), len(confidences))
    for i in range(n):
        pred = predictions[i]
        if pred >= len(RECEIPT_LABELS):
            pred = 0
        label = RECEIPT_LABELS.get(pred, "O")
        if label == "O":
            if cur_type and cur_tokens:
                _save_entity(entities, cur_type, cur_tokens, cur_boxes, cur_confs)
            cur_type, cur_tokens, cur_boxes, cur_confs = None, [], [], []
        elif label.startswith("B-"):
            if cur_type and cur_tokens:
                _save_entity(entities, cur_type, cur_tokens, cur_boxes, cur_confs)
            cur_type = label[2:]
            cur_tokens = [tokens[i]] if i < len(tokens) else []
            cur_boxes = [boxes[i]] if i < len(boxes) else []
            cur_confs = [confidences[i]]
        elif label.startswith("I-"):
            if cur_type == label[2:]:
                if i < len(tokens):
                    cur_tokens.append(tokens[i])
                if i < len(boxes):
                    cur_boxes.append(boxes[i])
                cur_confs.append(confidences[i])
    if cur_type and cur_tokens:
        _save_entity(entities, cur_type, cur_tokens, cur_boxes, cur_confs)
    return entities


def extract_fields_with_model(predictions, words):
    """H12 model-first merge — receipt_processor.py:362-416, model branch:
    when entities are present, only vendor_name and total_amount are
    back-filled from heuristics; date/subtotal/tax stay null if the model
    missed them, currency and merchant_address are never filled."""
    if not (predictions and predictions.get("entities")):
        return extract_fields(words)
    entities = predictions["entities"]
    result = {
        "vendor_name": entities.get("vendor_name"),
        "date": entities.get("date"),
        "total_amount": entities.get("total_amount"),
        "subtotal": entities.get("subtotal"),
        "tax_amount": entities.get("tax_amount"),
        "currency": None,
        "merchant_address": None,
        "line_items": entities.get("line_items", []),
    }
    if result["vendor_name"] is None:
        result["vendor_name"] = extract_vendor(words)
    if result["total_amount"] is None:
        result["total_amount"] = extract_total(words)
    return result


def verify_totals(subtotal, tax, total, tolerance=Decimal("0.02")):
    """abs((subtotal+tax) - total) <= 0.02 with all-present requirement.

    field_extractor.py:327-359 (exposed as a data-quality metric column).
    """
    if not all([subtotal, tax, total]):
        return False
    return abs((subtotal + tax) - total) <= tolerance
