"""Deterministic text-layout model: content lines → word pseudo-geometry.

Web pages carry no pixel geometry, but every downstream heuristic operator
(vendor-by-y0, line clustering, keyword windows — SURVEY.md §2.5) consumes
boxes. This monospace layout model assigns boxes deterministically from the
line/word structure, so the HTML path and the words-seam path produce
identical extraction output for identical content. Both the synthetic
corpus generator and the HTML parser derive geometry from this one module —
it is part of the engine's semantic contract, not a test helper.
"""

from __future__ import annotations

CHAR_W = 10          # monospace character width, px
WORD_GAP = 20        # horizontal gap between words, px
LINE_H = 40          # line pitch, px
WORD_H = 30          # word glyph height, px
MARGIN_X = 50
MARGIN_Y = 50
PAGE_W = 800
PAGE_H = 1200


# the confidence formula has period 10 in (line_idx*7 + word_idx*3) — a
# precomputed table replaces a round() + float arithmetic per word
_CONF_TABLE = tuple(round(0.90 + k / 100.0, 2) for k in range(10))


def layout_words(lines: list[str]) -> list[tuple]:
    """Map text lines to word tuples (text, x0, y0, x1, y1, conf).

    Reading order = line-major, left-to-right — the OCR order every
    downstream heuristic depends on.
    """
    out = []
    append = out.append
    conf = _CONF_TABLE
    for li, line in enumerate(lines):
        y0 = MARGIN_Y + li * LINE_H
        y1 = y0 + WORD_H
        x = MARGIN_X
        li7 = li * 7
        for wi, token in enumerate(line.split()):
            w = max(1, len(token)) * CHAR_W
            append((token, x, y0, x + w, y1, conf[(li7 + wi * 3) % 10]))
            x += w + WORD_GAP
    return out
