"""Native (JVM-side, codegen'd) column expressions for the box/text layer.

These reproduce the reference's arithmetic exactly while staying inside
whole-stage codegen — no Python in the hot path:

- 0-1000 box normalization (/root/reference/Ocr/src/receipt_processor.py:262-299):
  ``int()`` in Python truncates toward zero; Spark's ``cast(double as int)``
  has the same semantics (Java narrowing), so we cast, NOT floor() — floor
  diverges on negative fractional coordinates, which the clamping fixture
  exercises.
- raw text assembly (/root/reference/Ocr/src/receipt_processor.py:175):
  space-join of word texts in OCR order — the byte-identity invariant.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NORM_SCALE = 1000


def _norm_coord(c: Column, dim: Column, scale: int) -> Column:
    scaled = (c.cast("double") * F.lit(scale) / dim.cast("double")).cast("int")
    return F.greatest(F.lit(0), F.least(F.lit(scale), scaled))


def normalize_words_col(
    words: Column, width: Column, height: Column, scale: int = NORM_SCALE
) -> Column:
    """array<WORD> → array<WORD> with boxes normalized to 0-`scale`.

    Pure `transform()` — stays in codegen, preserves array (OCR) order.
    """
    return F.transform(
        words,
        lambda w: F.struct(
            w["text"].alias("text"),
            _norm_coord(w["x0"], width, scale).alias("x0"),
            _norm_coord(w["y0"], height, scale).alias("y0"),
            _norm_coord(w["x1"], width, scale).alias("x1"),
            _norm_coord(w["y1"], height, scale).alias("y1"),
            w["confidence"].alias("confidence"),
        ),
    )


def raw_text_col(words: Column) -> Column:
    """Space-joined word texts in array order."""
    return F.array_join(F.transform(words, lambda w: w["text"]), " ")
