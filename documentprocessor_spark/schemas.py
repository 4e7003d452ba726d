"""Canonical Spark schemas for the extraction engine.

Derived from the reference's data model (SURVEY.md §1): word records
(/root/reference/Ocr/src/ocr/ocr_engine.py:145-149), box structs
(/root/reference/Data/Messages/BoundingBox.cs:6-22), extracted fields
(/root/reference/Data/Messages/ExtractedField.cs:8-19), line items
(/root/reference/Data/Messages/LineItem.cs:9-28), and the job-result shape
(/root/reference/Ocr/src/receipt_processor.py:139-151).

Boxes are 4-int structs (not arrays) so Parquet/Iceberg column pruning and
min/max stats work per coordinate. Every extracted field is nullable —
"absent" is first-class in the reference (defensive TryGetProperty parsing,
/root/reference/Api/ServiceSideDocumentProcessor.cs:267-287).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

BOX = StructType(
    [
        StructField("x0", IntegerType(), True),
        StructField("y0", IntegerType(), True),
        StructField("x1", IntegerType(), True),
        StructField("y1", IntegerType(), True),
    ]
)

WORD = StructType(
    [
        StructField("text", StringType(), False),
        StructField("x0", IntegerType(), False),
        StructField("y0", IntegerType(), False),
        StructField("x1", IntegerType(), False),
        StructField("y1", IntegerType(), False),
        StructField("confidence", DoubleType(), False),
    ]
)

FIELD = StructType(
    [
        StructField("value", StringType(), True),
        StructField("confidence", DoubleType(), True),
        StructField("box", BOX, True),
    ]
)

LINE_ITEM = StructType(
    [
        StructField("description", StringType(), True),
        StructField("quantity", IntegerType(), True),
        StructField("unit_price", DoubleType(), True),
        StructField("line_total", DoubleType(), True),
        StructField("box", BOX, True),
        StructField("confidence", DoubleType(), True),
    ]
)

# Input table shape fixed by BASELINE.json input_hint.
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# Tokenized-word seam — the reference's unit-test input level (FIXTURES.md §2).
WORDS_ROW = StructType(
    [
        StructField("url", StringType(), False),
        StructField("page_number", IntegerType(), False),
        StructField("word_pos", IntegerType(), False),
        StructField("text", StringType(), False),
        StructField("x0", IntegerType(), False),
        StructField("y0", IntegerType(), False),
        StructField("x1", IntegerType(), False),
        StructField("y1", IntegerType(), False),
        StructField("confidence", DoubleType(), False),
    ]
)

PAGE_META = StructType(
    [
        StructField("url", StringType(), False),
        StructField("page_number", IntegerType(), False),
        StructField("image_width", IntegerType(), False),
        StructField("image_height", IntegerType(), False),
    ]
)

# All extracted scalar fields, in output order.
SCALAR_FIELDS = (
    "vendor_name",
    "merchant_address",
    "date",
    "total_amount",
    "subtotal",
    "tax_amount",
    "currency",
)

# One output row per url (the results sink table).
RESULT = StructType(
    [
        StructField("url", StringType(), False),
        StructField("extracted_text", StringType(), True),
        *[StructField(name, FIELD, True) for name in SCALAR_FIELDS],
        StructField("line_items", ArrayType(LINE_ITEM), True),
        StructField("status", StringType(), False),
        StructField("error", StringType(), True),
    ]
)
