"""Arrow-batched field-extraction operator.

The per-document heuristic fold (vendor/date/total/subtotal/tax/currency/
line-items, SURVEY.md §2.5 H1-H9) is NOT a clean fit for native SQL: the
line-clustering anchor rule (field_extractor.py:283-325) and first-match-wins
keyword windows are sequential per-document scans. Per SURVEY.md §7.4 we run
the exact pure-Python kernel (``reference_semantics``) inside a pandas UDF —
Arrow-batched, ~thousands of documents per batch, zero per-row Python
dispatch at the Spark layer. Each document is a few hundred words, so the
per-doc fold is microseconds; the batch amortizes all serialization.

The SQL-expressible box/text steps (O4 normalize, O5 raw text) are native
column expressions in ``functions.boxes``; H1 vendor and H5 currency run
only inside this kernel (their SQL forms are the `h1_vendor_top3` and
`h5_keyword_case` driver queries, certified against DuckDB oracles).

Failure semantics follow the reference (receipt_processor.py:221-225): a
document that throws yields status='failed' + error message — never a failed
task.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .. import reference_semantics as ref
from ..schemas import RESULT, SCALAR_FIELDS
from .html_parse import page_tuples

# schemas.RESULT is the one result schema: the words path's struct is RESULT
# without url, and the kernel's Arrow twin is derived from it (pa.array on
# dict rows is ~1.8x faster end-to-end than routing nested structs through
# pandas object columns — measured on the 320k bench corpus: 66k vs 38k
# docs/s at local[32]).
EXTRACT_STRUCT = StructType(RESULT.fields[1:])
_PA_OUT = to_arrow_schema(RESULT)


def _to_tuples(words) -> list[tuple]:
    if words is None:
        return []
    return [
        (
            w["text"],
            int(w["x0"]),
            int(w["y0"]),
            int(w["x1"]),
            int(w["y1"]),
            float(w["confidence"]),
        )
        for w in words
    ]


def _extract_one_from_tuples(
    tuples: list[tuple], extractor=None
) -> dict:
    try:
        fields = (extractor or ref.extract_fields_fast)(tuples)
        return {
            "extracted_text": ref.raw_text(tuples),
            **fields,
            "status": "done",
            "error": None,
        }
    except Exception as e:
        return {
            "extracted_text": None,
            **{name: None for name in SCALAR_FIELDS},
            "line_items": [],
            "status": "failed",
            "error": str(e),
        }


def _fields_udf(extractor):
    """The words path's stage 2: array<WORD> → EXTRACT_STRUCT, one pandas
    UDF per extractor."""

    @pandas_udf(EXTRACT_STRUCT)
    def extract_fields(words: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [_extract_one_from_tuples(_to_tuples(w), extractor) for w in words]
        )

    return extract_fields


def _make_fused_kernel(extractor):
    """Build the mapInArrow kernel: (url, html, text) → full result rows in
    ONE Python pass with direct Arrow assembly.

    This is the pipeline's hot path. Fusing stage 1 (page → words) and
    stage 2 (field extraction) into a single kernel eliminates the Arrow
    round-trip of the intermediate `array<WORD>` column; emitting pyarrow
    RecordBatches directly (instead of pandas DataFrames) removes the
    object-column conversion on top. The modular two-stage path
    (parse_words_udf → attach_extraction) remains for callers that need
    the words themselves; both stage-1 forms route every row through
    ``html_parse.page_tuples`` (HTML, PDF payloads, pre-extracted text)."""

    def kernel(batches):
        for rb in batches:
            names = rb.schema.names
            urls = rb.column(names.index("url")).to_pylist()
            htmls = rb.column(names.index("html")).to_pylist()
            texts = rb.column(names.index("text")).to_pylist()
            rows = []
            for url, html, text in zip(urls, htmls, texts):
                row = _extract_one_from_tuples(page_tuples(html, text), extractor)
                row["url"] = url
                rows.append(row)
            arrays = [
                pa.array([r[f.name] for r in rows], type=f.type) for f in _PA_OUT
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=_PA_OUT)

    return kernel


# entry_c → extractor: the authoritative fast path, or the entry-C twin
# (tax-box y0 quirk + extended currency set, SURVEY §8.4-8.5). Each is built
# once, for both the words path and the fused kernel.
_EXTRACTORS = {False: ref.extract_fields_fast, True: ref.extract_fields_entry_c}
_FIELDS_UDFS = {entry_c: _fields_udf(x) for entry_c, x in _EXTRACTORS.items()}
_FUSED_KERNELS = {
    entry_c: _make_fused_kernel(x) for entry_c, x in _EXTRACTORS.items()
}
fused_extract_kernel = _FUSED_KERNELS[False]


def fused_extract(df: DataFrame, entry_c: bool = False) -> DataFrame:
    """pages(url, html, text, ...) → (url, extracted_text, fields..., status,
    error) via the fused single-pass kernel. entry_c=True swaps in the
    entry-C compatibility extractor — the default stays on the
    authoritative path."""
    return df.select("url", "html", "text").mapInArrow(
        _FUSED_KERNELS[bool(entry_c)], schema=RESULT
    )


def attach_extraction(df: DataFrame, words_col: str = "words",
                      entry_c: bool = False) -> DataFrame:
    """Append extraction output columns to a DataFrame with an array<WORD>
    column. One shuffle-free projection stage. ``entry_c=True`` routes
    through the entry-C extractor, mirroring fused_extract's option."""
    out = df.withColumn("_ex", _FIELDS_UDFS[bool(entry_c)](F.col(words_col)))
    for name in EXTRACT_STRUCT.names:
        out = out.withColumn(name, F.col(f"_ex.{name}"))
    return out.drop("_ex")


def words_long_to_arrays(words_long: DataFrame) -> DataFrame:
    """(url, page_number, word_pos, text, box, conf) long rows →
    (url, words array<WORD>) in reading order.

    Multi-page documents concatenate pages in page order, matching the
    reference's all_words.extend loop (receipt_processor.py:156-196). The
    sort key is encoded into a single struct so `sort_array` needs no
    second shuffle.
    """
    word_struct = F.struct(
        F.col("page_number"),
        F.col("word_pos"),
        F.struct("text", "x0", "y0", "x1", "y1", "confidence").alias("w"),
    )
    return (
        words_long.groupBy("url")
        .agg(F.sort_array(F.collect_list(word_struct)).alias("ordered"))
        .select(
            "url", F.transform(F.col("ordered"), lambda s: s["w"]).alias("words")
        )
    )
