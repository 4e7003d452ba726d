"""Driver-contract query suite: one entry per implemented operator family
(SURVEY.md §2), each with a DuckDB oracle that computes the identical result
on the same parquet tables.

Cross-engine determinism rules used throughout:
- hashes via md5/sha2 only (identical in both engines; never Python hash());
- MONEY SUMS in exact integer cents (see _disc_price_cents) — summing
  doubles then rounding to 2dp is order-dependent across engines and flips
  half-cent boundaries (observed at sf0.1);
- other float aggregates rounded (6 dp scores / cosines) AFTER casting to
  double, so double-rounding noise is absorbed;
- int division/truncation via floor() on non-negative values only;
- every computed column aliased identically in Spark and SQL (the driver
  sorts columns by name before value-hashing);
- ordering inside string aggregation made explicit on both sides.

Word-geometry synthesis: the driver's `documents` table has no boxes, so
box-dependent operators (O4 normalize, H1 vendor, H2 keyword window)
synthesize deterministic pseudo-geometry from (doc_id, token position) with
pure integer arithmetic — identical formulas in Spark and SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import reference_semantics as ref_sem
from .functions.rolling import h60_sql
from .functions.rolling import window_key_oracle_cte
from .operators import dedup, similarity, textstats
from .operators.dedup import minhash_oracle_ctes
from .plans.pipeline import extract_from_pages
from .sources.tables import load_table

# ---------------------------------------------------------------------------
# shared word synthesis (Spark side); the SQL twin is inlined in each oracle
# ---------------------------------------------------------------------------


def _doc_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, pos, tok, x0, y0, x1, y1, conf) with deterministic
    pseudo-geometry (integer arithmetic only)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    x0 = ((F.col("pos") * 13 + F.col("doc_id")) % 70) * 10
    y0 = ((F.col("pos") * 37 + F.col("doc_id")) % 50) * 20
    return toks.select(
        "doc_id",
        "pos",
        "tok",
        x0.cast("long").alias("x0"),
        y0.cast("long").alias("y0"),
        (x0 + F.length("tok") * 10).cast("long").alias("x1"),
        (y0 + F.lit(30)).cast("long").alias("y1"),
        (((F.col("pos") * 7 + F.col("doc_id")) % 100) / 100.0).alias("conf"),
    )


_SQL_WORDS = """
    with tok as (
        select doc_id, string_split(text, ' ') as toks from documents
    ),
    words as (
        select
            doc_id,
            i as pos,
            toks[i + 1] as tok,
            ((i * 13 + doc_id) % 70) * 10 as x0,
            ((i * 37 + doc_id) % 50) * 20 as y0,
            ((i * 13 + doc_id) % 70) * 10 + length(toks[i + 1]) * 10 as x1,
            ((i * 37 + doc_id) % 50) * 20 + 30 as y1,
            ((i * 7 + doc_id) % 100) / 100.0 as conf
        from tok, lateral unnest(range(len(toks))) as u(i)
    )
"""

# ---------------------------------------------------------------------------
# extraction-operator queries
# ---------------------------------------------------------------------------


def q_o4_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 box normalization (commands.py:66-102): scale to 0-1000 by page
    dims 800x1200, truncate, clamp. Native arithmetic, codegen'd."""
    w = _doc_words(spark, sf_dir)

    def norm(c, dim):
        scaled = F.floor(c * 1000 / dim).cast("long")
        return F.greatest(F.lit(0), F.least(F.lit(1000), scaled))

    return w.select(
        "doc_id",
        "pos",
        "tok",
        norm(F.col("x0"), 800).alias("nx0"),
        norm(F.col("y0"), 1200).alias("ny0"),
        norm(F.col("x1"), 800).alias("nx1"),
        norm(F.col("y1"), 1200).alias("ny1"),
    )


_ORACLE_O4 = _SQL_WORDS + """
    select doc_id, pos, tok,
        greatest(0, least(1000, cast(floor(x0 * 1000 / 800) as bigint))) as nx0,
        greatest(0, least(1000, cast(floor(y0 * 1000 / 1200) as bigint))) as ny0,
        greatest(0, least(1000, cast(floor(x1 * 1000 / 800) as bigint))) as nx1,
        greatest(0, least(1000, cast(floor(y1 * 1000 / 1200) as bigint))) as ny1
    from words
"""


def q_h1_vendor_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 vendor heuristic (field_extractor.py:88-134) over synthesized
    geometry: top-3 words by (y0, pos), joined in that order; mean
    confidence; envelope box."""
    w = _doc_words(spark, sf_dir)
    win = Window.partitionBy("doc_id").orderBy(F.col("y0").asc(), F.col("pos").asc())
    top = w.withColumn("rn", F.row_number().over(win)).where(F.col("rn") <= 3)
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("y0"), F.col("pos"), F.col("tok")))
    )
    return top.groupBy("doc_id").agg(
        F.array_join(F.transform(ordered, lambda s: s["tok"]), " ").alias(
            "vendor_value"
        ),
        F.round(F.avg("conf"), 6).alias("vendor_conf"),
        F.min("x0").alias("bx0"),
        F.min("y0").alias("by0"),
        F.max("x1").alias("bx1"),
        F.max("y1").alias("by1"),
    )


_ORACLE_H1 = _SQL_WORDS + """
    , ranked as (
        select *, row_number() over (
            partition by doc_id order by y0 asc, pos asc
        ) as rn
        from words
    )
    select doc_id,
        string_agg(tok, ' ' order by y0 asc, pos asc) as vendor_value,
        round(avg(conf), 6) as vendor_conf,
        min(x0) as bx0, min(y0) as by0, max(x1) as bx1, max(y1) as by1
    from ranked where rn <= 3
    group by doc_id
"""


def q_h2_keyword_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 keyword→forward-window extraction (field_extractor.py:136-174)
    reshaped as a range self-join: first keyword occurrence per doc, first
    qualifying token in positions [kw, kw+4]."""
    w = _doc_words(spark, sf_dir).select("doc_id", "pos", "tok")
    kw = w.where(F.col("tok").isin("value", "scan")).select(
        "doc_id", F.col("pos").alias("kw_pos"), F.col("tok").alias("kw_tok")
    )
    cand = w.select("doc_id", F.col("pos").alias("m_pos"), F.col("tok").alias("m_tok"))
    joined = kw.join(cand, "doc_id").where(
        (F.col("m_pos") >= F.col("kw_pos"))
        & (F.col("m_pos") <= F.col("kw_pos") + 4)
        & (F.length("m_tok") >= 5)
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("kw_pos").asc(), F.col("m_pos").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select("doc_id", "kw_pos", "kw_tok", "m_pos", "m_tok")
    )


_ORACLE_H2 = _SQL_WORDS + """
    , kw as (
        select doc_id, pos as kw_pos, tok as kw_tok from words
        where tok in ('value', 'scan')
    ),
    cand as (select doc_id, pos as m_pos, tok as m_tok from words),
    joined as (
        select kw.doc_id, kw_pos, kw_tok, m_pos, m_tok,
            row_number() over (
                partition by kw.doc_id order by kw_pos asc, m_pos asc
            ) as rn
        from kw join cand on kw.doc_id = cand.doc_id
        where m_pos >= kw_pos and m_pos <= kw_pos + 4 and length(m_tok) >= 5
    )
    select doc_id, kw_pos, kw_tok, m_pos, m_tok from joined where rn = 1
"""


def q_h5_keyword_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5 substring-CASE classification (receipt_processor.py:499-510 shape)
    over documents.text, with per-class counts."""
    docs = load_table(spark, sf_dir, "documents")
    label = (
        F.when(F.col("text").contains("value"), F.lit("HAS_VALUE"))
        .when(F.col("text").contains("table"), F.lit("HAS_TABLE"))
        .when(F.col("text").contains("join"), F.lit("HAS_JOIN"))
        .otherwise(F.lit("OTHER"))
    )
    return (
        docs.select(label.alias("label"))
        .groupBy("label")
        .agg(F.count("*").alias("n_docs"))
    )


_ORACLE_H5 = """
    select
        case
            when text like '%value%' then 'HAS_VALUE'
            when text like '%table%' then 'HAS_TABLE'
            when text like '%join%' then 'HAS_JOIN'
            else 'OTHER'
        end as label,
        count(*) as n_docs
    from documents group by 1
"""


def q_entry_c_currency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-C kernel twin through the REAL fused kernel
    (fused_extract(entry_c=True) → reference_semantics.extract_fields_entry_c,
    cli/commands.py:192-209): the EXTENDED currency cascade — JPY/CNY at
    confidence 0.8, CAD and AUD at 0.9 after the authoritative USD/EUR/GBP
    set. A deterministic currency token is prepended per doc_id; the oracle
    replays the identical cascade on the identical reconstructed text.
    Docs with no token (doc_id % 10 = 9) pin the null path; the JPY tokens
    exercise exactly the branch the default kernel does NOT have."""
    from .operators.extract import fused_extract

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = (
        F.when(F.col("doc_id") % 10 == 0, F.lit("$"))
        .when(F.col("doc_id") % 10 == 1, F.lit("USD"))
        .when(F.col("doc_id") % 10 == 2, F.lit("EUR"))
        .when(F.col("doc_id") % 10 == 3, F.lit("£"))
        .when(F.col("doc_id") % 10 == 4, F.lit("GBP"))
        .when(F.col("doc_id") % 10 == 5, F.lit("JPY"))
        .when(F.col("doc_id") % 10 == 6, F.lit("CNY"))
        .when(F.col("doc_id") % 10 == 7, F.lit("CAD"))
        .when(F.col("doc_id") % 10 == 8, F.lit("AUD"))
        .otherwise(F.lit("plain"))
    )
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.lit(None).cast("binary").alias("html"),
        F.concat(tok, F.lit(" "), F.col("text")).alias("text"),
    )
    res = fused_extract(pages, entry_c=True)
    return res.select(
        "url",
        F.col("currency.value").alias("currency"),
        F.round(F.col("currency.confidence"), 2).alias("conf"),
    )


_ORACLE_ENTRY_C = """
    with d as (
        select 'doc://' || doc_id as url,
            case doc_id % 10
                when 0 then '$'  when 1 then 'USD' when 2 then 'EUR'
                when 3 then '£'  when 4 then 'GBP' when 5 then 'JPY'
                when 6 then 'CNY' when 7 then 'CAD' when 8 then 'AUD'
                else 'plain' end || ' ' || text as full_text
        from documents
    )
    select url,
        case when contains(full_text, '$') or contains(full_text, 'USD') then 'USD'
             when contains(full_text, '€') or contains(full_text, 'EUR') then 'EUR'
             when contains(full_text, '£') or contains(full_text, 'GBP') then 'GBP'
             when contains(full_text, '¥') or contains(full_text, 'JPY')
                  or contains(full_text, 'CNY') then 'JPY/CNY'
             when contains(full_text, 'CAD') then 'CAD'
             when contains(full_text, 'AUD') then 'AUD' end as currency,
        -- cast: a bare DECIMAL literal in the final projection is the same
        -- cross-engine type hazard as HUGEINT (see _ORACLE_H8 note)
        cast(case
             when contains(full_text, '$') or contains(full_text, 'USD') then 0.9
             when contains(full_text, '€') or contains(full_text, 'EUR') then 0.9
             when contains(full_text, '£') or contains(full_text, 'GBP') then 0.9
             when contains(full_text, '¥') or contains(full_text, 'JPY')
                  or contains(full_text, 'CNY') then 0.8
             when contains(full_text, 'CAD') then 0.9
             when contains(full_text, 'AUD') then 0.9 end as double) as conf
    from d
"""


def q_h8_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over events (the window/lag/cumsum pattern
    behind H8 line grouping and M2 BIO runs, SURVEY.md §2.6): new session
    when the per-user gap exceeds 30 minutes."""
    # Null-ts hardening: Spark windows order NULLS FIRST, DuckDB NULLS LAST —
    # local events have no null ts but the driver's may; filter them on BOTH
    # sides so window ordering is identical regardless.
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc())
    # parquet ts is TIMESTAMP_NTZ. Compare NTZ values DIRECTLY — never cast
    # to TIMESTAMP (the NTZ->TS cast goes through spark.sql.session.timeZone,
    # so gaps spanning a DST transition shift under a non-UTC session; the
    # round-1 driver gate ran exactly that and flagged the hash). NTZ minus
    # NTZ is a day-time interval: pure local-datetime arithmetic, identical
    # to the oracle's epoch_us() difference under ANY session timezone.
    prev_ts = F.lag("ts").over(w)
    gap_gt = (F.col("ts") - prev_ts) > F.expr("INTERVAL 30 MINUTES")
    marked = ev.withColumn(
        "new_session",
        F.when(prev_ts.isNull() | gap_gt, 1).otherwise(0),
    )
    return marked.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


_ORACLE_H8 = """
    with marked as (
        select user_id,
            case when lag(ts) over (partition by user_id order by ts) is null
                 or epoch_us(ts) - epoch_us(lag(ts) over (
                        partition by user_id order by ts)) > 30 * 60 * 1000000
                 then 1 else 0 end as new_session
        from events
        where ts is not null
    )
    -- cast: bare sum(int) is HUGEINT in DuckDB -> decimal128/float64 on the
    -- driver's arrow/pandas fetch -> hash-mismatch vs Spark's BIGINT even
    -- when values are identical (the r01/r02 red-row cause)
    select user_id, cast(sum(new_session) as bigint) as n_sessions,
        count(*) as n_events
    from marked group by user_id
"""


# ---------------------------------------------------------------------------
# H3/H4/H6 word synthesis: the documents vocabulary has no digits or receipt
# keywords, so (exactly like m2's synthesized predictions) deterministic
# receipt-ish tokens are injected by (doc_id, pos) arithmetic — subtotal/tax
# keywords, $-amounts, comma amounts, and all three reference date shapes.
# The imperative kernels (reference_semantics.extract_subtotal/tax/date) are
# the authority; tests/test_heuristic_tail_queries.py pins these relational
# formulations to them document-by-document.
# ---------------------------------------------------------------------------


def _receipt_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_doc_words with deterministic receipt-token injection (H3/H4/H6)."""
    w = _doc_words(spark, sf_dir)
    sel = (F.col("pos") * 31 + F.col("doc_id")) % 53
    cents = F.lpad(((F.col("pos") * 3 + F.col("doc_id")) % 100).cast("string"), 2, "0")
    dollars = ((F.col("pos") * 7 + F.col("doc_id")) % 90 + 10).cast("string")
    thous = F.lpad(((F.col("pos") * 11 + F.col("doc_id")) % 1000).cast("string"), 3, "0")
    ones = (F.col("pos") % 9 + 1).cast("string")
    mm = (F.col("doc_id") % 12 + 1).cast("string")
    dd = (F.col("pos") % 28 + 1).cast("string")
    yyyy = (F.col("doc_id") % 5 + 2020).cast("string")
    yyyy2 = (F.col("pos") % 6 + 2019).cast("string")
    tok = (
        F.when(sel == 0, F.lit("Subtotal:"))
        .when(sel == 1, F.lit("Sub-Total"))
        .when(sel == 2, F.lit("tax"))
        .when(sel == 3, F.lit("VAT"))
        .when(sel == 7, F.concat(F.lit("$"), dollars, F.lit("."), cents))
        .when(sel == 9, F.concat(ones, F.lit(","), thous, F.lit("."), cents))
        .when(sel == 20, F.concat(mm, F.lit("/"), dd, F.lit("/"), yyyy))
        .when(sel == 21, F.concat(yyyy2, F.lit("-"), F.lpad(mm, 2, "0"),
                                  F.lit("-"), F.lpad(dd, 2, "0")))
        # sel 30 -> 31 -> 39 are consecutive positions (step 31 mod 53), so
        # every 'March' is followed by '15,' '2021' — exercising the
        # month-name date pattern that spans word boundaries.
        .when(sel == 30, F.lit("March"))
        .when(sel == 8, F.lit("15,"))
        .when(sel == 39, F.lit("2021"))
        .otherwise(F.col("tok"))
    )
    return w.withColumn("tok", tok)


_SQL_RWORDS = _SQL_WORDS + r"""
    , rwords as (
        select doc_id, pos,
            case (pos * 31 + doc_id) % 53
                when 0 then 'Subtotal:'
                when 1 then 'Sub-Total'
                when 2 then 'tax'
                when 3 then 'VAT'
                when 7 then '$' || cast((pos * 7 + doc_id) % 90 + 10 as varchar)
                    || '.' || lpad(cast((pos * 3 + doc_id) % 100 as varchar), 2, '0')
                when 9 then cast(pos % 9 + 1 as varchar)
                    || ',' || lpad(cast((pos * 11 + doc_id) % 1000 as varchar), 3, '0')
                    || '.' || lpad(cast((pos * 3 + doc_id) % 100 as varchar), 2, '0')
                when 20 then cast(doc_id % 12 + 1 as varchar)
                    || '/' || cast(pos % 28 + 1 as varchar)
                    || '/' || cast(doc_id % 5 + 2020 as varchar)
                when 21 then cast(pos % 6 + 2019 as varchar)
                    || '-' || lpad(cast(doc_id % 12 + 1 as varchar), 2, '0')
                    || '-' || lpad(cast(pos % 28 + 1 as varchar), 2, '0')
                when 30 then 'March'
                when 8 then '15,'
                when 39 then '2021'
                else tok
            end as tok,
            x0, y0, x1, y1, conf
        from words
    )
"""

_AMOUNT_REGEX = r"\$?\s*(\d{1,3}(?:,\d{3})*(?:\.\d{2})?)"


def _q_windowed_amount(
    spark: SparkSession, sf_dir: str, keywords: tuple, value_name: str
) -> DataFrame:
    """Shared H3/H4 shape (receipt_processor.py:449-497): first keyword word
    (substring test on the lowercased token) → first AMOUNT_RE match in
    positions [kw-2, kw+4]; value is the regex group with commas stripped
    (raw, no Decimal), zero amounts kept."""
    w = _receipt_words(spark, sf_dir)
    low = F.lower(F.col("tok"))
    is_kw = F.lit(False)
    for k in keywords:
        is_kw = is_kw | low.contains(k)
    kw = w.where(is_kw).select("doc_id", F.col("pos").alias("kw_pos"))
    amt = F.regexp_extract(F.col("tok"), _AMOUNT_REGEX, 1)
    cand = w.select(
        "doc_id",
        F.col("pos").alias("m_pos"),
        amt.alias("amt"),
        "conf", "x0", "y0", "x1", "y1",
    ).where(F.col("amt") != "")
    joined = kw.join(cand, "doc_id").where(
        (F.col("m_pos") >= F.col("kw_pos") - 2)
        & (F.col("m_pos") <= F.col("kw_pos") + 4)
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("kw_pos").asc(), F.col("m_pos").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select(
            "doc_id", "kw_pos", "m_pos",
            F.replace(F.col("amt"), F.lit(","), F.lit("")).alias(value_name),
            "conf", "x0", "y0", "x1", "y1",
        )
    )


def q_h3_subtotal_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3 subtotal window [-2,+4] (receipt_processor.py:449-472)."""
    return _q_windowed_amount(
        spark, sf_dir, ref_sem.SUBTOTAL_KEYWORDS, "subtotal_value"
    )


def q_h4_tax_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4 tax window [-2,+4], keywords tax/vat/gst/hst
    (receipt_processor.py:474-497)."""
    return _q_windowed_amount(spark, sf_dir, ref_sem.TAX_KEYWORDS, "tax_value")


def _oracle_windowed_amount(keyword_preds: str, value_name: str) -> str:
    return _SQL_RWORDS + rf"""
    , kw as (
        select doc_id, pos as kw_pos from rwords
        where {keyword_preds}
    ),
    cand as (
        select doc_id, pos as m_pos,
            regexp_extract(tok, '\$?\s*(\d{{1,3}}(?:,\d{{3}})*(?:\.\d{{2}})?)', 1)
                as amt,
            conf, x0, y0, x1, y1
        from rwords
    ),
    joined as (
        select kw.doc_id, kw_pos, m_pos, amt, conf, x0, y0, x1, y1,
            row_number() over (
                partition by kw.doc_id order by kw_pos asc, m_pos asc
            ) as rn
        from kw join cand on kw.doc_id = cand.doc_id
        where amt <> '' and m_pos >= kw_pos - 2 and m_pos <= kw_pos + 4
    )
    select doc_id, kw_pos, m_pos, replace(amt, ',', '') as {value_name},
        conf, x0, y0, x1, y1
    from joined where rn = 1
"""


_ORACLE_H3 = _oracle_windowed_amount(
    "contains(lower(tok), 'subtotal') or contains(lower(tok), 'sub total')"
    " or contains(lower(tok), 'sub-total')",
    "subtotal_value",
)

_ORACLE_H4 = _oracle_windowed_amount(
    "contains(lower(tok), 'tax') or contains(lower(tok), 'vat')"
    " or contains(lower(tok), 'gst') or contains(lower(tok), 'hst')",
    "tax_value",
)


def q_h6_date_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6 date regex cascade (receipt_processor.py:418-447): three patterns
    tried in order over the space-joined text; the first word (OCR order)
    whose text contains the match or is contained by it supplies conf+box."""
    w = _receipt_words(spark, sf_dir)
    ordered = F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("tok"))))
    full_txt = w.groupBy("doc_id").agg(
        F.array_join(F.transform(ordered, lambda s: s["tok"]), " ").alias("full")
    )
    p1 = r"(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})"
    p2 = r"(\d{4}[/-]\d{1,2}[/-]\d{1,2})"
    p3 = (
        r"(?i)((?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
        r"[a-z]* \d{1,2},? \d{4})"
    )
    ext = lambda p: F.nullif(F.regexp_extract(F.col("full"), p, 1), F.lit(""))
    dates = full_txt.select(
        "doc_id", F.coalesce(ext(p1), ext(p2), ext(p3)).alias("date_value")
    ).where(F.col("date_value").isNotNull())
    joined = dates.join(w, "doc_id").where(
        F.col("tok").contains(F.col("date_value"))
        | F.col("date_value").contains(F.col("tok"))
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("pos").asc())
    return (
        joined.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select("doc_id", "date_value", "conf", "x0", "y0", "x1", "y1")
    )


_ORACLE_H6 = _SQL_RWORDS + r"""
    , full_txt as (
        select doc_id, string_agg(tok, ' ' order by pos) as full_text
        from rwords group by doc_id
    ),
    dates as (
        select doc_id, coalesce(
            nullif(regexp_extract(full_text, '(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})', 1), ''),
            nullif(regexp_extract(full_text, '(\d{4}[/-]\d{1,2}[/-]\d{1,2})', 1), ''),
            nullif(regexp_extract(full_text,
                '(?i)((?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]* \d{1,2},? \d{4})',
                1), '')
        ) as date_value
        from full_txt
    ),
    hit as (
        select d.doc_id, d.date_value, w.pos, w.conf, w.x0, w.y0, w.x1, w.y1,
            row_number() over (partition by d.doc_id order by w.pos asc) as rn
        from dates d join rwords w on d.doc_id = w.doc_id
        where d.date_value is not null
          and (contains(w.tok, d.date_value) or contains(d.date_value, w.tok))
    )
    select doc_id, date_value, conf, x0, y0, x1, y1 from hit where rn = 1
"""


# ---------------------------------------------------------------------------
# M4/M5/M6: generative-parse operators over synthesized generation outputs.
# Each doc_id deterministically picks a sequence "family" covering a distinct
# parser path (full CORD mapping, string-subtotal/cashprice, malformed ->
# regex fallback, the single-item-menu AttributeError quirk, zero amounts;
# valid JSON, bad JSON -> fallback, no blob, falsy/edge values). The Spark
# side runs the REAL parser (operators.genmodel_parse.parse_generated, the
# batched pandas UDF); the oracle states the expected parse per family with
# pure CASE arithmetic — if the parser drifts, the hash goes red.
# ---------------------------------------------------------------------------


def _lit_concat(*parts):
    return F.concat(*[F.lit(p) if isinstance(p, str) else p for p in parts])


def _gen_nums():
    d = F.col("doc_id")
    return {
        "a": (d % 90 + 10).cast("string"),
        "c": (d % 4 + 1).cast("string"),
        "u": (d % 50 + 1).cast("string"),
        "p": (d % 70 + 2).cast("string"),
        "st": (d % 900 + 100).cast("string"),
        "tx": (d % 80 + 5).cast("string"),
        "tot": (d % 990 + 10).cast("string"),
    }


def _flatten_entities(parsed: DataFrame) -> DataFrame:
    e = F.col("entities")
    item1 = F.get(e["line_items"], 0)  # null on empty (ANSI-safe)
    return parsed.select(
        "doc_id",
        e["total_amount"]["value"].alias("total_value"),
        e["total_amount"]["confidence"].alias("total_conf"),
        e["subtotal"]["value"].alias("subtotal_value"),
        e["subtotal"]["confidence"].alias("subtotal_conf"),
        e["tax_amount"]["value"].alias("tax_value"),
        e["tax_amount"]["confidence"].alias("tax_conf"),
        F.size(e["line_items"]).alias("n_line_items"),
        item1["description"].alias("item1_desc"),
        item1["quantity"].alias("item1_qty"),
        item1["unit_price"].alias("item1_unit"),
        item1["line_total"].alias("item1_total"),
    )


def q_m4_cord_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 Donut CORD parse + M5 regex fallback (donut.py:211-345) over
    synthesized token sequences, one family per doc_id % 5:
    0 full CORD; 1 string sub_total + cashprice total; 2 missing close tag
    -> token2json ValueError -> regex fallback; 3 single-item menu dict ->
    AttributeError -> fallback finds nothing (all null); 4 zero-string
    amount kept ('0' is a truthy string on the Donut path)."""
    from .operators.genmodel_parse import parse_generated

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = _gen_nums()
    fam = F.col("doc_id") % 5
    seq = (
        F.when(fam == 0, _lit_concat(
            "<s_menu><s_nm>Item ", n["a"], "</s_nm><s_cnt>", n["c"],
            "</s_cnt><s_unitprice>$", n["u"], ".00</s_unitprice><s_price>",
            n["p"], ".50</s_price><sep/><s_nm>Extra ", n["a"],
            "</s_nm><s_cnt>2x</s_cnt><s_price>", n["p"],
            ".00</s_price></s_menu><s_sub_total><s_subtotal_price>", n["st"],
            ".25</s_subtotal_price><s_tax_price>", n["tx"],
            ".10</s_tax_price></s_sub_total><s_total><s_total_price>",
            n["tot"], ".85</s_total_price></s_total>"))
        .when(fam == 1, _lit_concat(
            "<s_sub_total>", n["st"], ".00</s_sub_total><s_total><s_cashprice>",
            n["tot"], ".00</s_cashprice></s_total>"))
        .when(fam == 2, _lit_concat(
            "<s_total>Total: $", n["tot"], ".99 tax ", n["tx"], ".01"))
        .when(fam == 3, _lit_concat(
            "<s_menu><s_nm>Solo</s_nm><s_price>5.00</s_price></s_menu>"
            "<s_total><s_total_price>", n["tot"],
            ".75</s_total_price></s_total>"))
        .otherwise(_lit_concat(
            "<s_sub_total><s_subtotal_price>", n["st"],
            ".00</s_subtotal_price></s_sub_total>"
            "<s_total><s_total_price>0</s_total_price></s_total>"))
    )
    gen = docs.select("doc_id", seq.alias("sequence"), F.lit("donut").alias("model"))
    return _flatten_entities(parse_generated(gen))


_ORACLE_M4 = """
    with d as (
        select doc_id, doc_id % 5 as fam,
            cast(doc_id % 90 + 10 as varchar) as a,
            cast(doc_id % 4 + 1 as int) as c,
            cast(doc_id % 50 + 1 as varchar) as u,
            cast(doc_id % 70 + 2 as varchar) as p,
            cast(doc_id % 900 + 100 as varchar) as st,
            cast(doc_id % 80 + 5 as varchar) as tx,
            cast(doc_id % 990 + 10 as varchar) as tot
        from documents
    )
    select doc_id,
        case fam when 0 then tot || '.85' when 1 then tot || '.00'
                 when 2 then tot || '.99' when 4 then '0' end as total_value,
        cast(case fam when 0 then 0.8 when 1 then 0.8 when 2 then 0.6
                 when 4 then 0.8 end as double) as total_conf,
        case fam when 0 then st || '.25' when 1 then st || '.00'
                 when 4 then st || '.00' end as subtotal_value,
        cast(case fam when 0 then 0.8 when 1 then 0.8
                 when 4 then 0.8 end as double) as subtotal_conf,
        case fam when 0 then tx || '.10' when 2 then tx || '.01' end as tax_value,
        cast(case fam when 0 then 0.8 when 2 then 0.6 end as double) as tax_conf,
        cast(case fam when 0 then 2 else 0 end as int) as n_line_items,
        case fam when 0 then 'Item ' || a end as item1_desc,
        case fam when 0 then c end as item1_qty,
        case fam when 0 then u || '.00' end as item1_unit,
        case fam when 0 then p || '.50' end as item1_total
    from d
"""


def q_m6_idefics_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 IDEFICS2 response parse + fallback (idefics2.py:270-396) over
    synthesized responses, one family per doc_id % 4:
    0 valid JSON with cleanable amounts; 1 malformed JSON blob ->
    JSONDecodeError -> regex fallback (vendor/date/total); 2 no JSON blob at
    all -> everything empty (fallback does NOT run); 3 falsy vendor/total
    skipped, non-dict and empty-description line items dropped, null
    line_total stays null."""
    from .operators.genmodel_parse import parse_generated

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = _gen_nums()
    fam = F.col("doc_id") % 4
    resp = (
        F.when(fam == 0, _lit_concat(
            'Here is the data: {"vendor_name": "Store ', n["a"],
            '", "date": "2024-05-1', (F.col("doc_id") % 10).cast("string"),
            '", "total_amount": "$ ', n["tot"],
            '.99", "subtotal": ', n["st"], ', "tax_amount": "', n["tx"],
            '.50 USD", "line_items": [{"description": "Widget ', n["a"],
            '", "quantity": "3", "unit_price": "4.25", "line_total": "1',
            n["c"], '.75"}]}'))
        .when(fam == 1, _lit_concat(
            "ACME Corp receipt ", '{"vendor_name": } total: ', n["tot"],
            ".25 due 3/1", (F.col("doc_id") % 10).cast("string"), "/2024"))
        .when(fam == 2, _lit_concat("plain text receipt number ", n["a"]))
        .otherwise(_lit_concat(
            '{"vendor_name": "", "total_amount": 0, "subtotal": "7.25", '
            '"tax_amount": "', n["tx"],
            '", "line_items": ["x", {"description": ""}, '
            '{"description": "Gadget ', n["a"],
            '", "quantity": "2 pcs", "unit_price": "$3", "line_total": null}]}'))
    )
    gen = docs.select(
        "doc_id", resp.alias("sequence"), F.lit("idefics2").alias("model")
    )
    e = F.col("entities")
    item1 = F.get(e["line_items"], 0)  # null on empty (ANSI-safe)
    return parse_generated(gen).select(
        "doc_id",
        e["vendor_name"]["value"].alias("vendor_value"),
        e["vendor_name"]["confidence"].alias("vendor_conf"),
        e["date"]["value"].alias("date_value"),
        e["date"]["confidence"].alias("date_conf"),
        e["total_amount"]["value"].alias("total_value"),
        e["total_amount"]["confidence"].alias("total_conf"),
        e["subtotal"]["value"].alias("subtotal_value"),
        e["tax_amount"]["value"].alias("tax_value"),
        F.size(e["line_items"]).alias("n_line_items"),
        item1["description"].alias("item1_desc"),
        item1["quantity"].alias("item1_qty"),
        item1["unit_price"].alias("item1_unit"),
        item1["line_total"].alias("item1_total"),
    )


_ORACLE_M6 = """
    with d as (
        select doc_id, doc_id % 4 as fam,
            cast(doc_id % 90 + 10 as varchar) as a,
            cast(doc_id % 4 + 1 as varchar) as c,
            cast(doc_id % 900 + 100 as varchar) as st,
            cast(doc_id % 80 + 5 as varchar) as tx,
            cast(doc_id % 990 + 10 as varchar) as tot,
            cast(doc_id % 10 as varchar) as dd
        from documents
    )
    select doc_id,
        case fam when 0 then 'Store ' || a
                 when 1 then 'ACME Corp receipt' end as vendor_value,
        cast(case fam when 0 then 0.8 when 1 then 0.5 end as double) as vendor_conf,
        case fam when 0 then '2024-05-1' || dd
                 when 1 then '3/1' || dd || '/2024' end as date_value,
        cast(case fam when 0 then 0.8 when 1 then 0.6 end as double) as date_conf,
        case fam when 0 then tot || '.99' when 1 then tot || '.25' end as total_value,
        cast(case fam when 0 then 0.8 when 1 then 0.6 end as double) as total_conf,
        case fam when 0 then st when 3 then '7.25' end as subtotal_value,
        case fam when 0 then tx || '.50' when 3 then tx end as tax_value,
        cast(case fam when 0 then 1 when 3 then 1 else 0 end as int) as n_line_items,
        case fam when 0 then 'Widget ' || a when 3 then 'Gadget ' || a end as item1_desc,
        cast(case fam when 0 then 3 when 3 then 2 end as int) as item1_qty,
        case fam when 0 then '4.25' when 3 then '3' end as item1_unit,
        case fam when 0 then '1' || c || '.75' end as item1_total
    from d
"""


_MONTHS_FULL = (
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
)
_MONTHS_ABBR = (
    "Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct",
    "Nov", "Dec",
)


def q_h7_date_iso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7 date ISO-normalization (field_extractor.py:62-86, the opt-in
    helper): all six reference formats plus a no-date family, synthesized by
    doc_id arithmetic. Injected dates are VALID (day<=28, 4-digit years) —
    strptime's strictness edges (Feb-29, 2-digit years) diverge from
    DuckDB's rolling try_strptime and are pinned by tests/test_date_iso.py
    against the pure kernel instead."""
    from .functions.dates import iso_date_col

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    mm = (d % 12 + 1).cast("string")
    dd = (d % 28 + 1).cast("string")
    dd13 = (d % 16 + 13).cast("string")
    yyyy = (d % 40 + 1990).cast("string")
    mfull = F.element_at(F.array(*[F.lit(m) for m in _MONTHS_FULL]), (d % 12 + 1).cast("int"))
    mabbr = F.element_at(F.array(*[F.lit(m) for m in _MONTHS_ABBR]), (d % 12 + 1).cast("int"))
    fam = d % 7
    date_str = (
        F.when(fam == 0, F.concat(mm, F.lit("/"), dd, F.lit("/"), yyyy))
        .when(fam == 1, F.concat(dd13, F.lit("/"), mm, F.lit("/"), yyyy))
        .when(fam == 2, F.concat(yyyy, F.lit("-"), mm, F.lit("-"), dd))
        .when(fam == 3, F.concat(mm, F.lit("-"), dd, F.lit("-"), yyyy))
        .when(fam == 4, F.concat(mfull, F.lit(" "), dd, F.lit(", "), yyyy))
        .when(fam == 5, F.concat(mabbr, F.lit(" "), dd, F.lit(", "), yyyy))
        .otherwise(F.concat(F.lit("no date here "), dd))
    )
    return docs.select(
        "doc_id",
        date_str.alias("date_str"),
        iso_date_col(date_str).alias("date_iso"),
    )


_ORACLE_H7 = """
    with d as (
        select doc_id, doc_id % 7 as fam,
            cast(doc_id % 12 + 1 as varchar) as mm,
            cast(doc_id % 28 + 1 as varchar) as dd,
            cast(doc_id % 16 + 13 as varchar) as dd13,
            cast(doc_id % 40 + 1990 as varchar) as yyyy,
            (['January','February','March','April','May','June','July',
              'August','September','October','November','December'])
                [doc_id % 12 + 1] as mfull,
            (['Jan','Feb','Mar','Apr','May','Jun','Jul','Aug','Sep','Oct',
              'Nov','Dec'])[doc_id % 12 + 1] as mabbr
        from documents
    ),
    s as (
        select doc_id,
            case fam
                when 0 then mm || '/' || dd || '/' || yyyy
                when 1 then dd13 || '/' || mm || '/' || yyyy
                when 2 then yyyy || '-' || mm || '-' || dd
                when 3 then mm || '-' || dd || '-' || yyyy
                when 4 then mfull || ' ' || dd || ', ' || yyyy
                when 5 then mabbr || ' ' || dd || ', ' || yyyy
                else 'no date here ' || dd
            end as date_str
        from d
    )
    select doc_id, date_str,
        strftime(try_strptime(date_str,
            ['%m/%d/%Y', '%d/%m/%Y', '%Y-%m-%d', '%m-%d-%Y',
             '%B %d, %Y', '%b %d, %Y']), '%Y-%m-%d') as date_iso
    from s
"""


def q_o6_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 subword tokenization with parent-box inheritance
    (receipt_processor.py:301-332): BPE-ish regex split, every subtoken
    carries its word's box."""
    from .operators.tokenize import subword_tokens

    return subword_tokens(_doc_words(spark, sf_dir))


_ORACLE_O6 = _SQL_WORDS + """
    , subs as (
        select doc_id, pos, tok,
            regexp_extract_all(tok, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9]') as sub_list,
            x0, y0, x1, y1
        from words
    )
    select doc_id, pos, tok,
        cast(i as int) as sub_idx, sub_list[i + 1] as sub_tok,
        x0, y0, x1, y1
    from subs, lateral unnest(range(len(sub_list))) as u(i)
"""


def q_bio_entity_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 BIO merge + M3 keep-highest-confidence, relationally
    (layoutlmv3.py:350-501): run boundaries at O/B- tokens, runs starting
    with B- become entities, mismatched I- tokens are dropped without
    closing the run; scalar types keep the earliest strictly-highest-
    confidence entity, ITEM keeps all.

    Predictions are synthesized deterministically: raw id =
    (pos*11 + doc_id) % 15 (ids 13/14 exercise the out-of-range→O rule);
    confidence = ((pos*3 + doc_id) % 40 + 60)/100.

    The imperative kernel (reference_semantics.extract_entities) is the
    authority; tests assert this relational formulation matches it.
    """
    w = _doc_words(spark, sf_dir)
    raw = (F.col("pos") * 11 + F.col("doc_id")) % 15
    pred = F.when(raw >= 13, F.lit(0)).otherwise(raw)
    label_map = F.create_map(
        *[F.lit(x) for kv in ref_sem.RECEIPT_LABELS.items() for x in kv]
    )
    labeled = w.select(
        "doc_id",
        "pos",
        "tok",
        "x0", "y0", "x1", "y1",
        label_map[pred].alias("label"),
        (((F.col("pos") * 3 + F.col("doc_id")) % 40 + 60) / 100.0).alias("mconf"),
    )
    boundary = F.when(
        (F.col("label") == "O") | F.col("label").startswith("B-"), 1
    ).otherwise(0)
    run_w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = labeled.withColumn("run_id", F.sum(boundary).over(run_w))
    first_w = Window.partitionBy("doc_id", "run_id").orderBy("pos")
    runs = runs.withColumn("first_label", F.first("label").over(first_w))
    entity_runs = runs.where(F.col("first_label").startswith("B-")).withColumn(
        "entity_type", F.substring("first_label", 3, 100)
    )
    included = entity_runs.where(
        (F.col("label") == F.concat(F.lit("B-"), F.col("entity_type")))
        | (F.col("label") == F.concat(F.lit("I-"), F.col("entity_type")))
    )
    ordered_toks = F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col("tok")))
    )
    entities = included.groupBy("doc_id", "run_id", "entity_type").agg(
        F.array_join(F.transform(ordered_toks, lambda s: s["tok"]), " ").alias(
            "value"
        ),
        F.round(F.avg("mconf"), 6).alias("conf"),
        F.min("x0").alias("bx0"),
        F.min("y0").alias("by0"),
        F.max("x1").alias("bx1"),
        F.max("y1").alias("by1"),
    )
    keep_w = Window.partitionBy("doc_id", "entity_type").orderBy(
        F.col("conf").desc(), F.col("run_id").asc()
    )
    return (
        entities.withColumn(
            "rn",
            F.when(F.col("entity_type") == "ITEM", F.lit(1)).otherwise(
                F.row_number().over(keep_w)
            ),
        )
        .where(F.col("rn") == 1)
        .select("doc_id", "entity_type", "value", "conf", "bx0", "by0", "bx1", "by1")
    )


_ORACLE_BIO = _SQL_WORDS + """
    , labeled as (
        select doc_id, pos, tok, x0, y0, x1, y1,
            case ((pos * 11 + doc_id) % 15)
                when 0 then 'O' when 1 then 'B-VENDOR' when 2 then 'I-VENDOR'
                when 3 then 'B-DATE' when 4 then 'I-DATE'
                when 5 then 'B-TOTAL' when 6 then 'I-TOTAL'
                when 7 then 'B-SUBTOTAL' when 8 then 'I-SUBTOTAL'
                when 9 then 'B-TAX' when 10 then 'I-TAX'
                when 11 then 'B-ITEM' when 12 then 'I-ITEM'
                else 'O' end as label,
            ((pos * 3 + doc_id) % 40 + 60) / 100.0 as mconf
        from words
    ),
    runs as (
        select *,
            sum(case when label = 'O' or label like 'B-%' then 1 else 0 end)
                over (partition by doc_id order by pos
                      rows unbounded preceding) as run_id
        from labeled
    ),
    firsts as (
        select *, first_value(label) over (
            partition by doc_id, run_id order by pos) as first_label
        from runs
    ),
    entity_runs as (
        select *, substr(first_label, 3) as entity_type
        from firsts where first_label like 'B-%'
    ),
    included as (
        select * from entity_runs
        where label = 'B-' || entity_type or label = 'I-' || entity_type
    ),
    entities as (
        select doc_id, run_id, entity_type,
            string_agg(tok, ' ' order by pos) as value,
            round(avg(mconf), 6) as conf,
            min(x0) as bx0, min(y0) as by0, max(x1) as bx1, max(y1) as by1
        from included
        group by doc_id, run_id, entity_type
    ),
    ranked as (
        select *, case when entity_type = 'ITEM' then 1 else
            row_number() over (partition by doc_id, entity_type
                               order by conf desc, run_id asc) end as rn
        from entities
    )
    select doc_id, entity_type, value, conf, bx0, by0, bx1, by1
    from ranked where rn = 1
"""


# ---------------------------------------------------------------------------
# dedup queries
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs, "doc_id", "text")


_ORACLE_DEDUP_EXACT = """
    select doc_id,
        min(doc_id) over (partition by sha256(text)) as canonical_id,
        count(*) over (partition by sha256(text)) as group_size
    from documents
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs, "doc_id", "text", k=4)


_ORACLE_MINHASH = f"""
    with {minhash_oracle_ctes("documents", k=4)}
    select doc_id, cast(seed as int) as seed, mh as minhash from sig
"""


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring spans (Lee et al. 2022 ExactSubstr,
    relational form): maximal token ranges covered by a 20-token window
    that appears verbatim in >= 2 distinct documents. k=20 (not the
    production 50) because the sf corpus averages ~54 tokens/doc."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_spans(docs, "doc_id", "text", k=20)


# lag must sit in its own CTE (DuckDB can't nest window fns), the interval
# union is the same lag/cumsum sessionization as the Spark side; all keys
# bigint (range's i is bigint; Spark casts span_start to long to match).
# Window hashes are rolling.window_key_oracle_cte — the per-row key text
# the Spark side's prefix-sum rolling_window_hashes must equal.
def _span_oracle_ctes(k: int) -> str:
    """The ExactSubstr detection CTEs both span oracles share, over the
    `documents` view: k-token window hashes seen in 2..1000 distinct docs
    (dedup.duplicate_spans' min_docs / df_cap defaults), merged per doc
    into `spans(doc_id, s, e, n_windows)` — maximal [s, e) token ranges
    and how many duplicated windows each absorbs."""
    return f"""{window_key_oracle_cte("documents", k, "roll_win")},
    win as (select doc_id, pos as span_start, win_hash from roll_win),
    dup as (
        select win_hash from win
        group by win_hash
        having count(distinct doc_id) between 2 and 1000
    ),
    occ as (select w.doc_id, w.span_start from win w join dup using (win_hash)),
    lagged as (
        select doc_id, span_start,
            lag(span_start) over (partition by doc_id order by span_start) as prev_s
        from occ
    ),
    runs as (
        select doc_id, span_start,
            sum(case when prev_s is null or span_start - prev_s > {k} then 1 else 0 end)
                over (partition by doc_id order by span_start
                      rows between unbounded preceding and current row) as run_id
        from lagged
    ),
    spans as (
        select doc_id, min(span_start) as s, max(span_start) + {k} as e,
            count(*) as n_windows
        from runs group by doc_id, run_id
    )"""


_ORACLE_DEDUP_SPANS = f"""
    with {_span_oracle_ctes(k=20)}
    select doc_id, s as span_start, e - s as span_len, n_windows from spans
"""


def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr REMOVAL step: every cross-document duplicated
    20-token span cut out of each document's token stream
    (dedup.remove_duplicate_spans — detection joined back and applied as
    a native token-array filter in codegen)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_duplicate_spans(docs, "doc_id", "text", k=20)


# the shared span CTEs, then: tokens not covered by any span survive,
# string_agg in position order rebuilds the text; docs whose every token
# is covered collapse to '' via the left-join coalesce.
_ORACLE_SPAN_REMOVAL = f"""
    with {_span_oracle_ctes(k=20)},
    tok as (select doc_id, string_split(text, ' ') as toks from documents),
    toks2 as (
        select doc_id, i, toks[i + 1] as t
        from tok, lateral unnest(range(len(toks))) as u(i)
    ),
    kept as (
        select t2.doc_id, t2.i, t2.t from toks2 t2
        where not exists (
            select 1 from spans sp
            where sp.doc_id = t2.doc_id and t2.i >= sp.s and t2.i < sp.e
        )
    ),
    agg as (
        select doc_id, string_agg(t, ' ' order by i) as clean_text,
            count(*) as n_kept
        from kept group by doc_id
    )
    select d.doc_id,
        coalesce(a.clean_text, '') as clean_text,
        cast(len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0) as bigint)
            as n_tokens_removed
    from documents d left join agg a using (doc_id)
"""


def q_surprisal_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-quality bucketing (textstats.unigram_surprisal_quality):
    exact-integer log2-quantized unigram surprisal per document, decile
    buckets from exact percentiles broadcast into a map-side fold."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.unigram_surprisal_quality(docs, "doc_id", "text")


_ORACLE_SURPRISAL = """
    with tok as (
        select doc_id, unnest(string_split(text, ' ')) as token from documents
    ),
    counts as (select token, count(*) as cnt from tok group by token),
    total as (select cast(sum(cnt) as bigint) as total_tokens from counts),
    surp as (
        select token,
            cast(length(bin(total_tokens // cnt)) as bigint) as s
        from counts cross join total
    ),
    per_doc as (
        select doc_id, count(*) as n_tokens,
            cast((sum(s) * 1000000) // count(*) as bigint) as surprisal_micro
        from tok join surp using (token)
        group by doc_id
    ),
    bounds as (
        select quantile_cont(surprisal_micro,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) as bs
        from per_doc
    )
    select doc_id, n_tokens, surprisal_micro,
        cast(1 + list_sum(list_transform(bs,
            b -> case when surprisal_micro > b then 1 else 0 end)) as int)
            as quality_bucket
    from per_doc cross join bounds
"""


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing
    (sampling.source_temperature_sample, alpha=0.5): ~30% of the corpus
    with rare sources up-weighted; keep decisions on the deterministic
    md5 key, the normalizing sum an ORDERED fold (double addition is
    order-dependent — a bare SUM could flip a keep boundary ulp)."""
    from .operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.source_temperature_sample(
        docs, "doc_id", "source", target_fraction=0.3
    )
    return out.select(
        "doc_id", "source", "source_rows",
        F.round("keep_rate", 6).alias("keep_rate"),
    )


_ORACLE_TEMPERATURE = """
    -- NULL sources mirror the operator's sentinel stratum (chr(0)-prefixed
    -- so it sorts first in the ordered fold, exactly like Spark's
    -- "\\x00<null>"): group, fold and join all on the coalesced key, or a
    -- nullable source column would drop its rows from the join while still
    -- counting them in n_total (r4 ADVICE fix; sf data currently has no
    -- NULL sources, so this is robustness, not a value change)
    with counts as (
        select coalesce(source, chr(0) || '<null>') as _src,
            count(*) as source_rows
        from documents group by 1
    ),
    total as (
        select cast(sum(source_rows) as double) as n_total,
            list_reduce(
                list_prepend(0.0, list_transform(
                    list(source_rows order by _src), x -> sqrt(x::double))),
                (a, b) -> a + b) as w_denom
        from counts
    ),
    rates as (
        select _src, source_rows,
            least(1.0,
                0.3 * n_total * (sqrt(source_rows::double) / w_denom)
                / source_rows::double) as keep_rate
        from counts cross join total
    )
    select d.doc_id, d.source, r.source_rows,
        round(r.keep_rate, 6) as keep_rate
    from documents d
    join rates r on coalesce(d.source, chr(0) || '<null>') = r._src
    where ('0x' || substr(md5('dp-mix:' || d.doc_id), 1, 8))::bigint
          / 4294967296.0 < r.keep_rate
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (packing.chunk_documents): 16-token
    chunks with stride 8 — the max-sequence-length split with overlap."""
    from .operators.packing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=16, stride=8)


_ORACLE_CHUNKS = """
    with tok as (select doc_id, string_split(text, ' ') as toks from documents),
    ext as (
        select doc_id, toks,
            greatest(0, (len(toks) - 16 + 7) // 8) as n_extra
        from tok
    ),
    c as (
        select doc_id, toks, i as chunk_id
        from ext, lateral unnest(range(n_extra + 1)) as u(i)
    )
    select doc_id, chunk_id,
        cast(chunk_id * 8 as bigint) as chunk_start,
        cast(len(toks[chunk_id * 8 + 1:chunk_id * 8 + 16]) as bigint)
            as n_chunk_tokens,
        array_to_string(toks[chunk_id * 8 + 1:chunk_id * 8 + 16], ' ')
            as chunk_text
    from c
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (dedup.winnow_fingerprints, MOSS scheme):
    5-token rolling window hashes, per-4-window leftmost minimum, distinct
    (doc_id, fp_pos, fp_hash)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnow_fingerprints(docs, "doc_id", "text", k=5, w=4)


_ORACLE_WINNOW = f"""
    with {window_key_oracle_cte("documents", 5, "roll_win")},
    win as (select doc_id, pos, win_hash as h from roll_win),
    keyed as (
        select doc_id, pos,
            lpad(h::varchar, 19, '0') || ':' || lpad(pos::varchar, 10, '0') as key
        from win
    ),
    sel as (
        select doc_id,
            count(*) over (partition by doc_id order by pos
                           rows between current row and 3 following) as _n,
            min(key) over (partition by doc_id order by pos
                           rows between current row and 3 following) as _sel
        from keyed
    )
    select distinct doc_id,
        cast(substr(_sel, 21, 10) as bigint) as fp_pos,
        cast(substr(_sel, 1, 19) as bigint) as fp_hash
    from sel where _n = 4
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style cross-document LINE deduplication
    (dedup.cross_doc_line_dedup): documents are recut deterministically
    into 3-token lines (the fixture text is single-line), then every line
    occurring >= 2 times corpus-wide is deleted — the boilerplate-line
    kill that document-level dedup misses. Exact-integer line counts,
    md5-hash line identity, order-preserving reassembly."""
    docs = load_table(spark, sf_dir, "documents")
    # split materialized as a projected attribute: an inline split inside
    # the transform lambda is re-evaluated per line (O(n_tokens^2)/doc —
    # the r6 shingle finding)
    tk = docs.select("doc_id", F.split(F.col("text"), " ").alias("_toks"))
    toks = F.col("_toks")
    n_lines = ((F.size(toks) + 2) / 3).cast("int")
    line_arr = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(toks, i * 3 + 1, 3), " "),
    )
    ml = tk.select("doc_id", F.array_join(line_arr, "\n").alias("text"))
    return dedup.cross_doc_line_dedup(ml, "doc_id", "text", min_count=2)


_ORACLE_LINE_DEDUP = f"""
    with tok as (select doc_id, string_split(text, ' ') as toks from documents),
    ml as (
        select doc_id,
            array_to_string(list_transform(
                range((len(toks) + 2) // 3),
                i -> array_to_string(toks[i * 3 + 1:i * 3 + 3], ' ')
            ), chr(10)) as text
        from tok
    ),
    lines as (
        select doc_id, i as pos, ls[i + 1] as line
        from (select doc_id, string_split(text, chr(10)) as ls from ml),
             lateral unnest(range(len(ls))) u(i)
    ),
    hashed as (
        select doc_id, pos, line, {h60_sql("line")} as lh
        from lines
    ),
    hot as (select lh from hashed group by lh having count(*) >= 2),
    kept as (
        select h.doc_id, h.pos, h.line from hashed h
        where not exists (select 1 from hot where hot.lh = h.lh)
    ),
    agg as (
        select doc_id, string_agg(line, chr(10) order by pos) as clean_text,
            count(*) as n_kept
        from kept group by doc_id
    )
    select m.doc_id,
        coalesce(a.clean_text, '') as clean_text,
        cast(len(string_split(m.text, chr(10))) - coalesce(a.n_kept, 0)
             as bigint) as n_lines_removed
    from ml m left join agg a using (doc_id)
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup (dedup.incremental_dedup): even doc_ids
    play the already-ingested corpus (its persisted hash + band index),
    odd doc_ids the new crawl delta annotated exact/near/NULL against it."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 2 == 0)
    delta = docs.where(F.col("doc_id") % 2 == 1)
    ih, ib = dedup.build_dedup_index(old, "doc_id", "text")
    return dedup.incremental_dedup(delta, ih, ib, "doc_id", "text").select(
        "doc_id", "drop_reason"
    )


def q_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-filtered exact dedup (dedup.bloom_prefilter_dedup): the
    index/delta split deliberately OVERLAPS (index = doc_id%3!=0, delta =
    doc_id%5==0) so delta docs also present in the index guarantee true
    'exact' hits through the confirm join, and m_bits=1024 is small for
    gate sf so the false-positive path (candidate with NULL drop_reason)
    is exercised too; the oracle reproduces every probe position
    bit-for-bit via the shared 60-bit md5-prefix key."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 3 != 0)
    delta = docs.where(F.col("doc_id") % 5 == 0)
    ih, _ = dedup.build_dedup_index(old, "doc_id", "text")
    return dedup.bloom_prefilter_dedup(
        delta, ih, "doc_id", "text", m_bits=1024, n_hashes=4
    )


_ORACLE_INCREMENTAL = f"""
    with old as (select * from documents where doc_id % 2 = 0),
    newd as (select * from documents where doc_id % 2 = 1),
    ih as (select distinct sha256(text) as content_hash from old),
    {minhash_oracle_ctes("old", prefix="o_")},
    {minhash_oracle_ctes("newd", prefix="n_")},
    exact_hits as (
        select distinct n.doc_id from newd n
        join ih on sha256(n.text) = ih.content_hash
    ),
    near_hits as (
        select distinct bn.doc_id from n_bands bn
        join o_bands using (band, band_hash)
    )
    select n.doc_id,
        case when e.doc_id is not null then 'exact'
             when h.doc_id is not null then 'near'
             else null end as drop_reason
    from newd n
    left join exact_hits e on n.doc_id = e.doc_id
    left join near_hits h on n.doc_id = h.doc_id
"""


_BLOOM_BIT_SQL = h60_sql("content_hash || '#' || cast(j as varchar)")

_ORACLE_BLOOM = f"""
    with old as (select * from documents where doc_id % 3 != 0),
    newd as (select * from documents where doc_id % 5 = 0),
    ih as (select distinct sha256(text) as content_hash from old),
    js as (select unnest(range(4)) as j),
    set_bits as (
        select distinct cast({_BLOOM_BIT_SQL} % 1024 as int) as bit_pos
        from ih cross join js
    ),
    d as (select doc_id, sha256(text) as content_hash from newd),
    probes as (
        select doc_id, cast({_BLOOM_BIT_SQL} % 1024 as int) as bit_pos
        from d cross join js
    ),
    cand as (
        select p.doc_id from probes p
        join set_bits using (bit_pos)
        group by p.doc_id having count(*) = 4
    ),
    confirmed as (
        select distinct d.content_hash from d
        join cand using (doc_id)
        where d.content_hash in (select content_hash from ih)
    )
    select d.doc_id,
        cast(case when c.doc_id is not null then 1 else 0 end as int)
            as bloom_candidate,
        case when f.content_hash is not null then 'exact' end as drop_reason
    from d
    left join cand c on d.doc_id = c.doc_id
    left join confirmed f on d.content_hash = f.content_hash
"""


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style URL filtering (urlnorm.url_blocklist_filter): urls
    synthesized deterministically from doc ids — doc_id%11==0 rows live on
    cdnN.badsite.org subdomains, the rest across 5 siteN.example.com
    hosts. Blocklist carries the exact host site3.example.com AND the
    registrable domain badsite.org (which must catch every cdnN subdomain
    via the two-label-suffix join — the r4 ADVICE fix); paths ending in
    /tracker are pattern-blocked; domain outranks pattern."""
    from .operators.urlnorm import url_blocklist_filter

    docs = load_table(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.lit("https://cdn"),
                         (F.col("doc_id") % 3).cast("string"),
                         F.lit(".badsite.org")),
            ).otherwise(
                F.concat(F.lit("https://site"),
                         (F.col("doc_id") % 5).cast("string"),
                         F.lit(".example.com")),
            ),
            F.lit("/page/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("/tracker")).otherwise(
                F.lit("")
            ),
        ).alias("url"),
    )
    blocked = spark.createDataFrame(
        [("site3.example.com",), ("badsite.org",)], ["domain"]
    )
    return url_blocklist_filter(
        urls, blocked, blocked_path_res=(r"/tracker$",)
    ).select("doc_id", "url", "drop_reason")


_ORACLE_URL_BLOCKLIST = """
    select doc_id,
        case when doc_id % 11 = 0
             then 'https://cdn' || (doc_id % 3) || '.badsite.org'
             else 'https://site' || (doc_id % 5) || '.example.com' end
            || '/page/' || doc_id
            || case when doc_id % 7 = 0 then '/tracker' else '' end as url,
        case when doc_id % 11 = 0 then 'domain'
             when doc_id % 5 = 3 then 'domain'
             when doc_id % 7 = 0 then 'pattern'
             else null end as drop_reason
    from documents
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.1, df_cap=50
    )


_ORACLE_JACCARD = f"""
    with {window_key_oracle_cte("documents", 3)},
    shh as (select distinct doc_id, win_hash as sh_hash from win),
    rare as (
        select sh_hash from shh group by sh_hash having count(*) <= 50
    ),
    f as (select shh.doc_id, shh.sh_hash from shh join rare using (sh_hash)),
    -- capped-Jaccard: sizes over the SAME df-filtered universe as the
    -- intersection (mirrors operators/dedup.ngram_jaccard_pairs)
    sizes as (select doc_id, count(*) as n_sh from f group by doc_id),
    inter as (
        select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as i_n
        from f a join f b on a.sh_hash = b.sh_hash and a.doc_id < b.doc_id
        group by 1, 2
    )
    select doc_a, doc_b,
        round(cast(i_n as double) / (sa.n_sh + sb.n_sh - i_n), 6) as jaccard
    from inter
    join sizes sa on sa.doc_id = doc_a
    join sizes sb on sb.doc_id = doc_b
    where round(cast(i_n as double) / (sa.n_sh + sb.n_sh - i_n), 6) >= 0.1
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_table(docs, "doc_id", "text", bits=16)


def _simhash_oracle(bits: int = 16) -> str:
    votes = ",\n            ".join(
        f"sum(case when substr(md5('{j}:' || tok), 1, 1) in "
        f"('0','1','2','3','4','5','6','7') then 1 else -1 end) as v{j}"
        for j in range(bits)
    )
    packed = " + ".join(f"(case when v{j} > 0 then {2**j} else 0 end)" for j in range(bits))
    return f"""
    with tok as (select doc_id, string_split(text, ' ') as toks from documents),
    t as (select doc_id, toks[i + 1] as tok
          from tok, lateral unnest(range(len(toks))) as u(i)),
    votes as (
        select doc_id,
            {votes}
        from t group by doc_id
    )
    select doc_id, cast({packed} as bigint) as simhash from votes
"""


# ---------------------------------------------------------------------------
# text-analysis queries
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return textstats.document_stats(docs).select(
        "doc_id", "token_count", "quality_score", "fingerprint",
        textstats.subword_count_col(F.col("text")).alias("subword_count"),
    )


_EN_STOP_SQL = ", ".join(f"'{s}'" for s in textstats.EN_STOPWORDS)
_DE_STOP_SQL = ", ".join(f"'{s}'" for s in textstats.DE_STOPWORDS)
_FR_STOP_SQL = ", ".join(f"'{s}'" for s in textstats.FR_STOPWORDS)


def _stop_hits_sql(stops: str) -> str:
    return f"len(list_filter(string_split(text, ' '), x -> x in ({stops})))"


# DuckDB twin of textstats.lang_id_col and quality_score_col: the
# documents as (doc_id, text, en, de, fr, lang_id, quality_score), en/de/fr
# being stopword hit counts
_SCORED_SQL = f"""
        select *,
            case
                when en >= de and en >= fr and en > 0 then 'en'
                when de >= fr and de > 0 then 'de'
                when fr > 0 then 'fr'
                else 'und' end as lang_id,
            round(
                0.5 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       / greatest(length(text), 1))
                + 0.5 * (en / greatest(len(string_split(text, ' ')), 1)),
                6) as quality_score
        from (
            select doc_id, text, {_stop_hits_sql(_EN_STOP_SQL)} as en,
                {_stop_hits_sql(_DE_STOP_SQL)} as de,
                {_stop_hits_sql(_FR_STOP_SQL)} as fr
            from documents
        )"""


_ORACLE_TEXT_STATS = f"""
    select doc_id,
        cast(len(string_split(text, ' ')) as int) as token_count,
        quality_score,
        md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) as fingerprint,
        cast(len(regexp_extract_all(text, '{textstats.BPE_TOKEN_PATTERN}'))
             as int) as subword_count
    from ({_SCORED_SQL})
"""


def q_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(textstats.lang_id_col(F.col("text")).alias("lang_id"))
        .groupBy("lang_id")
        .agg(F.count("*").alias("n_docs"))
    )


_ORACLE_LANG = f"""
    select lang_id, count(*) as n_docs
    from ({_SCORED_SQL}) group by 1
"""

def q_salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew handling (north_rule): salted two-phase aggregation —
    bit-identical to the naive groupBy the oracle runs."""
    from .operators.skew import salted_counts

    ev = load_table(spark, sf_dir, "events")
    return salted_counts(ev, "event_type", "event_id", sum_col="value")


_ORACLE_SALTED = """
    select event_type, count(*) as n_rows, round(sum(value), 2) as sum_value
    from events group by event_type
"""


def q_curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full training-data curation plan: lang filter → quality filter →
    exact dedup → MinHash-band near-dup drop (plans/curate.py)."""
    from .plans.curate import curate_documents

    docs = load_table(spark, sf_dir, "documents")
    return curate_documents(docs, min_quality=0.3)


_ORACLE_CURATE = f"""
    with scored as ({_SCORED_SQL}),
    filtered as (
        select * from scored where lang_id = 'en' and quality_score >= 0.3
    ),
    exact as (
        select * from (
            select *, min(doc_id) over (partition by sha256(text)) as canon
            from filtered
        ) where doc_id = canon
    ),
    {minhash_oracle_ctes("exact", k=8, band_rows=2)},
    losers as (
        select distinct b.doc_id
        from bands a join bands b
          on a.band = b.band and a.band_hash = b.band_hash
         and a.doc_id < b.doc_id
    )
    select e.doc_id, e.lang_id, e.quality_score
    from exact e left join losers l on e.doc_id = l.doc_id
    where l.doc_id is null
"""


# ---------------------------------------------------------------------------
# similarity queries
# ---------------------------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.where(F.col("vec_id") < 3)
    return similarity.cosine_topk(emb, queries, k=5)


_ORACLE_COSINE = """
    with q as (select vec_id as qid, embedding as qe from embeddings where vec_id < 3),
    c as (select vec_id as cid, embedding as ce from embeddings),
    expanded as (
        select qid, cid,
            cast(qe[i + 1] as double) as qv, cast(ce[i + 1] as double) as cv
        from q join c on cid != qid, lateral unnest(range(len(qe))) as u(i)
    ),
    agg as (
        select qid, cid, sum(qv * cv) as dot,
            sqrt(sum(qv * qv)) as nq, sqrt(sum(cv * cv)) as nc
        from expanded group by qid, cid
    ),
    ranked as (
        select qid as query_id, cid as vec_id,
            round(dot / (nq * nc), 6) as cosine,
            -- rank by the ROUNDED cosine, matching the Spark window's key:
            -- unrounded ranking can diverge on >6dp ties
            row_number() over (
                partition by qid
                order by round(dot / (nq * nc), 6) desc, cid asc
            ) as rank
        from agg
    )
    select query_id, vec_id, cosine, cast(rank as int) as rank
    from ranked where rank <= 5
"""

def q_cosine_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized (numpy-GEMM mapInPandas) exact top-k — certified
    against the SAME oracle as the HOF path: per-batch partial top-k on the
    rounded cosine, final window over the candidate union, results
    identical to cosine_topk by construction (also test-pinned)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.where(F.col("vec_id") < 3)
    return similarity.cosine_topk_vectorized(emb, queries, k=5)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors — the FAISS
    IVF-flat contract as joins (similarity.ivf_topk): deterministic
    bottom-md5 sampled centroids, one-list corpus assignment via a
    broadcast argmax pass, queries probe their 3 nearest of 16 lists."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.where(F.col("vec_id") < 3)
    return similarity.ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=3)


_ORACLE_IVF = """
    with cent as (
        select vec_id as centroid_id, embedding as centroid
        from embeddings
        order by md5(cast(vec_id as varchar)) asc, vec_id asc
        limit 16
    ),
    -- cosine(vector, centroid) for every (corpus/query vector, centroid)
    vc as (
        select e.vec_id, c.centroid_id,
            round(sum(cast(e.embedding[i + 1] as double) * cast(c.centroid[i + 1] as double))
                / (sqrt(sum(cast(e.embedding[i + 1] as double) * cast(e.embedding[i + 1] as double)))
                 * sqrt(sum(cast(c.centroid[i + 1] as double) * cast(c.centroid[i + 1] as double)))), 6)
            as c_cosine
        from embeddings e cross join cent c,
            lateral unnest(range(len(e.embedding))) as u(i)
        group by e.vec_id, c.centroid_id
    ),
    ranked_vc as (
        select vec_id, centroid_id,
            row_number() over (partition by vec_id
                               order by c_cosine desc, centroid_id asc) as rn
        from vc
    ),
    assign as (
        select vec_id, centroid_id as list_id from ranked_vc where rn = 1
    ),
    probe as (
        select vec_id as query_id, centroid_id as list_id
        from ranked_vc where rn <= 3 and vec_id < 3
    ),
    cand as (
        select p.query_id, a.vec_id
        from probe p join assign a using (list_id)
        where a.vec_id != p.query_id
    ),
    scored as (
        select cand.query_id, cand.vec_id,
            round(sum(cast(q.embedding[i + 1] as double) * cast(c.embedding[i + 1] as double))
                / (sqrt(sum(cast(q.embedding[i + 1] as double) * cast(q.embedding[i + 1] as double)))
                 * sqrt(sum(cast(c.embedding[i + 1] as double) * cast(c.embedding[i + 1] as double)))), 6)
            as cosine
        from cand
        join embeddings q on q.vec_id = cand.query_id
        join embeddings c on c.vec_id = cand.vec_id,
            lateral unnest(range(len(q.embedding))) as u(i)
        group by cand.query_id, cand.vec_id
    ),
    ranked as (
        select query_id, vec_id, cosine,
            row_number() over (partition by query_id
                               order by cosine desc, vec_id asc) as rank
        from scored
    )
    select query_id, vec_id, cosine, cast(rank as int) as rank
    from ranked where rank <= 5
"""


def q_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-bucketed ANN top-k (similarity.lsh_bucketed_topk): candidates
    share the query's sign-random-projection bucket; exact cosine + window
    inside the bucket. The md5-parity hyperplanes are reproduced in the
    oracle as literal arrays, so the DuckDB twin computes the identical
    bucket ids and therefore the identical (approximate) result set."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.where(F.col("vec_id") < 3)
    return similarity.lsh_bucketed_topk(emb, queries, dim=64, k=5)


def _lsh_topk_oracle(dim: int = 64, bits: int = 8, k: int = 5) -> str:
    rows = ", ".join(
        "({b}, {v}, [{s}])".format(
            b=b, v=2 ** b,
            s=", ".join(f"{x:.1f}" for x in similarity._hyperplane(b, dim)),
        )
        for b in range(bits)
    )
    return f"""
    with planes as (select * from (values {rows}) as t(bit, bit_val, s)),
    e as (select vec_id, cast(embedding as double[]) as v from embeddings),
    comp as (
        select vec_id, bit, bit_val, sum(v[i + 1] * s[i + 1]) as dot
        from e, planes, lateral unnest(range(len(v))) as u(i)
        group by vec_id, bit, bit_val
    ),
    buck as (
        select vec_id, sum(case when dot > 0 then bit_val else 0 end) as bucket
        from comp group by vec_id
    ),
    eb as (select e.vec_id, v, bucket from e join buck using (vec_id)),
    q as (select vec_id as qid, v as qv, bucket from eb where vec_id < 3),
    cand as (
        select qid, c.vec_id as cid, qv, c.v as cv
        from q join eb c using (bucket)
        where c.vec_id != qid
    ),
    expanded as (
        select qid, cid, qv[i + 1] as x, cv[i + 1] as y
        from cand, lateral unnest(range(len(qv))) as u(i)
    ),
    agg as (
        select qid, cid, sum(x * y) as dot,
            sqrt(sum(x * x)) as nq, sqrt(sum(y * y)) as nc
        from expanded group by qid, cid
    ),
    ranked as (
        select qid as query_id, cid as vec_id,
            round(dot / (nq * nc), 6) as cosine,
            row_number() over (
                partition by qid
                order by round(dot / (nq * nc), 6) desc, cid asc
            ) as rank
        from agg
    )
    select query_id, vec_id, cosine, cast(rank as int) as rank
    from ranked where rank <= {k}
"""


_ORACLE_LSH_TOPK = _lsh_topk_oracle()


def q_url_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/urlnorm.py) over urls synthesized
    deterministically from doc ids: scheme/host lowering, default-port
    strip, fragment + utm/gclid/fbclid removal, trailing-slash collapse —
    then the variant-count per canonical form."""
    from .operators.urlnorm import url_dedup_groups

    docs = load_table(spark, sf_dir, "documents")
    # six raw variants: four collapse onto two logical pages; the last two
    # pin the [?&]-anchored tracking strip (lookalike params survive, a
    # tracking param BETWEEN real params drops cleanly)
    variants = F.array(
        F.concat(F.lit("HTTPS://Shop.Example.COM:443/p/"), F.col("doc_id").cast("string")),
        F.concat(F.lit("https://shop.example.com/p/"), F.col("doc_id").cast("string"),
                 F.lit("?utm_source=x&utm_campaign=y")),
        F.concat(F.lit("https://shop.example.com/p/"), F.col("doc_id").cast("string"),
                 F.lit("/#frag")),
        F.concat(F.lit("http://other.example.com:80/q/"), F.col("doc_id").cast("string")),
        F.concat(F.lit("https://shop.example.com/r/"), F.col("doc_id").cast("string"),
                 F.lit("?xutm_source=keep&myfbclid=alsokeep")),
        F.concat(F.lit("https://shop.example.com/s/"), F.col("doc_id").cast("string"),
                 F.lit("?a=1&gclid=zap&b=2&utm_medium=zap")),
    )
    urls = docs.select(F.explode(variants).alias("url"))
    return url_dedup_groups(urls)


_ORACLE_URLNORM = """
    with raw as (
        select unnest([
            'HTTPS://Shop.Example.COM:443/p/' || doc_id,
            'https://shop.example.com/p/' || doc_id
                || '?utm_source=x&utm_campaign=y',
            'https://shop.example.com/p/' || doc_id || '/#frag',
            'http://other.example.com:80/q/' || doc_id,
            'https://shop.example.com/r/' || doc_id
                || '?xutm_source=keep&myfbclid=alsokeep',
            'https://shop.example.com/s/' || doc_id
                || '?a=1&gclid=zap&b=2&utm_medium=zap'
        ]) as url
        from documents
    ),
    split as (
        select url,
            lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)(.*)$', 1)) as scheme,
            lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)(.*)$', 2)) as host,
            regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)(.*)$', 3) as rest
        from raw
    ),
    canon as (
        select
            case when scheme = '' then url else
                scheme || '://' ||
                case when scheme = 'http' then regexp_replace(host, ':80$', '')
                     when scheme = 'https' then regexp_replace(host, ':443$', '')
                     else host end ||
                regexp_replace(
                    regexp_replace(
                        regexp_replace(
                            regexp_replace(
                                regexp_replace(rest, '#.*$', ''),
                                '([?&])(utm_[a-z]+|gclid|fbclid)=[^&#]*',
                                '\\1', 'g'),
                            '([?&])&+', '\\1', 'g'),
                        '[?&]+$', ''),
                    '(.)/$', '\\1')
            end as canonical_url
        from split
    )
    select canonical_url, count(*) as n_variants from canon group by 1
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs via the LSH-bucketed scale path
    (similarity.embedding_near_dup_pairs): sign-random-projection buckets
    from deterministic md5-parity hyperplanes, pair join as an equi-join on
    the bucket key — never a cross product — over the FULL embeddings table.
    The capped exact all-pairs variant is the pytest recall cross-check
    (tests/test_similarity.py); this entry certifies the plan you'd ship at
    scale. cosine >= 0.35 because the synthetic embeddings top out near
    0.46."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return similarity.embedding_near_dup_pairs(emb, dim=64, threshold=0.35)


def _emb_near_dup_oracle(dim: int = 64, bits: int = 8,
                         threshold: float = 0.35) -> str:
    """DuckDB twin of embedding_near_dup_pairs: the md5-parity hyperplanes
    are materialized as literal arrays (same _hyperplane values the Spark
    expression embeds), so bucket ids are reproduced exactly."""
    rows = ", ".join(
        "({b}, {v}, [{s}])".format(
            b=b,
            v=2 ** b,
            s=", ".join(
                f"{x:.1f}" for x in similarity._hyperplane(b, dim)
            ),
        )
        for b in range(bits)
    )
    return f"""
    with planes as (select * from (values {rows}) as t(bit, bit_val, s)),
    e as (select vec_id, cast(embedding as double[]) as v from embeddings),
    comp as (
        select vec_id, bit, bit_val, sum(v[i + 1] * s[i + 1]) as dot
        from e, planes, lateral unnest(range(len(v))) as u(i)
        group by vec_id, bit, bit_val
    ),
    buck as (
        select vec_id, sum(case when dot > 0 then bit_val else 0 end) as bucket
        from comp group by vec_id
    ),
    eb as (select e.vec_id, v, bucket from e join buck using (vec_id)),
    pairs as (
        select a.vec_id as vec_a, b.vec_id as vec_b, a.v as va, b.v as vb
        from eb a join eb b on a.bucket = b.bucket and a.vec_id < b.vec_id
    ),
    expanded as (
        select vec_a, vec_b, va[i + 1] as x, vb[i + 1] as y
        from pairs, lateral unnest(range(len(va))) as u(i)
    ),
    agg as (
        select vec_a, vec_b,
            sum(x * y) as dot, sqrt(sum(x * x)) as na, sqrt(sum(y * y)) as nb
        from expanded group by vec_a, vec_b
    )
    select vec_a, vec_b, round(dot / (na * nb), 6) as cosine
    from agg where round(dot / (na * nb), 6) >= {threshold}
"""


_ORACLE_EMB_NEAR_DUP = _emb_near_dup_oracle()


def q_minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH bucket join itself (dedup.minhash_candidate_pairs): documents
    sharing at least one MinHash band."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_candidate_pairs(docs, "doc_id", "text", k=8, band_rows=2)


_ORACLE_BAND_PAIRS = f"""
    with {minhash_oracle_ctes("documents", k=8, band_rows=2)}
    select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as shared_bands
    from bands a join bands b
      on a.band = b.band and a.band_hash = b.band_hash and a.doc_id < b.doc_id
    group by 1, 2
"""


# ---------------------------------------------------------------------------
# relational coverage (TPC-H-ish) — scans, joins, aggs, windows, top-k
# ---------------------------------------------------------------------------



# Money sums are computed in EXACT integer cents on both engines: summing
# doubles and rounding to 2dp is order-dependent (Spark's partition order vs
# DuckDB's scan order) and flips half-cent boundaries — observed at sf0.1.
# extendedprice has 2 decimal digits and discount 2, so
# round(p*100) * (100 - round(d*100)) is an exact int64 per row; the sum is
# exact and both engines divide once at the end.


def _cents(col):
    """Exact integer cents of a 2-decimal double column."""
    return F.round(col * 100).cast("long")


def _disc_price_cents():
    return _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the partial-aggregation workhorse."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2002-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            (F.sum(_cents(F.col("l_extendedprice"))) / 100.0).alias("sum_base_price"),
            F.round(F.sum(_disc_price_cents()) / 10000.0, 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


_ORACLE_Q1 = """
    select l_returnflag, l_linestatus,
        round(sum(l_quantity), 2) as sum_qty,
        sum(cast(round(l_extendedprice * 100) as bigint)) / 100.0
            as sum_base_price,
        round(sum(cast(round(l_extendedprice * 100) as bigint) * (100 - cast(round(l_discount * 100) as bigint))) / 10000.0, 2) as sum_disc_price,
        round(avg(l_quantity), 6) as avg_qty,
        count(*) as count_order
    from lineitem
    where l_shipdate <= timestamp '2002-09-02'
    group by l_returnflag, l_linestatus
"""


def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the 6-table join — the join-ordering/broadcast plan
    audit. Tiny dims (region, nation, supplier) are broadcast; the
    customer⋈orders⋈lineitem spine shuffles on its keys; revenue in exact
    integer cents (the cross-engine order-dependence rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "ASIA"
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(_disc_price_cents()) / 10000.0, 2).alias("revenue")
    )


_ORACLE_Q5 = """
    select n_name,
        round(sum(cast(round(l_extendedprice * 100) as bigint)
                  * (100 - cast(round(l_discount * 100) as bigint)))
              / 10000.0, 2) as revenue
    from lineitem
    join orders on l_orderkey = o_orderkey
    join customer on o_custkey = c_custkey
    join supplier on l_suppkey = s_suppkey and c_nationkey = s_nationkey
    join nation on s_nationkey = n_nationkey
    join region on n_regionkey = r_regionkey
    where r_name = 'ASIA'
      and o_orderdate >= timestamp '1996-01-01'
      and o_orderdate < timestamp '1997-01-01'
    group by n_name
"""


def q_tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: aggregate-derived threshold filter (the correlated
    scalar subquery, decorrelated the Spark way — a per-key avg joined
    back). Brand dimension broadcast; the threshold (0.2 · avg quantity) is
    exact cross-engine because quantities are integer-valued doubles (sums
    are order-independent); revenue in exact cents, and cents/700 can never
    land on a .5 rounding boundary (7k + 3.5 has no integer solution)."""
    li = load_table(spark, sf_dir, "lineitem")
    part9 = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#9")
        .select("p_partkey")
    )
    branded = li.join(
        F.broadcast(part9), li.l_partkey == F.col("p_partkey")
    )
    thresholds = branded.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_threshold")
    )
    small = branded.join(thresholds, "l_partkey").where(
        F.col("l_quantity") < F.col("qty_threshold")
    )
    return small.agg(
        F.round(
            F.sum(_cents(F.col("l_extendedprice"))) / 100.0 / 7.0, 2
        ).alias("avg_yearly"),
        F.count("*").alias("n_small_orders"),
    )


_ORACLE_Q17 = """
    with branded as (
        select l_partkey, l_quantity, l_extendedprice
        from lineitem join part on l_partkey = p_partkey
        where p_brand = 'Brand#9'
    ),
    thresholds as (
        select l_partkey, 0.2 * avg(l_quantity) as qty_threshold
        from branded group by l_partkey
    )
    select
        round(sum(cast(round(l_extendedprice * 100) as bigint))
              / 100.0 / 7.0, 2) as avg_yearly,
        count(*) as n_small_orders
    from branded join thresholds using (l_partkey)
    where l_quantity < qty_threshold
"""


def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-filtered IN-subquery (a semi-join against
    an aggregated relation), then re-join + top-k. Deterministic top-100
    needs a total order — o_orderkey breaks o_totalprice ties on BOTH
    engines. Quantities are integer-valued doubles, so the HAVING threshold
    is order-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    joined = (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


_ORACLE_Q18 = """
    with big as (
        select l_orderkey, sum(l_quantity) as total_qty
        from lineitem group by l_orderkey having sum(l_quantity) > 300
    )
    select c_name, o_orderkey,
        round(o_totalprice, 2) as o_totalprice,
        round(total_qty, 2) as total_qty
    from orders
    join big on o_orderkey = l_orderkey
    join customer on o_custkey = c_custkey
    order by o_totalprice desc, o_orderkey asc
    limit 100
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-10."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(
            F.round(F.sum(_disc_price_cents()) / 10000.0, 2).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


_ORACLE_Q3 = """
    select o_orderkey, c_mktsegment,
        round(sum(cast(round(l_extendedprice * 100) as bigint) * (100 - cast(round(l_discount * 100) as bigint))) / 10000.0, 2) as revenue
    from lineitem
    join orders on l_orderkey = o_orderkey
    join customer on o_custkey = c_custkey
    group by o_orderkey, c_mktsegment
    order by revenue desc, o_orderkey asc
    limit 10
"""


def q_region_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join star lookup: supplier ⋈ nation ⋈ region."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.avg("s_acctbal"), 6).alias("avg_acctbal"),
        )
    )


_ORACLE_REGION = """
    select r_name, count(*) as n_suppliers,
        round(avg(s_acctbal), 6) as avg_acctbal
    from supplier
    join nation on s_nationkey = n_nationkey
    join region on n_regionkey = r_regionkey
    group by r_name
"""


def q_top_part_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-with-priority (M3 keep-highest-confidence analog,
    layoutlmv3.py:498-500): per supplier keep the top-revenue part.
    Revenue rounds in EXACT integer arithmetic ((x + 50) // 100 of the
    1e-4-dollar units, the proven tpch_q10 discipline) — round(double, 2)
    lands on half-cent exact values where Spark (shortest-repr HALF_UP)
    and DuckDB (raw-binary) disagree; red at sf1 until the r5 fix, green
    at sf0.01/0.1 only because no half-cent sum happened to surface there.
    Ranking runs on the same exact cents (monotone with the emitted
    revenue)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev_cents = F.floor((F.sum(_disc_price_cents()) + 50) / 100)
    rev = li.groupBy("l_suppkey", "l_partkey").agg(
        rev_cents.alias("rev_cents")
    )
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("rev_cents").desc(), F.col("l_partkey").asc()
    )
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_suppkey", "l_partkey",
            (F.col("rev_cents") / 100.0).alias("revenue"),
        )
    )


_ORACLE_TOP_PART = """
    with rev as (
        select l_suppkey, l_partkey,
            (sum(cast(round(l_extendedprice * 100) as bigint) * (100 - cast(round(l_discount * 100) as bigint))) + 50) // 100 as rev_cents
        from lineitem group by l_suppkey, l_partkey
    ),
    ranked as (
        select *, row_number() over (
            partition by l_suppkey order by rev_cents desc, l_partkey asc
        ) as rn from rev
    )
    select l_suppkey, l_partkey, rev_cents / 100.0 as revenue
    from ranked where rn = 1
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (the batch twin of
    streaming.windowed_domain_counts)."""
    ev = load_table(spark, sf_dir, "events")
    # NTZ-native hour truncation: date_trunc() coerces TIMESTAMP_NTZ through
    # the session-timezone TIMESTAMP type (verified: values shift under a
    # non-UTC session), so rebuild the hour from tz-free field extraction —
    # make_timestamp_ntz keeps the whole computation in the naive domain,
    # matching DuckDB's (always-naive) date_trunc exactly.
    hour_ntz = F.expr(
        "make_timestamp_ntz(year(ts), month(ts), day(ts), hour(ts), 0, 0)"
    )
    return (
        ev.groupBy(
            hour_ntz.alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            # Exact-integer average (the money-cents rule): a double
            # sum's value depends on accumulation order, and at sf0.1 the
            # engines' partial-agg orders flip the 6th decimal. Summing
            # micro-units as BIGINT is order-independent; divide once.
            F.round(
                F.sum(F.round(F.col("value") * 1e6).cast("long"))
                / 1e6
                / F.count("*"),
                6,
            ).alias("avg_value"),
        )
    )


_ORACLE_EVENTS_HOURLY = """
    select date_trunc('hour', ts) as hour, event_type,
        count(*) as n_events,
        round(sum(cast(round(value * 1000000) as bigint)) / 1000000.0
              / count(*), 6) as avg_value
    from events group by 1, 2
"""


def q_cube_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over order status x priority (all grouping-set combinations)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum(_cents(F.col("o_totalprice"))) / 100.0, 2).alias("sum_totalprice"),
    )


_ORACLE_CUBE = """
    select o_orderstatus, o_orderpriority, count(*) as n_orders,
        round(sum(cast(round(o_totalprice * 100) as bigint)) / 100.0, 2)
            as sum_totalprice
    from orders
    group by cube (o_orderstatus, o_orderpriority)
"""


def q_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count per day (the oracle-able twin; the
    approx_count_distinct variant is tolerance-tested in pytest since HLL
    sketches differ across engines)."""
    ev = load_table(spark, sf_dir, "events")
    # NTZ-native: TIMESTAMP_NTZ -> DATE takes the local date part with no
    # session-timezone surface (verified stable under UTC vs America/New_York,
    # unlike date_trunc / the NTZ->TIMESTAMP cast).
    return ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


_ORACLE_DISTINCT = """
    select cast(ts as date) as day,
        count(distinct user_id) as n_users, count(*) as n_events
    from events group by 1
"""


def q_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets coverage (SURVEY.md §2.9): ROLLUP over return flag /
    line status with subtotal and grand-total rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


_ORACLE_ROLLUP = """
    select l_returnflag, l_linestatus, count(*) as n_rows,
        round(sum(l_quantity), 2) as sum_qty
    from lineitem
    group by rollup (l_returnflag, l_linestatus)
"""


def q_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti-join coverage: per market segment, customers with and
    without orders (the resume anti-join pattern from plans.pipeline)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    with_orders = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_with_orders"))
    )
    without = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_without_orders"))
    )
    total = cust.groupBy("c_mktsegment").agg(F.count("*").alias("n_customers"))
    return (
        total.join(with_orders, "c_mktsegment", "left")
        .join(without, "c_mktsegment", "left")
        .select(
            "c_mktsegment",
            "n_customers",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


_ORACLE_SEMI_ANTI = """
    select c_mktsegment,
        count(*) as n_customers,
        cast(sum(case when exists (select 1 from orders
                                   where o_custkey = c_custkey)
                 then 1 else 0 end) as bigint) as n_with_orders,
        cast(sum(case when not exists (select 1 from orders
                                       where o_custkey = c_custkey)
                 then 1 else 0 end) as bigint) as n_without_orders
    from customer
    group by c_mktsegment
"""

# ---------------------------------------------------------------------------
# S3/S4/M1/H10/H11 driver certification over synthesized inputs
# ---------------------------------------------------------------------------


def q_s3_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 base64 decode (sources/readers.decode_base64_column, codegen'd
    unbase64): encode documents.text, decode through the operator, emit the
    decoded length + sha2 so the oracle proves byte identity."""
    from .sources.readers import decode_base64_column

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.base64(F.col("text").cast("binary")).alias("b64")
    )
    dec = decode_base64_column(docs, "b64", out="decoded")
    return dec.select(
        "doc_id",
        F.length("decoded").alias("n_bytes"),
        F.sha2(F.col("decoded"), 256).alias("content_sha"),
    )


_ORACLE_S3 = """
    select doc_id,
        octet_length(from_base64(to_base64(encode(text)))) as n_bytes,
        sha256(decode(from_base64(to_base64(encode(text))))) as content_sha
    from documents
"""


def q_s4_multipage_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 multi-page union (operators/extract.words_long_to_arrays): long
    word rows spread across 3 interleaved pseudo-pages must reassemble in
    page-major reading order (the reference's all_words.extend loop,
    receipt_processor.py:156-196)."""
    from .operators.extract import words_long_to_arrays

    w = _doc_words(spark, sf_dir)
    long_rows = w.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        (F.col("pos") % 3).alias("page_number"),
        (F.col("pos") / 3).cast("int").alias("word_pos"),
        F.col("tok").alias("text"),
        "x0", "y0", "x1", "y1",
        F.col("conf").alias("confidence"),
    )
    arrays = words_long_to_arrays(long_rows)
    return arrays.select(
        "url",
        F.array_join(
            F.transform(F.col("words"), lambda s: s["text"]), " "
        ).alias("reading_order"),
    )


_ORACLE_S4 = _SQL_WORDS + """
    select 'doc://' || doc_id as url,
        string_agg(tok, ' ' order by pos % 3, pos // 3) as reading_order
    from words group by doc_id
"""


def q_m1_token_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 batched token classification through the REAL pandas UDF
    (model_infer.token_classifier_udf → the per-process lazy singleton →
    the deterministic md5 stub): per-token label id and confidence,
    reproduced exactly in the oracle from the same md5 arithmetic."""
    from .operators.model_infer import token_classifier_udf

    docs = load_table(spark, sf_dir, "documents")
    words = F.transform(
        F.split(F.col("text"), " "), lambda t: F.struct(t.alias("text"))
    )
    pred = docs.select(
        "doc_id",
        token_classifier_udf(
            F.col("doc_id").cast("string"), words
        ).alias("p"),
    )
    z = F.arrays_zip(F.col("p.pred_ids"), F.col("p.confidences"))
    return pred.select(
        "doc_id", F.posexplode(z).alias("pos", "pc")
    ).select(
        "doc_id",
        "pos",
        F.col("pc.pred_ids").alias("pred_id"),
        F.col("pc.confidences").alias("conf"),
    )


_ORACLE_M1 = _SQL_WORDS + """
    select doc_id, pos,
        ('0x' || substr(md5(doc_id || ':' || pos || ':' || tok), 1, 2))::int
            % 15 as pred_id,
        round(0.5 +
            ('0x' || substr(md5(doc_id || ':' || pos || ':' || tok), 3, 2))::int
            % 50 / 100.0, 2) as conf
    from words
    where pos < 512
"""


def q_h10_h11_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H10 totals verification + H11 confidence filter (the REAL
    plans/pipeline helpers) over synthesized field structs: family 0 has an
    exact subtotal+tax=total, family 1 is off by 0.05 (fails the 0.02
    tolerance), family 2 has a null tax (verified=false by presence rule);
    per-field confidences sweep the 0.5 cutoff."""
    from .plans.pipeline import confidence_filter, with_quality_columns
    from .schemas import BOX

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")

    def fld(value, conf):
        return F.struct(
            value.alias("value"),
            conf.alias("confidence"),
            F.lit(None).cast(BOX).alias("box"),
        )

    st_cents = (d % 900 + 100) * 100 + (d % 4) * 25
    tax_cents = (d % 80 + 5) * 100 + 10
    fam = d % 3
    tot_cents = st_cents + tax_cents + F.when(fam == 1, F.lit(5)).otherwise(F.lit(0))

    def money(cents):
        return F.concat(
            F.floor(cents / 100).cast("long").cast("string"),
            F.lit("."),
            F.lpad((cents % 100).cast("string"), 2, "0"),
        )

    conf_of = lambda mult: (d * mult % 100) / 100.0
    results = docs.select(
        "doc_id",
        fld(F.lit("Vendor"), F.lit(0.9)).alias("vendor_name"),
        fld(F.lit(None).cast("string"), F.lit(None).cast("double")).alias(
            "merchant_address"
        ),
        fld(F.lit("2024-01-01"), conf_of(3)).alias("date"),
        fld(money(tot_cents), conf_of(13)).alias("total_amount"),
        fld(money(st_cents), conf_of(7)).alias("subtotal"),
        fld(
            F.when(fam == 2, F.lit(None).cast("string")).otherwise(money(tax_cents)),
            F.when(fam == 2, F.lit(None).cast("double")).otherwise(conf_of(11)),
        ).alias("tax_amount"),
        fld(F.lit("USD"), F.lit(0.9)).alias("currency"),
    )
    out = confidence_filter(with_quality_columns(results))
    return out.select(
        "doc_id",
        "totals_verified",
        F.col("subtotal.value").alias("subtotal_kept"),
        F.col("tax_amount.value").alias("tax_kept"),
        F.col("total_amount.value").alias("total_kept"),
        F.col("date.value").alias("date_kept"),
    )


_ORACLE_H10_H11 = """
    with d as (
        select doc_id, doc_id % 3 as fam,
            (doc_id % 900 + 100) * 100 + (doc_id % 4) * 25 as st_cents,
            (doc_id % 80 + 5) * 100 + 10 as tax_cents
        from documents
    ),
    f as (
        select doc_id, fam, st_cents, tax_cents,
            st_cents + tax_cents + case when fam = 1 then 5 else 0 end
                as tot_cents,
            (doc_id * 3 % 100) / 100.0 as conf_date,
            (doc_id * 7 % 100) / 100.0 as conf_st,
            (doc_id * 11 % 100) / 100.0 as conf_tax,
            (doc_id * 13 % 100) / 100.0 as conf_tot
        from d
    )
    select doc_id,
        case when fam = 2 then false
             when fam = 1 then false
             else true end as totals_verified,
        case when conf_st >= 0.5
             then (st_cents // 100)::varchar || '.' ||
                  lpad((st_cents % 100)::varchar, 2, '0') end as subtotal_kept,
        case when fam != 2 and conf_tax >= 0.5
             then (tax_cents // 100)::varchar || '.' ||
                  lpad((tax_cents % 100)::varchar, 2, '0') end as tax_kept,
        case when conf_tot >= 0.5
             then (tot_cents // 100)::varchar || '.' ||
                  lpad((tot_cents % 100)::varchar, 2, '0') end as total_kept,
        case when conf_date >= 0.5 then '2024-01-01' end as date_kept
    from f
"""


def q_o1_ocr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 OCR detect+recognize through the REAL Spark operators: pages are
    rendered from doc_id-deterministic text with the engine's cipher font
    (mapInPandas), then ocr_pages (the batched OCR pandas UDF: ink-band
    line segmentation, column-gap word/glyph split, template decode) must
    recover the text byte-identically with confidence 1.0 on clean glyphs —
    the roundtrip identity IS the oracle, so the SQL twin just re-derives
    the rendered text from the same arithmetic."""
    import pandas as pd

    from .operators.ocr_kernel import ocr_pages, render_page

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def render_kernel(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                lines = [
                    f"RECEIPT {d}",
                    f"Total: ${d % 90 + 10}.{d % 4 * 25:02d}",
                    f"Items {d % 7 + 1}",
                ]
                img, _ = render_page(lines)
                rows.append((d, img.tobytes(), img.shape[1], img.shape[0]))
            yield pd.DataFrame(
                rows, columns=["doc_id", "payload", "width", "height"]
            )

    media = docs.mapInPandas(
        render_kernel, "doc_id long, payload binary, width int, height int"
    )
    ocr = ocr_pages(media)
    words = F.col("words")
    conf_sum = F.aggregate(
        F.transform(words, lambda w: w["confidence"]),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    return ocr.select(
        "doc_id",
        F.array_join(F.transform(words, lambda w: w["text"]), " ").alias(
            "ocr_text"
        ),
        F.size(words).alias("n_words"),
        F.round(conf_sum / F.size(words), 6).alias("avg_conf"),
    )


_ORACLE_O1 = """
    select doc_id,
        'RECEIPT ' || doc_id
            || ' Total: $' || cast(doc_id % 90 + 10 as varchar)
            || '.' || lpad(cast(doc_id % 4 * 25 as varchar), 2, '0')
            || ' Items ' || cast(doc_id % 7 + 1 as varchar) as ocr_text,
        cast(6 as int) as n_words,
        cast(1.0 as double) as avg_conf
    from documents
"""


def q_p_ops_image_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P5/P8/P9 through the REAL numpy kernels (operators/imageprep) over
    doc_id-synthesized inputs: ITU-R-601 grayscale of a constant RGB patch,
    threshold at 50%, resampled-dimension int-truncation math, and the
    safe-DPI backoff (Tesseract max-dim 32767 + Pillow max-pixels 178956970,
    300→100 step −50, NULL when hopeless). Every output is closed-form
    arithmetic, reproduced exactly in the oracle."""
    import numpy as np
    import pandas as pd

    from .operators import imageprep as ip

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def kernel(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w = d % 9000 + 100
                h = d % 7000 + 100
                if d % 5 == 0:
                    w *= 400  # force guard backoff / hopeless cases
                dpi = 0.0 if d % 7 == 0 else float(d % 500 + 50)
                rw, rh = ip.calculate_resampled_dimensions(w, h, dpi, 300)
                safe = ip.find_safe_dpi(w, h, dpi)
                r, g, b = d % 256, (d * 3) % 256, (d * 7) % 256
                patch = np.full((2, 2, 3), (r, g, b), dtype=np.uint8)
                gray = int(ip.grayscale(patch)[0, 0])
                thr = int(ip.threshold(np.full((1, 1), d % 256, np.uint8))[0, 0])
                rows.append((d, rw, rh, safe, gray, thr))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "rw", "rh", "safe_dpi", "gray", "thr"],
            )

    return docs.mapInPandas(
        kernel,
        "doc_id long, rw long, rh long, safe_dpi int, gray int, thr int",
    )


_ORACLE_P_OPS = """
    with d as (
        select doc_id,
            case when doc_id % 5 = 0 then (doc_id % 9000 + 100) * 400
                 else doc_id % 9000 + 100 end as w,
            doc_id % 7000 + 100 as h,
            case when doc_id % 7 = 0 then 72.0
                 else cast(doc_id % 500 + 50 as double) end as dpi,
            doc_id % 256 as r, (doc_id * 3) % 256 as g,
            (doc_id * 7) % 256 as b
        from documents
    ),
    safe as (
        select doc_id, max(t) as safe_dpi
        from d, unnest([300, 250, 200, 150, 100]) as u(t)
        where floor(w * (t / dpi)) <= 32767
          and floor(h * (t / dpi)) <= 32767
          and floor(w * (t / dpi)) * floor(h * (t / dpi)) <= 178956970
        group by doc_id
    )
    select d.doc_id,
        cast(floor(w * (300 / dpi)) as bigint) as rw,
        cast(floor(h * (300 / dpi)) as bigint) as rh,
        cast(safe.safe_dpi as int) as safe_dpi,
        cast(floor(least(greatest(
            0.299 * r + 0.587 * g + 0.114 * b + 0.5, 0), 255)) as int) as gray,
        cast(case when doc_id % 256 > 127.5 then 255 else 0 end as int) as thr
    from d left join safe using (doc_id)
"""


def q_streaming_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming certified against the BATCH oracle: the
    documents table consumed through the file-stream source (availableNow —
    processes everything then stops deterministically), aggregated with an
    event-independent groupBy into a memory sink. Streaming and batch must
    produce identical results on identical input (the stream==batch
    invariant tests/test_streaming.py pins for extraction; this entry pins
    it for aggregation at the driver gate)."""
    import os
    import re as _re2
    import tempfile

    # the file-stream source requires a DIRECTORY; expose the single
    # testdata file through a per-call temp dir of symlinks (removed after
    # the stream drains — the memory sink holds the materialized result,
    # so the returned DataFrame no longer needs the source files)
    stream_dir = tempfile.mkdtemp(prefix="dp_stream_src_")
    try:
        src = f"{sf_dir}/documents.parquet"
        # the source may be a single parquet FILE or a Spark-written
        # DIRECTORY of part files: symlink the data files themselves so the
        # file-stream source sees every part (a directory symlinked as one
        # entry can be picked up partially — round-2 red-row hardening)
        if os.path.isdir(src):
            n_linked = 0
            for root, _dirs, files in os.walk(src):
                for fn in files:
                    if fn.endswith(".parquet"):
                        os.symlink(
                            os.path.join(root, fn),
                            os.path.join(stream_dir, f"part_{n_linked}.parquet"),
                        )
                        n_linked += 1
            if n_linked == 0:
                raise RuntimeError(f"no parquet part files found under {src}")
        else:
            os.symlink(src, f"{stream_dir}/documents.parquet")
        batch = spark.read.parquet(src)
        n_batch = batch.count()
        stream = (
            spark.readStream.schema(batch.schema)
            .option("recursiveFileLookup", "true")
            .parquet(stream_dir)
        )
        agg = stream.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        )
        qname = "stream_lang_" + _re2.sub(r"\W", "_", sf_dir)
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # stream==batch input invariant, asserted INSIDE the query: a
        # partial read must fail loudly, never hash a subset
        n_streamed = (
            spark.table(qname).agg(F.sum("n_docs")).collect()[0][0] or 0
        )
        if n_streamed != n_batch:
            raise RuntimeError(
                f"file-stream consumed {n_streamed} rows but batch read of "
                f"{src} has {n_batch} — partial stream input"
            )
    finally:
        import shutil

        shutil.rmtree(stream_dir, ignore_errors=True)
    return spark.table(qname)


_ORACLE_STREAMING = """
    -- cast: bare sum(int) is HUGEINT (see _ORACLE_H8 note)
    select lang, count(*) as n_docs,
        cast(sum(len(string_split(text, ' '))) as bigint) as n_tokens
    from documents group by lang
"""


def q_streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM STATEFUL streaming operator (applyInPandasWithState,
    streaming/stream.py running_totals) certified against the batch oracle:
    documents re-split into 3 parquet files, streamed with
    maxFilesPerTrigger=1 under availableNow so the per-key state genuinely
    accumulates across 3 micro-batches, update-mode memory sink. Running
    totals are monotone, so the final state per key = max over its
    update emissions — deterministic however the batches split. Same
    stream==batch row-count assertion as streaming_lang_stats."""
    import os
    import re as _re3
    import tempfile

    from documentprocessor_spark.streaming.stream import running_totals

    src = f"{sf_dir}/documents.parquet"
    batch = spark.read.parquet(src)
    n_batch = batch.count()
    # deterministic per-sf source dir, overwrite mode (never delete-on-exit;
    # the memory sink materializes, so the dir itself may be recreated by
    # later calls without invalidating the returned DataFrame)
    tag = _re3.sub(r"\W", "_", sf_dir)
    stream_dir = os.path.join(
        tempfile.gettempdir(), f"dp_stateful_src_{tag}"
    )
    batch.repartition(3).write.mode("overwrite").parquet(stream_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    prepared = stream.select(
        F.col("lang"),
        F.length("text").cast("long").alias("size_bytes"),
    )
    totals = running_totals(prepared, "lang", count_name="n_docs",
                            bytes_name="total_bytes")
    qname = "stream_totals_" + tag
    q = (
        totals.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = (
        spark.table(qname)
        .groupBy("lang")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("total_bytes").alias("total_bytes"),
        )
    )
    n_streamed = final.agg(F.sum("n_docs")).collect()[0][0] or 0
    if n_streamed != n_batch:
        raise RuntimeError(
            f"stateful stream consumed {n_streamed} rows but batch read of "
            f"{src} has {n_batch} — partial stream input"
        )
    return final


_ORACLE_STREAMING_TOTALS = """
    -- cast: bare sum(int) is HUGEINT through the driver's arrow fetch
    select lang, count(*) as n_docs,
        cast(sum(length(text)) as bigint) as total_bytes
    from documents group by lang
"""


def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming event-time TUMBLING-WINDOW aggregation certified against
    the batch oracle: the events table streamed as 3 files (one micro-batch
    each), hourly window x event_type counts in complete mode, memory sink.
    The window boundaries come from Spark's event-time window operator on
    the STREAMING side — the oracle recomputes them relationally with
    date_trunc. (Watermark/append finalization stays pytest-pinned in
    tests/test_streaming.py; complete mode keeps the certification
    deterministic under any batch split.)"""
    import os
    import re as _re4
    import tempfile

    src = f"{sf_dir}/events.parquet"
    batch = spark.read.parquet(src)
    n_batch = batch.count()
    tag = _re4.sub(r"\W", "_", sf_dir)
    stream_dir = os.path.join(tempfile.gettempdir(), f"dp_winstream_src_{tag}")
    batch.repartition(3).write.mode("overwrite").parquet(stream_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    agg = (
        stream.groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    qname = "stream_win_" + tag
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = spark.table(qname)
    n_streamed = final.agg(F.sum("n_events")).collect()[0][0] or 0
    if n_streamed != n_batch:
        raise RuntimeError(
            f"windowed stream aggregated {n_streamed} rows but batch read "
            f"of {src} has {n_batch} — partial stream input"
        )
    return final


# events.ts reads as TIMESTAMP_NTZ; Spark's window() on NTZ computes naive
# epoch-aligned boundaries, which for whole hours equal DuckDB's
# (always-naive) date_trunc — the same cross-engine idiom the certified
# events_hourly_windows row pins (never route NTZ through session-tz
# date_trunc on the Spark side). n_events: count(*) is BIGINT in both
# engines (the HUGEINT rule applies to sum(), not count()).
_ORACLE_STREAM_WINDOWED = """
    select date_trunc('hour', ts) as window_start, event_type,
        count(*) as n_events
    from events
    group by 1, 2
"""


def q_h9_line_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H9 per-line item parse through the REAL kernel
    (reference_semantics.extract_line_items, field_extractor.py:176-281)
    over layout-shaped synthesized words — 6 lines per doc, 40px apart, so
    group_lines recovers exactly the constructed lines and the per-line
    classification becomes oracle-expressible. Line families by
    (doc_id + li) % 5: 0 qty + two prices (second price shifts the first
    into unit_price); 1 single price (unit == total); 2 skip keyword ->
    dropped; 3 no price -> dropped; 4 qty + one price (unit derived by
    round(total/qty, 2))."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def money(cents: int, dollar: bool = False) -> str:
        return ("$" if dollar else "") + f"{cents // 100}.{cents % 100:02d}"

    def build_lines(d: int):
        lines = []
        for li in range(6):
            fam = (d + li) % 5
            if fam == 0:
                q = li % 3 + 2
                u = (d * 7 + li * 13) % 2000 + 100
                toks = [f"Item{d % 100}", f"{q}x", money(u, True), money(q * u)]
            elif fam == 1:
                toks = [f"Widget{d % 100}", money((d * 11 + li) % 5000 + 50)]
            elif fam == 2:
                toks = ["Total:", money((d * 13 + li) % 4000 + 100)]
            elif fam == 3:
                toks = ["plain", "words", "only"]
            else:
                q = li % 4 + 1
                u = (d * 3 + li * 17) % 3000 + 100
                toks = [f"Gadget{d % 100}", f"x{q}", money(q * u)]
            lines.append((li, toks))
        return lines

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                words = []
                for li, toks in build_lines(d):
                    y0 = 50 + li * 40
                    for wi, tok in enumerate(toks):
                        conf = 0.9 + (li * 7 + wi * 3) % 10 / 100.0
                        words.append(
                            (tok, wi * 100, y0, wi * 100 + 80, y0 + 30, conf)
                        )
                for it in ref_sem.extract_line_items(words):
                    b = it["box"]
                    rows.append(
                        (
                            d, it["description"], it["quantity"],
                            it["unit_price"], it["line_total"],
                            it["confidence"],
                            b["x0"], b["y0"], b["x1"], b["y1"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "description", "quantity", "unit_price",
                    "line_total", "conf", "bx0", "by0", "bx1", "by1",
                ],
            )

    out = docs.mapInPandas(
        kernel,
        "doc_id long, description string, quantity int, unit_price double, "
        "line_total double, conf double, bx0 long, by0 long, bx1 long, "
        "by1 long",
    )
    return out.withColumn("conf", F.round("conf", 6))


_ORACLE_H9 = """
    with lines as (
        select doc_id, u.li, (doc_id + u.li) % 5 as fam
        from documents, unnest(range(6)) as u(li)
    ),
    f as (
        select doc_id, li, fam,
            li % 3 + 2 as q0,
            (doc_id * 7 + li * 13) % 2000 + 100 as u0,
            (doc_id * 11 + li) % 5000 + 50 as p1,
            li % 4 + 1 as q4,
            (doc_id * 3 + li * 17) % 3000 + 100 as u4
        from lines where fam in (0, 1, 4)
    ),
    conf as (  -- mean of 0.9 + ((li*7 + wi*3) % 10)/100 over the line's words
        select doc_id, li,
            round(avg(0.9 + (f.li * 7 + w.wi * 3) % 10 / 100.0), 6) as conf
        from f, unnest(range(case when fam = 0 then 4
                                  when fam = 1 then 2 else 3 end)) as w(wi)
        group by doc_id, li
    )
    select f.doc_id,
        case fam when 0 then 'Item' || cast(f.doc_id % 100 as varchar)
                 when 1 then 'Widget' || cast(f.doc_id % 100 as varchar)
                 else 'Gadget' || cast(f.doc_id % 100 as varchar)
        end as description,
        cast(case fam when 0 then q0 when 1 then 1 else q4 end as int)
            as quantity,
        case fam when 0 then u0 / 100.0
                 when 1 then p1 / 100.0
                 else round((q4 * u4 / 100.0) / q4, 2) end as unit_price,
        case fam when 0 then q0 * u0 / 100.0
                 when 1 then p1 / 100.0
                 else q4 * u4 / 100.0 end as line_total,
        conf.conf,
        cast(0 as bigint) as bx0,
        cast(50 + f.li * 40 as bigint) as by0,
        cast(case when fam = 0 then 380 when fam = 1 then 180 else 280 end
            as bigint) as bx1,
        cast(80 + f.li * 40 as bigint) as by1
    from f join conf using (doc_id, li)
"""


def q_s5_s6_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 JSON sink + S6 JSON scan through the REAL operators
    (sources/readers.write_json_results / read_json_results): documents
    written to newline-delimited JSON and read back must preserve every
    value — the oracle aggregates the original table. The sink directory is
    deterministic per sf and overwritten each call (it must outlive the
    returned lazy DataFrame, so no delete-on-exit)."""
    import re as _re2
    import tempfile

    from .sources.readers import read_json_results, write_json_results

    docs = load_table(spark, sf_dir, "documents")
    out_dir = (
        tempfile.gettempdir()
        + "/dp_json_roundtrip_"
        + _re2.sub(r"\W", "_", sf_dir)
    )
    n_in = docs.count()
    write_json_results(docs.select("doc_id", "text", "lang"), out_dir)
    back = read_json_results(
        spark, out_dir, schema="doc_id long, text string, lang string"
    )
    # self-check: a stale/partial sink dir must fail loudly here, never hash
    # a poisoned roundtrip (round-2 red-row hardening)
    n_back = back.count()
    if n_back != n_in:
        raise RuntimeError(
            f"JSON roundtrip row count mismatch: wrote {n_in}, "
            f"read back {n_back} from {out_dir}"
        )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        # F.concat (NOT concat_ws): a NULL text must null the whole row key,
        # matching the oracle's || null-semantics exactly
        F.max(
            F.sha2(
                F.concat(F.col("doc_id").cast("string"), F.lit("|"), "text"),
                256,
            )
        ).alias("max_row_sha"),
    )


_ORACLE_S5_S6 = """
    -- cast: bare sum(int) is HUGEINT (see _ORACLE_H8 note)
    select lang, count(*) as n_docs,
        cast(sum(length(text)) as bigint) as total_chars,
        max(sha256(doc_id || '|' || text)) as max_row_sha
    from documents group by lang
"""


def q_read_results_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Results-lake schema evolution through the REAL operators
    (sources/tables.write_results / read_results): two job generations
    append to the same partitioned results table — generation 2 adds a
    `quality` column — and the mergeSchema read must surface the union
    schema with gen-1 rows null in the new column (the 100 TB lake accretes
    columns across job versions; a read pinned to one footer drops them).
    The sink dir is deterministic per sf and rebuilt at call START (append
    writes would accrete across calls); it outlives the returned lazy
    DataFrame, so it is never deleted on exit."""
    import re as _re2
    import shutil as _shutil
    import tempfile

    from .sources.tables import read_results, write_results

    docs = load_table(spark, sf_dir, "documents")
    out_dir = (
        tempfile.gettempdir()
        + "/dp_results_evo_"
        + _re2.sub(r"\W", "_", sf_dir)
    )
    _shutil.rmtree(out_dir, ignore_errors=True)
    base = docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        F.pmod("doc_id", F.lit(8)).cast("int").alias("url_bucket"),
    )
    gen1 = base.filter(F.col("doc_id") % 2 == 0)
    # 0.25 is a power-of-two step: quality values are exact doubles, so the
    # cross-engine sum is order-insensitive (oracle-rules: no half-ulp drift)
    gen2 = base.filter(F.col("doc_id") % 2 == 1).withColumn(
        "quality", (F.col("doc_id") % 100).cast("double") * F.lit(0.25)
    )
    write_results(gen1, out_dir)
    write_results(gen2, out_dir)
    back = read_results(spark, out_dir, merge_schema=True)
    n_in, n_back = docs.count(), back.count()
    if n_back != n_in:
        raise RuntimeError(
            f"results roundtrip row count mismatch: wrote {n_in}, "
            f"read back {n_back} from {out_dir}"
        )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.sum("n_chars").alias("total_chars"),
        F.count("quality").alias("n_with_quality"),
        F.round(F.sum("quality"), 6).alias("sum_quality"),
    )


_ORACLE_READ_RESULTS = """
    with r as (
        select doc_id, lang, length(text) as n_chars,
            case when doc_id % 2 = 1
                 then (doc_id % 100) * cast(0.25 as double) end as quality
        from documents
    )
    select lang, count(*) as n_rows,
        cast(sum(n_chars) as bigint) as total_chars,
        count(quality) as n_with_quality,
        round(sum(quality), 6) as sum_quality
    from r group by lang
"""


def _docs_fingerprint(docs: DataFrame) -> str:
    """Order-insensitive content hash of (doc_id, text) — the fixture-dir
    cache-key component: a regenerated dataset with the SAME row count but
    different content must yield a different key, so contract fixtures in
    /tmp can never go stale silently (one distributed agg; the per-doc
    sha list is a few hundred KB at contract scale)."""
    row = (
        docs.select(
            F.sha2(
                F.concat_ws("|", F.col("doc_id").cast("string"), "text"), 256
            ).alias("h")
        )
        .agg(F.md5(F.concat_ws(",", F.sort_array(F.collect_list("h")))).alias("fp"))
        .first()
    )
    return row.fp[:12]


def q_s1_s2_binary_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 binaryFile scan + S2 pathGlobFilter through the REAL operator
    (sources/readers.read_binary_dir): per-doc .html files plus decoy .bin
    files land in a deterministic temp dir; the glob-filtered scan must see
    ONLY the html files (the rejected ones are never opened) with
    byte-exact content. Written once per (sf, content-version); the dir
    outlives the lazy result."""
    import os
    import re as _re2
    import tempfile

    from .sources.readers import read_binary_dir

    import glob as _glob
    import shutil as _shutil

    # FIXTURE_CAP bounds the driver-side file writes: a no-op at the gate
    # and bench SFs (doc_id < 5000 covers all of sf0.01/sf0.1), it caps the
    # fixture at 5000 docs for sf1+ so the query stays runnable at any sf
    # without a driver-side 100k-file write (oracle carries the same cap)
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _FIXTURE_CAP)
        .select("doc_id", "text")
    )
    # cache key carries a CONTENT fingerprint (doc count + order-insensitive
    # sha of every (doc_id, text)), and the marker is only trusted if the
    # html file count still matches — a stale dir from a different dataset
    # generation (even same-count) or a partial /tmp cleanup regenerates
    # instead of silently poisoning the contract check
    n_docs = docs.count()
    scan_dir = (
        tempfile.gettempdir()
        + "/dp_binscan_"
        + _re2.sub(r"\W", "_", sf_dir)
        + f"_n{n_docs}_{_docs_fingerprint(docs)}"
    )
    marker = os.path.join(scan_dir, "_WRITTEN")
    valid = (
        os.path.exists(marker)
        and len(_glob.glob(f"{scan_dir}/doc_*.html")) == n_docs
    )
    if not valid:
        _shutil.rmtree(scan_dir, ignore_errors=True)
        os.makedirs(scan_dir, exist_ok=True)
        for r in docs.collect():
            body = f"<p>{r.text}</p>".encode()
            with open(f"{scan_dir}/doc_{r.doc_id}.html", "wb") as f:
                f.write(body)
            with open(f"{scan_dir}/decoy_{r.doc_id}.bin", "wb") as f:
                f.write(b"never opened")
        open(marker, "w").close()
    scanned = read_binary_dir(spark, scan_dir, extensions=("html",))
    doc_id = F.regexp_extract(F.col("url"), r"doc_(\d+)\.html$", 1).cast("long")
    return scanned.select(
        doc_id.alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("html"), 256).alias("content_sha"),
    )


# The fixture-writer queries (s1_s2, warc_ingest) collect their documents to
# write scan files from the driver; the cap keeps that bounded at any sf.
_FIXTURE_CAP = 5000

_ORACLE_S1_S2 = """
    select doc_id,
        octet_length(encode('<p>' || text || '</p>')) as n_bytes,
        sha256('<p>' || text || '</p>') as content_sha
    from documents where doc_id < 5000
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing through the REAL operator
    (multimodal.extract_image_features, mapInPandas over MEDIA-shaped rows):
    payloads synthesized from doc_id arithmetic tile into HxWx3 via the
    deterministic stub decoder; mean luma is closed-form, so the oracle
    re-derives it from the same byte arithmetic. Empty payloads (doc_id %
    11 == 0) exercise the per-row failure contract (status='failed', never
    a task failure)."""
    import pandas as pd

    from .operators.multimodal import extract_image_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def media_kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                payload = (
                    b""
                    if d % 11 == 0
                    else bytes([(d * 37 + j) % 256 for j in range(64)])
                )
                rows.append(
                    (
                        f"media-{d}", payload,
                        16 + (d % 4) * 8, 16 + (d % 3) * 8,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "payload", "width", "height"]
            )

    media = docs.mapInPandas(
        media_kernel, "media_id string, payload binary, width int, height int"
    )
    feats = extract_image_features(media)
    return feats.select("media_id", "n_bytes", "mean_luma", "status")


_ORACLE_MULTIMODAL = """
    with d as (
        select doc_id, 16 + (doc_id % 4) * 8 as w, 16 + (doc_id % 3) * 8 as h,
            doc_id % 11 = 0 as is_empty
        from documents
    ),
    lum as (
        -- the stub decoder tiles the 64-byte payload into w*h*3 bytes;
        -- pixel k's channels are tiled bytes 3k/3k+1/3k+2, so the mean
        -- luma is the weighted byte sum over the tiled index range
        select doc_id,
            sum((case i % 3 when 0 then 0.299 when 1 then 0.587
                 else 0.114 end) * ((doc_id * 37 + (i % 64)) % 256)) as s
        from d, lateral unnest(range(w * h * 3)) as u(i)
        where not is_empty
        group by doc_id
    )
    select 'media-' || d.doc_id as media_id,
        cast(case when is_empty then 0 else 64 end as bigint) as n_bytes,
        round(s / (w * h), 6) as mean_luma,
        case when is_empty then 'failed' else 'done' end as status
    from d left join lum using (doc_id)
"""


def q_p_ops_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P3/P4/P6 through the REAL chained operator
    (imageprep.preprocess_media: deskew -> grayscale -> remove-background ->
    sigmoidal contrast -> denoise, one mapInPandas stage). Inputs are
    horizontal-band binary images (values {0,255} only), which makes every
    float stage endpoint-exact: auto-level and the sigmoid LUT fix 0->0 and
    255->255 regardless of exp() bit patterns, the projection-profile deskew
    of axis-aligned bands is provably 0 shear, and the 3x3 mean over
    row-uniform rows is 85*(white(r-1)+white(r)+white(r+1)) exactly (765*s/9
    is exact integer arithmetic in double). The oracle re-derives mean
    intensity and ink count per row in closed form. Empty payloads
    (doc_id % 13 == 0) exercise the per-row failure contract."""
    import numpy as np
    import pandas as pd

    from .operators.imageprep import preprocess_media

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def media_kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                h = 12 + (d % 3) * 4
                b = 2 + (d % 2)
                p = d % 4
                if d % 13 == 0:
                    payload = b""
                else:
                    band = (((np.arange(h) + p) // b) % 2 == 0)
                    payload = np.repeat(
                        np.where(band, 255, 0).astype(np.uint8), 3 * 64
                    ).tobytes()
                rows.append((f"media-{d}", payload, 64, h))
            yield pd.DataFrame(
                rows, columns=["media_id", "payload", "width", "height"]
            )

    media = docs.mapInPandas(
        media_kernel, "media_id string, payload binary, width int, height int"
    )
    feats = preprocess_media(media)
    return feats.select(
        "media_id", "width", "height", "safe_dpi",
        "mean_intensity", "ink_pixels", "skew_deg", "status",
    )


_ORACLE_P_CHAIN = """
    with d as (
        select doc_id, 12 + (doc_id % 3) * 4 as h,
            2 + (doc_id % 2) as b, doc_id % 4 as p,
            doc_id % 13 = 0 as is_empty
        from documents
    ),
    rowvals as (
        -- post-denoise intensity of row r is 85 * (white neighbors among
        -- rows r-1, r, r+1, edge-replicated); white(r) = ((r+p)//b) % 2 = 0
        select doc_id,
            85 * (
              (case when ((greatest(r - 1, 0) + p) // b) % 2 = 0
                    then 1 else 0 end)
            + (case when ((r + p) // b) % 2 = 0 then 1 else 0 end)
            + (case when ((least(r + 1, h - 1) + p) // b) % 2 = 0
                    then 1 else 0 end)
            ) as v
        from d, lateral unnest(range(h)) as u(r)
        where not is_empty
    ),
    agg as (
        select doc_id,
            round(sum(v)::double / count(*), 6) as mean_i,
            64 * sum(case when v < 128 then 1 else 0 end) as ink
        from rowvals group by doc_id
    )
    select 'media-' || d.doc_id as media_id,
        cast(case when is_empty then null else 64 end as int) as width,
        cast(case when is_empty then null else h end as int) as height,
        cast(case when is_empty then null else 300 end as int) as safe_dpi,
        mean_i as mean_intensity,
        cast(ink as bigint) as ink_pixels,
        cast(case when is_empty then null else 0 end as int) as skew_deg,
        case when is_empty then 'failed' else 'done' end as status
    from d left join agg using (doc_id)
"""


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 Common-Crawl-native ingestion through the REAL reader
    (sources/warc.read_warc: binaryFile scan + mapInPandas WARC parser,
    per-member gzip, HTTP header/body split — reference scan analog at
    Ocr/src/cli/commands.py:34-66). Documents are serialized into 8 WARC
    files (alternating plain / per-record-gzip members) plus one corrupt
    file and one decoy extension; the scan must recover every page with
    byte-exact bodies, parsed timestamps, and zero rows from the decoys.
    Dir is deterministic per (sf, n_docs, content-fingerprint) and outlives
    the lazy result."""
    import glob as _glob
    import gzip as _gzip
    import os
    import re as _re2
    import shutil as _shutil
    import tempfile
    from datetime import datetime as _dt, timedelta as _td

    from .sources.warc import read_warc, write_warc

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _FIXTURE_CAP)  # same cap as s1_s2: bounds
        .select("doc_id", "text")               # the driver-side WARC write
    )
    n_docs = docs.count()
    warc_dir = (
        tempfile.gettempdir()
        + "/dp_warcscan_"
        + _re2.sub(r"\W", "_", sf_dir)
        + f"_n{n_docs}_{_docs_fingerprint(docs)}"
    )
    marker = os.path.join(warc_dir, "_WRITTEN")
    valid = (
        os.path.exists(marker)
        and len(_glob.glob(f"{warc_dir}/pages_*.warc*")) == 8
    )
    if not valid:
        _shutil.rmtree(warc_dir, ignore_errors=True)
        os.makedirs(warc_dir, exist_ok=True)
        base_ts = _dt(2024, 1, 15, 12, 0, 0)
        groups: dict[int, list] = {g: [] for g in range(8)}
        for r in docs.collect():
            d = int(r.doc_id)
            groups[d % 8].append(
                (
                    f"https://site{d % 7}.example.com/page/{d}",
                    base_ts + _td(seconds=d),
                    f"<html><body><p>{r.text}</p></body></html>".encode(),
                )
            )
        for g, recs in groups.items():
            gz = g % 2 == 0
            data = write_warc(recs, gzip_member=gz)
            name = f"pages_{g}.warc.gz" if gz else f"pages_{g}.warc"
            with open(os.path.join(warc_dir, name), "wb") as f:
                f.write(data)
        # corrupt member: bad content-length -> skipped, never a task failure
        with open(os.path.join(warc_dir, "corrupt.warc"), "wb") as f:
            f.write(b"WARC/1.0\r\nWARC-Type: response\r\n"
                    b"WARC-Target-URI: https://bad.example.com\r\n"
                    b"Content-Length: oops\r\n\r\njunk")
        # decoy extension: glob-filtered at listing, never opened
        with open(os.path.join(warc_dir, "notes.txt"), "wb") as f:
            f.write(b"not a warc")
        open(marker, "w").close()
    pages = read_warc(spark, warc_dir)
    return pages.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.length("html").alias("n_bytes"),
        F.sha2("html", 256).alias("content_sha"),
    )


_ORACLE_WARC = """
    select 'https://site' || (doc_id % 7) || '.example.com/page/' || doc_id
            as url,
        strftime(timestamp '2024-01-15 12:00:00'
                 + doc_id * interval 1 second, '%Y-%m-%d %H:%M:%S') as ts_str,
        cast(octet_length(encode(
            '<html><body><p>' || text || '</p></body></html>')) as int)
            as n_bytes,
        sha256('<html><body><p>' || text || '</p></body></html>')
            as content_sha
    from documents where doc_id < 5000
"""


def q_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct sketch through the REAL operator
    (operators/sketch.kmv_sketch). md5-based, so — unlike HLL/Count-Min —
    the ESTIMATE itself is hash-comparable across engines. Two rows cover
    both regimes: documents.doc_id (distinct ≥ k → (k-1)/h_(k) estimator)
    and events.user_id (distinct < k → exact)."""
    from .operators.sketch import kmv_sketch

    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    a = kmv_sketch(docs, "doc_id", k=64).select(
        F.lit("documents.doc_id").alias("col"), "k", "kth_hash",
        "distinct_estimate",
    )
    b = kmv_sketch(events, "user_id", k=64).select(
        F.lit("events.user_id").alias("col"), "k", "kth_hash",
        "distinct_estimate",
    )
    return a.unionByName(b)


_ORACLE_KMV = f"""
    with sk as (
        select 'documents.doc_id' as col, h from (
            select distinct {h60_sql("cast(doc_id as varchar)")} as h
            from documents
        ) order by h limit 64
    ),
    sk2 as (
        select 'events.user_id' as col, h from (
            select distinct {h60_sql("cast(user_id as varchar)")} as h
            from events
        ) order by h limit 64
    ),
    merged as (select * from sk union all select * from sk2),
    agg as (
        select col, max(h) as kth_hash,
            case when count(*) < 64 then cast(count(*) as double)
                 else round(63.0 * 1152921504606846976 / max(h)) end
                as distinct_estimate
        from merged group by col
    )
    -- label spine: an empty table still yields its (0-estimate) row,
    -- matching the Spark side's global aggregate
    select s.col, cast(64 as int) as k, agg.kth_hash,
        coalesce(agg.distinct_estimate, 0.0) as distinct_estimate
    from (values ('documents.doc_id'), ('events.user_id')) s(col)
    left join agg using (col)
"""


def q_asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN through the REAL operator (operators/asof.asof_join:
    union-window carry-forward, one shuffle on the key, no range cross
    product) — each click attributed to the user's most recent prior-or-
    equal purchase. NTZ timestamps compared directly (no casts, no session
    tz surface). The oracle is DuckDB's NATIVE ASOF LEFT JOIN — which
    leaves (user_id, ts)-tied right rows UNSPECIFIED, so purchases are
    deduplicated to the max event_id per (user_id, ts) on BOTH sides
    (current testdata is tie-free; the dedup makes the contract hold for
    any regeneration)."""
    from pyspark.sql import Window

    from .operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    tie_w = Window.partitionBy("user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .withColumn("__rn", F.row_number().over(tie_w))
        .where(F.col("__rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )
    res = asof_join(
        clicks,
        purchases,
        on="user_id",
        ts="ts",
        values=["event_id", "value"],
        tiebreak="event_id",
    )
    return res.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("event_id_asof").alias("purchase_id"),
        F.round("value_asof", 2).alias("purchase_value"),
    )


_ORACLE_ASOF = """
    select c.event_id as click_id,
        c.user_id,
        p.event_id as purchase_id,
        round(p.value, 2) as purchase_value
    from (select * from events where event_type = 'click') c
    asof left join
         (select * from events where event_type = 'purchase'
          qualify row_number() over (partition by user_id, ts
                                     order by event_id desc) = 1) p
      on c.user_id = p.user_id and c.ts >= p.ts
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition filters through the REAL operator
    (textstats.repetition_stats): top-bigram and duplicate-bigram fractions
    as native higher-order functions (aggregate fold over the sorted bigram
    array) — map-only, zero shuffle, zero Python. The oracle re-derives
    both from an unnest+group in DuckDB."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return textstats.repetition_stats(docs).select(
        "doc_id", "n_bigrams", "top_bigram_frac", "dup_bigram_frac"
    )


_ORACLE_REPETITION = """
    with w as (
        select doc_id, string_split(text, ' ') as ws from documents
    ),
    bg as (
        select doc_id, ws[i + 1] || ' ' || ws[i + 2] as g
        from w, lateral unnest(range(len(ws) - 1)) as t(i)
        where len(ws) >= 2
    ),
    counted as (
        select doc_id, g, count(*) as c from bg group by doc_id, g
    ),
    agg as (
        select doc_id, sum(c) as n, count(*) as nd, max(c) as topc
        from counted group by doc_id
    )
    select w.doc_id,
        cast(n as int) as n_bigrams,
        round(topc / n, 6) as top_bigram_frac,
        round((n - nd) / n, 6) as dup_bigram_frac
    from w left join agg using (doc_id)
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio column plumbing through the REAL operator
    (multimodal.extract_audio_features): payloads are little-endian int16
    PCM synthesized from doc_id byte arithmetic, so RMS (integer
    sum-of-squares, one double division, one sqrt — bit-identical across
    engines), zero-crossing count, and duration are all closed-form in SQL.
    Empty payloads (doc_id % 17 == 0) exercise the failure contract."""
    import pandas as pd

    from .operators.multimodal import extract_audio_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def media_kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if d % 17 == 0:
                    payload = b""
                else:
                    ns = 40 + (d % 29) * 2
                    payload = bytes(
                        (d * 31 + j) % 256 for j in range(2 * ns)
                    )
                rows.append((f"audio-{d}", payload))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(media_kernel, "media_id string, payload binary")
    feats = extract_audio_features(media)
    return feats.select(
        "media_id", "n_samples", "duration_ms", "rms",
        "zero_crossings", "status",
    )


_ORACLE_AUDIO = """
    with d as (
        select doc_id, 40 + (doc_id % 29) * 2 as ns,
            doc_id % 17 = 0 as is_empty
        from documents
    ),
    samp as (
        -- sample i = int16(LE) of payload bytes 2i, 2i+1
        select doc_id, i,
            case when u >= 32768 then u - 65536 else u end as s
        from (
            select doc_id, i,
                ((doc_id * 31 + 2 * i) % 256)
                + 256 * ((doc_id * 31 + 2 * i + 1) % 256) as u
            from d, lateral unnest(range(ns)) as t(i)
            where not is_empty
        )
    ),
    lagged as (
        select doc_id, s,
            lag(s) over (partition by doc_id order by i) as prev
        from samp
    ),
    agg as (
        select doc_id,
            round(sqrt(sum(s * s)::double / count(*)), 6) as rms,
            sum(case when prev is not null and (prev < 0) <> (s < 0)
                     then 1 else 0 end) as zc
        from lagged
        group by doc_id
    )
    select 'audio-' || d.doc_id as media_id,
        cast(case when is_empty then null else ns end as bigint) as n_samples,
        cast(case when is_empty then null else ns * 1000 // 16000 end
             as bigint) as duration_ms,
        rms,
        cast(zc as bigint) as zero_crossings,
        case when is_empty then 'failed' else 'done' end as status
    from d left join agg using (doc_id)
"""


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling through the REAL operator
    (multimodal.sample_video_frames): per-doc fake videos of 2..5 frames
    (duration metadata at 1 fps), every 2nd frame sampled, per-frame mean
    luma re-derived in SQL from the tiled byte cycle (the frame axis
    continues the image stub's arithmetic). Explodes INSIDE the kernel —
    raw frames never serialize. Empty payloads (doc_id % 19 == 0) exercise
    the failure contract."""
    import pandas as pd

    from .operators.multimodal import sample_video_frames

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def media_kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                payload = (
                    b""
                    if d % 19 == 0
                    else bytes((d * 29 + j) % 256 for j in range(48))
                )
                rows.append(
                    (f"video-{d}", payload, 8, 4, (2 + d % 4) * 1000)
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "payload", "width", "height",
                         "duration_ms"],
            )

    media = docs.mapInPandas(
        media_kernel,
        "media_id string, payload binary, width int, height int,"
        " duration_ms long",
    )
    frames = sample_video_frames(media, every_n=2)
    return frames.select("media_id", "frame_idx", "mean_luma", "status")


_ORACLE_VIDEO = """
    with d as (
        select doc_id, 2 + doc_id % 4 as n_frames,
            doc_id % 19 = 0 as is_empty
        from documents
    ),
    sampled as (
        select doc_id, cast(f * 2 as int) as frame_idx
        from d, lateral unnest(range((n_frames + 1) // 2)) as t(f)
        where not is_empty
    ),
    luma as (
        -- frame f, byte slot i of 8*4*3=96: tiled payload byte
        -- (doc_id*29 + (96*f + i) % 48) % 256, luma-weighted by channel
        select doc_id, frame_idx,
            round(sum(
                (case i % 3 when 0 then 0.299 when 1 then 0.587
                 else 0.114 end)
                * ((doc_id * 29 + (96 * frame_idx + i) % 48) % 256)
            ) / 32, 6) as mean_luma
        from sampled, lateral unnest(range(96)) as u(i)
        group by doc_id, frame_idx
    )
    select 'video-' || d.doc_id as media_id,
        luma.frame_idx,
        luma.mean_luma,
        case when is_empty then 'failed' else 'done' end as status
    from d left join luma using (doc_id)
"""


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text+layout extraction through the REAL operators
    (sources/pdf.write_pdf fixture writer -> extract_pdf_documents content-
    stream parser; reference PDF path: pdf2image+OCR at cli/utils.py:98-117).
    Each document is laid out into a multi-page PDF (4 lines/page, so page
    fan-out is exercised) with FlateDecode compression on even doc_ids; the
    parser must recover BYTE-IDENTICAL text per url — the north-rule
    invariant — plus exact word and page counts."""
    import pandas as pd

    from .sources.pdf import extract_pdf_documents, write_pdf

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def synth_kernel(batches):
        for pdf in batches:
            rows = [
                (
                    f"pdf://{int(r.doc_id)}",
                    write_pdf(
                        r.text,
                        words_per_line=8,
                        lines_per_page=4,
                        compress=int(r.doc_id) % 2 == 0,
                    ),
                )
                for r in pdf.itertuples(index=False)
            ]
            yield pd.DataFrame(rows, columns=["url", "pdf"])

    pdfs = docs.mapInPandas(synth_kernel, "url string, pdf binary")
    res = extract_pdf_documents(pdfs)
    doc_id = F.regexp_extract("url", r"^pdf://(\d+)$", 1).cast("long")
    return res.select(
        doc_id.alias("doc_id"),
        F.col("extracted_text"),
        F.col("n_words"),
        F.col("n_pages"),
        F.col("status"),
    )


_ORACLE_PDF = """
    select doc_id,
        text as extracted_text,
        cast(len(string_split(text, ' ')) as int) as n_words,
        cast(ceil(ceil(len(string_split(text, ' ')) / 8.0) / 4.0) as int)
            as n_pages,
        'done' as status
    from documents
"""


def q_h13_bucket_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H13 deterministic job bucketing (plans/pipeline.with_url_bucket:
    xxhash64(url) % n, never Python hash()): bucket-occupancy distribution
    over synthesized urls. ROWS-ONLY driver check — xxhash64 has no DuckDB
    twin; determinism and balance are asserted here (64 non-empty buckets,
    max skew bounded), byte-level stability is pinned by the resume tests."""
    from .plans.pipeline import with_url_bucket

    docs = load_table(spark, sf_dir, "documents")
    urls = docs.select(
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 37).cast("string"),
            F.lit(".example/p/"), F.col("doc_id").cast("string"),
        ).alias("url")
    )
    dist = (
        with_url_bucket(urls, n_buckets=64)
        .groupBy("url_bucket")
        .agg(F.count("*").alias("n_urls"))
    )
    # skew guard over the WHOLE distribution: if ANY bucket exceeds
    # max(8x the mean, 4) the cross-joined guard row disappears and the
    # ENTIRE result is empty => red rows-only check (filtering only the
    # violating rows would silently pass). The absolute floor of 4 keeps
    # tiny scale factors (mean < 1 url/bucket) from tripping the bound on
    # ordinary collisions; no all-64-occupied requirement — small corpora
    # cannot fill 64 buckets.
    total = docs.count()
    bound = max(total / 8.0, 4.0)
    guard = dist.agg(F.max("n_urls").alias("mx")).where(
        F.col("mx") <= F.lit(bound)
    )
    return dist.crossJoin(guard).select("url_bucket", "n_urls")


def q_h12_model_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H12 model-first merge through the REAL kernel
    (reference_semantics.extract_fields_with_model, receipt_processor.py:
    362-416 model branch): model entities win; ONLY vendor_name and
    total_amount back-fill from heuristics when the model missed them.
    Families by doc_id % 4: 0 full model entities; 1 vendor missing ->
    heuristic vendor (top-3 by y0); 2 total missing -> heuristic total
    (keyword window, Decimal truthiness); 3 no predictions at all -> full
    heuristic path. The oracle reproduces the backfills relationally (the
    proven H1/H2 shapes over the same injected receipt words)."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    w = _receipt_words(spark, sf_dir)
    ordered = F.array_sort(
        F.collect_list(
            F.struct("pos", "tok", "x0", "y0", "x1", "y1", "conf")
        )
    )
    per_doc = w.groupBy("doc_id").agg(ordered.alias("ws"))

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("vendor_value", StringType()),
            StructField("vendor_conf", DoubleType()),
            StructField("total_value", StringType()),
            StructField("total_conf", DoubleType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, ws in zip(pdf["doc_id"], pdf["ws"]):
                words = [
                    (s["tok"], s["x0"], s["y0"], s["x1"], s["y1"], s["conf"])
                    for s in ws
                ]
                d = int(doc_id)
                fam = d % 4
                if fam == 3:
                    preds = None
                else:
                    ents = {
                        "vendor_name": None, "date": None,
                        "total_amount": None, "subtotal": None,
                        "tax_amount": None, "line_items": [],
                    }
                    if fam != 1:
                        ents["vendor_name"] = {
                            "value": f"Model Vendor {d % 90 + 10}",
                            "confidence": 0.9, "box": None,
                        }
                    if fam != 2:
                        ents["total_amount"] = {
                            "value": f"{d % 990 + 10}.00",
                            "confidence": 0.85, "box": None,
                        }
                    preds = {"entities": ents}
                r = ref_sem.extract_fields_with_model(preds, words)
                v, t = r["vendor_name"], r["total_amount"]
                rows.append(
                    (
                        d,
                        v["value"] if v else None,
                        v["confidence"] if v else None,
                        t["value"] if t else None,
                        t["confidence"] if t else None,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    merged = per_doc.mapInPandas(kernel, out_schema)
    return merged.select(
        "doc_id",
        "vendor_value",
        F.round("vendor_conf", 6).alias("vendor_conf"),
        "total_value",
        F.round("total_conf", 6).alias("total_conf"),
    )


_ORACLE_H12 = _SQL_RWORDS + r"""
    , hv as (  -- heuristic vendor: top-3 by (y0, pos), H1 shape
        select doc_id,
            string_agg(tok, ' ' order by y0 asc, pos asc) as v_value,
            round(avg(conf), 6) as v_conf
        from (
            select *, row_number() over (
                partition by doc_id order by y0 asc, pos asc
            ) as rn from rwords
        ) where rn <= 3
        group by doc_id
    ),
    kw as (
        select doc_id, pos as kw_pos from rwords
        where contains(lower(tok), 'total') or contains(lower(tok), 'grand')
           or contains(lower(tok), 'amount') or contains(lower(tok), 'due')
           or contains(lower(tok), 'balance')
    ),
    cand as (
        select doc_id, pos as m_pos,
            replace(regexp_extract(tok,
                '\$?\s*(\d{1,3}(?:,\d{3})*(?:\.\d{2})?)', 1), ',', '') as amt,
            conf
        from rwords
    ),
    ht as (  -- heuristic total: keyword -> forward window, zero skipped
        select doc_id, amt as t_value, round(conf, 6) as t_conf,
            row_number() over (
                partition by doc_id order by kw_pos asc, m_pos asc
            ) as rn
        from kw join cand using (doc_id)
        where amt <> '' and try_cast(amt as double) <> 0
          and m_pos >= kw_pos and m_pos <= kw_pos + 4
    ),
    f as (
        select doc_id, doc_id % 4 as fam,
            'Model Vendor ' || cast(doc_id % 90 + 10 as varchar) as mv,
            cast(doc_id % 990 + 10 as varchar) || '.00' as mt
        from documents
    )
    select f.doc_id,
        case when fam in (0, 2) then mv else hv.v_value end as vendor_value,
        round(case when fam in (0, 2) then 0.9 else hv.v_conf end, 6)
            as vendor_conf,
        case when fam in (0, 1) then mt else ht.t_value end as total_value,
        round(case when fam in (0, 1) then 0.85 else ht.t_conf end, 6)
            as total_conf
    from f
    left join hv on hv.doc_id = f.doc_id
    left join (select * from ht where rn = 1) ht on ht.doc_id = f.doc_id
"""


# ---------------------------------------------------------------------------
# full extraction pipeline (non-SQL-expressible → rows-only driver check)
# ---------------------------------------------------------------------------


def q_pipeline_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: documents wrapped into the pages shape → full stage-1/2
    extraction. The heuristic fold (H2/H8/H9 first-match and anchor rules)
    is sequential per document — deliberately not oracle'd in SQL; its
    byte-identity is pinned by tests/test_extract_spark.py instead."""
    docs = load_table(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("doc://"), F.col("source"), F.lit("/"), F.col("doc_id")).alias(
            "url"
        ),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    res = extract_from_pages(pages)
    return res.select(
        "url",
        "extracted_text",
        F.col("vendor_name.value").alias("vendor_value"),
        F.col("currency.value").alias("currency_value"),
        "status",
    )


# The flagship DOES have an exact SQL oracle on this input shape: with
# html=null the stage-1 tokenizer lays all of `text` on one line, so
# extracted_text round-trips to text, the stable y0-sort makes vendor the
# first 3 tokens, and currency is the H5 CASE over the text.
_ORACLE_PIPELINE = """
    select
        'doc://' || source || '/' || doc_id as url,
        text as extracted_text,
        case when len(string_split(text, ' ')) > 0
             then array_to_string(string_split(text, ' ')[1:3], ' ')
             end as vendor_value,
        case
            when text like '%$%' or text like '%USD%' then 'USD'
            when text like '%€%' or text like '%EUR%' then 'EUR'
            when text like '%£%' or text like '%GBP%' then 'GBP'
            end as currency_value,
        'done' as status
    from documents
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms through the REAL operator
    (textstats.tfidf_top_terms): tf from an explode+groupBy, document
    frequency from a second aggregate, score = tf * (N+1)/(df+1) — the
    log-free smoothed idf, chosen because it is an exact IEEE double of
    integer operands on BOTH engines (libm ln() is not ulp-pinned across
    JVM/C and a last-ulp flip under the rounding boundary would flip a
    rank). Ranking key is the ROUNDED score with term as tie-break, per
    the cross-engine ranking rule."""
    from .operators.textstats import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3)


_ORACLE_TFIDF = """
    with n as (select count(*) as n_docs from documents),
    terms as (
        select doc_id, t.term
        from documents, lateral unnest(string_split_regex(text, ' +')) as t(term)
        where t.term <> ''
    ),
    tf as (
        select doc_id, term, count(*) as tf
        from terms group by doc_id, term
    ),
    docfreq as (
        select term, count(*) as df from tf group by term
    ),
    scored as (
        -- EXACT integer half-up microscore, same formula as the operator:
        -- round(double, 6) diverges on half boundaries (tpch_q10 class)
        select tf.doc_id, tf.term, tf.tf,
            (2 * tf.tf * (n.n_docs + 1) * 1000000 + (docfreq.df + 1))
                // (2 * (docfreq.df + 1)) as score_micro
        from tf join docfreq using (term) cross join n
    ),
    ranked as (
        select *, row_number() over (
            partition by doc_id order by score_micro desc, term asc) as rank
        from scored
    )
    select doc_id, term, cast(tf as bigint) as tf,
        cast(score_micro as double) / 1000000.0 as score,
        cast(rank as int) as rank
    from ranked where rank <= 3
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over near-dup pairs through the REAL operator
    (operators/graph.dedup_clusters — iterative min-label propagation,
    localCheckpoint-truncated lineage): a deterministic edge set built
    from doc_id arithmetic (per 10-doc block, a chain of (block%7)+2
    nodes; every 3rd block adds a (start, start+5) edge that either
    shortcuts the chain or merges an isolated node — chains, stars and
    redundant edges all exercised). The oracle computes the identical
    transitive closure with a DuckDB recursive CTE — an exact,
    SQL-expressible twin for an ITERATIVE Spark algorithm."""
    from .operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    blk = F.floor(d / 10)
    off = d % 10
    e1 = docs.where(off < (blk % 7) + 1).select(
        d.alias("doc_a"), (d + 1).alias("doc_b")
    )
    e2 = docs.where((blk % 3 == 0) & (off == 0)).select(
        d.alias("doc_a"), (d + 5).alias("doc_b")
    )
    return dedup_clusters(e1.union(e2))


_ORACLE_DEDUP_CLUSTERS = """
    with recursive
    e1 as (
        select doc_id as u, doc_id + 1 as v from documents
        where doc_id % 10 < (doc_id // 10) % 7 + 1
    ),
    e2 as (
        select doc_id as u, doc_id + 5 as v from documents
        where (doc_id // 10) % 3 = 0 and doc_id % 10 = 0
    ),
    edges as (select u, v from e1 union select u, v from e2),
    sym as (select u, v from edges union select v as u, u as v from edges),
    reach(node, lbl) as (
        select u, u from sym
        union
        select s.u, r.lbl from sym s join reach r on s.v = r.node
    ),
    comp as (
        select node, min(lbl) as canonical_id from reach group by node
    )
    select node as doc_id, canonical_id,
        count(*) over (partition by canonical_id) as cluster_size
    from comp
"""


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning through the REAL operator
    (textstats.c4_clean — native filter/transform, map-only): documents are
    re-laid-out as deterministic multi-line pages (6-token lines; every
    (i+doc)%4==0 line truncated to 2 words, every (i+doc)%3==0 line left
    without terminal punctuation — exercising both line rules), docs with
    doc_id%13==0 get a code-brace line and %17==0 a lorem-ipsum line
    (exercising both document rules). The oracle rebuilds the identical
    layout and replays the identical predicates with DuckDB list lambdas."""
    from .operators.textstats import c4_clean

    docs = load_table(spark, sf_dir, "documents").select(
        # split materialized once per doc — inline splits captured by the
        # line lambda would re-evaluate per line (r6 shingle finding)
        "doc_id", F.split(F.col("text"), " ").alias("_toks")
    )
    d = F.col("doc_id")
    toks = F.col("_toks")
    n_lines = F.floor(F.size(toks) / 6).cast("int")

    def line(i):
        ln = F.when((i + d) % 4 == 0, F.lit(2)).otherwise(F.lit(6))
        base = F.array_join(F.slice(toks, i * 6 + 1, ln), " ")
        return F.concat(
            base,
            F.when((i + d) % 3 != 0, F.lit(".")).otherwise(F.lit("")),
        )

    lines = F.when(
        n_lines >= 1, F.transform(F.sequence(F.lit(0), n_lines - 1), line)
    ).otherwise(F.array().cast("array<string>"))
    extra = (
        F.when(d % 13 == 0, F.array(F.lit("broken code { here }")))
        .when(d % 17 == 0, F.array(F.lit("Lorem Ipsum dolor sit amet.")))
        .otherwise(F.array().cast("array<string>"))
    )
    salted = docs.select(
        "doc_id", F.array_join(F.concat(lines, extra), "\n").alias("text")
    )
    out = c4_clean(salted)
    return out.select(
        "doc_id",
        "n_lines_kept",
        "c4_keep",
        F.sha2(F.col("text_clean"), 256).alias("clean_sha"),
    )


_ORACLE_C4 = """
    with t as (
        select doc_id, string_split(text, ' ') as toks,
            cast(floor(len(string_split(text, ' ')) / 6) as int) as n_lines
        from documents
    ),
    lines as (
        select doc_id, i,
            list_aggr(toks[i * 6 + 1 :
                i * 6 + (case when (i + doc_id) % 4 = 0 then 2 else 6 end)],
                'string_agg', ' ')
            || case when (i + doc_id) % 3 <> 0 then '.' else '' end as line
        from t, lateral unnest(range(n_lines)) as u(i)
    ),
    body as (
        select t.doc_id,
            coalesce(string_agg(l.line, chr(10) order by l.i), '') as b
        from t left join lines l using (doc_id)
        group by t.doc_id
    ),
    full_docs as (
        select doc_id,
            b || case
                when doc_id % 13 = 0 then
                    (case when b = '' then '' else chr(10) end)
                    || 'broken code { here }'
                when doc_id % 17 = 0 then
                    (case when b = '' then '' else chr(10) end)
                    || 'Lorem Ipsum dolor sit amet.'
                else '' end as full_text
        from body
    ),
    cleaned as (
        select doc_id, full_text,
            list_filter(string_split(full_text, chr(10)), l ->
                right(trim(l), 1) in ('.', '!', '?', '"')
                and len(string_split_regex(trim(l), ' +')) >= 5
            ) as kept
        from full_docs
    )
    select doc_id,
        cast(len(kept) as int) as n_lines_kept,
        (not contains(full_text, '{'))
            and (not contains(lower(full_text), 'lorem ipsum'))
            and len(kept) >= 3 as c4_keep,
        sha256(coalesce(list_aggr(kept, 'string_agg', chr(10)), ''))
            as clean_sha
    from cleaned
"""


def q_session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator (the stateful merging
    session window, distinct machinery from h8's lag+cumsum formulation)
    certified against the relational lag-gap-cumsum oracle: per user,
    session count, event total, and the largest session. Boundary
    semantics probed before writing the oracle: a gap of EXACTLY the gap
    duration stays in-session (split on strict >), matching h8. NTZ
    timestamps throughout — session_window on NTZ does no tz conversion,
    so the oracle's epoch_us arithmetic is tz-independent."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    per_session = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(F.count("*").alias("n_ev"))
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_ev").alias("n_events"),
        F.max("n_ev").alias("max_session_events"),
    )


_ORACLE_SESSION_WINDOW = """
    with marked as (
        select user_id, ts,
            case when lag(ts) over (partition by user_id order by ts) is null
                 or epoch_us(ts) - epoch_us(lag(ts) over (
                        partition by user_id order by ts)) > 30 * 60 * 1000000
                 then 1 else 0 end as new_session
        from events
        where ts is not null
    ),
    sessions as (
        select user_id,
            sum(new_session) over (partition by user_id order by ts
                rows unbounded preceding) as session_id
        from marked
    ),
    per_session as (
        select user_id, session_id, count(*) as n_ev
        from sessions group by user_id, session_id
    )
    select user_id,
        count(*) as n_sessions,
        cast(sum(n_ev) as bigint) as n_events,
        cast(max(n_ev) as bigint) as max_session_events
    from per_session group by user_id
"""


def q_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — date-ranged EXISTS semi-join counted by priority.
    Adapted to the testdata schema (lineitem has no commit/receipt dates):
    the lateness predicate is `l_shipdate > o_orderdate + 90 days` instead
    of `l_commitdate < l_receiptdate`; the relational shape (quarter-range
    scan, per-order EXISTS, priority rollup) is Q4's."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_ORACLE_Q4 = """
    select o_orderpriority, count(*) as order_count
    from orders
    where o_orderdate >= timestamp '1996-01-01'
      and o_orderdate < timestamp '1996-04-01'
      and exists (
        select 1 from lineitem
        where l_orderkey = o_orderkey
          and l_shipdate > o_orderdate + interval 90 day
      )
    group by o_orderpriority
"""


def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item revenue per customer, top 20:
    quarter-ranged orders ⋈ returned lineitems ⋈ customer ⋈ broadcast
    nation, revenue in exact integer cents, deterministic top-k by
    (revenue_cents desc, custkey asc)."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    rev = joined.groupBy(
        "c_custkey", "c_name", "c_acctbal", "n_name"
    ).agg(F.sum(_disc_price_cents()).alias("rev_cents"))
    # revenue rounding stays in EXACT integer arithmetic ((x + 50) // 100
    # of the 1e-4-dollar units) — round(double, 2) lands on half-cent
    # boundaries here and Spark (BigDecimal shortest-repr HALF_UP) and
    # DuckDB (raw-binary rounding) disagree on them
    rev2 = F.floor((F.col("rev_cents") + 50) / 100)
    return (
        rev.orderBy(F.col("rev_cents").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            (rev2 / 100.0).alias("revenue"),
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
    )


_ORACLE_Q10 = """
    with rev as (
        select c_custkey, c_name, c_acctbal, n_name,
            sum(cast(round(l_extendedprice * 100) as bigint)
                * (100 - cast(round(l_discount * 100) as bigint))) as rev_cents
        from lineitem
        join orders on l_orderkey = o_orderkey
        join customer on o_custkey = c_custkey
        join nation on c_nationkey = n_nationkey
        where l_returnflag = 'R'
          and o_orderdate >= timestamp '1996-01-01'
          and o_orderdate < timestamp '1996-04-01'
        group by c_custkey, c_name, c_acctbal, n_name
    )
    select c_custkey, c_name,
        -- exact integer half-up at the cent, then one exact division (see
        -- the Spark side: round(double,2) diverges on half-cents)
        cast((rev_cents + 50) // 100 as double) / 100.0 as revenue,
        round(c_acctbal, 2) as acctbal,
        n_name
    from rev
    order by rev_cents desc, c_custkey asc
    limit 20
"""


# ---------------------------------------------------------------------------
# training-data pipeline ops, round 3: PII redaction, deterministic
# sampling, sequence packing, contamination, per-group percentiles
# ---------------------------------------------------------------------------


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing through the REAL operator (operators/pii.redact_pii:
    native regexp chain, codegen, map-only). The documents vocabulary has no
    digits or @-tokens, so deterministic PII is injected by doc_id
    arithmetic — an email (doc_id % 3 == 0), a phone (doc_id % 4 == 1), an
    IPv4 (doc_id % 5 == 2); some docs get several, some none. The oracle
    replays the identical regex pipeline (the patterns live in the portable
    Java==RE2 subset) on the identical reconstruction."""
    from .operators.pii import redact_pii

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d3 = F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0")
    d4 = F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")
    email = F.concat(F.lit(" user"), F.col("doc_id"), F.lit("@example"),
                     F.col("doc_id") % 7, F.lit(".com"))
    phone = F.concat(F.lit(" 555-"), d3, F.lit("-"), d4)
    ip = F.concat(
        F.lit(" "), (F.col("doc_id") % 256).cast("string"),
        F.lit("."), ((F.col("doc_id") * 3) % 256).cast("string"),
        F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit("."), (F.col("doc_id") % 40 + 1).cast("string"),
    )
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, email).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 1, phone).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 2, ip).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = redact_pii(salted, "text")
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ip",
        F.sha2(F.col("text_redacted"), 256).alias("redacted_sha"),
    )


# the oracle's regexes are SINGLE-SOURCED from the operator module (the
# patterns live in the Java==RE2 portable subset, backslashes pass through
# DuckDB standard string literals verbatim) — they cannot drift
from .operators.pii import EMAIL_RE as _EMAIL_RE  # noqa: E402
from .operators.pii import IPV4_RE as _IPV4_RE  # noqa: E402
from .operators.pii import PHONE_RE as _PHONE_RE  # noqa: E402

_ORACLE_PII = r"""
    with salted as (
        select doc_id,
            text
            || case when doc_id % 3 = 0 then ' user' || doc_id || '@example'
                    || (doc_id % 7) || '.com' else '' end
            || case when doc_id % 4 = 1 then ' 555-'
                    || lpad(cast(doc_id % 1000 as varchar), 3, '0') || '-'
                    || lpad(cast(doc_id % 10000 as varchar), 4, '0')
                    else '' end
            || case when doc_id % 5 = 2 then ' ' || (doc_id % 256) || '.'
                    || ((doc_id * 3) % 256) || '.' || ((doc_id * 7) % 256)
                    || '.' || (doc_id % 40 + 1) else '' end as text
        from documents
    ),
    staged as (
        -- the operator counts each rule on the text AFTER the previous
        -- rule's redaction; replay the same staging
        select doc_id, text as t0,
            regexp_replace(text, '@EMAIL@', '<EMAIL>', 'g') as t1
        from salted
    ),
    staged2 as (
        select *, regexp_replace(t1, '@PHONE@', '<PHONE>', 'g') as t2
        from staged
    )
    select doc_id,
        len(regexp_extract_all(t0, '@EMAIL@')) as n_email,
        len(regexp_extract_all(t1, '@PHONE@')) as n_phone,
        len(regexp_extract_all(t2, '@IP@')) as n_ip,
        sha256(regexp_replace(t2, '@IP@', '<IP>', 'g')) as redacted_sha
    from staged2
""".replace("@EMAIL@", _EMAIL_RE).replace("@PHONE@", _PHONE_RE).replace(
    "@IP@", _IPV4_RE
)


# DuckDB twin of operators/sampling.sample_key_col (seed 'dp-sample')
_SQL_SAMPLE_KEY = (
    "('0x' || substr(md5('dp-sample:' || cast({id} as varchar)), 1, 8))"
    "::bigint / 4294967296.0"
)


def q_deterministic_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, layout-independent corpus sampling through the REAL
    operators (operators/sampling.hash_sample → stratified_quota_sample):
    Bernoulli p=0.5 by content hash, then an exact 20-per-lang quota ranked
    by the same hash. The oracle replays the md5 arithmetic bit-for-bit —
    certifying that the sample is a pure function of the data, not of the
    cluster layout."""
    from .operators.sampling import hash_sample, sample_key_col, stratified_quota_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    sampled = hash_sample(docs, "doc_id", 0.5)
    quota = stratified_quota_sample(sampled, "doc_id", "lang", 20)
    return quota.select(
        "doc_id",
        "lang",
        F.round(sample_key_col(F.col("doc_id")), 6).alias("sample_key"),
    )


_ORACLE_SAMPLING = f"""
    with keyed as (
        select doc_id, lang, {_SQL_SAMPLE_KEY.format(id='doc_id')} as u,
            md5('dp-sample:' || cast(doc_id as varchar)) as h
        from documents
    ),
    sampled as (select * from keyed where u < 0.5),
    ranked as (
        select doc_id, lang, u,
            row_number() over (partition by lang order by u asc, h asc) as rk
        from sampled
    )
    select doc_id, lang, round(u, 6) as sample_key
    from ranked where rk <= 20
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing through the REAL operator
    (operators/packing.pack_sequences): per-lang streams in deterministic
    hash order, 512-token budget; a doc belongs to the pack where it starts
    and pack_offset is its offset in the concatenated stream. The oracle is
    the identical running-sum window."""
    from .operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    packed = pack_sequences(docs, "doc_id", "n_tokens", 512, part_col="lang",
                            seed="dp-pack")
    return packed.select("doc_id", "lang", "n_tokens", "pack_id", "pack_offset")


_ORACLE_PACKING = """
    with t as (
        select doc_id, lang, len(string_split(text, ' ')) as n_tokens,
            ('0x' || substr(md5('dp-pack:' || cast(doc_id as varchar)), 1, 8))
                ::bigint / 4294967296.0 as u
        from documents
    ),
    c as (
        select doc_id, lang, n_tokens,
            coalesce(sum(n_tokens) over (
                partition by lang order by u asc, doc_id asc
                rows between unbounded preceding and 1 preceding), 0)
            as cum_before
        from t
    )
    select doc_id, lang, cast(n_tokens as int) as n_tokens,
        cast(cum_before // 512 as bigint) as pack_id,
        cast(cum_before % 512 as bigint) as pack_offset
    from c
"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style 13-gram decontamination through the REAL operator
    (operators/contamination.contamination_overlap): benchmark = docs with
    doc_id % 37 == 0, corpus = the rest; a deterministic 13-token span
    (family doc_id % 3) appended to docs with doc_id % 7 < 2 guarantees
    cross-set overlap, and duplicate texts in the corpus contribute their
    real full-text shingle overlaps too. The oracle rebuilds the exact
    shingle join (13-token slices, same md5-prefix hashes)."""
    from .operators.contamination import contamination_overlap

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fam = (F.col("doc_id") % 3).cast("string")
    span_parts = []
    for j in range(13):
        span_parts += [F.lit(" cx"), fam, F.lit(f"t{j}")]
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 < 2,
                   F.concat(*span_parts)).otherwise(F.lit("")),
        ).alias("text"),
    )
    bench = salted.where(F.col("doc_id") % 37 == 0)
    corpus = salted.where(F.col("doc_id") % 37 != 0)
    return contamination_overlap(corpus, bench, n=13, df_cap=64)


_SPAN_SQL = " || ' ' || ".join(
    f"'cx' || (doc_id % 3) || 't{j}'" for j in range(13)
)

_ORACLE_CONTAMINATION = f"""
    with salted as (
        select doc_id,
            text || case when doc_id % 7 < 2
                then ' ' || {_SPAN_SQL} else '' end as text
        from documents
    ),
    {window_key_oracle_cte("salted", 13, name="grams")},
    sh as (select distinct doc_id, win_hash as sh_hash from grams),
    bench as (
        select sh_hash, count(*) as n_bench
        from sh where doc_id % 37 = 0
        group by sh_hash having count(*) <= 64
    )
    select s.doc_id, count(*) as n_hits,
        cast(sum(b.n_bench) as bigint) as n_bench_docs
    from sh s join bench b using (sh_hash)
    where s.doc_id % 37 <> 0
    group by s.doc_id
"""


def q_lang_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-count distribution — the length-profile report a
    curation pipeline runs before choosing truncation budgets. Exact
    percentiles via Spark `percentile` (sort-based, NOT approx_percentile:
    its linear interpolation matches DuckDB quantile_cont bit-for-bit,
    probed cross-engine before this query was added)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.size(F.split("text", " ")).alias("nt")
    )
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.expr("percentile(nt, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(nt, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(nt, 0.99)"), 6).alias("p99"),
        F.max("nt").cast("long").alias("max_tokens"),
    )


_ORACLE_PERCENTILES = """
    with t as (
        select lang, len(string_split(text, ' ')) as nt from documents
    )
    select lang, count(*) as n_docs,
        round(quantile_cont(nt, 0.5), 6) as p50,
        round(quantile_cont(nt, 0.9), 6) as p90,
        round(quantile_cont(nt, 0.99), 6) as p99,
        cast(max(nt) as bigint) as max_tokens
    from t group by lang
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# Registry ORDER is a certification surface: the driver gate evaluated
# exactly the first 50 entries in round 2, so (1) the previously-red rows
# lead (their fixes must be re-certified), (2) everything never yet gated —
# the flagship, Q18, the relational-shape set, new queries — sits inside the
# first 50, (3) the tail holds entries whose op ALSO has another certifying
# row or whose r02 green row stands as certification. APPEND new queries
# before the `--- tail ---` marker, never at the head.
QUERIES = {
    # previously-red rows, fixed this round — must re-certify first
    "h8_sessionize_events": q_h8_sessionize,
    "s5_s6_json_roundtrip": q_s5_s6_json_roundtrip,
    "streaming_lang_stats": q_streaming_lang_stats,
    # flagship + never-gated (past position 50 in r02)
    "pipeline_extract_documents": q_pipeline_extract,
    "tpch_q18_large_orders": q_tpch_q18_large_orders,
    "region_supplier_stats": q_region_supplier_stats,
    "top_part_per_supplier": q_top_part_per_supplier,
    "events_hourly_windows": q_events_hourly,
    "salted_event_counts": q_salted_event_counts,
    "curate_documents": q_curate_documents,
    "rollup_returns": q_rollup_returns,
    "cube_order_priority": q_cube_order_priority,
    "distinct_users_daily": q_distinct_users_daily,
    "semi_anti_customers": q_semi_anti_customers,
    # new in round 3, first gated then
    "read_results_evolution": q_read_results_evolution,
    "entry_c_currency": q_entry_c_currency,
    "pii_redaction": q_pii_redaction,
    "deterministic_sampling": q_deterministic_sampling,
    "pack_sequences": q_pack_sequences,
    "contamination_check": q_contamination_check,
    "lang_token_percentiles": q_lang_token_percentiles,
    "session_window_events": q_session_window_events,
    "c4_line_filter": q_c4_line_filter,
    "dedup_clusters": q_dedup_clusters,
    # new in round 4: exact-substring span dedup (Lee et al. ExactSubstr),
    # the stateful-streaming certification row, and IVF ANN search
    "dedup_spans": q_dedup_spans,
    "dedup_span_removal": q_dedup_span_removal,
    "streaming_running_totals": q_streaming_running_totals,
    "streaming_windowed_counts": q_streaming_windowed_counts,
    "ivf_topk": q_ivf_topk,
    "surprisal_quality": q_surprisal_quality,
    "url_blocklist": q_url_blocklist,
    "temperature_sample": q_temperature_sample,
    "incremental_dedup": q_incremental_dedup,
    "chunk_documents": q_chunk_documents,
    "winnow_fingerprints": q_winnow_fingerprints,
    # NEW in round 5: RefinedWeb cross-document line dedup (displaces the
    # r04-certified embedding_near_dup to the tail) and Bloom pre-filtered
    # continuous-ingestion dedup (displaces the triple-certified
    # warc_ingest — green r02+r03+r04 — to the tail)
    "line_dedup": q_line_dedup,
    "bloom_incremental_dedup": q_bloom_incremental_dedup,
    # rotated IN for round 4 (never driver-certified before; the r03 verdict's
    # top directive): the three r3 local-only rows, plus minhash signatures
    # whose operator changed this round (numeric bigint minhash — must
    # re-certify on the driver even though its r02 row was green)
    "tfidf_top_terms": q_tfidf_top_terms,
    "tpch_q4_order_priority": q_tpch_q4_order_priority,
    "tpch_q10_returned_items": q_tpch_q10_returned_items,
    "dedup_minhash_signatures": q_dedup_minhash,
    # Rotated IN for round 5 (the r04 verdict's top directive): the ONLY
    # registry entry never driver-certified — red in r02, rewritten with the
    # whole-distribution vanishing-guard skew check, rows-only green locally
    # ever since, but the rewrite never faced the gate until now.
    "h13_bucket_distribution": q_h13_bucket_distribution,
    # r02-certified, unique certifying row for their op — stay in window
    "m1_token_classifier": q_m1_token_classifier,
    "m2_bio_entity_merge": q_bio_entity_merge,
    "h9_line_items": q_h9_line_items,
    "h10_h11_quality": q_h10_h11_quality,
    "p_ops_filter_chain": q_p_ops_filter_chain,
    "multimodal_features": q_multimodal_features,
    "dedup_ngram_jaccard": q_dedup_jaccard,
    "minhash_band_pairs": q_minhash_band_pairs,
    # --- tail --- (position 51+): each op here is either certified by
    # another in-window row (blas/lsh variants, S3 base64 twin, h1-h6
    # kernels inside the in-window flagship pipeline row), or a past green
    # DRIVER row stands (TPC-H q1/q3/q5/q17, h5, simhash, m6, audio,
    # video_frame_sample — whose multimodal plumbing keeps the in-window
    # multimodal_features row).
    # Rotated OUT in round 4 to make room for the never-driver-certified
    # rows (the r03 verdict's top directive): s4_multipage_order,
    # m4_cord_parse, h7_date_iso, o1_ocr_roundtrip, p_ops_image_math,
    # url_canonicalization — each DOUBLE-certified (green driver rows in
    # BOTH r02 and r03 with the operator code unchanged since).
    "s4_multipage_order": q_s4_multipage_order,
    "m4_cord_parse": q_m4_cord_parse,
    "h7_date_iso": q_h7_date_iso,
    # double-certified like the six above; its CASE kernel is also
    # exercised by the in-window text_stats + curate_documents rows
    "lang_id_counts": q_lang_counts,
    # double-certified r02+r03, code unchanged; rotated out for the round-4
    # span-removal and windowed-streaming rows (O4's truncate+clamp kernel
    # also runs inside the in-window pipeline row, plus its pure twin in
    # reference_semantics is pytest-pinned)
    "kmv_distinct_sketch": q_kmv_distinct_sketch,
    "o4_normalize_boxes": q_o4_normalize,
    "asof_purchase_attribution": q_asof_purchase_attribution,
    "h12_model_first_merge": q_h12_model_first_merge,
    "repetition_stats": q_repetition_stats,
    "text_stats": q_text_stats,
    "pdf_extract": q_pdf_extract,
    # double-certified; its HOF cosine kernel is also exercised in-window
    # by ivf_topk and its GEMM twin keeps the cosine_topk_blas tail oracle
    "similarity_cosine_topk": q_cosine_topk,
    "o1_ocr_roundtrip": q_o1_ocr_roundtrip,
    "p_ops_image_math": q_p_ops_image_math,
    "url_canonicalization": q_url_canonicalization,
    "h1_vendor_top3": q_h1_vendor_top3,
    "h2_keyword_window": q_h2_keyword_window,
    "h3_subtotal_window": q_h3_subtotal_window,
    "h4_tax_window": q_h4_tax_window,
    "h6_date_regex": q_h6_date_regex,
    # Rotated OUT in round 5 to make room for h13 (the one never-certified
    # row): s1_s2_binary_scan is TRIPLE-certified (green driver rows r02,
    # r03 AND r04 with the scan code unchanged since r02).
    "s1_s2_binary_scan": q_s1_s2_binary_scan,
    # Rotated OUT in round 5 for the new line_dedup row: r04-certified,
    # sf1-green this round, operator unchanged; its LSH machinery is also
    # exercised by the in-window curate/minhash rows
    "embedding_near_dup": q_embedding_near_dup,
    # Rotated OUT in round 5 for the new bloom_incremental_dedup row:
    # TRIPLE-certified (green r02+r03+r04), WARC reader code unchanged
    "warc_ingest": q_warc_ingest,
    # exact dedup also runs inside the in-window curate_documents plan
    "dedup_exact": q_dedup_exact,
    # O6 subword tokenization's box-inherit pattern is also pinned by the
    # in-window o4 row + pytest; its r02 green row stands
    "o6_subword_tokens": q_o6_subword_tokens,
    "cosine_topk_blas": q_cosine_topk_blas,
    "lsh_cosine_topk": q_lsh_cosine_topk,
    "s3_base64_roundtrip": q_s3_base64_roundtrip,
    "h5_keyword_case": q_h5_keyword_case,
    "dedup_simhash": q_dedup_simhash,
    "m6_idefics_parse": q_m6_idefics_parse,
    "audio_features": q_audio_features,
    "video_frame_sample": q_video_frame_sample,
    "tpch_q1_pricing_summary": q_pricing_summary,
    "tpch_q3_top_revenue": q_top_revenue_orders,
    "tpch_q5_local_supplier": q_tpch_q5_local_supplier,
    "tpch_q17_small_quantity": q_tpch_q17_small_quantity,
}

ORACLES = {
    "dedup_spans": _ORACLE_DEDUP_SPANS,
    "dedup_span_removal": _ORACLE_SPAN_REMOVAL,
    "streaming_running_totals": _ORACLE_STREAMING_TOTALS,
    "streaming_windowed_counts": _ORACLE_STREAM_WINDOWED,
    "ivf_topk": _ORACLE_IVF,
    "surprisal_quality": _ORACLE_SURPRISAL,
    "url_blocklist": _ORACLE_URL_BLOCKLIST,
    "temperature_sample": _ORACLE_TEMPERATURE,
    "incremental_dedup": _ORACLE_INCREMENTAL,
    "bloom_incremental_dedup": _ORACLE_BLOOM,
    "chunk_documents": _ORACLE_CHUNKS,
    "winnow_fingerprints": _ORACLE_WINNOW,
    "line_dedup": _ORACLE_LINE_DEDUP,
    "o1_ocr_roundtrip": _ORACLE_O1,
    "o4_normalize_boxes": _ORACLE_O4,
    "o6_subword_tokens": _ORACLE_O6,
    "s1_s2_binary_scan": _ORACLE_S1_S2,
    "s3_base64_roundtrip": _ORACLE_S3,
    "s4_multipage_order": _ORACLE_S4,
    "s5_s6_json_roundtrip": _ORACLE_S5_S6,
    "read_results_evolution": _ORACLE_READ_RESULTS,
    "entry_c_currency": _ORACLE_ENTRY_C,
    "tpch_q4_order_priority": _ORACLE_Q4,
    "tpch_q10_returned_items": _ORACLE_Q10,
    "pii_redaction": _ORACLE_PII,
    "deterministic_sampling": _ORACLE_SAMPLING,
    "pack_sequences": _ORACLE_PACKING,
    "contamination_check": _ORACLE_CONTAMINATION,
    "lang_token_percentiles": _ORACLE_PERCENTILES,
    "session_window_events": _ORACLE_SESSION_WINDOW,
    "c4_line_filter": _ORACLE_C4,
    "dedup_clusters": _ORACLE_DEDUP_CLUSTERS,
    "tfidf_top_terms": _ORACLE_TFIDF,
    "m1_token_classifier": _ORACLE_M1,
    "h9_line_items": _ORACLE_H9,
    "h10_h11_quality": _ORACLE_H10_H11,
    "h12_model_first_merge": _ORACLE_H12,
    "p_ops_image_math": _ORACLE_P_OPS,
    "p_ops_filter_chain": _ORACLE_P_CHAIN,
    "multimodal_features": _ORACLE_MULTIMODAL,
    "warc_ingest": _ORACLE_WARC,
    "pdf_extract": _ORACLE_PDF,
    "audio_features": _ORACLE_AUDIO,
    "video_frame_sample": _ORACLE_VIDEO,
    "repetition_stats": _ORACLE_REPETITION,
    "asof_purchase_attribution": _ORACLE_ASOF,
    "kmv_distinct_sketch": _ORACLE_KMV,
    "streaming_lang_stats": _ORACLE_STREAMING,
    "m2_bio_entity_merge": _ORACLE_BIO,
    "m4_cord_parse": _ORACLE_M4,
    "m6_idefics_parse": _ORACLE_M6,
    "h1_vendor_top3": _ORACLE_H1,
    "h2_keyword_window": _ORACLE_H2,
    "h3_subtotal_window": _ORACLE_H3,
    "h4_tax_window": _ORACLE_H4,
    "h5_keyword_case": _ORACLE_H5,
    "h6_date_regex": _ORACLE_H6,
    "h7_date_iso": _ORACLE_H7,
    "h8_sessionize_events": _ORACLE_H8,
    "dedup_exact": _ORACLE_DEDUP_EXACT,
    "dedup_minhash_signatures": _ORACLE_MINHASH,
    "dedup_ngram_jaccard": _ORACLE_JACCARD,
    "dedup_simhash": _simhash_oracle(16),
    "text_stats": _ORACLE_TEXT_STATS,
    "lang_id_counts": _ORACLE_LANG,
    "similarity_cosine_topk": _ORACLE_COSINE,
    "cosine_topk_blas": _ORACLE_COSINE,
    "lsh_cosine_topk": _ORACLE_LSH_TOPK,
    "url_canonicalization": _ORACLE_URLNORM,
    "embedding_near_dup": _ORACLE_EMB_NEAR_DUP,
    "minhash_band_pairs": _ORACLE_BAND_PAIRS,
    "tpch_q1_pricing_summary": _ORACLE_Q1,
    "tpch_q3_top_revenue": _ORACLE_Q3,
    "tpch_q5_local_supplier": _ORACLE_Q5,
    "tpch_q17_small_quantity": _ORACLE_Q17,
    "tpch_q18_large_orders": _ORACLE_Q18,
    "region_supplier_stats": _ORACLE_REGION,
    "top_part_per_supplier": _ORACLE_TOP_PART,
    "events_hourly_windows": _ORACLE_EVENTS_HOURLY,
    "salted_event_counts": _ORACLE_SALTED,
    "curate_documents": _ORACLE_CURATE,
    "rollup_returns": _ORACLE_ROLLUP,
    "cube_order_priority": _ORACLE_CUBE,
    "distinct_users_daily": _ORACLE_DISTINCT,
    "semi_anti_customers": _ORACLE_SEMI_ANTI,
    "pipeline_extract_documents": _ORACLE_PIPELINE,
}
