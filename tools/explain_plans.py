"""Physical plans of the engine's key jobs.

    python tools/explain_plans.py                  # regenerate PLANS.md
    python tools/explain_plans.py TAG [query ...]  # plans/TAG/<query>.txt

The first form writes PLANS.md: each COMMENTARY query's formatted plan,
filtered to the properties that matter at 100 TB, under its note. The
second writes each query's full ``explain("formatted")`` output to its own
file, for before/after plan deltas (default queries: ``bench.HEADLINE``
plus ``extract_html_corpus``). Both read the tables under SF.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from documentprocessor_spark.queries import QUERIES
from documentprocessor_spark.session import get_spark

SF = "/root/testdata/sf0.01"

COMMENTARY = {
    "pipeline_extract_documents": (
        "Map-only: pruned 3-column scan → one MapInPandas (the fused "
        "kernel) → project. NO shuffle anywhere; parallelism bounded only "
        "by input splits."
    ),
    "tpch_q1_pricing_summary": (
        "Filter pushed into the parquet scan (PushedFilters on l_shipdate), "
        "6-column pruned ReadSchema, partial HashAggregate before the "
        "single Exchange (map-side combine carries the skew)."
    ),
    "tpch_q3_top_revenue": (
        "customer is broadcast (explicit broadcast() hint); only the "
        "orders⋈lineitem side shuffles; TakeOrderedAndProject avoids a "
        "global sort for the top-10."
    ),
    "tpch_q5_local_supplier": (
        "The 6-table join: region/nation/supplier broadcast (explicit "
        "hints), pruned ReadSchema on every scan, date + region filters "
        "pushed; at this SF AQE broadcasts the whole spine — at scale the "
        "customer⋈orders⋈lineitem chain shuffles on its keys instead, "
        "decided at runtime."
    ),
    "dedup_minhash_signatures": (
        "explode(window keys) → single groupBy(doc_id) with k min() "
        "aggregates; one shuffle on doc_id. The keys are rolling's "
        "window key evaluated per row (one md5 per token inside the "
        "token-hash transform, a posexplode of the window starts, one "
        "key expression — no Exchange before the aggregate but the "
        "parallelism rescue) and the k seeds are mixed from that one key "
        "by integer arithmetic (before: 8 md5 per string shingle). The "
        "minhash is NUMERIC so the agg buffers are primitive: "
        "HashAggregate with map-side partial aggregation on BOTH sides of "
        "the Exchange — the r03 hex-string form fell back to SortAggregate."
    ),
    "dedup_spans": (
        "ExactSubstr span dedup, count-then-join: window hashes are the "
        "r5 Rabin-Karp rolling stage (one md5/token + exact-int64 modmul; "
        "prefix-sum window on doc_id carrying 32-byte rows; B^e mod M "
        "from literal-array digit lookups inside the row, no join) — "
        "O(1)/position instead of O(k) md5, measured "
        "−52% at sf0.1. Distinct-doc count partial-aggregates map-side, "
        "the df-cap filter runs BEFORE the join back so the worst "
        "surviving join key is df_cap rows by construction; per-doc "
        "interval union needs no extra Exchange (doc_id clustering flows "
        "from the rolling stage through the persisted windows relation). "
        "r6: the rolling stage repartitions DOC rows by doc_id (~6 "
        "bytes/token of text) BEFORE the posexplode, so the exploded "
        "32-byte/token stream never rides an Exchange and the per-doc "
        "windows sort locally (hash-exchange budget pytest-pinned)."
    ),
    "line_dedup": (
        "RefinedWeb line-wise boilerplate kill: posexplode lines → "
        "groupBy(line_hash) occurrence count with map-side combine → "
        "left_anti against the DISTINCT hot-hash relation (1:N join, no "
        "explosion possible) → per-doc reassembly via groupBy + "
        "array_sort (window-free). Line text rides only the reassembly "
        "shuffle — it IS the output."
    ),
    "m1_token_classifier": (
        "Model inference: pruned 2-column scan → ONE ArrowEvalPython "
        "(batched pandas UDF, per-executor model singleton) → codegen "
        "explode. ZERO Exchange — the corpus never shuffles to be "
        "classified (pytest-asserted)."
    ),
    "read_results_evolution": (
        "Schema-evolution readback: mergeSchema scan pruned to the "
        "aggregated columns, partial HashAggregate map-side, exactly ONE "
        "Exchange on the grouping key (pytest-asserted)."
    ),
    "similarity_cosine_topk": (
        "Query side broadcast; dot products are native aggregate/zip_with "
        "expressions (JVM, inside codegen) — no Python in the scoring loop."
    ),
    "salted_event_counts": (
        "Two Exchanges by design: (key, salt) then key — the second "
        "shuffles at most n_salt rows per key, bounding any hot key."
    ),
    "dedup_ngram_jaccard": (
        "NO cross product and NO self-join: one groupBy(sh_hash) collects "
        "each shingle's doc list, the DF cap (size(docs) <= 50) bounds the "
        "worst key BEFORE the ordered-pair explosion (<= C(50,2) rows per "
        "shingle), and the persisted grouped relation feeds both the pair "
        "counts and the per-doc sizes — shuffles carry int64 ids only, "
        "never text."
    ),
    "curate_documents": (
        "The full curation plan, round-4 skew-safe forms: native "
        "lang/quality filters reach the scan; exact dedup is groupBy "
        "winners over (hash, id) + semi-join on the unique doc_id (text "
        "never shuffles, map-side combine absorbs a mass-duplicated "
        "page); the near-dup drop is the MinHash STAR stage — per-bucket "
        "min + join back, O(bucket) rows even when a templated crawl "
        "makes one LSH bucket hold a third of the corpus."
    ),
    "dedup_span_removal": (
        "The ExactSubstr cut: span detection reuses the persisted windows "
        "relation, merged spans collect per doc (bounded — maximal ranges, "
        "not windows) into a broadcast-eligible join, and the token cut is "
        "a nested higher-order filter in codegen — the text column is "
        "touched once, map-side."
    ),
    "surprisal_quality": (
        "CCNet-style quality bucketing with zero float boundaries: integer "
        "log2-quantized surprisal (length(bin(total div cnt))), token-count "
        "aggregate map-side combined, scalar total + decile bounds each "
        "broadcast — assignment is a map-side array fold; NO global sort "
        "or ntile single-partition window anywhere."
    ),
    "url_blocklist": (
        "Pre-content URL filtering: the blocklist broadcasts (MB-scale "
        "lists vs TB-scale corpus — the corpus never shuffles), the "
        "pattern pass is a codegen regexp chain; drop_reason annotation "
        "keeps per-rule counts one groupBy away."
    ),
    "temperature_sample": (
        "Source-mix resampling: one map-side-combined count per source, "
        "the normalizer an ORDERED scalar fold (bare SUM of doubles is "
        "accumulation-order-dependent), rates broadcast, keep decisions "
        "a map-side md5 filter — no corpus shuffle in the whole plan."
    ),
    "chunk_documents": (
        "Max-seq-length chunking: the sliding split is pure "
        "transform/sequence/slice inside codegen — scan → project → "
        "explode, zero Exchange, zero Python. Row multiplication happens "
        "map-side; whoever consumes the chunks shuffles on their own keys."
    ),
    "winnow_fingerprints": (
        "MOSS winnowing over r5 rolling hashes: the rolling prefix-sum "
        "window and the per-w-window argmin share partitioning (doc_id) "
        "AND sort (pos). r6: the doc rows repartition by doc_id BEFORE "
        "the posexplode, so that single Exchange carries raw text (~6 "
        "bytes/token) instead of the exploded hash stream, and even the "
        "trailing distinct's clustering is satisfied by the same "
        "partitioning — hash-exchange budget pytest-pinned "
        "(tests/test_dedup.py::test_winnow_plan_windows_add_no_exchange)."
    ),
    "incremental_dedup": (
        "Continuous-ingestion probe: the delta's hash/band key sets build "
        "the broadcast side, so the HISTORICAL index — the big relation — "
        "streams map-side with zero Exchange on it."
    ),
    "bloom_incremental_dedup": (
        "Bloom pre-filter (r5): the index collapses to its DISTINCT "
        "set-bit relation (<= m_bits rows regardless of index size) and "
        "BROADCASTS to the delta probe — the delta is probed map-side, "
        "one Exchange for its per-doc all-bits-set count; the confirm "
        "join broadcasts the candidate hash sliver so the historical "
        "index streams with zero Exchange on it."
    ),
    "ivf_topk": (
        "IVF ANN as joins: the 16-centroid quantizer broadcasts to both "
        "assignment passes (the corpus never shuffles to be indexed); "
        "probing is an equi-join on list_id touching ~nprobe/n_centroids "
        "of the corpus; per-query top-k is one window Exchange on "
        "query_id. Cosines are native aggregate/zip_with exprs in "
        "codegen — no Python anywhere."
    ),
    "repetition_stats": (
        "Gopher repetition filters as pure higher-order functions: the "
        "whole pass is scan → project (aggregate fold inside codegen) — "
        "no Exchange, no Python. The ideal 100 TB filter shape."
    ),
    "warc_ingest": (
        "Common-Crawl-native ingestion: binaryFile listing (glob filter "
        "rejects non-WARC at listing time) → one MapInPandas (gzip-member "
        "split + HTTP parse) → project. Map-only, no shuffle; scales with "
        "file count."
    ),
    "pdf_extract": (
        "PDF text-layer path: map-only end to end — synthesis kernel → "
        "content-stream parser kernel → project. Python confined to two "
        "MapInPandas nodes, zero Exchange."
    ),
    "embedding_near_dup": (
        "The LSH scale path: buckets from md5-parity hyperplanes (native "
        "expressions), pair generation is a BroadcastHashJoin on the "
        "bucket key — no BroadcastNestedLoopJoin, no cross product."
    ),
    "pii_redaction": (
        "PII scrub: scan → project, the whole regexp chain inside "
        "WholeStageCodegen — no Exchange, no Python. Same ideal map-only "
        "shape as the Gopher filters."
    ),
    "deterministic_sampling": (
        "Hash sampling is a pushed filter (map-side, before any shuffle); "
        "the stratified quota adds exactly ONE Exchange on the stratum key "
        "for the row_number window."
    ),
    "pack_sequences": (
        "Concat-then-chunk packing: ONE Exchange (the per-lang window "
        "partition), running sum inside the Window node, everything else "
        "codegen. Packs never span partitions, so no global sort exists."
    ),
    "contamination_check": (
        "Decontamination: corpus 13-gram window keys stream map-side into "
        "a BroadcastHashJoin against the distinct'd benchmark key set "
        "(MB-scale vs TB-scale — the TB side never shuffles to join); the "
        "joined hits are made distinct per (doc, key), then one Exchange "
        "for the per-doc aggregate."
    ),
    "c4_line_filter": (
        "C4 line cleaning: the whole line re-layout + filter chain is "
        "higher-order functions inside codegen — scan → project, zero "
        "Exchange, zero Python. Filter-shaped 100 TB pass."
    ),
    "session_window_events": (
        "Native stateful session windows: one Exchange on user_id, the "
        "session merge inside the dedicated SessionWindow/Aggregate nodes, "
        "then the per-user rollup reuses the same partitioning (no second "
        "shuffle)."
    ),
    "tpch_q10_returned_items": (
        "Q10: returnflag filter pushed to the lineitem scan, nation "
        "broadcast, TakeOrderedAndProject for the top-20 (no global "
        "sort); revenue in exact integer cents with integer half-up "
        "rounding. At this SF AQE broadcasts the whole orders⋈lineitem⋈"
        "customer spine (every join below is BroadcastHashJoin); at scale "
        "those sides exceed the broadcast threshold and shuffle on their "
        "keys instead — decided at runtime."
    ),
}

KEYS = (
    "PushedFilters",
    "ReadSchema",
    "WholeStageCodegen",
    "BroadcastHashJoin",
    "BroadcastExchange",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "Exchange",
    "HashAggregate",
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "TakeOrderedAndProject",
    "AdaptiveSparkPlan",
)


def fmt_plan(df) -> str:
    s = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    keep = []
    for line in s.splitlines():
        stripped = line.strip()
        if any(k in stripped for k in KEYS) or stripped.startswith(("(", "+-", "*")):
            keep.append(line.rstrip()[:120])
    return "\n".join(keep)


def capture(spark, tag: str, names: list[str]) -> None:
    from documentprocessor_spark.plans.pipeline import extract_from_pages
    from documentprocessor_spark.sources.synthetic import distributed_corpus

    outdir = os.path.join(ROOT, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        if name == "extract_html_corpus":  # bench.py's extraction leaf
            df = extract_from_pages(distributed_corpus(spark, 8000, n_partitions=8))
        else:
            df = QUERIES[name](spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print("wrote", path, file=sys.stderr)
        spark.catalog.clearCache()


def write_plans_md(spark) -> None:
    out = [
        "# PLANS — physical plans of the headline jobs (generated by "
        "tools/explain_plans.py)",
        "",
        "What to look for at 100 TB: filters inside `PushedFilters`, pruned "
        "`ReadSchema`, broadcast on the small join side, partial "
        "`HashAggregate` before each `Exchange`, and Python confined to "
        "single `MapInPandas` nodes.",
        "",
    ]
    for name, note in COMMENTARY.items():
        df = QUERIES[name](spark, SF)
        out.append(f"## {name}\n\n{note}\n\n```\n{fmt_plan(df)}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


def main() -> None:
    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    if len(sys.argv) > 1:
        from bench import HEADLINE

        names = sys.argv[2:] or [*HEADLINE, "extract_html_corpus"]
        capture(spark, sys.argv[1], names)
    else:
        write_plans_md(spark)
    spark.stop()


if __name__ == "__main__":
    main()
