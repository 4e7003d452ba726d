"""Continuous-ingestion dedup CLI — the spark-submit surface for
operators.dedup.incremental_dedup / bloom_prefilter_dedup over a
persisted dedup index.

    spark-submit --py-files dp.zip jobs/ingest_dedup_job.py \\
        --input <delta docs parquet> --index <index dir> --output <dir> \\
        [--bloom-m-bits 1048576 [--bloom-hashes 4]] [--update-index]

The index dir holds the two relations ``build_dedup_index`` emits —
``<index>/content_hashes`` and ``<index>/window_bands`` (parquet). A
missing or empty index bootstraps: every delta doc is kept and (with
``--update-index``) becomes the first index generation. Bands are named
after the MinHash they come from: an index whose bands predate the
window-key MinHash keeps them in ``<index>/bands``, which never meet
today's bands, so the job refuses it (rebuild the index) rather than
silently stop finding near-duplicates against history.

Two probe shapes, chosen by flag:

- default: ``incremental_dedup`` — the delta's hash/band key-sets
  broadcast, the historical index streams with zero Exchange on it;
  annotates 'exact' AND 'near' (MinHash band collision).
- ``--bloom-m-bits N``: ``bloom_prefilter_dedup`` — the index collapses
  to its <= N-bit set-bit relation, the delta is probed map-side, and
  only the candidate sliver pays the confirm join. Exact-only (Bloom
  summarizes content hashes, not bands); right when the DELTA itself
  outgrows the broadcast threshold.

Writes ``<output>/annotated`` (doc_id, drop_reason, + bloom_candidate on
the bloom path), ``<output>/kept`` (the surviving delta rows, full
schema), and with ``--update-index`` appends the kept docs' hashes (and
bands, on the default path) to the index — the commit step a crawl loop
runs after each increment. Prints one JSON stats line.

The session is named ``dp-ingest-dedup`` only when
``python jobs/ingest_dedup_job.py`` starts it. spark-submit always sets
``spark.app.name`` (``--name``, else the script's file name), and that
name wins; an in-process call on a live session keeps the session's
name.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None, *, stop_session: bool = True) -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", required=True, help="delta docs parquet")
    parser.add_argument("--index", required=True, help="persisted index dir")
    parser.add_argument("--output", required=True)
    parser.add_argument("--id-col", default="doc_id")
    parser.add_argument("--text-col", default="text")
    parser.add_argument("--minhash-k", type=int, default=8)
    parser.add_argument("--band-rows", type=int, default=2)
    parser.add_argument("--bloom-m-bits", type=int, default=None,
                        help="use the Bloom pre-filter probe (exact-only) "
                             "with this filter size in bits")
    parser.add_argument("--bloom-hashes", type=int, default=4)
    parser.add_argument("--update-index", action="store_true",
                        help="append the kept docs' keys to the index "
                             "(the post-increment commit step)")
    args = parser.parse_args(argv)

    from pyspark.sql import functions as F

    from documentprocessor_spark.operators import dedup
    from documentprocessor_spark.session import get_spark
    from documentprocessor_spark.sources.tables import read_committed

    spark = get_spark(app_name="dp-ingest-dedup")
    t0 = time.monotonic()
    delta = spark.read.parquet(args.input)

    hashes_dir = f"{args.index}/content_hashes"
    bands_dir = f"{args.index}/window_bands"

    # a missing or empty index bootstraps; an unreadable one raises
    # rather than keep every delta doc and append beside it
    ih = read_committed(spark, hashes_dir)
    ib = read_committed(spark, bands_dir)
    bootstrap = ih is None

    if bootstrap:
        annotated = delta.select(
            F.col(args.id_col).alias("doc_id"),
            F.lit(None).cast("string").alias("drop_reason"),
        )
    elif ib is None and (args.bloom_m_bits is None or args.update_index):
        # appending bands to an index without them would leave a bands
        # table that covers only the newest generations
        raise SystemExit(
            f"index has {hashes_dir} but no {bands_dir}; the default probe "
            "and --update-index need both. Rebuild the index "
            "(operators.dedup.build_dedup_index over its corpus): bands in "
            f"{args.index}/bands predate the window-key MinHash and never "
            "match. --bloom-m-bits without --update-index probes exact-only."
        )
    elif args.bloom_m_bits is not None:
        annotated = dedup.bloom_prefilter_dedup(
            delta, ih, args.id_col, args.text_col,
            m_bits=args.bloom_m_bits, n_hashes=args.bloom_hashes,
        )
    else:
        annotated = dedup.incremental_dedup(
            delta, ih, ib, args.id_col, args.text_col,
            k=args.minhash_k, band_rows=args.band_rows,
        )

    annotated.write.mode("overwrite").parquet(f"{args.output}/annotated")
    annotated = spark.read.parquet(f"{args.output}/annotated")
    kept = delta.join(
        annotated.where(F.col("drop_reason").isNull()).select(
            F.col("doc_id").alias(args.id_col)),
        args.id_col, "left_semi",
    )
    kept.write.mode("overwrite").parquet(f"{args.output}/kept")
    kept = spark.read.parquet(f"{args.output}/kept")

    if args.update_index:
        new_h, new_b = dedup.build_dedup_index(
            kept, args.id_col, args.text_col,
            k=args.minhash_k, band_rows=args.band_rows,
        )
        new_h.write.mode("append").parquet(hashes_dir)
        # bands only matter to the default (near-dup-capable) probe, but
        # keep both halves current so the probe shape can change per run
        new_b.write.mode("append").parquet(bands_dir)

    by_reason = {
        (r["drop_reason"] or "kept"): r["n"]
        for r in annotated.groupBy("drop_reason")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    stats = {
        "rows_delta": annotated.count(),
        "rows_kept": kept.count(),
        "by_reason": by_reason,
        "probe": "bootstrap" if bootstrap
                 else ("bloom" if args.bloom_m_bits is not None
                       else "broadcast-delta"),
        "index_updated": bool(args.update_index),
        "elapsed_sec": round(time.monotonic() - t0, 3),
    }
    if not bootstrap and args.bloom_m_bits is not None:
        n_cand = annotated.where(F.col("bloom_candidate") == 1).count()
        n_dup = annotated.where(F.col("drop_reason").isNotNull()).count()
        stats["bloom_candidates"] = n_cand
        stats["bloom_false_positives"] = n_cand - n_dup
    print(json.dumps(stats))
    if stop_session:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
