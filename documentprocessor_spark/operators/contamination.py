"""Benchmark-contamination detection — flagging training documents that
share long n-gram spans with an evaluation/benchmark set (the standard
decontamination step of LLM pre-training pipelines: GPT-3 used 13-gram
overlap, most open recipes follow).

Spark-first shape: both corpora are exploded to (doc, 13-gram key) pairs
(dedup.doc_shingle_hashes — rolling's window key evaluated per row,
8-byte keys, never strings, no Exchange over the corpus's windows), the
benchmark side counts distinct docs per key and — being orders of
magnitude smaller than the training corpus — is broadcast; the overlap is
a single equi-join whose distinct hits are collected per training
document. No cross product anywhere: the
join key is the shingle hash, worst-key bounded by dropping shingles that
appear in more than ``df_cap`` benchmark docs (boilerplate n-grams carry no
contamination signal, same stop-shingle cut as n-gram Jaccard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import doc_shingle_hashes

CONTAM_NGRAM = 13  # GPT-3-style decontamination span


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = CONTAM_NGRAM,
    df_cap: int = 64,
) -> DataFrame:
    """(doc_id, n_hits, n_bench_docs): per training doc, how many distinct
    contaminated n-grams it contains, and the sum over those contaminated
    n-grams of the number of benchmark docs containing each (a benchmark
    doc is counted once per shared shingle, NOT distinct across shingles —
    the oracle implements the same formula). Only contaminated docs are
    returned (inner join).

    ``df_cap`` drops n-grams shared by more than df_cap benchmark docs
    before the join — the worst join key is bounded by construction. The
    benchmark's shingle set is always broadcast: benchmarks are MBs,
    corpora TBs."""
    # a window a doc repeats yields its (doc, key) pair once per
    # occurrence: the benchmark side counts distinct docs per key, the
    # corpus side collects each doc's distinct hits — one Exchange each
    corpus_sh = doc_shingle_hashes(corpus, id_col, text_col, n).withColumnRenamed(
        "doc_id", "corpus_doc"
    )
    bench_sh = F.broadcast(
        doc_shingle_hashes(benchmark, id_col, text_col, n)
        .groupBy("sh_hash")
        .agg(F.countDistinct("doc_id").alias("n_bench"))
        .where(F.col("n_bench") <= df_cap)
    )
    return (
        corpus_sh.join(bench_sh, "sh_hash")
        .groupBy(F.col("corpus_doc").alias("doc_id"))
        .agg(F.collect_set(F.struct("sh_hash", "n_bench")).alias("_hits"))
        .select(
            "doc_id",
            F.size("_hits").cast("long").alias("n_hits"),
            F.aggregate("_hits", F.lit(0).cast("long"),
                        lambda acc, h: acc + h["n_bench"]).alias("n_bench_docs"),
        )
    )
