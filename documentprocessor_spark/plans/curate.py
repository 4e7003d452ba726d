"""Training-data curation plan: the composition a large-scale pretraining
pipeline runs over a raw document corpus —

    language filter → quality filter → exact dedup → MinHash near-dup drop

Every stage is deterministic and shuffle-conscious:

- stats/filters are codegen'd column expressions (operators.textstats);
- exact dedup is the skew-safe survivors form: groupBy winners over
  (hash, id) pairs + semi-join on the unique id — the text column never
  shuffles, and a mass-duplicated page cannot create a hot reducer;
- near-dup drop uses MinHash STAR edges (operators.dedup.minhash_star_edges)
  and keeps the LOWEST doc id of any colliding pair — a one-pass rule (no
  transitive closure), which makes the whole plan SQL-expressible and
  oracle-checkable while still removing every near-dup cluster's
  non-minimal members that directly collide with the survivor.

At corpus scale the expensive stage is the band stage; star edges bound it
at O(bucket size) per LSH bucket even when a templated crawl makes one
bucket hold a third of the corpus (the clique join would be O(bucket^2)),
with AQE skew-join as the runtime backstop on the bucket key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
from ..operators.textstats import lang_id_col, quality_score_col
from ..sources.tables import hadoop_fs

# The persisted survivors of the latest curate_documents(exact_substr_k=…)
# call — the dedup module's single-slot lifecycle (see its cache notes),
# in a slot of its own: duplicate_spans registers its `windows` in
# dedup._SPAN_CACHE during the same call, which would release survivors
# before anything executes.
_SURVIVORS_CACHE: list[DataFrame] = []


def release_survivors_cache() -> None:
    """Unpersist the survivors cached by the last curate_documents call
    with ``exact_substr_k`` set."""
    dedup._release(_SURVIVORS_CACHE)


def _stage_store(spark: SparkSession, ckpt_dir: str | None, params: dict):
    """``stage(name, build)`` for one curation run. Without a checkpoint
    dir it returns ``build()``, so the plan is the single lazy one. With
    one, a stage is committed iff its parquet ``_SUCCESS`` marker exists
    (the commit protocol Spark's FileOutputCommitter uses: a killed write
    leaves no marker, so the stage reruns); a committed stage is read
    back without calling ``build``, and an uncommitted one is built,
    written and read back.

    A ``params-<md5-of-params>`` marker file at the checkpoint root guards
    against silently reusing stages computed under DIFFERENT parameters
    (r4 ADVICE) — no file contents to read, existence IS the check. On
    mismatch (a marker for other params, or committed stages with no
    marker at all, e.g. a pre-upgrade dir), every stage _SUCCESS marker
    is deleted FIRST, then the new marker is written: a kill at any point
    leaves either invalidated stages (safe rerun) or a marker that
    truthfully covers every stage committed after it. Matching marker →
    plain resume, untouched."""
    if ckpt_dir is None:
        return lambda name, build: build()
    import hashlib
    import json

    fs, hadoop_path = hadoop_fs(spark, ckpt_dir)
    root = hadoop_path(ckpt_dir)
    fp = hashlib.md5(json.dumps(params, sort_keys=True).encode()).hexdigest()
    marker = hadoop_path(os.path.join(ckpt_dir, f"params-{fp}"))
    if not fs.exists(marker):
        if fs.exists(root):
            stale = fs.globStatus(
                hadoop_path(os.path.join(ckpt_dir, "params-*")))
            for st in stale or []:
                fs.delete(st.getPath(), False)
            for name in ("exact", "pairs", "clusters"):
                fs.delete(
                    hadoop_path(os.path.join(ckpt_dir, name, "_SUCCESS")),
                    False,
                )
        fs.create(marker, True).close()

    def stage(name: str, build) -> DataFrame:
        path = os.path.join(ckpt_dir, name)
        if not fs.exists(hadoop_path(os.path.join(path, "_SUCCESS"))):
            build().write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    return stage


def curate_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_quality: float = 0.3,
    minhash_k: int = 8,
    band_rows: int = 2,
    transitive: bool = False,
    exact_substr_k: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Returns the surviving (doc_id, token-stats) rows after all filters.

    Output columns: doc_id, lang_id, quality_score, kept_reason-free — the
    caller joins back to the corpus for text. With ``exact_substr_k`` set,
    an extra ``clean_text`` column carries the survivor's text with every
    cross-document duplicated k-token span cut out
    (dedup.remove_duplicate_spans — the Lee et al. ExactSubstr pass,
    applied AFTER near-dup dropping so the span table is built over
    survivors only). The survivors relation is then persisted (its own
    cache slot, release_survivors_cache(); inside a
    dedup.dedup_cache_scope the scope owns it).

    Exact dedup is the survivors form (groupBy winners + semi-join on the
    unique id) rather than a window over the content hash: a
    mass-duplicated page gives the window's hot partition 30% of the corpus
    with no map-side combine, while the groupBy collapses it to one row per
    input partition and the text column never shuffles
    (operators/dedup.exact_dedup_survivors).

    ``transitive=True`` replaces the one-pass pair drop with connected
    components over the band pairs (operators.graph.dedup_clusters):
    exactly ONE survivor per near-dup CLUSTER. The one-pass rule drops any
    doc directly colliding with a lower id, which can keep two docs of one
    component when a non-minimal doc only ever collides with HIGHER ids
    (edges (1,9),(5,9): 9 drops, 5 survives alongside 1) — the transitive
    mode keeps only the component minimum (1). Costs the iterative CC
    rounds on the pair graph (tiny relative to the band join: pairs only,
    no text) and — unlike the lazy default — EXECUTES the pipeline up
    through the band join at CALL time (iterative algorithms checkpoint
    and count eagerly); set session confs before calling, not between
    construction and action.

    ``checkpoint_dir`` (implies ``transitive``) commits three stages as
    parquet, so a killed job resumes PAST completed stages instead of
    re-running them — in particular past the iterative
    connected-components step, whose rounds are the expensive part on a
    big pair graph:

        <ckpt>/exact     filters + exact-dedup survivors (with text)
        <ckpt>/pairs     MinHash star edges over the survivors
        <ckpt>/clusters  connected components of the pairs (EAGER stage)

    A parameter fingerprint over the six stage parameters
    (``_stage_store``) makes a rerun with other parameters recompute every
    stage. ``exact_substr_k`` is not among them: the ExactSubstr cut runs
    over the committed stages. Results equal ``transitive=True`` without
    a checkpoint dir — pinned by tests/test_curation_and_sources.py.
    """
    transitive = transitive or checkpoint_dir is not None
    stage = _stage_store(docs.sparkSession, checkpoint_dir, {
        "id_col": id_col, "text_col": text_col, "lang": lang,
        "min_quality": min_quality, "minhash_k": minhash_k,
        "band_rows": band_rows,
    })

    def exact_survivors() -> DataFrame:
        base = docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            lang_id_col(F.col(text_col)).alias("lang_id"),
            quality_score_col(F.col(text_col)).alias("quality_score"),
        )
        filtered = base.where(
            (F.col("lang_id") == lang) & (F.col("quality_score") >= min_quality)
        )
        return dedup.exact_dedup_survivors(filtered, "doc_id", "text")

    exact = stage("exact", exact_survivors)
    # near-dup drop: any doc sharing a MinHash band with a lower id is
    # dropped. STAR edges, not the pair clique — identical losers and
    # identical components, O(bucket) instead of O(bucket^2) rows when a
    # templated crawl makes one LSH bucket hot (dedup.minhash_star_edges).
    pairs = stage("pairs", lambda: dedup.minhash_star_edges(
        exact, "doc_id", "text", k=minhash_k, band_rows=band_rows
    ))
    if transitive:
        from ..operators import graph

        # the EAGER iterative stage: with a checkpoint dir it reads only
        # the committed id-pair table (text lineage ended at the pairs
        # commit) — the one stage most worth resuming past
        clusters = stage("clusters", lambda: graph.dedup_clusters(pairs))
        # every doc of a component except its canonical (minimum) id
        losers = clusters.where(
            F.col("doc_id") != F.col("canonical_id")
        ).select("doc_id")
    else:
        losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = exact.join(losers, "doc_id", "left_anti")
    if exact_substr_k is not None:
        # three consumers read survivors (the span windows, the cut
        # join-back and the stats join below): persisted once, so the
        # filter/exact/MinHash subtree runs once instead of three times
        survivors = dedup._register_persist(survivors, _SURVIVORS_CACHE)
        cleaned = dedup.remove_duplicate_spans(
            survivors, "doc_id", "text", k=exact_substr_k
        )
        return (
            survivors.join(cleaned, "doc_id")
            .select("doc_id", "lang_id", "quality_score", "clean_text")
        )
    return survivors.select("doc_id", "lang_id", "quality_score")
