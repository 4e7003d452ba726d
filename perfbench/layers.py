"""Per-layer measurement for ``run.py --trace 1``.

Layers are the program's modules. Spans are taken from outside the
program in two ways:

- during traced job runs, the layers' public functions are wrapped: each
  ``DataFrameWriter.parquet`` call is a span named after the table it
  commits (``results.write``, ``spans.write``, ``manifest.write``, ...),
  and plan-building calls (``extract.plan``, ``dedup.*.plan``, ...) get
  their own spans;
- after the loop, each layer is run alone by a probe into a ``noop`` sink
  or a persisted count, inside a span (``sources.scan``,
  ``extract.stage``, ``dedup.exact``, ...). Probes of the extraction
  layers run on the workload's pages and of the curation layers on its
  documents; a workload whose job does not run a layer probes it on a
  small side input from the same seed, so those figures are independent
  of the workload.

Each span tags its Spark jobs with a job group; after the session stops,
the event log is parsed into per-stage task time, shuffle bytes, spill and
GC, summed per layer over the last call of each of the layer's spans.

Which end-to-end metric each layer metric should move, on which workload:

- sources.*, html_parse.*, fields.*, extract.*: docs_per_s on
  extract_fresh; about a quarter of that on extract_resume; nothing on
  curate_skewed.
- partitioning.exchanges: docs_per_s and peak_rss_mb on extract_fresh.
- pipeline.repartition_s, results.*, spans.*, manifest.write_s: wall_s and
  out_bytes_per_in_byte on both extract workloads, extract_resume most.
- resume.*: wall_s on extract_resume only; no change on extract_fresh,
  which starts with no manifest (its traced runs probe the resume read
  against their last, fully committed output, so todo_rows is 0 there).
- textstats.*, dedup.*: wall_s on curate_skewed; nothing on either
  extract workload.
- <layer>.shuffle_*_bytes, .spill_bytes, .gc_s, .task_skew: wall_s on the
  workload where that layer runs.
- trace.wall_s / trace.overhead_s: the traced runs' median wall time and
  its excess over the untraced runs of the same process (both with the
  event log on); no end-to-end metric.
"""

from __future__ import annotations

import contextlib
import gc
import os
import re
import statistics

from tracing import (Tracer, event_log_files, layer_stage_metrics,
                     parse_event_log)

N_SIDE = 500
N_KERNEL_DOCS = 600
KERNEL_REPEATS = 7

# layer -> the spans whose Spark stages make up its per-stage metrics
STAGE_SPANS = {
    "sources": ("sources.scan",),
    "extract": ("extract.stage",),
    "pipeline": ("pipeline.repartition",),
    "results": ("results.write",),
    "spans": ("spans.write",),
    "manifest": ("manifest.write",),
    "resume": ("resume.committed_read",),
    "textstats": ("textstats.filter",),
    "dedup": ("dedup.exact", "dedup.minhash_edges", "dedup.spans",
              "dedup.line_dedup", "dedup.winnow"),
}
STAGE_METRICS = {"shuffle_write_bytes": "B", "shuffle_read_bytes": "B",
                 "spill_bytes": "B", "gc_s": "s", "task_skew": "ratio"}
WRITE_SPANS = {"results": "results.write", "spans": "spans.write",
               "manifest": "manifest.write", "curated": "curate.write",
               "line_deduped": "dedup.line_dedup_write",
               "fingerprints": "dedup.winnow_write"}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Layers:
    def __init__(self, bench):
        self.bench = bench
        self.spark = bench.spark
        self.tracer = Tracer(self.spark.sparkContext)
        self.values: dict[str, tuple[float, str]] = {}

    # ------------------------------------------------------ traced runs

    @contextlib.contextmanager
    def traced_job(self):
        """Wrap the layers' public functions for one job run."""
        from pyspark.sql.readwriter import DataFrameWriter

        from documentprocessor_spark.operators import dedup
        from documentprocessor_spark.plans import curate, pipeline

        t = self.tracer

        def write_name(_self, path, *a, **k):
            return WRITE_SPANS.get(os.path.basename(str(path).rstrip("/")))

        patches = [
            (DataFrameWriter, "parquet", write_name),
            (pipeline, "extract_from_pages", lambda *a, **k: "extract.plan"),
            (pipeline, "_committed_urls", lambda *a, **k: "resume.plan"),
            (curate, "curate_documents", lambda *a, **k: "curate.plan"),
        ] + [(dedup, fn, (lambda n: lambda *a, **k: n)(f"dedup.{fn}.plan"))
             for fn in ("exact_dedup_survivors", "minhash_star_edges",
                        "remove_duplicate_spans", "cross_doc_line_dedup",
                        "winnow_fingerprints")]
        saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
        for obj, name, namer in patches:
            setattr(obj, name, t.wrap(getattr(obj, name), namer))
        try:
            with t.span("job"):
                yield
        finally:
            for obj, name, fn in saved:
                setattr(obj, name, fn)

    # ------------------------------------------------------ probes

    def probe_kernel(self, pages_path: str) -> None:
        """Driver-side µs/doc of the fused kernel's parts over
        KERNEL_REPEATS repeats, on the first N_KERNEL_DOCS pages."""
        import pyarrow.parquet as pq

        from documentprocessor_spark import reference_semantics as ref
        from documentprocessor_spark.operators.extract import (
            fused_extract_kernel)
        from documentprocessor_spark.operators.html_parse import html_tuples

        table = pq.read_table(pages_path, columns=["url", "html", "text"])
        batch = table.slice(0, N_KERNEL_DOCS).combine_chunks().to_batches()[0]
        htmls = batch.column(1).to_pylist()
        n = len(htmls)

        def timed(name, fn):
            # the cyclic GC off: the part-by-part probes keep every
            # document's tuples alive, the kernel does not, and collections
            # over the kept objects would be charged to the parts only
            gc.collect()
            gc.disable()
            try:
                with self.tracer.span(name) as s:
                    out = fn()
            finally:
                gc.enable()
            return s["end"] - s["start"], out

        html, fields, rest = [], [], []
        for _ in range(KERNEL_REPEATS):
            t_html, tuples = timed("html_parse.html_tuples",
                                   lambda: [html_tuples(h) for h in htmls])
            t_fields, _ = timed("fields.extract_fields_fast", lambda: [
                (ref.extract_fields_fast(tp), ref.raw_text(tp))
                for tp in tuples])
            t_kernel, _ = timed(
                "extract.fused_extract_kernel",
                lambda: list(fused_extract_kernel(iter([batch]))))
            html.append(t_html)
            fields.append(t_fields)
            rest.append(t_kernel - t_html - t_fields)
        us = 1e6 / n
        self.put("html_parse.us_per_doc", min(html) * us, "us")
        self.put("fields.us_per_doc", min(fields) * us, "us")
        # what the kernel spends beyond parse + fields (Arrow in/out and
        # batch assembly): the median over repeats of the three timed back
        # to back, so a slow spell of the host hits all three alike
        self.put("extract.arrow_us_per_doc", statistics.median(rest) * us,
                 "us")

    def probe_extraction(self, pages_path: str, committed_dir: str) -> None:
        from pyspark.sql import functions as F

        from documentprocessor_spark.plans import pipeline

        sp, t = self.spark, self.tracer
        pages = sp.read.parquet(pages_path)
        cols = pages.select("url", "html", "text")
        with t.span("sources.scan") as s:
            _noop(cols)
        scan_s = s["end"] - s["start"]
        self.put("sources.scan_s", scan_s, "s")
        self.put("sources.splits", cols.rdd.getNumPartitions(), "count")

        ext = pipeline.extract_from_pages(pages, None)
        plan = ext._jdf.queryExecution().executedPlan().toString()
        self.put("partitioning.exchanges",
                 len(re.findall(r"Exchange", plan)), "count")
        with t.span("extract.stage") as s:
            _noop(ext)
        self.put("extract.stage_s", s["end"] - s["start"], "s")

        with t.span("pipeline.repartition") as s:
            _noop(cols.repartition(self.bench.buckets, F.col("url")))
        # self time: the span minus the scan it re-runs
        self.put("pipeline.repartition_s", s["end"] - s["start"] - scan_s, "s")

        with t.span("resume.committed_read") as s:
            committed = pipeline._committed_urls(
                sp, f"{committed_dir}/results", f"{committed_dir}/manifest")
            todo = pages if committed is None else pages.join(
                F.broadcast(committed), "url", "left_anti")
            todo_rows = todo.count()
        self.put("resume.committed_read_s", s["end"] - s["start"], "s")
        self.put("resume.todo_rows", todo_rows, "count")

    def probe_curation(self, docs_path: str) -> None:
        from pyspark.sql import functions as F

        from documentprocessor_spark.operators import dedup
        from documentprocessor_spark.operators.textstats import (
            lang_id_col, quality_score_col)

        sp, t = self.spark, self.tracer
        docs = sp.read.parquet(docs_path)
        n_docs = docs.count()
        text = F.col("text")
        held = []

        def timed(name, df_fn, metric):
            with t.span(name) as s:
                df = df_fn().persist()
                n = df.count()
            held.append(df)
            self.put(metric, s["end"] - s["start"], "s")
            return df, n

        filtered, n_kept = timed("textstats.filter", lambda: docs.select(
            "doc_id", "text", lang_id_col(text).alias("lang_id"),
            quality_score_col(text).alias("quality_score"),
        ).where((F.col("lang_id") == "en") & (F.col("quality_score") >= 0.3)),
            "textstats.filter_s")
        self.put("textstats.kept_frac", n_kept / n_docs, "ratio")
        exact, _ = timed("dedup.exact", lambda: dedup.exact_dedup_survivors(
            filtered, "doc_id", "text"), "dedup.exact_s")
        pairs, n_pairs = timed("dedup.minhash_edges",
                               lambda: dedup.minhash_star_edges(
                                   exact, "doc_id", "text", k=8, band_rows=2),
                               "dedup.minhash_edges_s")
        self.put("dedup.pairs", n_pairs, "count")
        survivors = exact.join(
            pairs.select(F.col("doc_b").alias("doc_id")).distinct(),
            "doc_id", "left_anti").persist()
        survivors.count()
        held.append(survivors)
        with t.span("dedup.spans") as s:
            _noop(dedup.remove_duplicate_spans(survivors, "doc_id", "text",
                                               k=50))
        self.put("dedup.spans_s", s["end"] - s["start"], "s")
        with t.span("dedup.line_dedup") as s:
            _noop(dedup.cross_doc_line_dedup(survivors, "doc_id", "text",
                                             min_count=self.bench.line_min_count))
        self.put("dedup.line_dedup_s", s["end"] - s["start"], "s")
        with t.span("dedup.winnow") as s:
            n_fp = dedup.winnow_fingerprints(survivors, "doc_id", "text",
                                             k=5, w=4).count()
        self.put("dedup.winnow_s", s["end"] - s["start"], "s")
        self.put("dedup.fingerprints", n_fp, "count")
        for df in held:
            df.unpersist()
        dedup.release_span_cache()
        dedup.release_line_cache()

    # ------------------------------------------------------ assembly

    def put(self, name: str, value, unit: str) -> None:
        self.values[name] = (value, unit)

    def metrics(self, res: dict) -> dict:
        """Run the probes, stop the session, parse its event log and return
        every per-layer metric as {name: (value, unit)}."""
        import inputs

        b = self.bench
        side = os.path.join(b.work, "side")
        if b.workload == "curate_skewed":
            pages = os.path.join(side, "pages")
            inputs.write_pages(pages, b.seed, N_SIDE, 4)
            out = os.path.join(side, "out")
            with self.traced_job():
                b.run_extract(pages, out)
            write_layout = b.layout(out)
            self.probe_kernel(pages)
            self.probe_extraction(pages, out)
            self.probe_curation(b.input)
        else:
            pages = b.input
            write_layout = res["layout"]
            self.probe_kernel(pages)
            self.probe_extraction(
                pages, b.template if b.workload == "extract_resume"
                else b.last_out)
            docs = os.path.join(side, "docs")
            inputs.write_documents(docs, b.seed, N_SIDE)
            self.probe_curation(docs)
        for name, value in write_layout.items():
            self.put(name, value, "B" if name.endswith("bytes") else "count")
        for table in ("results", "spans", "manifest"):
            self.put(f"{table}.write_s", statistics.median(
                self.tracer.durations(f"{table}.write")), "s")

        walls, traced = res["walls"], res["traced_walls"]
        self.put("trace.wall_s", statistics.median(traced), "s")
        self.put("trace.overhead_s",
                 statistics.median(traced) - statistics.median(walls), "s")

        self.spark.stop()
        stages = parse_event_log(event_log_files(b.eventlog_dir))
        groups = self.tracer.last_groups()
        for layer, names in STAGE_SPANS.items():
            rows = [r for n in names for r in stages.get(groups.get(n), [])]
            if layer == "extract":
                self.put("extract.tasks", sum(r["tasks"] for r in rows),
                         "count")
                self.put("extract.task_s_sum",
                         sum(r["task_s_sum"] for r in rows), "s")
                self.put("extract.task_s_max",
                         max((r["task_s_max"] for r in rows), default=0.0),
                         "s")
            for key, value in layer_stage_metrics(rows).items():
                self.put(f"{layer}.{key}", value, STAGE_METRICS[key])

        trace_path = os.path.join(
            os.path.dirname(b.work), f"trace-{b.workload}-seed{b.seed}.json")
        self.tracer.dump(trace_path, {"stages": stages, "groups": groups,
                                      "metrics": self.values})
        return {name: self.values[name] for name in per_layer_names()}


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in BENCHMARK.json order."""
    names = [
        "sources.scan_s", "sources.splits", "html_parse.us_per_doc",
        "fields.us_per_doc", "extract.arrow_us_per_doc", "extract.stage_s",
        "extract.tasks", "extract.task_s_sum", "extract.task_s_max",
        "partitioning.exchanges", "pipeline.repartition_s",
        "results.write_s", "results.files", "results.bytes",
        "spans.write_s", "spans.files", "manifest.write_s",
        "resume.committed_read_s", "resume.todo_rows",
        "textstats.filter_s", "textstats.kept_frac", "dedup.exact_s",
        "dedup.minhash_edges_s", "dedup.pairs", "dedup.spans_s",
        "dedup.line_dedup_s", "dedup.winnow_s", "dedup.fingerprints",
    ]
    for layer in STAGE_SPANS:
        names += [f"{layer}.{k}" for k in STAGE_METRICS]
    return names + ["trace.wall_s", "trace.overhead_s"]
