"""The repository's benchmark: the jobs users run, end to end.

    python3 perfbench/run.py --workload extract_fresh --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout. One driver process starts one long-lived
``local[nproc]`` Spark session and calls the production job entry points
in-process (``jobs/extract_job.py`` -> ``plans.pipeline.run_job``,
``jobs/curate_job.py`` -> ``plans.curate.curate_documents`` plus the
``operators.dedup`` stages), closed loop, one job at a time, until
``--seconds`` have passed. Every output is checked against the seeded
generator's golden answers.

Workloads:

- ``extract_fresh``: extraction over a pages parquet (several files, 20% of
  urls on one heavy domain) into an empty output directory.
- ``extract_resume``: the same job over the same pages, starting from an
  output directory where an earlier run committed about 3/4 of the urls.
- ``curate_skewed``: curation with exact-substring, line-dedup and
  winnowing on, over documents with one exact-duplicate hot hash, one
  near-duplicate template group and repeated boilerplate lines.

BENCHMARK.json lists extract_fresh and curate_skewed. extract_resume runs
by hand only, to keep a full benchmark pass short: every run pays about
20 s of JVM start and cold warm-up on a 4-core machine. Its resume layer
is still measured on extract_fresh, whose traced runs probe the
committed-url read and anti-join against their last, fully committed
output.

The jobs run with ``--buckets 8`` (64 result files a run) instead of the
default 64 buckets (4,096 files), which would make one run take minutes.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, alternates traced and untraced job runs, then times each
layer with its own probe, and prints the per-layer metrics (see
``layers.py``). The last stdout line is the result JSON; the line before
it records the inputs' measured shares and the failure fraction.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("extract_fresh", "extract_resume", "curate_skewed")
N_PAGES = 10000
N_PAGE_FILES = 8
N_DOCS = 1200
BUCKETS = 8
RESUME_COMMITTED_SHARE = 0.75
LINE_MIN_COUNT = 2
CURATE_ARGS = ["--exact-substr-k", "50",
               "--line-dedup-min-count", str(LINE_MIN_COUNT),
               "--winnow-k", "5", "--winnow-w", "4"]
# The driver heap is fixed at this size from the start (-Xms = -Xmx). Left
# to grow on demand, G1 sizes it from GC pauses, which a shared host's load
# makes vary by hundreds of MB between sessions, and peak_rss_mb with them.
DRIVER_MEM = "2g"
SETUP_REPEATS = 3
# a curation job takes about 12 s on 4 cores: three make its median robust
MIN_ITERATIONS = 3


def _load_job(root: str, name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(root, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path`` whose names end
    with ``suffix``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Bench:
    """Inputs, session and job entry points of one benchmark process."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        self.root, self.workload, self.seed = root, workload, seed
        self.trace = trace
        self.work = os.path.join(root, ".bench_work",
                                 f"{workload}-{seed}-{os.getpid()}")
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self.jvm_pid = None
        self.iteration = 0
        self.buckets, self.line_min_count = BUCKETS, LINE_MIN_COUNT

    # ------------------------------------------------------------ set-up

    def make_inputs(self) -> None:
        import inputs

        shutil.rmtree(os.path.join(self.work, "in"), ignore_errors=True)
        base = os.path.join(self.work, "in")
        if self.workload == "curate_skewed":
            self.input = os.path.join(base, "docs")
            self.expect, self.shares = inputs.write_documents(
                self.input, self.seed, N_DOCS)
            self.n_rows = N_DOCS
        else:
            self.input = os.path.join(base, "pages")
            self.golden, self.shares = inputs.write_pages(
                self.input, self.seed, N_PAGES, N_PAGE_FILES)
            self.n_rows = N_PAGES
            if self.workload == "extract_resume":
                self._write_committed_subset(os.path.join(base, "subset"))
        self.input_bytes = _tree_bytes(self.input)[1]
        # page-cache the inputs
        for d, _, names in os.walk(base):
            for n in names:
                with open(os.path.join(d, n), "rb") as f:
                    while f.read(1 << 20):
                        pass

    def _write_committed_subset(self, path: str) -> None:
        import hashlib

        import pyarrow.parquet as pq

        table = pq.read_table(self.input)
        keep = [hashlib.sha256(u.encode()).digest()[0]
                < 256 * RESUME_COMMITTED_SHARE
                for u in table.column("url").to_pylist()]
        os.makedirs(path, exist_ok=True)
        pq.write_table(table.filter(keep),
                       os.path.join(path, "part-000.parquet"))
        self.shares["committed_share"] = sum(keep) / len(keep)

    def start_session(self) -> None:
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_WAREHOUSE"] = os.path.join(self.work, "warehouse")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        from documentprocessor_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
        }
        if self.trace:
            from tracing import spark_eventlog_conf

            self.eventlog_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(spark_eventlog_conf(self.eventlog_dir))
        self.spark = get_spark(app_name="perfbench",
                               master=f"local[{self.nproc}]",
                               shuffle_partitions=self.nproc,
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang
                           .ProcessHandle.current().pid())
        self.extract_job = _load_job(self.root, "extract_job")
        self.curate_job = _load_job(self.root, "curate_job")

    def warm_up(self) -> None:
        """One untimed run on the workload's own input warms the Python
        workers, JIT, codegen caches and JVM heap with the same plans the
        timed runs use. For extract_resume it is the earlier run that
        commits 3/4 of the urls, kept as the template every timed run
        starts from."""
        if self.workload == "extract_resume":
            self.template = os.path.join(self.work, "template")
            self.run_extract(os.path.join(self.work, "in", "subset"),
                             self.template)
            self.template_bytes = _tree_bytes(self.template)[1]
            return
        warm = os.path.join(self.work, "warm-out")
        self.run(warm)
        shutil.rmtree(warm, ignore_errors=True)

    def set_up(self) -> float:
        """Set-up time: the median of SETUP_REPEATS input generations plus
        session start and warm-up (pre-committed state included)."""
        gen = []
        for _ in range(SETUP_REPEATS):
            t0 = time.monotonic()
            self.make_inputs()
            gen.append(time.monotonic() - t0)
        t0 = time.monotonic()
        self.start_session()
        self.warm_up()
        return statistics.median(gen) + time.monotonic() - t0

    # ------------------------------------------------------------ jobs

    def run_extract(self, pages: str, out: str) -> None:
        with contextlib.redirect_stdout(sys.stderr):
            self.extract_job.main(["--input", pages, "--output", out,
                                   "--buckets", str(BUCKETS)],
                                  stop_session=False)

    def run_curate(self, docs: str, out: str) -> None:
        with contextlib.redirect_stdout(sys.stderr):
            self.curate_job.main(["--input", docs, "--output", out,
                                  *CURATE_ARGS], stop_session=False)

    def prepare(self) -> str:
        self.iteration += 1
        out = os.path.join(self.work, f"out-{self.iteration}")
        if self.workload == "extract_resume":
            shutil.copytree(self.template, out)
        return out

    def run(self, out: str) -> None:
        if self.workload == "curate_skewed":
            self.run_curate(self.input, out)
        else:
            self.run_extract(self.input, out)

    @staticmethod
    def layout(out: str) -> dict:
        """Result-table layout of an extraction output, counted from disk."""
        r_files, r_bytes = _tree_bytes(os.path.join(out, "results"),
                                       ".parquet")
        s_files, _ = _tree_bytes(os.path.join(out, "spans"), ".parquet")
        return {"results.files": r_files, "results.bytes": r_bytes,
                "spans.files": s_files}

    # ------------------------------------------------------------ checks

    def check(self, out: str) -> int:
        """Rows failing the correctness check (extraction also counts rows
        whose status is not 'done')."""
        if self.workload == "curate_skewed":
            return check_curation(self.spark, out, self.expect)
        return check_extraction(self.spark, out, self.golden)


def check_extraction(spark, out: str, golden: dict) -> int:
    """Every input url exactly once in the committed results, with
    extracted_text byte-equal to the golden text and status 'done'."""
    from documentprocessor_spark.plans.pipeline import read_committed_results

    rows = (read_committed_results(spark, out)
            .select("url", "extracted_text", "status").collect())
    seen: dict[str, int] = {}
    bad = 0
    for url, text, status in rows:
        seen[url] = seen.get(url, 0) + 1
        if golden.get(url) != text or status != "done":
            bad += 1
    bad += sum(1 for u in golden if seen.get(u, 0) != 1)
    bad += sum(n - 1 for n in seen.values() if n > 1)
    return bad


def check_curation(spark, out: str, expect: dict) -> int:
    """Each exact-duplicate group keeps exactly its minimum id, every
    built-to-be-unique document survives, and no non-empty line of the
    line-deduplicated survivors occurs LINE_MIN_COUNT times or more."""
    kept = {r[0] for r in spark.read.parquet(f"{out}/curated")
            .select("doc_id").collect()}
    bad = sum(1 for i in expect["unique_ids"] if i not in kept)
    for group in expect["exact_groups"]:
        bad += sum(1 for i in group if (i in kept) != (i == min(group)))
    counts: dict[str, int] = {}
    for (text,) in (spark.read.parquet(f"{out}/line_deduped")
                    .select("clean_text").collect()):
        for line in text.split("\n"):
            if line:
                counts[line] = counts.get(line, 0) + 1
    bad += sum(1 for n in counts.values() if n >= LINE_MIN_COUNT)
    return bad


def stop_spark(spark, jvm_pid: int | None, timeout_s: float = 30.0) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    Python worker it forked have exited (leftovers are killed)."""
    import signal

    from pyspark import SparkContext

    from tracing import descendants

    pids = [jvm_pid, *descendants(jvm_pid)] if jvm_pid else []
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except Exception:  # subprocess.TimeoutExpired: killed below
                pass
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not pids:
            return
        time.sleep(0.1)
    for p in pids:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


# ------------------------------------------------------------ main loop

def measure(bench: Bench, seconds: float, layers=None) -> dict:
    """Closed loop: one job at a time until ``seconds`` have passed (at
    least MIN_ITERATIONS runs). With ``layers`` set, odd runs are traced
    and the last run's output is kept in ``bench.last_out`` for the
    probes."""
    from tracing import PeakRss

    walls, traced_walls, rss, out_ratio = [], [], [], []
    failed = raised = 0
    last_layout, prev = {}, None
    t_loop = time.monotonic()
    i = 0
    while i < MIN_ITERATIONS or time.monotonic() - t_loop < seconds:
        traced = layers is not None and i % 2 == 1
        i += 1
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)
        out = prev = bench.prepare()
        before = bench.template_bytes if bench.workload == "extract_resume" \
            else 0
        try:
            with PeakRss(bench.jvm_pid) as peak:
                ctx = layers.traced_job() if traced else contextlib.nullcontext()
                with ctx:
                    t0 = time.monotonic()
                    bench.run(out)
                    wall = time.monotonic() - t0
        except Exception:  # a failed run is counted, not fatal
            traceback.print_exc()
            raised += 1
            continue
        (traced_walls if traced else walls).append(wall)
        rss.append(peak.peak / 2**20)
        failed += bench.check(out)
        out_ratio.append((_tree_bytes(out)[1] - before) / bench.input_bytes)
        if bench.workload != "curate_skewed":
            last_layout = bench.layout(out)
    bench.last_out = prev
    return {"walls": walls, "traced_walls": traced_walls, "rss_mb": rss,
            "out_ratio": out_ratio, "failed_rows": failed, "raised": raised,
            "iterations": i, "layout": last_layout}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    needed = ("documentprocessor_spark/__init__.py", "jobs/extract_job.py",
              "jobs/curate_job.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: not a checkout of the program, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    bench = Bench(root, args.workload, args.seed, bool(args.trace))
    try:
        setup_s = bench.set_up()
        layers = None
        if bench.trace:
            from layers import Layers

            layers = Layers(bench)
        res = measure(bench, args.seconds, layers)
        attempted = bench.n_rows * res["iterations"]
        failed = res["failed_rows"] + res["raised"]
        if bench.trace:
            metrics = layers.metrics(res)
        else:
            wall = statistics.median(res["walls"])
            metrics = {
                "wall_s": (wall, "s"),
                "docs_per_s": (bench.n_rows / wall, "1/s"),
                "setup_s": (setup_s, "s"),
                "out_bytes_per_in_byte": (
                    statistics.median(res["out_ratio"]), "ratio"),
                "peak_rss_mb": (statistics.median(res["rss_mb"]), "MB"),
            }
        print(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "inputs": bench.shares, "iterations": res["iterations"],
            "wall_s_samples": res["walls"], "rss_mb_samples": res["rss_mb"],
            "failed_frac": failed / attempted,
        }))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark, bench.jvm_pid)
        shutil.rmtree(bench.work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
