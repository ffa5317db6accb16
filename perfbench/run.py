"""Benchmark of the production extraction job, ``plans.pipeline.run_extraction``.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_parse --seed 7 --seconds 10 --trace 0

One client runs a closed loop, one fresh ``run_extraction(resume=False)``
job at a time on ``session.get_spark(cores=nproc)``. A run:

1. builds the workload's corpus and goldens from ``--seed`` (cached under
   ``.perfbench/cache``) before the JVM starts, outside every timer;
2. times ``get_spark`` plus the first, cold job (``setup_s``);
3. runs untimed warm-up jobs until two in a row agree (or 10 s are spent);
4. times jobs back to back for ``--seconds`` and reports medians.

Every job's output is compared url by url with the oracle goldens and
its lineage and manifest are checked; ``failed`` counts the rows that
disagree. With ``--trace 1`` the run goes on, in the same JVM, to a
second session that writes Spark's event log, times noop-sink cuts of
the job's own composition between traced jobs, times direct parser
calls, and reports the per-layer metrics instead of the end-to-end ones.

The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import corpus
from procfs import SparkTree, alive, descendants, host_ticks
from tracing import Layers, direct_calls, median, print_table

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# Rows are multiples of four (corpus shards) times the mix's class-weight
# sum (102 for the default crawl mix, 100 for the text-layer mix), so
# every seed gets exact per-class counts. The sizes keep a whole run, cold
# JVM included, near one minute on a 4-core host.
WORKLOADS = {
    "crawl_parse": {"mix": "crawl", "rows": 1632},
    "textlayer_bulk": {"mix": "textlayer", "rows": 12000},
}
N_BUCKETS = 64  # run_extraction's default
# Warm-up ends when two consecutive full-size jobs agree within 5%, or
# once 10 s of warm-up are spent (two jobs). On a 4-core host the first
# warm job after the cold one is 15-25% slower than the next; later jobs
# drift down by a few percent per job for many jobs, which a run cannot
# afford to wait out.
STEADY_JOBS = 2
STEADY_TOL = 0.05
WARMUP_BUDGET_S = 10.0
TRACED_ITERATIONS = 2
DIRECT_CALL_BUDGET_S = 4.0  # per parser


def ref_loop_ms(reps: int = 7) -> float:
    """Median time of a fixed pure-Python loop, taken before the JVM starts:
    the host's speed during the run, so drift between runs shows."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append(1000.0 * (time.perf_counter() - t0))
    return statistics.median(times)


class Spans:
    """In-memory spans (name, start, end, parent, run id); written out when
    the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None):
        rec = {"name": name, "start": time.perf_counter(), "parent": parent, "run_id": self.run_id}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            self.items.append(rec)


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.out_dir = os.path.join(run_dir, "out")
        self.n_buckets = N_BUCKETS
        self.spans = Spans(f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.jobs: list[dict] = []
        self.spark = None
        self.tree = None
        self.faults_left = 1 if args.inject_fault else 0

    # -- session ---------------------------------------------------------
    def start_session(self, event_log: str | None = None) -> float:
        from pdf_to_text_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            # keep the JVM's scratch files inside the run directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(cores=os.cpu_count(), extra_conf=conf)
        return time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop Spark, end the gateway JVM and wait for every child."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            try:
                gw.shutdown()
            except Exception as e:  # noqa: BLE001 — the JVM may already be gone
                print(f"perfbench: gateway shutdown: {e!r}", file=sys.stderr)
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 15
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in descendants(os.getpid()):
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass

    # -- one job -----------------------------------------------------------
    def job(self, tag: str) -> dict:
        """One fresh run_extraction, timed from input to committed manifest."""
        from pdf_to_text_spark.plans.pipeline import run_extraction

        shutil.rmtree(self.out_dir, ignore_errors=True)
        self.spark.sparkContext.setJobGroup(tag, tag)
        self.tree.reset_peaks()
        cpu0 = self.tree.cpu()
        summary = None
        with self.spans.span(tag, parent="run") as sp:
            try:
                summary = run_extraction(
                    self.spark, self.pages, self.out_dir, n_buckets=self.n_buckets, resume=False
                )
            except Exception as e:  # noqa: BLE001 — a failed job counts all its rows
                print(f"perfbench: job {tag} failed: {e!r}"[:2000], file=sys.stderr)
        cpu1 = self.tree.cpu()
        rss = self.tree.worker_peak_mb()
        n = self.n_rows
        self.attempted += n
        sample = {"tag": tag, "job_s": sp["s"], "docs": n}
        if summary is None:
            self.failed += n
            sample["failed"] = n
            self.jobs.append(sample)
            return sample
        out = corpus.read_output(self.out_dir)
        if self.faults_left:
            out = corpus.inject_fault(out)
            self.faults_left -= 1
        failed = corpus.count_failed(out, self.golden)
        if not corpus.lineage_ok(self.out_dir, summary["run_id"], n, self.n_buckets):
            failed = n
        self.failed += failed
        sample.update(
            {
                "failed": failed,
                "docs_per_s": n / sp["s"],
                "cpu_ms_per_doc": 1000.0 * (cpu1["total"] - cpu0["total"]) / n,
                "python_cpu_ms_per_doc": 1000.0 * (cpu1["python"] - cpu0["python"]) / n,
                "jvm_cpu_ms_per_doc": 1000.0 * (cpu1["jvm"] - cpu0["jvm"]) / n,
                "python_peak_rss_mb": rss,
            }
        )
        self.last_out = out
        self.jobs.append(sample)
        return sample

    # -- phases ------------------------------------------------------------
    def setup(self) -> dict:
        get_spark_s = self.start_session()
        self.tree = SparkTree(os.getpid())
        first = self.job("job-cold")
        return {"get_spark_s": get_spark_s, "first_job_s": first["job_s"]}

    def warm_up(self) -> int:
        """Untimed jobs until STEADY_JOBS consecutive ones agree."""
        times: list[float] = []
        t0 = time.perf_counter()
        while True:
            times.append(self.job(f"job-warm-{len(times)}")["job_s"])
            last = times[-STEADY_JOBS:]
            if len(last) == STEADY_JOBS and max(last) <= min(last) * (1 + STEADY_TOL):
                break
            if time.perf_counter() - t0 > WARMUP_BUDGET_S:
                break
        return len(times)

    def timed(self, seconds: float, prefix: str = "job") -> list[dict]:
        samples: list[dict] = []
        t0 = time.perf_counter()
        while not samples or time.perf_counter() - t0 < seconds:
            samples.append(self.job(f"{prefix}-{len(samples)}"))
        return samples

    def run(self) -> dict:
        wl = WORKLOADS[self.args.workload]
        self.n_rows = self.args.rows or wl["rows"]
        t0 = time.perf_counter()
        cdir = corpus.ensure_corpus(
            os.path.join(ROOT, ".perfbench", "cache"), ROOT, wl["mix"], self.n_rows, self.args.seed
        )
        corpus_s = time.perf_counter() - t0
        self.corpus_dir = cdir
        self.pages = os.path.join(cdir, "pages.parquet")
        self.golden = corpus.load_goldens(cdir)

        ref_ms = ref_loop_ms()
        steal0 = host_ticks()
        setup = self.setup()
        warm = self.warm_up()
        samples = [s for s in self.timed(self.args.seconds) if "docs_per_s" in s]
        jvm_peak = self.tree.jvm_peak_mb()
        record = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "rows": self.n_rows,
            "corpus_s": corpus_s,
            "host_ref_loop_ms": ref_ms,
            "setup": setup,
            "warmup_jobs": warm,
            "jobs": self.jobs,
        }
        if self.args.trace:
            metrics = self.traced(setup, warm, samples, jvm_peak, record)
        else:
            metrics = {
                "docs_per_s": (median([s["docs_per_s"] for s in samples]), "docs/s"),
                "cpu_ms_per_doc": (median([s["cpu_ms_per_doc"] for s in samples]), "ms"),
                "python_peak_rss_mb": (
                    median([s["python_peak_rss_mb"] for s in samples]),
                    "MB",
                ),
                "setup_s": (setup["get_spark_s"] + setup["first_job_s"], "s"),
            }
        self.shutdown()
        steal1 = host_ticks()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        if self.args.trace:
            metrics["host.steal_frac"] = (steal, "ratio")
            metrics["host.ref_loop_ms"] = (ref_ms, "ms")
        record.update({"host_steal_frac": steal, "spans": self.spans.items})
        self._report(samples, record)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _report(self, samples: list[dict], record: dict) -> None:
        """Per-job samples on stdout and in .perfbench/results, so a noisy
        run shows that it is noisy."""
        times = [s["job_s"] for s in samples]
        trend = times[0] / times[-1] - 1.0 if times else 0.0
        print(
            f"{self.args.workload} seed={self.args.seed} rows={self.n_rows} "
            f"corpus_s={record['corpus_s']:.1f} get_spark_s={record['setup']['get_spark_s']:.2f} "
            f"first_job_s={record['setup']['first_job_s']:.2f} "
            f"warmup_jobs={record['warmup_jobs']} timed_jobs={len(times)} "
            f"first_over_last_timed={trend:+.3f} steal={record['host_steal_frac']:.4f} "
            f"ref_loop_ms={record['host_ref_loop_ms']:.1f}"
        )
        for s in self.jobs:
            print(f"  {s['tag']:<22} {s['job_s']:7.3f} s  failed={s.get('failed')}")
        res = os.path.join(ROOT, ".perfbench", "results")
        os.makedirs(res, exist_ok=True)
        name = f"{time.strftime('%Y%m%dT%H%M%S')}-{self.args.workload}-s{self.args.seed}"
        with open(os.path.join(res, f"{name}-t{self.args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1)

    # -- traced run ----------------------------------------------------------
    def traced(self, setup, warm, samples, jvm_peak, record) -> dict:
        untraced_job_s = median([s["job_s"] for s in samples])
        self.spark.stop()
        log_dir = os.path.join(self.run_dir, "eventlog")
        self.start_session(event_log=log_dir)
        self.job("job-warm-traced")
        layers = Layers(self)
        for i in range(TRACED_ITERATIONS):
            layers.iteration(i)
        direct = direct_calls(self.pages, DIRECT_CALL_BUDGET_S, self.spans)
        self.spark.stop()
        self.spark = None
        metrics = layers.metrics(log_dir, untraced_job_s)
        metrics.update(direct)
        metrics.update(
            {
                "session.get_spark_s": (setup["get_spark_s"], "s"),
                "session.first_job_s": (setup["first_job_s"], "s"),
                "session.warmup_jobs": (float(warm), "count"),
                "session.jvm_cpu_ms_per_doc": (
                    median([s["jvm_cpu_ms_per_doc"] for s in samples]),
                    "ms",
                ),
                "session.jvm_peak_rss_mb": (jvm_peak, "MB"),
                "operators.extract.python_cpu_ms_per_doc": (
                    median([s["python_cpu_ms_per_doc"] for s in samples]),
                    "ms",
                ),
            }
        )
        record["layers"] = {k: v for k, (v, _) in metrics.items()}
        record["stages"] = layers.stage_stats
        print_table(metrics, untraced_job_s)
        return metrics


def _sweep_stale(work: str) -> None:
    """Remove run directories left behind by killed runs."""
    if not os.path.isdir(work):
        return
    for name in os.listdir(work):
        pid = name[4:]
        if name.startswith("run-") and pid.isdigit() and not alive(int(pid)):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-check knobs: a smaller corpus, one corrupted row
    ap.add_argument("--rows", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--inject-fault", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pdf_to_text_spark", "plans", "pipeline.py")):
        print(
            "perfbench: run from the repository root; pdf_to_text_spark/ is missing here",
            file=sys.stderr,
        )
        return 2

    work = os.path.join(ROOT, ".perfbench")
    _sweep_stale(work)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch file of this process, the JVM and the Python workers
    # stays under the run directory; workers import the package from ROOT
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    bench = Bench(args, run_dir)
    try:
        result = bench.run()
    finally:
        bench.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
