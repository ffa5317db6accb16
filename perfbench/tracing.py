"""Per-layer split of the extraction job, measured from outside the program.

Between traced jobs the benchmark runs noop-sink cuts of
``run_extraction``'s own composition (scan, + salted repartition,
+ fused extract, + output repartition, + partitioned write). Adjacent
cuts differ by one layer, so their difference is that layer's time.
The last cut writes exactly what the job writes; its physical plan must
match the job's, or the run stops rather than split a pipeline that no
longer exists.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from eventlog import EventLog, plan_body

CUTS = ("scan", "repart", "extract", "outrepart", "write")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def compose(spark, in_path: str, upto: str, n_buckets: int):
    """``run_extraction``'s fresh-run composition, cut after layer ``upto``."""
    from pyspark.sql import functions as F

    from pdf_to_text_spark.operators.extract import extract_documents_fused
    from pdf_to_text_spark.plans.pipeline import (
        DEFAULT_WHALE_BYTES,
        bucket_of,
        size_aware_repartition,
    )

    df = spark.read.parquet(in_path).select("url", "html", "text")
    df = df.withColumn("bucket", bucket_of(F.col("url"), n_buckets))
    if upto == "scan":
        return df
    n_partitions = spark.sparkContext.defaultParallelism * 2
    df = size_aware_repartition(df, n_partitions, whale_bytes=DEFAULT_WHALE_BYTES)
    if upto == "repart":
        return df
    df = extract_documents_fused(df).withColumn("bucket", bucket_of(F.col("url"), n_buckets))
    if upto == "extract":
        return df
    return df.repartition(n_buckets, "bucket")


class Layers:
    def __init__(self, bench):
        self.b = bench
        self.t: dict[str, list[float]] = {}
        self.write_stats: list[tuple[int, float]] = []
        self.groups: list[str] = []

    def _add(self, name: str, s: float) -> None:
        self.t.setdefault(name, []).append(s)

    def _noop(self, tag: str, df) -> float:
        self.b.spark.sparkContext.setJobGroup(tag, tag)
        with self.b.spans.span(tag, parent="run") as sp:
            df.write.format("noop").mode("overwrite").save()
        return sp["s"]

    def iteration(self, i: int) -> None:
        from pyspark.sql import functions as F

        from pdf_to_text_spark.functions.text import normalize_extracted
        from pdf_to_text_spark.plans.pipeline import committed_buckets

        b, spark = self.b, self.b.spark
        job = b.job(f"job-{i}")
        self.groups.append(f"job-{i}")
        self._add("job", job["job_s"])
        out = b.out_dir
        extracted = os.path.join(out, "extracted")
        files = [
            os.path.join(d, n) for d, _, ns in os.walk(extracted) for n in ns if n.endswith(".parquet")
        ]
        self.write_stats.append(
            (len(files), sum(os.path.getsize(f) for f in files) / (1024.0 * 1024.0))
        )
        self.routes = b.last_out.column("route").to_pylist()
        self.extract_ms = b.last_out.column("extract_ms").to_pylist()

        # lineage: the job's own aggregate over its written output
        spark.sparkContext.setJobGroup(f"lineage-{i}", "lineage")
        with b.spans.span(f"lineage-{i}", parent=f"job-{i}") as sp:
            (
                spark.read.parquet(extracted)
                .filter(F.col("bucket").isin(list(range(b.n_buckets))))
                .groupBy(F.col("bucket").alias("partition_id"))
                .agg(F.count("*"), F.sum("bytes_in"), F.sum("extract_ms").cast("long"))
                .collect()
            )
        self._add("lineage", sp["s"])
        with b.spans.span(f"committed_buckets-{i}", parent=f"job-{i}") as sp:
            committed_buckets(out)
        self._add("committed_buckets", sp["s"])

        # normalize over the job's text, less a scan of the same column
        text = spark.read.parquet(extracted).select("extracted_text")
        base = self._noop(f"cut-normscan-{i}", text)
        norm = self._noop(
            f"cut-norm-{i}", text.select(normalize_extracted(F.col("extracted_text")))
        )
        self._add("normalize", norm - base)

        prev = 0.0
        for cut in CUTS:
            tag = f"cut-{cut}-{i}"
            if cut == "write":
                cut_out = os.path.join(b.run_dir, "cut_out")
                shutil.rmtree(cut_out, ignore_errors=True)
                df = compose(spark, b.pages, "outrepart", b.n_buckets)
                spark.sparkContext.setJobGroup(tag, tag)
                with b.spans.span(tag, parent="run") as sp:
                    df.write.partitionBy("bucket").mode("overwrite").parquet(cut_out)
                s = sp["s"]
                shutil.rmtree(cut_out, ignore_errors=True)
            else:
                s = self._noop(tag, compose(spark, b.pages, cut, b.n_buckets))
            self._add(cut, s - prev)
            prev = s

    def metrics(self, log_dir: str, untraced_job_s: float) -> dict:
        log = EventLog(log_dir)
        last = len(self.t["job"]) - 1
        job_plan = log.plan(f"job-{last}", "InsertIntoHadoopFsRelationCommand")
        cut_plan = log.plan(f"cut-write-{last}", "InsertIntoHadoopFsRelationCommand")
        if job_plan is None or cut_plan is None:
            raise RuntimeError("plan drift guard: write plans missing from the event log")
        if plan_body(job_plan, "WriteFiles") != plan_body(cut_plan, "WriteFiles"):
            raise RuntimeError(
                "plan drift guard: run_extraction's write plan no longer matches the "
                "benchmark's cuts; update perfbench/tracing.py:compose"
            )
        stats = [log.group_stats(g) for g in self.groups]
        self.stage_stats = dict(zip(self.groups, stats))
        gc = sum(s["gc_ms"] for s in stats)
        run = sum(s["run_ms"] for s in stats)

        def med(key):
            return median([s[key] for s in stats])

        t = {k: median(v) for k, v in self.t.items()}
        pipeline = t["scan"] + t["repart"] + t["outrepart"] + t["write"] + t["lineage"]
        layer_sum = pipeline + t["extract"] + t["committed_buckets"]
        rows = {r: self.routes.count(r) for r in ("text_layer", "pdf", "html", "error")}
        ms = [m for m in self.extract_ms if m is not None]
        return {
            "session.gc_frac": (gc / run if run else 0.0, "ratio"),
            "plans.pipeline.scan_s": (t["scan"], "s"),
            "plans.pipeline.size_aware_repartition_s": (t["repart"], "s"),
            "plans.pipeline.size_aware_repartition.shuffle_mb": (med("scan_shuffle_mb"), "MB"),
            "plans.pipeline.output_repartition_s": (t["outrepart"], "s"),
            "plans.pipeline.output_repartition.shuffle_mb": (med("udf_shuffle_mb"), "MB"),
            "plans.pipeline.write_s": (t["write"], "s"),
            "plans.pipeline.write.files": (float(self.write_stats[-1][0]), "count"),
            "plans.pipeline.write.mb": (self.write_stats[-1][1], "MB"),
            "plans.pipeline.lineage_s": (t["lineage"], "s"),
            "plans.pipeline.committed_buckets_ms": (1000.0 * t["committed_buckets"], "ms"),
            "plans.pipeline.spill_mb": (med("spill_mb"), "MB"),
            "plans.pipeline.tasks": (med("tasks"), "count"),
            "operators.extract.extract_documents_fused_s": (t["extract"], "s"),
            "operators.extract.arrow_sent_mb": (med("arrow_sent_mb"), "MB"),
            "operators.extract.arrow_recv_mb": (med("arrow_recv_mb"), "MB"),
            "operators.extract.task_max_over_median": (med("udf_task_max_over_median"), "ratio"),
            **{f"operators.extract.rows.{r}": (float(n), "count") for r, n in rows.items()},
            "operators.extract.extract_ms_p50": (_pct(ms, 0.50), "ms"),
            "operators.extract.extract_ms_p99": (_pct(ms, 0.99), "ms"),
            "operators.extract.extract_ms_max": (max(ms) if ms else 0.0, "ms"),
            "functions.text.normalize_extracted_s": (t["normalize"], "s"),
            "trace.layer_sum_over_job": (layer_sum / untraced_job_s, "ratio"),
            "trace.overhead": (t["job"] / untraced_job_s - 1.0, "ratio"),
        }


def direct_calls(pages_path: str, budget_s: float, spans) -> dict:
    """Single-thread calls into the parsers over the workload's own rows,
    each parser for at most ``budget_s`` seconds, in corpus order."""
    import pyarrow.parquet as pq

    from pdf_to_text_spark.core.htmlextract import extract_main_content_bytes
    from pdf_to_text_spark.core.pdfparse import extract_pdf_pages_safe
    from pdf_to_text_spark.core.textnorm import text_layer_sufficient

    t = pq.read_table(pages_path, columns=["html", "text"])
    pdf, html = [], []
    for data, text in zip(t.column("html").to_pylist(), t.column("text").to_pylist()):
        if not data or text_layer_sufficient(text):
            continue
        if data.startswith(b"%PDF-"):
            pdf.append(data)
        elif data[:32].lstrip()[:1] == b"<":
            html.append(data)

    def timed(name, fn, docs):
        ms, errors, t0 = [], 0, time.perf_counter()
        for i, d in enumerate(docs):
            with spans.span(f"{name}-{i}", parent=name) as sp:
                res = fn(d)
            ms.append(1000.0 * sp["s"])
            if isinstance(res, tuple) and res[1] is not None:
                errors += 1
            if time.perf_counter() - t0 > budget_s:
                break
        return ms, errors

    p = "core.pdfparse.extract_pdf_pages_safe"
    h = "core.htmlextract.extract_main_content_bytes"
    pdf_ms, pdf_err = timed(p, extract_pdf_pages_safe, pdf)
    html_ms, _ = timed(h, extract_main_content_bytes, html)
    return {
        f"{p}.ms_p50": (_pct(pdf_ms, 0.5), "ms"),
        f"{p}.ms_p99": (_pct(pdf_ms, 0.99), "ms"),
        f"{p}.calls": (float(len(pdf_ms)), "count"),
        f"{p}.error_rows": (float(pdf_err), "count"),
        f"{h}.ms_p50": (_pct(html_ms, 0.5), "ms"),
        f"{h}.ms_p99": (_pct(html_ms, 0.99), "ms"),
        f"{h}.calls": (float(len(html_ms)), "count"),
    }


def print_table(metrics: dict, untraced_job_s: float) -> None:
    """Per-layer table: each layer's median time and its share of the job."""
    rows = [
        ("plans.pipeline", "scan_s"),
        ("plans.pipeline", "size_aware_repartition_s"),
        ("operators.extract", "extract_documents_fused_s"),
        ("plans.pipeline", "output_repartition_s"),
        ("plans.pipeline", "write_s"),
        ("plans.pipeline", "lineage_s"),
        ("functions.text", "normalize_extracted_s"),
    ]
    print(f"per-layer split (untraced job median {untraced_job_s:.3f} s)")
    total = {"plans.pipeline": 0.0, "operators.extract": 0.0}
    for layer, name in rows:
        v = metrics[f"{layer}.{name}"][0]
        if layer in total:
            total[layer] += v
        print(f"  {layer + '.' + name:<46} {v:8.3f} s  {100 * v / untraced_job_s:6.1f} %")
    for layer, v in total.items():
        print(f"  share {layer:<40} {100 * v / untraced_job_s:6.1f} %")
    print(
        f"  layer sum / untraced job {metrics['trace.layer_sum_over_job'][0]:.3f}, "
        f"tracing overhead {100 * metrics['trace.overhead'][0]:+.1f} %"
    )
