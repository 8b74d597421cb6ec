"""Per-layer metrics of a traced run.

Every layer is measured from outside the program: calls into each
module's public functions are timed here, and Spark's own event log is
read after the session stops. ``PER_LAYER`` is the full list a traced
run reports; a layer that a workload does not reach reads 0.
"""

from __future__ import annotations

import statistics
import time

from perfbench import eventlog

LEAVES = (
    "q1_extract_spans", "q2_parse_nodes", "q3_css_child_plan",
    "q4_minhash_dedup", "q5_cosine_topk", "q6_quality_features",
    "q7_extract_links", "q8_text_cleanup", "q9_pdf_extract",
)

PER_LAYER = {
    "session.get_spark_s": "s",
    "input.load_s": "s",
    "session.first_action_s": "s",
    "pipeline.build_s": "s",
    "partitioning.fan_out_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    **{f"leaf.{q}_s": "s" for q in LEAVES},
    **{f"leaf.{q}_cold_s": "s" for q in LEAVES},
    "leaf.q1_docs_per_s": "1/s",
    "python.start_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_in": "B",
    "python.bytes_out": "B",
    "python.bytes_in_per_doc": "B",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy": "ratio",
    "exec.task_skew": "ratio",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.python_stages": "count",
    "exec.tasks": "count",
    "exec.spill_bytes": "B",
    "scan.time_s": "s",
    "scan.rows_per_doc": "ratio",
    "exchange.write_s": "s",
    "exchange.bytes": "B",
    "exchange.fetch_wait_s": "s",
    "sink.bytes": "B",
    "sink.rows": "count",
    "job.chunk_ms_p50": "ms",
    "job.chunk_ms_max": "ms",
    "job.reported_wall_s": "s",
    "tokenizer.us_per_doc": "us",
    "treebuilder.us_per_doc": "us",
    "extract.us_per_doc": "us",
    "dom.us_per_doc": "us",
    "pdf.us_per_doc": "us",
    "python.body_share": "ratio",
    "trace.overhead": "ratio",
    "unattributed_share": "ratio",
    "check.failed_frac": "ratio",
}

BODY_PASSES = 3


class Layers:
    """Fills a result's per-layer metrics for one traced run."""

    def __init__(self, res, cores: int, docs_per_rep: int):
        self.res = res
        self.cores = cores
        self.docs = docs_per_rep

    def put(self, name: str, value: float) -> None:
        self.res.put(name, value, PER_LAYER[name])

    def get(self, name: str) -> float:
        return self.res.metrics.get(name, {}).get("value", 0.0)

    def session(self, get_spark_s: float, load_s: float,
                first_action_s: float) -> None:
        self.put("session.get_spark_s", get_spark_s)
        self.put("input.load_s", load_s)
        self.put("session.first_action_s", first_action_s)

    def driver(self, build_s: float, plan_s: float, exec_s: float) -> None:
        """Per-rep driver-side split: frame build (``fan_out`` probes
        included), forced planning, and the action itself."""
        self.put("pipeline.build_s", build_s)
        self.put("spark.plan_s", plan_s)
        self.put("spark.exec_s", exec_s)

    def time_fan_out(self, frames) -> None:
        """Direct calls of ``partitioning.fan_out`` on each input frame."""
        from sparkhtml.spark.partitioning import fan_out

        t0 = time.perf_counter()
        for df in frames:
            fan_out(df)
        self.put("partitioning.fan_out_s", time.perf_counter() - t0)

    def event_log(self, log_path: str, window: tuple, reps: int) -> None:
        """Spark's task and SQL metrics, per rep, for jobs launched in
        the timed window."""
        s = eventlog.read(log_path, *window)
        per = 1.0 / reps
        docs = self.docs * reps
        self.put("python.start_s", s.python_start_s * per)
        self.put("python.init_s", s.python_init_s * per)
        self.put("python.run_s", s.python_run_s * per)
        self.put("python.bytes_in", s.python_bytes_in * per)
        self.put("python.bytes_out", s.python_bytes_out * per)
        self.put("python.bytes_in_per_doc", s.python_bytes_in / docs)
        self.put("exec.run_s", s.exec_run_s * per)
        self.put("exec.cpu_s", s.exec_cpu_s * per)
        self.put("exec.gc_s", s.gc_s * per)
        exec_s = self.get("spark.exec_s")
        if exec_s > 0:
            self.put("exec.core_busy",
                     s.exec_run_s * per / (self.cores * exec_s))
        self.put("exec.task_skew", s.task_skew)
        self.put("exec.jobs", s.jobs * per)
        self.put("exec.stages", s.stages * per)
        self.put("exec.python_stages", s.python_stages * per)
        self.put("exec.tasks", s.tasks * per)
        self.put("exec.spill_bytes", s.spill_bytes * per)
        self.put("scan.time_s", s.scan_time_s * per)
        self.put("scan.rows_per_doc", s.input_rows / docs)
        self.put("exchange.write_s", s.exchange_write_s * per)
        self.put("exchange.bytes", s.exchange_bytes * per)
        self.put("exchange.fetch_wait_s", s.fetch_wait_s * per)
        self.put("sink.bytes", s.sink_bytes * per)
        self.put("sink.rows", s.sink_rows * per)

    def body(self, html_docs: list, pdf_blobs: list) -> None:
        """Parser body on one core, in this process: the median over
        ``BODY_PASSES`` passes of each layer over the sample."""
        from sparkhtml.dom import FlatDOM
        from sparkhtml.extract import doc_metrics, extract_spans
        from sparkhtml.spark.pdf import pdf_extract_spans
        from sparkhtml.tokenizer import Tokenizer
        from sparkhtml.treebuilder import parse_fragment

        texts = [[s["text"] for s in d if s["kind"] == "text" and s["text"]]
                 for d in html_docs]

        def tokenize(doc_texts):
            for t in doc_texts:
                for _ in Tokenizer(t, collect_errors=False).tokens():
                    pass

        def tree(doc_texts):
            for t in doc_texts:
                parse_fragment(t, "body", collect_errors=False)

        def dom(doc_texts):
            for t in doc_texts:
                doc_metrics(FlatDOM.from_html(t, collect_errors=True))

        def per_doc_us(fn, items) -> float:
            passes = []
            for _ in range(BODY_PASSES):
                t0 = time.perf_counter()
                for item in items:
                    fn(item)
                passes.append(time.perf_counter() - t0)
            return statistics.median(passes) / len(items) * 1e6

        self.put("tokenizer.us_per_doc", per_doc_us(tokenize, texts))
        self.put("treebuilder.us_per_doc", per_doc_us(tree, texts))
        self.put("extract.us_per_doc", per_doc_us(extract_spans, html_docs))
        self.put("dom.us_per_doc", per_doc_us(dom, texts))
        self.put("pdf.us_per_doc", per_doc_us(pdf_extract_spans, pdf_blobs))
        exec_s = self.get("spark.exec_s")
        if exec_s > 0:
            self.put("python.body_share",
                     self.get("extract.us_per_doc") * 1e-6 * self.docs
                     / (self.cores * exec_s))

    def finish(self, wall_s: float, untraced_wall_s: float, failed: int,
               attempted: int, startup_s: float = 0.0) -> None:
        """Unattributed share of a rep's wall: what neither start-up
        inside the rep (``startup_s``), the driver spans (build, plan) nor
        the executors' busy time spread over the cores covers. Layers
        the workload does not reach read 0."""
        covered = (startup_s + self.get("pipeline.build_s")
                   + self.get("spark.plan_s")
                   + self.get("exec.run_s") / self.cores)
        self.put("unattributed_share", max(0.0, 1.0 - covered / wall_s))
        self.put("trace.overhead", wall_s / untraced_wall_s - 1.0)
        self.put("check.failed_frac", failed / max(attempted, 1))
        for name in PER_LAYER:
            if name not in self.res.metrics:
                self.put(name, 0.0)
