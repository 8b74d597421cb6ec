"""Workload ``chunked_job``: the production job ``scripts/run_extract.py``
submitted with ``spark-submit`` as its docstring shows, one child process
per rep with fresh output directories.

It exercises what the in-process workloads do not: size-salted
repartitioning and the straggler split (``partitioning``), the chunked
writer with its per-chunk input filter, read-back counts and manifest
(``checkpoint.ChunkedRun``), parquet written beside the reads, and the
second parse of ``extract_metrics_df``.
"""

from __future__ import annotations

import glob
import json
import os
import random
import signal
import statistics
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq

from perfbench import checks, common, corpus, eventlog, layers, rich_extract

N_DOCS = 2_000
PATHOLOGICAL_RATE = 0.003
CHUNKS = 4
# Between the largest normal document (under 7 k chars at this size) and
# the smallest pathological one (over 18 k chars), so exactly the giants
# take the straggler path.
STRAGGLER_CHARS = 12_000
N_SAMPLE = 100
MIN_REPS = 1
# spark-submit logs this once the job's session state exists
READY_MARK = "SharedState: Warehouse path is"
SUBMIT_TIMEOUT_S = 150


def spark_submit() -> str:
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "bin", "spark-submit")
    return "spark-submit"


def build_pyfiles() -> str:
    """``scripts/make_pyfiles.py``: the zip passed as ``--py-files``."""
    subprocess.run([sys.executable, os.path.join(common.ROOT, "scripts",
                                                 "make_pyfiles.py")],
                   check=True, stdout=subprocess.DEVNULL, timeout=60)
    return os.path.join(common.ROOT, "dist", "sparkhtml.zip")


class Submission:
    """One spark-submit of the job; times launch -> session ready and
    launch -> exit from the child's own log lines."""

    def __init__(self, table: str, pyfiles: str, rep_dir: str,
                 log_dir: str | None):
        self.out = os.path.join(rep_dir, "out")
        self.metrics = os.path.join(rep_dir, "metrics")
        conf = common.jvm_scratch_conf()
        if log_dir is not None:
            conf.update(common.event_log_conf(log_dir))
        self.cmd = [spark_submit(), "--master", f"local[{common.CORES}]"]
        for k, v in conf.items():
            self.cmd += ["--conf", f"{k}={v}"]
        self.cmd += [
            "--py-files", pyfiles,
            os.path.join(common.ROOT, "scripts", "run_extract.py"),
            "--input", table,
            "--output", self.out,
            "--checkpoint", os.path.join(rep_dir, "checkpoint"),
            "--chunks", str(CHUNKS),
            "--metrics-output", self.metrics,
            "--straggler-chars", str(STRAGGLER_CHARS),
        ]
        self.ready_s = None
        self.wall_s = None
        self.summary = None
        self._stderr_tail: list[str] = []

    def _read_stderr(self, stream, t0: float) -> None:
        for line in stream:
            if self.ready_s is None and READY_MARK in line:
                self.ready_s = time.perf_counter() - t0
            self._stderr_tail = (self._stderr_tail + [line])[-40:]

    def run(self) -> None:
        t0 = time.perf_counter()
        # own process group, so a timeout can end the JVM and the Python
        # processes it started together
        proc = subprocess.Popen(self.cmd, stdout=subprocess.PIPE,
                                stderr=subprocess.PIPE, text=True,
                                cwd=common.ROOT, start_new_session=True)
        stdout: list[str] = []
        readers = [
            threading.Thread(target=self._read_stderr, args=(proc.stderr, t0)),
            threading.Thread(target=lambda: stdout.extend(proc.stdout)),
        ]
        for r in readers:
            r.start()
        try:
            proc.wait(timeout=SUBMIT_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            for r in readers:
                r.join()
        self.wall_s = time.perf_counter() - t0
        if proc.returncode != 0 or self.ready_s is None or not stdout:
            raise RuntimeError(
                f"spark-submit failed ({proc.returncode}):\n"
                + "".join(self._stderr_tail))
        self.summary = json.loads(stdout[-1])

    def manifests(self) -> list[dict]:
        out = []
        for path in sorted(glob.glob(os.path.join(self.out, "_manifest",
                                                  "chunk-*.json"))):
            with open(path) as f:
                out.append(json.load(f))
        return out


def _read_rows(pattern: str, columns: list[str]) -> list[dict]:
    rows = []
    for path in sorted(glob.glob(pattern)):
        rows.extend(pq.read_table(path, columns=columns).to_pylist())
    return rows


def check(sub: Submission, docs: list, seed: int, res) -> None:
    """Output plus stragglers cover every input document exactly once,
    a seeded sample equals the driver-side ``extract_spans``, every
    manifest reads ``ok``, and the metrics table has one row per doc."""
    out = _read_rows(os.path.join(sub.out, "chunk=*", "*.parquet"),
                     ["doc_id", "spans"])
    out += _read_rows(os.path.join(sub.out, "stragglers", "*.parquet"),
                      ["doc_id", "spans"])
    sample = random.Random(seed).sample(range(len(docs)), N_SAMPLE)
    inputs_by_id = {docs[i]["doc_id"]: docs[i]["spans"] for i in sample}
    res.attempted += len(docs)
    res.failed += checks.tally_spans(
        out, inputs_by_id, {d["doc_id"] for d in docs}, res.notes)

    manifests = sub.manifests()
    bad = CHUNKS - sum(1 for m in manifests if m.get("status") == "ok")
    res.attempted += CHUNKS
    res.failed += bad
    if bad:
        res.notes.append(f"{bad} of {CHUNKS} chunk manifests not ok")
    n_metrics = len(_read_rows(os.path.join(sub.metrics, "*.parquet"),
                               ["doc_id"]))
    res.attempted += 1
    if n_metrics != len(docs):
        res.failed += 1
        res.notes.append(f"metrics rows {n_metrics} != docs {len(docs)}")


def run(seed: int, seconds: float, trace: bool) -> common.Result:
    res = common.Result()
    table, docs = corpus.write_table(common.work_dir("tables"), N_DOCS, seed,
                                     PATHOLOGICAL_RATE)
    pyfiles = build_pyfiles()
    log_dir = common.work_dir("eventlog", fresh=True) if trace else None
    subs: list[Submission] = []
    with common.RssSampler() as rss:
        t_begin = time.perf_counter()
        while len(subs) < MIN_REPS or time.perf_counter() - t_begin < seconds:
            rep_dir = common.work_dir("chunked", f"rep{len(subs)}", fresh=True)
            sub = Submission(table, pyfiles, rep_dir, log_dir)
            sub.run()
            subs.append(sub)
            if trace:
                break  # one traced submission: one application log
        if trace:
            # the same submission with the event log off
            untraced = Submission(table, pyfiles, common.work_dir(
                "chunked", "untraced", fresh=True), None)
            untraced.run()
    for sub in subs:
        check(sub, docs, seed, res)
    wall_s = statistics.median([s.wall_s for s in subs])
    res.put("setup_s", statistics.median([s.ready_s for s in subs]), "s")
    res.put("wall_s", wall_s, "s")
    res.put("docs_per_s", len(docs) / wall_s, "1/s")
    res.put("peak_rss_mb", rss.peak_mb, "MB")
    res.profile = {**corpus.profile(docs, STRAGGLER_CHARS), "seed": seed,
                   "pathological_rate": PATHOLOGICAL_RATE, "chunks": CHUNKS,
                   "straggler_chars": STRAGGLER_CHARS, "submissions": len(subs)}
    if trace:
        sub = subs[-1]
        lay = layers.Layers(res, common.CORES, len(docs))
        lay.session(sub.ready_s, 0.0, 0.0)
        job_s = sub.summary["wall_s"]
        lay.put("job.reported_wall_s", job_s)
        chunk_ms = sorted(m["wall_ms"] for m in sub.manifests())
        lay.put("job.chunk_ms_p50", statistics.median(chunk_ms))
        lay.put("job.chunk_ms_max", chunk_ms[-1])
        # the job's own driver builds, plans and runs every frame; from
        # outside, its reported wall is the execution window
        lay.driver(0.0, 0.0, job_s)
        lay.event_log(eventlog.find_log(log_dir), (0, float("inf")), 1)
        lay.body(*rich_extract.body_inputs(docs, seed))
        lay.finish(sub.wall_s, untraced.wall_s, res.failed, res.attempted,
                   startup_s=sub.ready_s)
    return res
