"""Workload ``bench_suite``: the nine shipped query leaves q1..q9.

Inputs, frames and actions are those of the repository's ``bench.py``
at sf0.1 (a copy of the fixed test tables lives in ``perfbench/data``),
rebuilt here from the library's public functions. Leaves run
round-robin, one round after another, so slow drift on the host hits
every leaf alike. The seed does not apply: the input is fixed.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics
import time

from perfbench import checks, common, eventlog, layers

SF_DIR = os.path.join(common.BENCH_DIR, "data", "sf0.1")
DIGESTS = os.path.join(common.BENCH_DIR, "suite_digests.json")
N_SAMPLE = 50
MIN_WARM_ROUNDS = 1


def pdf_items(doc_id, text) -> list[tuple]:
    """One page of a q9 blob: the document's first 120 printable words
    in two paragraphs, and an image XObject in every third document."""
    words = re.sub(r"[^ -~]", " ", text or "").split()[:120]
    items = [("text", " ".join(words[:60]))]
    if int(doc_id) % 3 == 0:
        items.append(("image",))
    if words[60:]:
        items.append(("text", " ".join(words[60:])))
    return items


def render_pdf(doc_id, text) -> bytes:
    from sparkhtml.spark.pdf import build_pdf

    return build_pdf([pdf_items(doc_id, text)])


def pdf_table() -> str:
    """The q9 input, rendered once per checkout on the driver: one blob
    per document, in the documents table's row order. Rendering is input
    generation, so it stays outside set-up timing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(common.work_dir("tables"), "sf0.1_pdf_blobs.parquet")
    if not os.path.exists(path):
        rows = pq.read_table(f"{SF_DIR}/documents.parquet",
                             columns=["doc_id", "text"]).to_pylist()
        table = pa.table({
            "doc_id": [str(r["doc_id"]) for r in rows],
            "payload": [render_pdf(r["doc_id"], r["text"]) for r in rows],
        })
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    return path


def interleaved_frame(docs):
    """(doc_id, spans): a nav-plus-paragraph text span around each
    document's text, then one media span."""
    from pyspark.sql import functions as F

    text_html = F.concat(
        F.lit('<nav><a href="/">home</a> <a href="/x">x</a></nav><p>'),
        F.col("text"),
        F.lit("</p>"),
    )
    span_t = F.struct(
        F.lit("text").alias("kind"),
        text_html.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    span_m = F.struct(
        F.lit("media").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("m-"), F.col("doc_id")).alias("media_ref"),
        F.lit(1).alias("offset"),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(span_t, span_m).alias("spans"),
    )


def _html_frame(docs, wrap_attr: str):
    from pyspark.sql import functions as F

    return docs.select(
        "doc_id",
        F.concat(
            F.lit(f'<div class="wrap"{wrap_attr}><p id="main">'),
            F.col("text"),
            F.lit('</p><a href="/l">link</a></div>'),
        ).alias("html"),
    )


class Suite:
    """The suite's inputs, loaded and cached at set-up, and its leaves,
    each a (build, action) pair so that build and execution can be
    timed apart."""

    def __init__(self, spark, blobs_path: str):
        from sparkhtml.spark.partitioning import fan_out
        from sparkhtml.spark.pipeline import parse_nodes_df

        t0 = time.perf_counter()
        self.docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        self.doc_ids = [r[0] for r in self.docs.select("doc_id").collect()]
        self.n_docs = len(self.doc_ids)
        self.interleaved = interleaved_frame(fan_out(self.docs, key="doc_id"))
        self.interleaved.cache().count()
        # q2 and q3 parse distinct html frames: the cache manager matches
        # by logical plan, so a shared plan would serve q2 from q3's cache
        self.nodes = parse_nodes_df(_html_frame(self.docs, ' data-q="2"'))
        self.nodes_cached = parse_nodes_df(_html_frame(self.docs, "")).cache()
        self.nodes_cached.count()
        self.emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        self.qdf = self.emb.orderBy("vec_id").limit(1)
        # the PDF writer is test scaffolding; the operator measured is
        # parse and layout. Round-robin over the cores, as the documents
        # table's single split would otherwise pin q9 to one task.
        self.pdf_blobs = (spark.read.parquet(blobs_path)
                          .repartition(common.CORES).cache())
        self.pdf_blobs.count()
        self.load_s = time.perf_counter() - t0

    def leaves(self) -> dict:
        from sparkhtml.spark import links, textstats
        from sparkhtml.spark.dedup import minhash_lsh_pairs
        from sparkhtml.spark.pdf import pdf_extract_df
        from sparkhtml.spark.pipeline import extract_spans_df
        from sparkhtml.spark.queries import css_select_df
        from sparkhtml.spark.similarity import cosine_topk_vs

        noop = common.noop_write
        return {
            "q1_extract_spans": (
                lambda: extract_spans_df(self.interleaved), noop),
            "q2_parse_nodes": (lambda: self.nodes, noop),
            "q3_css_child_plan": (
                lambda: css_select_df(self.nodes_cached, "div.wrap > p#main"),
                lambda df: df.count()),
            "q4_minhash_dedup": (
                lambda: minhash_lsh_pairs(self.docs, min_agree=0.9),
                lambda df: df.count()),
            "q5_cosine_topk": (
                lambda: cosine_topk_vs(self.emb, self.qdf, 10),
                lambda df: df.collect()),
            "q6_quality_features": (
                lambda: textstats.quality_features(self.docs), noop),
            "q7_extract_links": (
                lambda: links.extract_links_df(self.nodes_cached), noop),
            "q8_text_cleanup": (
                lambda: textstats.text_cleanup(self.docs), noop),
            "q9_pdf_extract": (lambda: pdf_extract_df(self.pdf_blobs), noop),
        }


def frame_digest(df) -> str:
    """Order-insensitive digest of a frame: row count and summed row hash."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).first()
    return f"{row[0]}:{row[1]}"


def result_digest(value) -> str:
    """Digest of a count or of collected rows, independent of row order."""
    if isinstance(value, list):
        rows = sorted(json.dumps(list(r), sort_keys=True) for r in value)
        value = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return str(value)


def check_outputs(suite: Suite, leaves: dict, res) -> dict:
    """Correctness gate, run untimed before the timed rounds (it also
    warms the executors up). Returns each leaf's result digest.

    Every digest must equal the one recorded for this fixed input. q1 is
    also checked for missing or duplicated documents and compared with
    the driver-side ``extract_spans`` on a sample, and q9 with
    ``pdf_extract_spans`` on a sample.
    """
    from pyspark.sql import functions as F

    from sparkhtml.spark.pdf import pdf_extract_df, pdf_extract_spans

    step = max(1, suite.n_docs // N_SAMPLE)
    sample = [str(i) for i in suite.doc_ids[::step]]
    digests = {}
    for name, (build, action) in leaves.items():
        if name == "q1_extract_spans":
            rows = build().collect()
            spans_in = {r["doc_id"]: r["spans"] for r in suite.interleaved
                        .filter(F.col("doc_id").isin(sample)).collect()}
            res.attempted += suite.n_docs
            res.failed += checks.tally_spans(
                rows, spans_in, {str(i) for i in suite.doc_ids}, res.notes)
            digests[name] = result_digest(
                [(r["doc_id"], checks.span_dicts(r["spans"])) for r in rows])
        elif action is common.noop_write:
            digests[name] = frame_digest(build())
        else:
            digests[name] = result_digest(action(build()))
    with open(DIGESTS) as f:
        expected = json.load(f)
    for name, got in digests.items():
        res.attempted += 1
        if got != expected.get(name):
            res.failed += 1
            res.notes.append(f"{name}: digest {got} != {expected.get(name)}")

    sampled = suite.pdf_blobs.filter(F.col("doc_id").isin(sample))
    blobs = {r["doc_id"]: bytes(r["payload"]) for r in sampled.collect()}
    rows = pdf_extract_df(sampled).collect()
    res.attempted += len(sample)
    res.failed += len(sample) - len({r["doc_id"] for r in rows})
    for r in rows:
        want = "\n".join(s["text"] for s in pdf_extract_spans(blobs[r["doc_id"]])
                         if s["kind"] == "text")
        if r["err"] is not None or r["text"] != want:
            res.failed += 1
            res.notes.append(f"q9: doc {r['doc_id']} differs from pdf_extract_spans")
    return digests


def check_rounds(digests: dict, results: dict, res) -> None:
    """The count and collect leaves give the checked result every round."""
    for name, values in results.items():
        for v in values:
            res.attempted += 1
            if result_digest(v) != digests[name]:
                res.failed += 1
                res.notes.append(f"{name}: result {result_digest(v)} differs "
                                 f"from the checked {digests[name]}")


def sample_docs(n: int = N_SAMPLE) -> list[dict]:
    """Every (n_docs / n)-th row of the fixed documents table, read on
    the driver."""
    import pyarrow.parquet as pq

    rows = pq.read_table(f"{SF_DIR}/documents.parquet",
                         columns=["doc_id", "text"]).to_pylist()
    return rows[::max(1, len(rows) // n)][:n]


def sample_pdf_blobs() -> list[bytes]:
    """The q9 blobs of the sampled documents."""
    return [render_pdf(r["doc_id"], r["text"]) for r in sample_docs()]


def sample_html_docs() -> list[list[dict]]:
    """The q1 input spans of the sampled documents."""
    nav = '<nav><a href="/">home</a> <a href="/x">x</a></nav><p>'
    return [
        [{"kind": "text", "text": nav + (r["text"] or "") + "</p>",
          "media_ref": None, "offset": 0},
         {"kind": "media", "text": None, "media_ref": f"m-{r['doc_id']}",
          "offset": 1}]
        for r in sample_docs()
    ]


def cold_round(leaves: dict) -> dict:
    """Each leaf once on a fresh session: its cold time."""
    cold = {}
    for name, (build, action) in leaves.items():
        t0 = time.perf_counter()
        action(build())
        cold[name] = time.perf_counter() - t0
    return cold


def run_rounds(leaves: dict, seconds: float, trace: bool) -> dict:
    """Timed rounds until ``seconds`` have passed, at least
    ``MIN_WARM_ROUNDS``. Returns per-leaf lists of wall, build and plan
    times and of action results, and the rounds' window in epoch ms. A
    traced run forces each frame's physical plan before its action, so
    planning is timed apart."""
    t = {k: {n: [] for n in leaves} for k in ("wall", "build", "plan",
                                              "results")}
    start = common.epoch_ms()
    t_begin = time.perf_counter()
    n_rounds = 0
    while n_rounds < MIN_WARM_ROUNDS or time.perf_counter() - t_begin < seconds:
        for name, (build, action) in leaves.items():
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            if trace:
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            value = action(df)
            t["wall"][name].append(time.perf_counter() - t0)
            t["build"][name].append(t1 - t0)
            t["plan"][name].append(t2 - t1)
            if value is not None:
                t["results"][name].append(value)
        n_rounds += 1
    t["window"] = (start, common.epoch_ms())
    return t


def round_walls(t: dict) -> list[float]:
    """Each timed round's wall: the sum of its nine leaves."""
    walls = t["wall"]
    return [sum(w[i] for w in walls.values())
            for i in range(len(walls["q1_extract_spans"]))]


def untraced_wall(seconds: float) -> float:
    """Median round wall on a new session with the event log off, in the
    same JVM, after one warm-up round: the base of ``trace.overhead``."""
    spark = common.start_spark("perfbench-suite-untraced")
    leaves = Suite(spark, pdf_table()).leaves()
    run_rounds(leaves, 0, trace=False)
    wall = statistics.median(round_walls(run_rounds(leaves, seconds, trace=False)))
    spark.stop()
    return wall


def run(seed: int, seconds: float, trace: bool) -> common.Result:
    del seed  # the input is fixed
    res = common.Result()
    log_dir = common.work_dir("eventlog", fresh=True) if trace else None
    blobs_path = pdf_table()
    t0 = time.perf_counter()
    spark = common.start_spark("perfbench-suite", log_dir)
    t_session = time.perf_counter() - t0
    suite = Suite(spark, blobs_path)
    setup_s = time.perf_counter() - t0
    leaves = suite.leaves()
    if trace:
        cold = cold_round(leaves)
    # untimed; also the warm-up for the timed rounds
    digests = check_outputs(suite, leaves, res)
    with common.RssSampler() as rss:
        t = run_rounds(leaves, seconds, trace)
    check_rounds(digests, t["results"], res)
    walls = round_walls(t)
    wall_s = statistics.median(walls)
    res.put("setup_s", setup_s, "s")
    res.put("wall_s", wall_s, "s")
    res.put("docs_per_s", suite.n_docs / wall_s, "1/s")
    res.put("peak_rss_mb", rss.peak_mb, "MB")
    res.profile = {"input": "sf0.1 documents + embeddings (fixed)",
                   "docs": suite.n_docs,
                   "round_walls_s": [round(w, 4) for w in walls]}
    if trace:
        lay = layers.Layers(res, common.CORES, suite.n_docs)
        lay.time_fan_out([suite.docs, suite.emb])
        spark.stop()  # completes the event log
        reference = untraced_wall(seconds)
        lay.session(t_session, suite.load_s, cold["q1_extract_spans"])
        for name in leaves:
            lay.put(f"leaf.{name}_s", statistics.median(t["wall"][name]))
            lay.put(f"leaf.{name}_cold_s", cold[name])
        lay.put("leaf.q1_docs_per_s",
                suite.n_docs / statistics.median(t["wall"]["q1_extract_spans"]))
        n_rounds = len(walls)
        build = sum(map(sum, t["build"].values())) / n_rounds
        plan = sum(map(sum, t["plan"].values())) / n_rounds
        lay.driver(build, plan, wall_s - build - plan)
        lay.event_log(eventlog.find_log(log_dir), t["window"], n_rounds)
        lay.body(sample_html_docs(), sample_pdf_blobs())
        lay.finish(wall_s, reference, res.failed, res.attempted)
    common.stop_spark()
    return res
