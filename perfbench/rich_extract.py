"""Workload ``rich_extract``: ``extract_spans_df`` into a noop sink over
generated documents with nav, tables, mis-nested formatting and ``<pre>``
(``pathological_rate=0``).

The parser body (tokenizer, tree builder, extraction) dominates the wall
here; there is no shuffle, and the table is written as several files so
``fan_out`` leaves it as it is.
"""

from __future__ import annotations

import random
import statistics
import time

from perfbench import bench_suite, checks, common, corpus, eventlog, layers

N_DOCS = 5_000
PATHOLOGICAL_RATE = 0.0
N_SAMPLE = 200
# Untimed reps after the check pass: per-rep wall keeps falling for the
# first few passes over the data (JIT and worker warm-up).
WARMUP_REPS = 1
MIN_REPS = 4


def inputs(seed: int):
    """(table path, generated documents), generated before any timing."""
    return corpus.write_table(common.work_dir("tables"), N_DOCS, seed,
                              PATHOLOGICAL_RATE)


def check(spark_input, docs: list, seed: int, res) -> None:
    """Every document exactly once; a seeded sample equal to the
    driver-side ``extract_spans``."""
    from pyspark.sql import functions as F

    from sparkhtml.spark.pipeline import extract_spans_df

    sample = random.Random(seed).sample(range(len(docs)), N_SAMPLE)
    inputs_by_id = {docs[i]["doc_id"]: docs[i]["spans"] for i in sample}
    ids = list(inputs_by_id)
    out = extract_spans_df(spark_input).select(
        "doc_id", F.when(F.col("doc_id").isin(ids), F.col("spans")).alias("spans"),
    ).collect()
    res.attempted += len(docs)
    res.failed += checks.tally_spans(
        out, inputs_by_id, {d["doc_id"] for d in docs}, res.notes)


def timed_reps(df_in, seconds: float, trace: bool) -> dict:
    """Reps of extract_spans_df into the noop sink until ``seconds`` have
    passed, at least ``MIN_REPS``: wall, build and (traced) plan times,
    and the window in epoch ms."""
    from sparkhtml.spark.pipeline import extract_spans_df

    t = {"wall": [], "build": [], "plan": []}
    start = common.epoch_ms()
    t_begin = time.perf_counter()
    while len(t["wall"]) < MIN_REPS or time.perf_counter() - t_begin < seconds:
        r0 = time.perf_counter()
        df = extract_spans_df(df_in)
        r1 = time.perf_counter()
        if trace:
            df._jdf.queryExecution().executedPlan()
        r2 = time.perf_counter()
        common.noop_write(df)
        t["wall"].append(time.perf_counter() - r0)
        t["build"].append(r1 - r0)
        t["plan"].append(r2 - r1)
    t["window"] = (start, common.epoch_ms())
    return t


def warm_up(df_in) -> None:
    from sparkhtml.spark.pipeline import extract_spans_df

    for _ in range(WARMUP_REPS):
        common.noop_write(extract_spans_df(df_in))


def untraced_wall(path: str, seconds: float) -> float:
    """Median rep wall on a new session with the event log off, in the
    same JVM, after the same warm-up: the base of ``trace.overhead``."""
    spark = common.start_spark("perfbench-rich-untraced")
    df_in = spark.read.parquet(path).cache()
    df_in.count()
    warm_up(df_in)
    wall = statistics.median(timed_reps(df_in, seconds, trace=False)["wall"])
    spark.stop()
    return wall


def run(seed: int, seconds: float, trace: bool) -> common.Result:
    from sparkhtml.spark.pipeline import extract_spans_df

    res = common.Result()
    path, docs = inputs(seed)
    log_dir = common.work_dir("eventlog", fresh=True) if trace else None
    t0 = time.perf_counter()
    spark = common.start_spark("perfbench-rich", log_dir)
    t_session = time.perf_counter() - t0
    df_in = spark.read.parquet(path).cache()
    n = df_in.count()
    setup_s = time.perf_counter() - t0
    if trace:
        t1 = time.perf_counter()
        common.noop_write(extract_spans_df(df_in))
        first_action_s = time.perf_counter() - t1
    # untimed; also the first warm-up pass
    check(df_in, docs, seed, res)
    warm_up(df_in)
    with common.RssSampler() as rss:
        t = timed_reps(df_in, seconds, trace)
    wall_s = statistics.median(t["wall"])
    res.put("setup_s", setup_s, "s")
    res.put("wall_s", wall_s, "s")
    res.put("docs_per_s", n / wall_s, "1/s")
    res.put("peak_rss_mb", rss.peak_mb, "MB")
    res.profile = {**corpus.profile(docs), "seed": seed,
                   "pathological_rate": PATHOLOGICAL_RATE,
                   "scan_partitions": df_in.rdd.getNumPartitions(),
                   "rep_walls_s": [round(w, 4) for w in t["wall"]]}
    if trace:
        lay = layers.Layers(res, common.CORES, n)
        lay.time_fan_out([df_in])
        spark.stop()  # completes the event log
        reference = untraced_wall(path, seconds)
        lay.session(t_session, setup_s - t_session, first_action_s)
        build, plan = statistics.median(t["build"]), statistics.median(t["plan"])
        lay.driver(build, plan, wall_s - build - plan)
        lay.event_log(eventlog.find_log(log_dir), t["window"], len(t["wall"]))
        lay.body(*body_inputs(docs, seed))
        lay.finish(wall_s, reference, res.failed, res.attempted)
    common.stop_spark()
    return res


def body_inputs(docs: list, seed: int, n: int = 100):
    """A seeded sample of the workload's documents, and the suite's PDF
    blobs, for the single-process parser-body timings."""
    rng = random.Random(seed)
    sample = [docs[i]["spans"] for i in rng.sample(range(len(docs)), n)]
    return sample, bench_suite.sample_pdf_blobs()
