"""Tests of the benchmark's own code (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import checks, corpus, eventlog, layers, run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_same_seed_same_corpus():
    a = corpus.corpus_digest(corpus.generate(60, 7, 0.05))
    b = corpus.corpus_digest(corpus.generate(60, 7, 0.05))
    assert a == b


def test_other_seed_other_corpus():
    a = corpus.corpus_digest(corpus.generate(60, 7, 0.05))
    b = corpus.corpus_digest(corpus.generate(60, 8, 0.05))
    assert a != b


def test_written_table_round_trips(tmp_path):
    import pyarrow.parquet as pq

    path, docs = corpus.write_table(str(tmp_path), 30, 5, 0.0)
    files = sorted(os.listdir(path))
    assert len([f for f in files if f.endswith(".parquet")]) == corpus.N_FILES
    rows = []
    for f in files:
        if f.endswith(".parquet"):
            rows += pq.read_table(os.path.join(path, f)).to_pylist()
    assert rows == docs
    # a finished table is reused, not rewritten
    mtime = os.path.getmtime(os.path.join(path, files[0]))
    corpus.write_table(str(tmp_path), 30, 5, 0.0)
    assert os.path.getmtime(os.path.join(path, files[0])) == mtime


def test_profile_counts_stragglers():
    docs = [{"doc_id": "a", "spans": [{"text": "x" * 10}]},
            {"doc_id": "b", "spans": [{"text": "y" * 500}, {"text": None}]}]
    p = corpus.profile(docs, straggler_chars=100)
    assert p["docs"] == 2 and p["stragglers"] == 1 and p["chars_max"] == 500


def test_eventlog_recorded_totals():
    """The parser against a small log recorded from a four-core session:
    a scan, a hash exchange into a two-task extract_spans stage, and a
    parquet sink."""
    s = eventlog.read(LOG)
    assert (s.jobs, s.stages, s.python_stages, s.tasks) == (3, 3, 1, 7)
    assert s.exec_run_s == pytest.approx(8.542)
    assert s.exec_cpu_s == pytest.approx(1.748592896)
    assert s.gc_s == pytest.approx(0.108)
    assert s.python_start_s == pytest.approx(2.901)
    assert s.python_init_s == pytest.approx(1.679)
    assert s.python_run_s == pytest.approx(4.726)
    assert (s.python_bytes_in, s.python_bytes_out) == (88944, 58672)
    assert s.scan_time_s == pytest.approx(1.666)
    assert s.input_rows == 40
    assert s.exchange_write_s == pytest.approx(0.105455118)
    assert s.exchange_bytes == 45846
    assert (s.sink_bytes, s.sink_rows) == (23651, 40)
    assert s.spill_bytes == 0
    assert s.task_skew == pytest.approx(2.86 / 2.7805)


def test_eventlog_window():
    # only the first job (launched before the exchange) falls inside
    s = eventlog.read(LOG, 1792206354000, 1792206355000)
    assert (s.jobs, s.tasks, s.python_stages) == (1, 1, 0)
    assert eventlog.read(LOG, 0, 1).tasks == 0


def test_find_log_skips_unfinished(tmp_path):
    (tmp_path / "app-1.inprogress").write_text("")
    with pytest.raises(RuntimeError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "app-1").write_text("")
    assert eventlog.find_log(str(tmp_path)).endswith("app-1")


def test_tally_spans_counts_each_defect():
    from sparkhtml.extract import extract_spans

    doc = [{"kind": "text", "text": "<p>hello world</p>", "media_ref": None,
            "offset": 0}]
    good = extract_spans(doc)
    notes: list = []
    rows = [{"doc_id": "a", "spans": good}, {"doc_id": "b", "spans": None},
            {"doc_id": "b", "spans": None}, {"doc_id": "z", "spans": None}]
    bad = checks.tally_spans(rows, {"a": doc}, {"a", "b", "c"}, notes)
    assert bad == 3  # b duplicated, c missing, z unexpected
    rows[0] = {"doc_id": "a", "spans": []}
    assert checks.tally_spans(rows, {"a": doc}, {"a", "b", "c"}, notes) == 4


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in declared]
    assert len(names) == len(set(names))
    for m in declared:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
