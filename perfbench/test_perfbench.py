"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics

import pytest

import harness
import inputs
import layers


def _digest(d: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(d):
        for f in sorted(files):
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _make_inputs(seed: int, out: str) -> str:
    g = inputs.rng(seed, inputs.TIMED)
    inputs.write_backlog(g, os.path.join(out, "backlog"), 0, 3, 200)
    structure = inputs.corpus_structure(inputs.rng(seed, inputs.CORPUS), 300)
    inputs.write_documents(structure, inputs.rng(seed, inputs.PASS, 1), os.path.join(out, "pass-001"))
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _digest(_make_inputs(7, str(tmp_path / "a")))
    b = _digest(_make_inputs(7, str(tmp_path / "b")))
    assert a and a == b


def test_different_seeds_give_different_inputs(tmp_path):
    a = _digest(_make_inputs(7, str(tmp_path / "a")))
    b = _digest(_make_inputs(8, str(tmp_path / "b")))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_passes_share_structure_but_not_tokens(tmp_path):
    """Each pass directory is a vocabulary bijection of the seed's
    corpus: same lengths and languages, different words."""
    import pyarrow.parquet as pq

    structure = inputs.corpus_structure(inputs.rng(3, inputs.CORPUS), 200)
    a, b = (
        pq.read_table(
            os.path.join(
                inputs.write_documents(structure, inputs.rng(3, inputs.PASS, i), str(tmp_path / str(i))),
                "documents.parquet",
            )
        ).to_pydict()
        for i in (1, 2)
    )
    assert a["lang"] == b["lang"] and a["doc_id"] == b["doc_id"]
    assert a["text"] != b["text"]
    pairs = {
        (u, v) for s, t in zip(a["text"], b["text"]) for u, v in zip(s.split(), t.split(), strict=True)
    }
    # word -> word is one-to-one both ways
    assert len({u for u, _ in pairs}) == len({v for _, v in pairs}) == len(pairs) == inputs.VOCAB


def test_late_records_stay_within_the_watermark_delay():
    t = inputs.stream_file(inputs.rng(5, inputs.TIMED), 10, 5_000).to_pydict()
    lo = 10 * inputs.FILE_SPAN_MS
    ms = [int(x.timestamp() * 1000) for x in t["timestamp"]]
    late = [x for x in ms if x < lo]
    assert 0 < len(late) < 0.1 * len(ms)
    assert min(ms) > lo - inputs.MAX_LATE_MS


@pytest.mark.parametrize("n, reported", [(50, False), (99, False), (100, True), (400, True)])
def test_p90_needs_ten_samples_beyond_it(n, reported):
    samples = [float(i) for i in range(n)]
    p90 = harness.p90_if_supported(samples)
    assert (p90 is not None) == reported
    if reported:
        assert p90 == statistics.quantiles(samples, n=10)[-1]
        assert sum(1 for s in samples if s > p90) >= 10


def test_p90_with_ties_is_not_reported():
    # 200 samples but the tail is one repeated value: nothing lies beyond
    assert harness.p90_if_supported([1.0] * 150 + [5.0] * 50) is None


def _event_log(path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_100, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Accumulables": [{"Name": "data sent to Python workers", "Update": "40"},
                                        {"Name": "number of output rows", "Update": "9"}]},
         "Task Metrics": {"Executor CPU Time": 5_000_000, "Executor Run Time": 7, "JVM GC Time": 1,
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 20}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {}, "Task Metrics": {"Executor Run Time": 3, "Memory Bytes Spilled": 5}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_300},
        # submitted from a library thread while span "inner" is open
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_000_600, "Stage IDs": [2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task End Reason": {"Reason": "Success"},
         "Task Info": {}, "Task Metrics": {"Executor Run Time": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_000_700},
        {"Event": "SparkListenerApplicationEnd", "Timestamp": 1_001_000},
    ]
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_event_log_parser(tmp_path):
    _event_log(tmp_path / "app-1")
    jobs, tasks = layers.read_event_logs(str(tmp_path))
    assert [(j["id"], j["submit"], j["end"]) for j in jobs] == [(0, 1000.1, 1000.3), (1, 1000.6, 1000.7)]
    assert [t["job"] for t in tasks] == [0, 0, 1]
    assert tasks[0]["cpu_ms"] == 5.0 and tasks[0]["python_bytes"] == 40
    assert tasks[0]["shuffle_read"] == 10 and tasks[0]["shuffle_write"] == 20
    assert [t["failed"] for t in tasks] == [False, True, False]
    assert tasks[1]["spill"] == 5


def test_spans_and_job_attribution(tmp_path):
    tr = layers.Tracer(True, "run-1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    # pin the span times onto the fixture's clock
    tr.spans[0].update(start=1000.0, end=1001.0)
    tr.spans[1].update(start=1000.5, end=1000.8)
    path = tmp_path / "spans.jsonl"
    tr.write(str(path))
    spans = layers.read_spans(str(path))
    assert [(s["name"], s["parent"], s["run"]) for s in spans] == [
        ("outer", None, "run-1"),
        ("inner", 0, "run-1"),
    ]
    _event_log(tmp_path / "app-1")
    jobs, tasks = layers.parse_event_log(str(tmp_path / "app-1"))
    attr = layers.attribute_jobs(spans, jobs, tasks)
    assert attr == {0: {"jobs": 1, "tasks": 2}, 1: {"jobs": 1, "tasks": 1}}


def test_disabled_tracer_records_nothing():
    tr = layers.Tracer(False, "x")
    with tr.span("a"):
        pass
    assert tr.spans == []


def test_union_length_and_driver_gap():
    assert layers.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert layers.union_length([(0, 10)], within=[(2, 3), (4, 6)]) == 3
    jobs = [{"id": 0, "submit": 1000.1, "end": 1000.3}, {"id": 1, "submit": 1000.6, "end": 1000.7}]
    tasks = [{"job": 0, "failed": False, "cpu_ms": 1, "run_ms": 2, "gc_ms": 0, "shuffle_read": 0,
              "shuffle_write": 0, "spill": 0, "python_bytes": 0}]
    m = layers.spark_metrics(jobs, tasks, [(1000.0, 1001.0)])
    assert m["spark.jobs"] == 2 and m["spark.tasks_per_job"] == 0.5
    assert m["spark.driver_gap_ms"] == pytest.approx(700.0)
    # two timed operations: totals are reported per operation
    m2 = layers.spark_metrics(jobs, tasks, [(1000.0, 1000.5), (1000.5, 1001.0)])
    assert m2["spark.jobs"] == 1 and m2["spark.driver_gap_ms"] == pytest.approx(350.0)
