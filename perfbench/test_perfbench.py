"""Self-tests of the benchmark's own pieces (no Spark needed).

Run:  python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from stats import NAME_RE, check_name, supported_percentile  # noqa: E402


def test_event_generator_is_byte_identical_per_seed(tmp_path):
    a = gen.write_events(str(tmp_path / "a"), 7, 2000, 100, 1.1)
    b = gen.write_events(str(tmp_path / "b"), 7, 2000, 100, 1.1)
    c = gen.write_events(str(tmp_path / "c"), 8, 2000, 100, 1.1)
    assert gen.files_hash([a]) == gen.files_hash([b]) != gen.files_hash([c])


def test_document_generator_is_byte_identical_per_seed(tmp_path):
    a = gen.write_documents(str(tmp_path / "a"), 3, 500)
    b = gen.write_documents(str(tmp_path / "b"), 3, 500)
    assert gen.files_hash([a]) == gen.files_hash([b])


def test_event_files_are_identical_per_seed(tmp_path):
    t = gen.events_table(5, 1000, 16, 0.0)
    a = gen.write_event_files(str(tmp_path / "a"), t, 4)
    b = gen.write_event_files(str(tmp_path / "b"), gen.events_table(5, 1000, 16, 0.0), 4)
    assert gen.files_hash(a) == gen.files_hash(b)
    assert [os.stat(p).st_mtime_ns for p in a] == sorted(os.stat(p).st_mtime_ns for p in a)


def test_zipf_keys_are_skewed_and_uniform_keys_are_not():
    import numpy as np

    rng = np.random.default_rng(0)
    skew = np.bincount(gen.zipf_keys(rng, 20000, 1000, 1.1), minlength=1000)
    flat = np.bincount(gen.zipf_keys(rng, 20000, 1000, 0.0), minlength=1000)
    assert skew.max() > 20 * np.median(skew[skew > 0])
    assert flat.max() < 3 * np.median(flat)


def test_documents_have_exact_and_near_duplicates():
    t = gen.documents_table(1, 1000)
    texts = t.column("text").to_pylist()
    assert len(texts) - len(set(texts)) >= 90  # about 10% exact copies
    assert t.column("doc_id").to_pylist() == list(range(1000))


def test_ts_strictly_increasing():
    ts = gen.events_table(2, 5000, 50, 1.1).column("ts").cast("int64").to_pylist()
    assert all(b > a for a, b in zip(ts, ts[1:]))


def test_metric_names_are_valid():
    names = [n for n, *_ in run.END_TO_END] + [n for n, *_ in run.PER_LAYER]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.fullmatch(n), n
        check_name(n)
    with pytest.raises(ValueError):
        check_name("bad name")


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in run.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m[:3]) for m in run.PER_LAYER]
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_percentiles_need_ten_samples_above():
    xs = list(range(1, 40))  # 39 samples: p50 yes, p75 no
    assert set(supported_percentile(xs)) == {50}
    xs = list(range(1, 41))  # 40 samples: p75 has exactly 10 above
    got = supported_percentile(xs)
    assert set(got) == {50, 75}
    assert got[75] == 30.0
    assert sum(x > got[75] for x in xs) == 10
    assert supported_percentile(list(range(19))) == {}


def test_sql_timing_metric_parse():
    from trace import _metric_seconds

    text = "total (min, med, max (stageId: taskId))\n1.2 s (0.1 s, 0.2 s, 0.5 s (stage 3.0: task 7))"
    assert _metric_seconds(text) == pytest.approx(1.2)
    assert _metric_seconds("35 ms") == pytest.approx(0.035)
    assert _metric_seconds("n/a") == 0.0


def test_self_time_subtracts_children_and_gap_counts_idle_time():
    import time

    from trace import Span, job_gap_s, self_times

    spans = [Span("a", "x", 0.0, 10.0), Span("b", "x", 1.0, 4.0, parent=0),
             Span("c", "x", 5.0, 6.0, parent=0)]
    assert self_times(spans) == [6.0, 3.0, 1.0]
    off = time.time() - time.perf_counter()
    t0 = 100.0
    spans[0].jobs = [{"submit": off + t0 + 1, "done": off + t0 + 3},
                     {"submit": off + t0 + 2, "done": off + t0 + 4}]
    assert job_gap_s(spans, t0, t0 + 10) == pytest.approx(7.0, abs=0.01)
