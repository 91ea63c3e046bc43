"""Tests of the benchmark itself (not part of the engine's suite).

    python3 -m pytest perfbench/tests -q

Each test that needs Spark starts its own JVM and ends it, the way a
benchmark run does, so they run in a process of their own.
"""

from __future__ import annotations

import argparse
import json
import os
import threading
import time

import pytest

from perfbench import eventlog, harness, metrics, query_workload
from perfbench.spans import Tracer, union_length

BENCHMARK_JSON = os.path.join(harness.REPO_ROOT, "BENCHMARK.json")


@pytest.fixture
def work(tmp_path, monkeypatch):
    """A private work and output directory, with the run's environment."""
    w = str(tmp_path / "work")
    monkeypatch.setattr(harness, "WORK_DIR", w)
    monkeypatch.setattr(harness, "OUT_DIR", str(tmp_path / "out"))
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR", "JAVA_TOOL_OPTIONS", "PYTHONPATH",
              "SPARK_GRAFT_CPUS"):
        monkeypatch.delenv(k, raising=False)
    harness.prepare_env(w)
    yield w
    harness.shutdown_jvm()


# -- registry ------------------------------------------------------------


def test_benchmark_json_names_every_reported_metric():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert len(metrics.PER_LAYER) <= 128
    assert [w["name"] for w in spec["workloads"]] == ["crawl_rounds", "query_suite"]
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


# -- spans ---------------------------------------------------------------


def test_self_time_subtracts_children_across_threads():
    tr = Tracer("t")
    with tr.span("outer"):
        time.sleep(0.05)
        with tr.span("inner"):
            time.sleep(0.1)

        def child():
            with tr.span("thread_child"):
                time.sleep(0.1)

        th = threading.Thread(target=child)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    outer = tr.named("outer")[0]
    assert tr.named("thread_child")[0].parent == outer.id
    assert tr.named("inner")[0].parent == outer.id
    st = tr.self_times()
    dur = outer.end - outer.start
    assert st["outer"] == pytest.approx(dur - 0.2, abs=0.03)
    assert st["inner"] == pytest.approx(0.1, abs=0.03)


def test_spans_from_many_threads_are_all_kept():
    import sys

    tr = Tracer("t")
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def work():
            for _ in range(200):
                with tr.span("s"):
                    pass

        threads = [threading.Thread(target=work) for _ in range(16)]
        with tr.span("main"):
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert len(tr.named("s")) == 16 * 200
    assert len({s.id for s in tr.spans}) == len(tr.spans)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4


# -- inputs --------------------------------------------------------------


def test_query_input_is_the_committed_sf001_tables():
    import pyarrow.parquet as pq

    rows = {
        t: pq.read_metadata(os.path.join(query_workload.DATA_DIR, f"{t}.parquet")).num_rows
        for t in query_workload.TABLES
    }
    assert rows["lineitem"] == 60_000 and rows["orders"] == 15_000
    assert rows["documents"] == 500 and rows["embeddings"] == 500


# -- event log -----------------------------------------------------------


def _job_window(action):
    t0 = time.time()
    action()
    return t0, time.time()


def test_event_log_parser_on_a_tiny_groupby(work):
    from pyspark.sql import functions as F

    spark = harness.start_session(work, event_log=True)
    win = _job_window(lambda: (
        spark.range(0, 10_000, 1, 4)
        .groupBy((F.col("id") % 7).alias("k")).count()
        .write.format("noop").mode("overwrite").save()
    ))
    spark.stop()
    ev = eventlog.summarize(
        eventlog.read_events(os.path.join(work, "eventlog")), {"q": win}
    )["q"]
    assert ev["jobs"] >= 1
    assert ev["tasks"] >= 1
    assert ev["shuffle_write_bytes"] > 0
    assert ev["shuffle_read_bytes"] > 0
    assert ev["jvm_heap_peak_mb"] > 0


def test_python_run_time_is_per_task_not_cumulative_per_worker(work):
    """mapInPandas whose 4 single-batch tasks each sleep ``d`` seconds:
    "time to run Python workers" grows by 4 * d per stage (it is summed
    task time in Python, plus a fixed per-task cost), and a repeat of
    the same job on the reused workers reads the same again, so it is
    not a running total per worker."""
    import pandas as pd

    spark = harness.start_session(work, event_log=True)

    def job(d):
        def sleepy(batches):  # nested, so it is pickled by value
            for _ in batches:
                time.sleep(d)
            yield pd.DataFrame({"n": [1]})

        return lambda: spark.range(0, 4, 1, 4).mapInPandas(sleepy, "n long").collect()

    wins = {
        "short": _job_window(job(0.25)),
        "long": _job_window(job(1.0)),
        "long_again": _job_window(job(1.0)),
    }
    spark.stop()
    ev = eventlog.summarize(eventlog.read_events(os.path.join(work, "eventlog")), wins)
    py = {n: ev[n]["python_run_s"] for n in wins}
    slope = (py["long"] - py["short"]) / (4 * (1.0 - 0.25))
    assert 0.8 <= slope <= 1.25, py
    assert abs(py["long_again"] - py["long"]) < 1.0, py
    per_task_fixed = (py["short"] - 4 * 0.25) / 4
    assert 0 <= per_task_fixed < 1.0, py


# -- tiny runs -----------------------------------------------------------


def _tiny(name, work):
    if name == "crawl_rounds":
        from perfbench.crawl_workload import CrawlRounds

        return CrawlRounds(1, work, hosts=6, bulk_hosts=20)
    from perfbench.query_workload import QuerySuite

    return QuerySuite(queries=("a02_sum_avg_pricing", "m01_records_decode_verify"))


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", ["crawl_rounds", "query_suite"])
def test_tiny_run_reports_every_metric_with_its_unit(work, name, trace):
    from perfbench import run as run_mod

    args = argparse.Namespace(workload=name, seed=1, seconds=0.0, trace=trace)
    info, result = run_mod.run(args, wl=_tiny(name, work))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], info["failures"]
    assert result["attempted"] >= 1 and result["failed"] == 0
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values()), values
    elif name == "crawl_rounds":
        phases = sum(values[f"frontier.phase.{k}_s"] for k in
                     ("unseen", "fetch_and_seen_add", "new_matches", "commit_wait"))
        wall = sum(info["passes"][0]["legs_s"])
        assert phases + values["frontier.unattributed_s"] == pytest.approx(wall)
        assert values["frontier.rounds"] >= 2 and values["spark.jobs"] > 0
    else:
        assert values["query.a02.jobs"] >= 1 and values["query.a02.wall_s"] > 0
    assert not any(harness._is_running(p) for p in harness.descendants())


def test_an_engine_error_is_a_failed_operation(work, monkeypatch):
    from perfbench import crawl_workload
    from perfbench import run as run_mod

    real_run = crawl_workload.CrawlEngine.run

    def failing_resume(self, seeds, resume=False):
        if resume:
            raise RuntimeError("resume failed")
        return real_run(self, seeds, resume=resume)

    monkeypatch.setattr(crawl_workload.CrawlEngine, "run", failing_resume)
    args = argparse.Namespace(workload="crawl_rounds", seed=1, seconds=0.0, trace=0)
    info, result = run_mod.run(args, wl=_tiny("crawl_rounds", work))
    assert not result["correct"] and result["failed"] >= 1
    assert any("resume failed" in f for f in info["failures"])
    assert set(result["metrics"]) == set(metrics.END_TO_END)
