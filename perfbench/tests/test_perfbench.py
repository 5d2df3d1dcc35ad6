"""Tests of the benchmark itself (not of courlan_spark).

    python3 -m pytest perfbench/tests -q

The end-to-end tests run the benchmark in child processes at tiny
input sizes (about a minute each, most of it Spark start-up).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpus, eventlog, report  # noqa: E402
from perfbench.spans import self_time  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---- seeded corpus -------------------------------------------------------

def test_two_seeds_give_disjoint_deterministic_corpora():
    a1 = corpus.generate(1, 64)
    a2 = corpus.generate(1, 64, workers=2)
    b = corpus.generate(2, 64)
    assert a1.equals(a2)
    assert set(a1["doc_id"]).isdisjoint(b["doc_id"])
    assert set(a1["url"]).isdisjoint(b["url"])
    planted = a1["dup_kind"] != "none"
    assert set(a1.loc[planted, "cluster_id"]).isdisjoint(b["cluster_id"])
    assert not a1["text"].equals(b["text"])


def test_planted_pairs_share_a_cluster():
    pages = corpus.generate(3, 200)
    pairs = corpus.planted_pairs(pages, 10)
    assert len(pairs) == 10
    by_text = dict(zip(pages["text"], pages["cluster_id"]))
    assert all(by_text[a] == by_text[b] for a, b in pairs)


def test_threshold_truth_splits_a_member_below_every_threshold():
    from courlan_spark.plans.pipeline import DedupConfig

    # seed 203's cluster 203000304: 40-token near_minhash docs whose last
    # member shares no edge at the default thresholds with the others
    pages = corpus.generate(203, 4, first=304, n_hosts=75)
    assert set(pages["cluster_id"]) == {203000304}
    fixed, notes = corpus.threshold_truth(pages, DedupConfig())
    assert fixed["cluster_id"].tolist() == [203000304] * 3 + [203000307]
    assert len(notes) == 1 and "203000307" in notes[0]
    assert pages["cluster_id"].tolist() == [203000304] * 4


def test_threshold_truth_keeps_clusters_the_thresholds_connect():
    from courlan_spark.plans.pipeline import DedupConfig

    pages = corpus.generate(7, 400)
    fixed, notes = corpus.threshold_truth(pages, DedupConfig())
    assert notes == []
    assert fixed.equals(pages)


# ---- span arithmetic -----------------------------------------------------

def test_tail_needs_ten_samples_beyond_it():
    assert report.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    values = [float(i) for i in range(1, 41)]
    value, pct = report.tail(values)
    assert value == 30.0 and pct == 75.0
    assert sum(v > value for v in values) == 10


def test_self_time_subtracts_covered_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "parent": 1, "start": 1.0, "end": 2.0},
    ]
    assert self_time(spans, spans[0]) == pytest.approx(6.0)
    assert self_time(spans, spans[1]) == pytest.approx(2.0)


def test_count_ops_counts_a_throughput_span_inside_an_op_once():
    def span(i, name, parent):
        return {"id": i, "name": name, "parent": parent, "start": 0.0, "end": 1.0}

    batch = [span(0, "cycle", None), span(1, "op", 0), span(2, "throughput", 1)]
    frontier = [
        span(0, "cycle", None), span(1, "throughput", 0),
        span(2, "op", 0), span(3, "op", 0), span(4, "cycle", None), span(5, "op", 4),
    ]
    assert report.count_ops(batch, 0) == 1
    assert report.count_ops(frontier, 0) == 3


def test_tracing_overhead_compares_only_the_same_seed_and_size(tmp_path):
    report.save_untraced(str(tmp_path), "batch_dedup", 5, 240, {"op_p50_ms": 10.0})
    assert report.last_untraced(str(tmp_path), "batch_dedup", 5, 240) == {"op_p50_ms": 10.0}
    assert report.last_untraced(str(tmp_path), "batch_dedup", 5, 3000) is None
    assert report.last_untraced(str(tmp_path), "batch_dedup", 6, 240) is None
    assert report.last_untraced(str(tmp_path), "url_frontier", 5, 240) is None


# ---- event-log parser ----------------------------------------------------

def test_event_log_parser_on_a_captured_log():
    """The captured log holds a tagged pandas-UDF job (span 1), an
    untagged aggregation submitted inside span 2, and nothing else in
    span 0 but its children."""
    log = eventlog.parse(os.path.join(DATA, "eventlog_small.jsonl"))
    with open(os.path.join(DATA, "eventlog_small_spans.json")) as fh:
        spans = json.load(fh)
    attributed = eventlog.attribute(log, spans)

    udf = eventlog.span_metrics(log, attributed, {1}, 1.0, 2)
    assert udf["spark.jobs"] >= 1
    assert udf["spark.arrow_eval_nodes"] == 1
    assert udf["spark.python_run_s"] > 0
    assert udf["spark.python_sent_mb"] > 0
    assert udf["spark.python_received_mb"] > 0
    assert udf["spark.executor_run_s"] > 0
    assert udf["spark.shuffle_write_mb"] == 0

    agg = eventlog.span_metrics(log, attributed, {2}, 1.0, 2)
    assert agg["spark.jobs"] >= 1
    assert agg["spark.arrow_eval_nodes"] == 0
    assert agg["spark.python_run_s"] == 0
    assert agg["spark.shuffle_write_mb"] > 0
    assert agg["spark.shuffle_read_mb"] > 0

    whole = eventlog.span_metrics(
        log, attributed, eventlog.subtree(spans, 0), 2.0, 2
    )
    for key in ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s"):
        assert whole[key] == pytest.approx(udf[key] + agg[key])
    assert whole["spark.core_busy_ratio"] == pytest.approx(
        whole["spark.executor_run_s"] / (2.0 * 2)
    )


# ---- the command itself --------------------------------------------------

def _run(args: list[str], cwd: str, code: str | None = None,
         work: str | None = None) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", *args] if code is None else [
        sys.executable, "-c", code, *args
    ]
    env = {**os.environ, "PERFBENCH_WORK": work} if work else None
    return subprocess.run(
        cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600
    )


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    got = _run(
        ["--workload", "batch_dedup", "--seed", "1", "--seconds", "1", "--trace", "0"],
        str(tmp_path),
    )
    assert got.returncode != 0
    assert not any(line.startswith("{") for line in got.stdout.splitlines())


# run.main with tiny inputs: the workload sizes are patched in the child
_TINY = (
    "import sys\n"
    "sys.path.insert(0, '.')\n"
    "from perfbench import workloads\n"
    "workloads.BatchDedup.n_pages = 240\n"
    "workloads.BatchDedup.n_delta = 40\n"
    "workloads.UrlFrontier.n_pages = 400\n"
    "workloads.UrlFrontier.rounds = 2\n"
    "workloads.UrlFrontier.warmup_rounds = 1\n"
    "from perfbench import run\n"
    "sys.exit(run.main(sys.argv[1:]))\n"
)


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace, tmp_path):
    spec = _spec()
    got = _run(
        ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        ROOT, code=_TINY, work=str(tmp_path),
    )
    assert got.returncode == 0, got.stderr[-3000:]
    result = json.loads(got.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    if trace:
        assert "# layer trace.overhead_op_p50_ms" in got.stdout
    if trace and workload == "batch_dedup":
        # the checked incremental delta ingest of traced batch runs
        assert "# layer incremental.run_incremental_s = " in got.stdout
        assert "# layer incremental.spark.python_run_s = " in got.stdout
