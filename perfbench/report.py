"""Turn a run's spans, counters and event log into the reported metrics."""

from __future__ import annotations

import json
import math
import os
import statistics

from . import corpus as corpus_mod
from . import eventlog
from .spans import self_time

# stage kinds whose `secs` do not cover the stage's work (the program
# times the Python call, not the Spark jobs the stage causes)
_UNDER_REPORTED_KINDS = {
    "ephemeral": "lazy frame: its work is billed to the stage that consumes it",
    "lazy": "lazy frame: its work is billed to the stage that consumes it",
    "persist_lazy": "cache fills inside the next stage's job",
    "snapshot_overlap": "parquet write runs on a background thread",
}
# stages materialized concurrently (DedupConfig.overlap_stages)
_OVERLAPPED = {
    "03_exact_text_pairs", "05_candidates", "05_minhash_pairs",
    "06_simhash_pairs", "07_substring_cands",
}
_FRONTIER_SPANS = {
    "frontier.canonical_dedup_s": ("frontier.canonical_dedup", 1.0),
    "frontier.ingest_s": ("frontier.ingest", 1.0),
    "sampling.sample_s": ("sampling.sample", 1.0),
    "frontier.pick_ms": ("frontier.pick", 1000.0),
    "frontier.mark_ms": ("frontier.mark", 1000.0),
}


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def select(spec: list[dict], values: dict[str, float]) -> dict:
    "The metrics ``spec`` names, with their units; each must be measured."
    out = {}
    for metric in spec:
        value = float(values[metric["name"]])
        if not math.isfinite(value):
            raise ValueError(f"{metric['name']} is not finite: {value}")
        out[metric["name"]] = {"value": value, "unit": metric["unit"]}
    return out


def _cycle_spans(tracer, cycles: list[dict]) -> list[dict]:
    "Every closed span inside the given cycles."
    ids = set()
    for cycle in cycles:
        ids |= eventlog.subtree(tracer.spans, cycle["span"]["id"])
    return [s for s in tracer.spans if s["id"] in ids and s["end"] is not None]


def _in_cycles(tracer, cycles: list[dict], name: str) -> list[dict]:
    return [s for s in _cycle_spans(tracer, cycles) if s["name"] == name]


def _secs(spans: list[dict]) -> list[float]:
    return [s["end"] - s["start"] for s in spans]


def count_ops(spans: list[dict], cycle_id: int) -> int:
    "Operations in a cycle: each op span, and each throughput span outside one."
    inside = [s for s in spans if s["id"] in eventlog.subtree(spans, cycle_id)]
    names = {s["id"]: s["name"] for s in inside}
    return sum(
        s["name"] == "op"
        or (s["name"] == "throughput" and names.get(s["parent"]) != "op")
        for s in inside
    )


def end_to_end(tracer, cycles: list[dict], build_s: float) -> dict:
    rows = sum(c["rows"] for c in cycles)
    latencies = _secs(_in_cycles(tracer, cycles, "op"))
    return {
        "setup_s": build_s,
        "rows_per_s": rows / sum(_secs(_in_cycles(tracer, cycles, "throughput"))),
        "op_p50_ms": 1000 * statistics.median(latencies),
        "cpu_s_per_krow": sum(c["cpu_s"] for c in cycles) / (rows / 1000),
    }


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it; the maximum (percentile 100) below 11 samples."""
    ordered = sorted(values)
    if len(ordered) < 11:
        return ordered[-1], 100.0
    index = len(ordered) - 11
    return ordered[index], 100.0 * (index + 1) / len(ordered)


def describe(tracer, cycles: list[dict], build_s: float) -> dict:
    "Detail lines every run prints: the samples behind the metrics."
    latencies = _secs(_in_cycles(tracer, cycles, "op"))
    value, pct = tail(latencies)
    return {
        "cycles": len(cycles),
        "ops": len(latencies),
        "op_ms": [round(1000 * x, 1) for x in latencies],
        # too few ops in a run for a tail beyond the median: shown, not gated
        "op_tail_ms": f"{1000 * value:.1f} at percentile {pct:.1f} of {len(latencies)} ops",
        "session_build_s": round(build_s, 3),
        # the JVM heap grows differently run to run: a per-layer figure
        "peak_rss_mb": round(max(c["peak_rss_mb"] for c in cycles), 1),
        # host probe: CPU time the hypervisor gave to other guests
        "host_steal_share": [round(c["steal"], 4) for c in cycles],
        "phases_s": {
            s["name"]: round(s["end"] - s["start"], 3)
            for s in tracer.spans
            if s["parent"] is None and s["name"] in ("corpus", "setup")
        },
    }


def kernel_inputs(ctx):
    "Docs, planted pairs and URLs from the seed's own inputs."
    ordered = ctx.corpus.sort_values("doc_id")
    urls = ctx.state.get("urls") or ordered["url"].tolist()
    return (
        ordered["text"].head(200).tolist(),
        corpus_mod.planted_pairs(ordered, 40),
        urls,
    )


def _median_of(dicts: list[dict]) -> dict:
    keys = dicts[0].keys() if dicts else []
    return {k: statistics.median(d[k] for d in dicts) for k in keys}


def per_layer(tracer, cycles, records, build_s, kernels, layer_ops,
              log_path, cores, untraced):
    """(metrics for the JSON line, ``# layer`` lines with the
    workload-specific figures and the reasons for any missing one)."""
    values = {"session.get_session_s": build_s, **kernels}
    lines = []

    log = eventlog.parse(log_path)
    attributed = eventlog.attribute(log, tracer.spans)
    per_cycle = []
    for cycle in cycles:
        span = cycle["span"]
        per_cycle.append(
            eventlog.span_metrics(
                log, attributed, eventlog.subtree(tracer.spans, span["id"]),
                span["end"] - span["start"], cores,
            )
        )
    spark = _median_of(per_cycle)
    verify_rows = spark.pop("verify_rows")
    values.update(spark)
    values["proc.peak_rss_mb"] = max(c["peak_rss_mb"] for c in cycles)
    latencies = _secs(_in_cycles(tracer, cycles, "op"))
    values["trace.op_p50_ms"] = 1000 * statistics.median(latencies)

    layer: dict[str, float | str] = {}
    if untraced:
        # against the last untraced run of the same workload, seed and size
        overhead = values["trace.op_p50_ms"] - untraced["op_p50_ms"]
        layer["trace.overhead_op_p50_ms"] = overhead
        layer["trace.overhead_share"] = overhead / untraced["op_p50_ms"]
    else:
        layer["trace.overhead_op_p50_ms"] = (
            "unavailable: no untraced run of this workload, seed and size "
            "in this work directory yet; the overhead is trace.op_p50_ms "
            "minus that run's op_p50_ms"
        )
    summaries = [r for r in records if "summary" in r]
    if summaries:
        layer.update(_pipeline_layers(summaries, verify_rows, "pipeline"))
        layer["tables.snapshot_bytes_per_input_byte"] = _snapshot_ratio(summaries)
    else:
        reason = "unavailable: this workload runs no DedupPipeline"
        layer["pipeline.*"] = layer["tables.snapshot_bytes_per_input_byte"] = reason
    layer.update(_layer_ops(tracer, layer_ops, log, attributed, cores))
    layer.update(_span_layers(tracer, cycles))

    for key, value in sorted(layer.items()):
        if isinstance(value, str):
            lines.append(f"# layer {key}: {value}")
        else:
            lines.append(f"# layer {key} = {value:.6g}")
    lines += _span_table(tracer, cycles, log, attributed, cores)
    return values, lines


def _layer_ops(tracer, layer_ops, log, attributed, cores) -> dict:
    """Figures of the traced run's layer operations, under each one's
    prefix: wall time and rows/s of the whole operation, each child
    span's seconds, its Spark figures, and its pipeline counters."""
    if not layer_ops:
        return {"incremental.*": "unavailable: this workload makes no incremental run"}
    out: dict = {}
    for op in layer_ops:
        prefix, span = op["prefix"], op["span"]
        wall = span["end"] - span["start"]
        out[f"{prefix}.wall_s"] = wall
        out[f"{prefix}.docs_per_s"] = op["rows"] / wall
        for child in tracer.spans:
            if child["parent"] == span["id"]:
                out[f"{child['name']}_s"] = child["end"] - child["start"]
        got = eventlog.span_metrics(
            log, attributed, eventlog.subtree(tracer.spans, span["id"]), wall, cores
        )
        verify_rows = got.pop("verify_rows")
        out.update({f"{prefix}.{k}": v for k, v in got.items()})
        out.update(_pipeline_layers([op], verify_rows, prefix))
        out[f"{prefix}.snapshot_bytes_per_input_byte"] = _snapshot_ratio([op])
    return out


def _snapshot_ratio(summaries: list[dict]) -> float:
    return statistics.median(r["snapshot_bytes"] / r["input_bytes"] for r in summaries)


def _pipeline_layers(summaries: list[dict], verify_rows: float, prefix: str) -> dict:
    "Stage seconds and counters of pipeline runs, as the program returns them."
    out: dict = {}
    stage_secs: dict[str, list[float]] = {}
    notes: dict[str, str] = {}
    for record in summaries:
        for stage in record["summary"]["stages"]:
            name = stage["stage"]
            stage_secs.setdefault(name, []).append(stage["secs"])
            if stage.get("kind") in _UNDER_REPORTED_KINDS:
                notes[name] = _UNDER_REPORTED_KINDS[stage["kind"]]
            elif name in _OVERLAPPED:
                notes[name] = "runs concurrently with the other evidence stages"
    for name, secs in stage_secs.items():
        out[f"{prefix}.{name}_s"] = statistics.median(secs)
        if name in notes:
            out[f"{prefix}.{name}_s.note"] = f"under-reported: {notes[name]}"

    def observed(key: str, field: str) -> float | str:
        got = [r["summary"]["observed"].get(key, {}).get(field) for r in summaries]
        got = [g for g in got if isinstance(g, (int, float))]
        if not got:
            return f"unavailable: observation {key}.{field} not recorded"
        return statistics.median(got)

    out[f"{prefix}.lsh_buckets"] = observed("lsh_buckets", "buckets")
    out[f"{prefix}.lsh_dropped_rows"] = observed("lsh_buckets", "dropped_rows")
    out[f"{prefix}.evidence_pairs"] = evidence = observed("evidence_pairs", "rows")
    if isinstance(evidence, str):
        out[f"{prefix}.verify_yield"] = evidence
    elif verify_rows > 0:
        out[f"{prefix}.verify_yield"] = evidence / verify_rows
        out[f"{prefix}.verify_yield.note"] = (
            "evidence pairs of every source (pre-dedup) / rows into the "
            "Jaccard and LCS verify UDFs (event-log row counts)"
        )
        out[f"{prefix}.verify_rows"] = verify_rows
    else:
        out[f"{prefix}.verify_yield"] = "unavailable: no rows reached a verify UDF"
    return out


def _span_layers(tracer, cycles) -> dict:
    out: dict = {}
    for key, (name, scale) in _FRONTIER_SPANS.items():
        got = _secs(_in_cycles(tracer, cycles, name))
        out[key] = (
            scale * statistics.median(got) if got
            else f"unavailable: this workload makes no {name} call"
        )
    return out


def _span_table(tracer, cycles, log, attributed, cores) -> list[str]:
    """Spark figures per benchmark span name, summed over the timed
    cycles, with each name's median self time."""
    keep = (
        "spark.executor_run_s", "spark.python_run_s", "spark.shuffle_write_mb",
        "spark.jobs", "spark.task_skew",
    )
    names = sorted(
        {s["name"] for s in _cycle_spans(tracer, cycles)} - {"cycle", "op", "throughput"}
    )
    lines = []
    for name in names:
        spans = _in_cycles(tracer, cycles, name)
        ids = set()
        for span in spans:
            ids |= eventlog.subtree(tracer.spans, span["id"])
        wall = sum(_secs(spans))
        got = eventlog.span_metrics(log, attributed, ids, wall, cores)
        self_s = statistics.median(self_time(tracer.spans, s) for s in spans)
        cells = " ".join(f"{k[6:]}={got[k]:.4g}" for k in keep)
        lines.append(
            f"# span {name} n={len(spans)} wall_s={wall:.4g} "
            f"self_s_p50={self_s:.4g} {cells}"
        )
    return lines


def _untraced_path(bench_root: str, workload: str, seed: int, rows: int) -> str:
    return os.path.join(bench_root, "last", f"{workload}-seed{seed}-rows{rows}.json")


def save_untraced(bench_root: str, workload: str, seed: int, rows: int, e2e: dict) -> None:
    "Keep an untraced run's metrics for a traced run of the same inputs."
    path = _untraced_path(bench_root, workload, seed, rows)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(e2e, fh)


def last_untraced(bench_root: str, workload: str, seed: int, rows: int) -> dict | None:
    try:
        with open(_untraced_path(bench_root, workload, seed, rows)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None
