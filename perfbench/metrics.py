"""Metric names, units and directions, read from ``BENCHMARK.json``, and
the reduction of a run to them. README.md says what each metric means
and which end-to-end metric a per-layer one should move."""

from __future__ import annotations

import json
import math
import os
import statistics

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
# name -> (unit, better)
END_TO_END = {m["name"]: (m["unit"], m["better"]) for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: (m["unit"], m["better"]) for m in _SPEC["per_layer"]}

MB = 1 << 20

# per-op means: run totals divided by the number of timed ops that use
# the layer (spark_sql and memo: every op)
_PER_OP = (
    "spark_sql.jobs", "spark_sql.stages", "spark_sql.tasks", "spark_sql.exec_ms",
    "spark_sql.task_run_ms", "spark_sql.task_cpu_ms", "spark_sql.gc_ms",
    "spark_sql.plan_ms", "spark_sql.input_bytes", "spark_sql.shuffle_write_bytes",
    "spark_sql.spill_bytes", "memo.persisted_rdds", "mapreduce.reducer_files",
    "mapreduce.output_bytes", "streaming.batches", "streaming.add_batch_ms",
    "streaming.state_rows", "streaming.query_planning_ms", "streaming.commit_ms",
    "streaming.latest_offset_ms", "streaming.outside_batch_ms",
)


def _users(rec, layer: str, workload) -> int:
    if layer == "mapreduce":
        return sum(o.name in workload.mr_jobs for o in rec.ops)
    if layer == "streaming":
        return sum(o.name.endswith("_live") for o in rec.ops)
    return len(rec.ops)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def op_best(rec) -> dict[str, float]:
    """Lowest latency per op name over the run's timed passes: ops still
    speed up over the first timed passes (JIT), and the minimum follows
    the most settled one where a median averages the settling in."""
    by_name: dict[str, list[float]] = {}
    for o in rec.ops:
        by_name.setdefault(o.name, []).append(o.seconds)
    return {name: min(xs) for name, xs in by_name.items()}


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(rec, setup_s: float, loop_s: float, failed: int) -> dict[str, float]:
    n = len(rec.ops)
    return {
        "setup_s": setup_s,
        "op_geomean_s": geomean(op_best(rec).values()),
        "ops_per_s": n / loop_s,
        "ok_ratio": (n - failed) / n,
    }


def per_layer(rec, workload, cores: int, setup: dict[str, float]) -> dict[str, float]:
    """Reduce a traced run's spans, counters and samples to PER_LAYER."""
    n = len(rec.ops)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(setup)
    for k in _PER_OP:
        out[k] = rec.layer.get(k, 0.0) / max(1, _users(rec, k.split(".")[0], workload))
    out["mapreduce.first_file_s"] = _median(rec.samples.get("mapreduce.first_file_s", []))
    out["spark_sql.failed_tasks"] = rec.layer.get("spark_sql.failed_tasks", 0.0)
    out["mapreduce.refired_reducers"] = rec.layer.get("mapreduce.refired_reducers", 0.0)
    exec_ms = rec.layer.get("spark_sql.exec_ms", 0.0)
    if exec_ms:
        out["spark_sql.slot_busy_ratio"] = rec.layer.get("spark_sql.task_run_ms", 0.0) / (
            exec_ms * cores
        )
    builds = [s for s in rec.spans if s["name"] == "operators.build"]
    if builds:
        out["operators.build_ms"] = 1000.0 * sum(s["end"] - s["start"] for s in builds) / n
        out["operators.py4j_calls"] = sum(s.get("py4j_calls", 0) for s in builds) / n
    n_mr = max(1, _users(rec, "mapreduce", workload))
    out["mapreduce.run_ms"] = 1000.0 * rec.span_seconds("mapreduce.run") / n_mr
    out["mapreduce.pull_s"] = rec.span_seconds("mapreduce.pull") / n_mr
    best = op_best(rec)
    for name, x in best.items():
        out[f"op_s.{name}"] = x
    if workload.mr_jobs:
        out["warehouse.store_mb_s"] = workload.corpus_bytes / MB / best["store"]
        out["warehouse.retrieve_mb_s"] = workload.corpus_bytes / MB / best["retrieve"]
    out["warehouse.stored_bytes_per_input_byte"] = _median(rec.samples.get("warehouse.stored_ratio", []))
    out["streaming.batch_p50_s"] = _median(rec.samples.get("streaming.batch_s", []))
    out["trace.counter_read_ms"] = 1000.0 * rec.layer.get("trace.counter_read_s", 0.0) / n
    out["trace.op_geomean_s"] = geomean(best.values())
    return out


def with_units(values: dict[str, float], declared: dict[str, tuple[str, str]]) -> dict[str, dict]:
    """Attach units; the run must produce exactly the declared metrics."""
    if set(values) != set(declared):
        raise ValueError(
            f"metrics differ from BENCHMARK.json: missing {sorted(set(declared) - set(values))}, "
            f"undeclared {sorted(set(values) - set(declared))}"
        )
    return {k: {"value": float(v), "unit": declared[k][0]} for k, v in values.items()}
