"""Per-layer metrics of a traced run, from its spans, the stage
metrics of the jobs each span launched, the executed plans and the
streaming progress events.

``trace.unattributed_share`` is the construction time that falls in no
wrapped engine layer (the self time of ``plans.construct``), as a share
of lane wall time."""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.run import pass_wall
from perfbench.spec import PER_LAYER
from perfbench.trace import self_times

_PHASES = ("plans.construct", "exec.action")


def _phase(span: dict, by_id: dict) -> str | None:
    s = span
    while s is not None:
        if s["layer"] in _PHASES:
            return s["layer"]
        s = by_id.get(s["parent"])
    return None


def _lane_layers(run, rec: dict, m: dict, table: dict) -> float:
    """Add one lane's layer figures to ``m`` and its self times to
    ``table``; return the lane's wall time."""
    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}
    own = self_times(spans)
    jobs = {p: [] for p in _PHASES}
    wall = 0.0
    for s in spans:
        layer, dur = s["layer"], s["end"] - s["start"]
        ph = _phase(s, by_id)
        if ph:
            jobs[ph] += s["jobs"]
        table[layer] = table.get(layer, 0.0) + own[s["id"]]
        if layer == "lane":
            wall = dur
        elif layer == "plans.construct":
            # construction outside every wrapped engine layer
            m["plans.construct_s"] += dur
            m["trace.unattributed_s"] += own[s["id"]]
        elif layer == "exec.action":
            m["exec.action_s"] += dur
        elif layer == "streaming.sink":
            m["streaming.sink_write_s"] += dur
        else:
            m[f"{layer}.calls"] += 1
            m[f"{layer}.s"] += own[s["id"]]
            m[f"{layer}.jobs"] += len(s["jobs"])
    c = run.tracer.stage_totals(sorted(set(jobs["plans.construct"])))
    a = run.tracer.stage_totals(sorted(set(jobs["exec.action"])))
    m["plans.construct_jobs"] += len(set(jobs["plans.construct"]))
    m["plans.construct_task_s"] += c["run_s"]
    m["exec.jobs"] += len(set(jobs["exec.action"]))
    m["exec.stages"] += a["stages"]
    m["exec.tasks"] += a["tasks"]
    m["exec.task_run_s"] += a["run_s"]
    m["exec.task_cpu_s"] += a["cpu_s"]
    for k in ("shuffle_read_records", "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{k}"] += a[k]
    plan = rec.get("plan", {})
    m["exec.scan_rows"] += plan.get("scan_rows", 0)
    m["exec.shuffle_rows"] += plan.get("shuffle_rows", 0)
    m["functions.python_stages"] += plan.get("python_stages", 0)
    m["functions.python_rows"] += plan.get("python_rows", 0)
    if "run_id" in rec:
        _stream_progress(run, rec["run_id"], m)
    return wall


def _stream_progress(run, run_id: str, m: dict) -> None:
    from etl_sql_and_pyspark_developement__spark.streaming.observability import (
        state_operator_metrics,
    )

    prog = [p for p in run.listener.progress if p.get("runId") == run_id]
    for p in prog:
        if p["numInputRows"] > 0:
            d = p["durationMs"]
            m["streaming.batches"] += 1
            m["streaming.add_batch_ms"] += d.get("addBatch", 0)
            m["streaming.planning_ms"] += d.get("queryPlanning", 0)
            m["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            m["streaming.commit_offsets_ms"] += d.get("commitOffsets", 0)
    for op in state_operator_metrics(prog).values():
        m["streaming.state_rows"] += op["numRowsTotal"]
        m["streaming.state_mem_bytes"] += op["memoryUsedBytes"]


def per_layer(run, rep: dict, plain: list[list[dict]], traced: list[list[dict]]):
    """(metrics, record detail) of a traced run: each per-layer metric
    is the median over traced passes of its per-pass total."""
    names = [n for n, *_ in PER_LAYER]
    per_pass, tables, lanes = [], [], []
    for recs in traced:
        m = defaultdict(float)
        table: dict[str, float] = {}
        wall = 0.0
        for rec in recs:
            if not rec.get("spans") or "wall_s" not in rec:
                continue
            lane_table: dict[str, float] = {}
            lane_wall = _lane_layers(run, rec, m, lane_table)
            wall += lane_wall
            for k, v in lane_table.items():
                table[k] = table.get(k, 0.0) + v
            lanes.append({
                "lane": rec["lane"], "wall_s": lane_wall, "self_s": lane_table,
                "unattributed_share": lane_table.get("plans.construct", 0.0) / lane_wall,
            })
        wall = max(wall, 1e-9)  # every lane of the pass failed
        m["plans.construct_share"] = m["plans.construct_s"] / wall
        m["exec.core_util"] = m["exec.task_run_s"] / max(m["exec.action_s"] * run.cores, 1e-9)
        m["trace.unattributed_share"] = m["trace.unattributed_s"] / wall
        per_pass.append(m)
        tables.append(table)

    overhead = statistics.median(map(pass_wall, traced)) - statistics.median(map(pass_wall, plain))
    metrics = {n: statistics.median(m[n] for m in per_pass) for n in names}
    for k in ("start_s", "input_gen_s", "warmup_s"):
        metrics[f"session.{k}"] = rep[k]
    metrics["trace.overhead_s"] = overhead
    detail = {
        "per_layer": metrics,
        "self_time_tables": tables,
        "lanes": lanes,
        "spans": [s for p in traced for r in p for s in r.get("spans", [])],
        "layer_targets": {n: {"moves": t[0], "on": t[1]} for n, _, _, t in PER_LAYER},
        # layers that ran but have no per-layer metric of their own
        "other_layers": sorted(
            {k for t in tables for k in t}
            - {n.rsplit(".", 1)[0] for n in names}
            - {"lane", "streaming.sink", *_PHASES}
        ),
    }
    return metrics, detail
