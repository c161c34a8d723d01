"""The benchmark's metrics: names, units, directions, bounds, and for
each per-layer metric the end-to-end metric and workload it should
move. ``python3 perfbench/spec.py`` prints BENCHMARK.json."""

from __future__ import annotations

import json
import os
import sys

# (name, unit, better, bound)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("lane_p50_s", "s", "lower", 0.25),
    ("lane_tail_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
)

# Operator modules the workloads call; each gets .calls, .s and .jobs.
OPERATOR_MODULES = ("dedup", "similarity", "spread")

_SETUP = ("setup_s", "all")
_CONSTRUCT = ("pass_s", "construct_wide")
_READS = ("lane_p50_s", "construct_wide")
_ACTION = ("lane_p50_s", "llm_pipeline")
_DATA = ("pass_s", "llm_pipeline")
_STREAM = ("pass_s", "llm_pipeline")

# (name, unit, better, (end-to-end metric it should move, on workload))
PER_LAYER = (
    ("session.start_s", "s", "lower", _SETUP),
    ("session.input_gen_s", "s", "lower", _SETUP),
    ("session.warmup_s", "s", "lower", _SETUP),
    ("plans.construct_s", "s", "lower", _CONSTRUCT),
    ("plans.construct_jobs", "count", "lower", _CONSTRUCT),
    ("plans.construct_task_s", "s", "lower", _CONSTRUCT),
    ("plans.construct_share", "ratio", "lower", _CONSTRUCT),
    ("materialize.calls", "count", "lower", _CONSTRUCT),
    ("materialize.s", "s", "lower", _CONSTRUCT),
    ("materialize.jobs", "count", "lower", _CONSTRUCT),
    ("sources.calls", "count", "lower", _READS),
    ("sources.s", "s", "lower", _READS),
    ("sources.jobs", "count", "lower", _READS),
    *(
        (f"operators.{m}.{k}", u, "lower", _CONSTRUCT if m == "dedup" else _DATA)
        for m in OPERATOR_MODULES
        for k, u in (("calls", "count"), ("s", "s"), ("jobs", "count"))
    ),
    ("exec.action_s", "s", "lower", _ACTION),
    ("exec.jobs", "count", "lower", _ACTION),
    ("exec.stages", "count", "lower", _ACTION),
    ("exec.tasks", "count", "lower", _ACTION),
    ("exec.task_run_s", "s", "lower", _DATA),
    ("exec.task_cpu_s", "s", "lower", _DATA),
    ("exec.core_util", "ratio", "higher", _DATA),
    ("exec.shuffle_read_records", "count", "lower", _DATA),
    ("exec.shuffle_write_bytes", "bytes", "lower", _DATA),
    ("exec.spill_bytes", "bytes", "lower", _DATA),
    ("exec.scan_rows", "count", "lower", _DATA),
    ("exec.shuffle_rows", "count", "lower", _DATA),
    ("functions.python_stages", "count", "lower", _DATA),
    ("functions.python_rows", "count", "lower", _DATA),
    ("streaming.batches", "count", "lower", _STREAM),
    ("streaming.add_batch_ms", "ms", "lower", _STREAM),
    ("streaming.planning_ms", "ms", "lower", _STREAM),
    ("streaming.wal_commit_ms", "ms", "lower", _STREAM),
    ("streaming.commit_offsets_ms", "ms", "lower", _STREAM),
    ("streaming.state_rows", "count", "lower", _STREAM),
    ("streaming.state_mem_bytes", "bytes", "lower", _STREAM),
    ("streaming.sink_write_s", "s", "lower", _STREAM),
    ("trace.overhead_s", "s", "lower", ("pass_s", "all")),
    ("trace.unattributed_share", "ratio", "lower", ("pass_s", "all")),
)

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}

RUN_SECONDS = 15


def benchmark_json() -> dict:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench.workloads import WORKLOADS

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
