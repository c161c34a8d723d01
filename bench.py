"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`time_lane` and `calibration` are the repo's only lane timer and load
probe: tools/bench_heavy_sfx.py and tools/scale_audit.py import them,
so every tool measures a lane the same way.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

# Committed envelope (seconds) for the calibration probe: unloaded, the
# probe measures ~0.07s best-of-3; ~3x headroom. A probe above it =>
# flag the run as loaded.
CAL_ENVELOPE_S = float(os.environ.get("SPARK_GRAFT_CAL_ENVELOPE", "0.2"))


def calibration(spark) -> float:
    """Fixed data-independent CPU probe: best of 3 sums over a 20M
    range, after one untimed warm run. Its wall time on an idle box is
    stable (~envelope/2); when the box is busy the probe slows with it,
    so a probe outside CAL_ENVELOPE_S marks the WHOLE run's timings as
    load-contaminated (two rounds were spent disproving phantom
    regressions that were exactly this)."""
    times = []
    for _ in range(4):
        t0 = time.perf_counter()
        spark.range(20_000_000).selectExpr("sum(id * 2 + 1) AS s").collect()
        times.append(time.perf_counter() - t0)
    return min(times[1:])


def time_lane(spark, key: str, sf_dir: str, runs: int = 2) -> dict:
    """Time QUERIES[key] at sf_dir: best-of-`runs`, plus ONE extra run
    when the best exceeds 1.5s (host load is spiky and the heavy tail
    dominates a total, so a third sample there buys most of the
    variance reduction for ~none of the cost on the cheap majority).
    The first execution pays per-query codegen/planning (~1-2s of JVM
    work unrelated to the data plan); the min reflects the steady-state
    plan cost that actually scales.

    Each run tags its construct phase (QUERIES[key](...): Python plan
    building plus EAGER work such as localCheckpoints and sketch
    collects) and its action phase with their own job groups. Returns
    every run's time, the best, first/best (the warm-up-depth flag: a
    large ratio means the lane was caught cold), and the best run's
    construct_s/action_s/jobs_construct/jobs_action. A lane's
    exception propagates: the caller decides what a failure means."""
    from etl_sql_and_pyspark_developement__spark.plans import QUERIES

    sc = spark.sparkContext
    raw: list[float] = []
    best: dict = {}
    for r in range(runs + 1):
        if r == runs and min(raw) <= 1.5:
            break
        gid_c, gid_a = f"lane-construct-{key}-{r}", f"lane-action-{key}-{r}"
        df = None
        try:
            sc.setJobGroup(gid_c, key)
            t0 = time.perf_counter()
            df = QUERIES[key](spark, sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(gid_a, key)
            # Materialize EVERY output column through the noop sink: a
            # count() action lets Catalyst prune result columns and even
            # eliminate whole sub-plans (a left join on unique keys with
            # no referenced right columns is dropped entirely — d18's
            # real cost was invisible to count). The noop write is the
            # standard full-materialization bench action: all columns
            # computed, nothing written.
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            # Queries persist their own intermediates; drop them between
            # runs (outside the timed section) so one run's cache neither
            # pressures memory nor flatters the next. clearCache only
            # frees InMemoryRelations — NOT localCheckpoint RDD blocks,
            # which are freed when the frame is GC'd on BOTH sides: drop
            # the Python ref, collect so py4j releases the JVM handle,
            # and nudge the JVM GC so ContextCleaner reclaims the blocks
            # before the next heavy query instead of during it.
            del df
            spark.catalog.clearCache()
            gc.collect()
            sc._jvm.System.gc()
        if not raw or t2 - t0 < min(raw):
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            tracker = sc.statusTracker()
            best = {
                "construct_s": round(t1 - t0, 3),
                "action_s": round(t2 - t1, 3),
                "jobs_construct": len(tracker.getJobIdsForGroup(gid_c)),
                "jobs_action": len(tracker.getJobIdsForGroup(gid_a)),
            }
        raw.append(t2 - t0)
    b = min(raw)
    return {
        "times": [round(t, 3) for t in raw],
        "best": round(b, 3),
        "cold_over_best": round(raw[0] / b, 2) if b > 0 else 1.0,
        **best,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from etl_sql_and_pyspark_developement__spark.plans import QUERIES
    from etl_sql_and_pyspark_developement__spark.session import get_spark

    spark = get_spark("engine-bench")
    spark.sparkContext.setLogLevel("WARN")

    # Warm the JVM/codegen path once so per-query numbers measure the
    # plan, not session startup.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    cal_start = calibration(spark)

    timings: dict[str, float] = {}
    # first-run / best per lane: a round-over-round reader sees AT A
    # GLANCE that an apparent mover was caught cold (r11)
    cold_over_best: dict[str, float] = {}
    split: dict[str, dict] = {}
    for key in sorted(QUERIES):
        lane = time_lane(spark, key, sf_dir)
        timings[key] = lane["best"]
        cold_over_best[key] = lane["cold_over_best"]
        split[key] = {k: lane[k] for k in (
            "construct_s", "action_s", "jobs_construct", "jobs_action")}
        print(
            f"# {key}: {timings[key]:.3f}s construct={lane['construct_s']:.3f}s"
            f" (jobs={lane['jobs_construct']}) action={lane['action_s']:.3f}s"
            f" (jobs={lane['jobs_action']})",
            file=sys.stderr,
        )

    calibration_s = round(min(cal_start, calibration(spark)), 3)
    try:
        loadavg_1m = round(os.getloadavg()[0], 2)
        # normalized by the core count the session was built with —
        # a loadavg of 6 is idle on 32 cores and saturated on 4, and
        # driver records from different boxes should self-adjudicate.
        # ValueError (malformed env) must not kill the whole record;
        # unset falls back to the real core count, not a constant.
        n_cpus = int(
            os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 32)
        )
        loadavg_per_cpu = round(loadavg_1m / max(n_cpus, 1), 3)
    except (OSError, ValueError):
        loadavg_1m = None
        loadavg_per_cpu = None
    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    record = {
        "metric": "total_query_wall_time",
        "value": total,
        "unit": "sec",
        # round 3+: timings materialize ALL output columns via the
        # noop sink (count() let Catalyst prune/eliminate work) —
        # totals are NOT comparable to rounds 1-2, which undercounted
        "action": "noop-write-all-columns",
        # the inventory grows round over round — normalize totals by
        # n_queries (or compare per-query) across rounds
        "n_queries": len(timings),
        "queries": timings,
        "sf": float(sf) if sf else sf_dir,
        # Load guard: calibration_s = the probe's best at start and
        # end; loaded_box means even the best exceeded the committed
        # unloaded envelope — treat this run's timings as
        # load-contaminated, don't chase "regressions".
        "calibration_s": calibration_s,
        "calibration_envelope_s": CAL_ENVELOPE_S,
        "loadavg_1m": loadavg_1m,
        "loadavg_per_cpu": loadavg_per_cpu,
        "loaded_box": bool(calibration_s > CAL_ENVELOPE_S),
        "cold_over_best": cold_over_best,
        "split": split,
    }
    # Persist the FULL per-query record to a file: with 140+ queries the
    # one-line record exceeds the driver's stdout tail capture, so
    # BENCH_r03 recorded "parsed": null. Per-query timings live here.
    # BENCH_full.json is the sf0.1 record of record — a different-sf
    # run (the sf0.01 correctness-gate loop) must NOT clobber it, so
    # non-sf0.1 runs write a sf-stamped sibling instead (the
    # round-over-round comparison the judge reads stays intact
    # structurally, not via `git checkout --` vigilance).
    here = os.path.dirname(__file__)
    fname = (
        "BENCH_full.json"
        if record["sf"] == 0.1
        else f"BENCH_full_sf{sf or 'custom'}.json"
    )
    try:
        with open(os.path.join(here, fname), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    except OSError:
        pass
    # Per-query timings in DRIVER-PARSEABLE form on stdout (r12,
    # VERDICT r11 item 2): one compact JSON object per line, printed
    # in ASCENDING time order immediately before the final line. The
    # driver's stdout capture keeps only the last ~2000 chars, so this
    # ordering guarantees the capture always contains the HEAVIEST
    # lanes (the ones round-over-round adjudication needs) plus the
    # intact final line — truncation only ever costs the cheapest
    # lanes. (Inlining the full 230-entry dict in the final line is
    # exactly what overflowed the capture and nulled BENCH_r03;
    # the full record stays in BENCH_full.json.)
    for k in sorted(timings, key=lambda q: (timings[q], q)):
        print(json.dumps({"q": k, "s": timings[k]}, separators=(",", ":")))
    # ...and stdout gets ONE compact machine-parseable line, printed
    # LAST so a tail capture always sees it whole.
    compact = {k: record[k] for k in
               ("metric", "value", "unit", "action", "n_queries", "sf",
                "calibration_s", "calibration_envelope_s", "loadavg_1m",
                "loadavg_per_cpu", "loaded_box")}
    compact["queries"] = {"see": fname}
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
