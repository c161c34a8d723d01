"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 12 --trace 0

Run from the repository root. A run

1. sets up once (``setup_s``): starts the Spark session and its JVM,
   derives the seeded inputs into a fresh directory, and runs one
   untimed warm-up pass over the lanes. JVM start and the cold first
   pass happen once per process, so a run has one set-up sample;
2. runs the timed passes that fill ``--seconds`` at the workload's
   nominal pass time (at least three: the first timed pass is still
   warming up, a median of three leaves it out), each lane in a seeded
   order that changes every pass;
3. checks every lane run, warm-up included, outside the timed section:
   batch lanes against their DuckDB oracle, a streaming lane's sink
   against DuckDB's answer over the same landing files.

The number of passes is fixed by the arguments, not by the clock: lanes
still speed up from pass to pass as the JIT settles, so runs with
different counts would sit at different points of that curve.

With ``--trace 0`` the last line of stdout carries the end-to-end
metrics; with ``--trace 1`` untraced and traced passes alternate, half
the measuring time each, and it carries the per-layer metrics (see
spec.py). Each run writes its full record (environment block, per-lane
times, and for traced runs the spans and the per-layer self-time
table) to ``.perfbench/records/`` under the repository root; DuckDB's
expected results are kept in ``.perfbench/expected/``. Inputs, Spark's
scratch space and temp files live in ``.perfbench/run-*`` and are
removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PASSES = 3
# The driver JVM's heap: fixed and touched at start, so the driver's
# peak RSS is this heap plus what grows outside it (JIT code, metaspace,
# native and Arrow buffers, the Python driver). Left to size itself, the
# heap's resident part made peak RSS vary by up to a quarter between
# runs of the same inputs; fixed, by 2%.
HEAP = "1g"
_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"# {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def _nospan(layer, name):
    return nullcontext()


class Run:
    def __init__(self, wl, seed: int, seconds: float, traced: bool, work: str):
        self.wl, self.seed, self.seconds, self.traced = wl, seed, seconds, traced
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.rng = random.Random(seed)
        self.spark = None
        self.data = None
        self.warmup: list[dict] = []
        self.tracer = None
        self.tracing_on = False
        self.listener = None
        self.span = _nospan
        self.expected = None
        self.attempted = 0
        self.failures: list[str] = []

    # -- session -------------------------------------------------------
    def _start_session(self):
        from etl_sql_and_pyspark_developement__spark.session import get_spark

        w = self.work
        self.spark = get_spark(
            "perfbench",
            cpus=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": f"{w}/spark-local",
                "spark.sql.warehouse.dir": f"{w}/warehouse",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={w}/tmp -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def _calibration(self) -> float:
        """Best of three runs of a fixed CPU probe (bench.py's): it slows
        with the box, so a high value marks a loaded run."""
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.range(20_000_000).selectExpr("sum(id * 2 + 1) AS s").collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 4)

    def _peak_rss(self) -> dict:
        """High-water resident memory of the driver JVM and of this
        Python driver, in MB."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return {"jvm_mb": jvm_kb / 1024, "python_mb": py_kb / 1024}

    # -- lanes ---------------------------------------------------------
    def _cleanup(self) -> None:
        # drop the lane's cached and checkpointed blocks before the next
        # lane, outside its timing (bench.py's discipline)
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.System.gc()

    def _fail(self, lane: str, why: str) -> None:
        self.failures.append(f"{lane}: {why}")
        _log(f"FAILED {lane}: {why}")

    def batch_lane(self, key: str, data: str) -> dict:
        from etl_sql_and_pyspark_developement__spark.plans import QUERIES
        from perfbench.check import digest

        rec = {"lane": key}
        df = pdf = None
        try:
            t0 = time.perf_counter()
            with self.span("lane", key):
                with self.span("plans.construct", key):
                    df = QUERIES[key](self.spark, data)
                t1 = time.perf_counter()
                with self.span("exec.action", key):
                    pdf = df.toPandas()
            t2 = time.perf_counter()
            rec.update(wall_s=t2 - t0, construct_s=t1 - t0, action_s=t2 - t1)
            if digest(pdf) != self.expected[key]:
                self._fail(key, "result differs from the oracle")
            if self.tracing_on:
                rec["plan"] = _plan_counters(df)
        except Exception:  # noqa: BLE001 - a failing lane is counted, the run goes on
            self._fail(key, traceback.format_exc(limit=3))
        del df, pdf
        self._cleanup()
        return rec

    def stream_lane(self, lane: str, data: str, pass_dir: str) -> dict:
        from perfbench.workloads import stream_output

        rec = {"lane": lane}
        out, ckpt = f"{pass_dir}/{lane}/out", f"{pass_dir}/{lane}/ckpt"
        try:
            t0 = time.perf_counter()
            with self.span("lane", lane):
                with self.span("plans.construct", lane):
                    start = self._stream_query(lane, data, out, ckpt)
                t1 = time.perf_counter()
                with self.span("exec.action", lane) as act:
                    q = start()
                    if act is not None:
                        act["jobs"] += self.spark.sparkContext.statusTracker().getJobIdsForGroup(
                            str(q.runId)
                        )
            t2 = time.perf_counter()
            fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
            rec.update(
                wall_s=t2 - t0, construct_s=t1 - t0, action_s=t2 - t1,
                batches_s=[p["durationMs"]["triggerExecution"] / 1e3 for p in fed],
                rows=sum(p["numInputRows"] for p in fed), run_id=str(q.runId),
            )
            if stream_output(out) != self.expected[lane]:
                self._fail(lane, "sink output differs from the expected events")
        except Exception:  # noqa: BLE001 - a failing lane is counted, the run goes on
            self._fail(lane, traceback.format_exc(limit=3))
        self._cleanup()
        return rec

    def _stream_query(self, lane: str, data: str, out: str, ckpt: str):
        """Build the component's streaming query over the landing files
        (one file per micro-batch); return a function that drains them
        with an AvailableNow run into a parquet foreachBatch sink."""
        from etl_sql_and_pyspark_developement__spark.sources.catalog import table
        from etl_sql_and_pyspark_developement__spark.streaming.pipeline import (
            available_now_backfill,
            streaming_dedup,
        )

        stream = (
            self.spark.readStream.schema(table(self.spark, data, "events").schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{data}/stream/events")
        )
        transformed = streaming_dedup(stream)

        def sink(batch_df, epoch_id):
            batch_df.write.mode("append").parquet(out)

        return lambda: available_now_backfill(transformed, ckpt, sink)

    def one_pass(self, data: str, tag: str) -> list[dict]:
        from perfbench.workloads import STREAM_LANES

        lanes = list(self.wl.lanes)
        self.rng.shuffle(lanes)
        pass_dir = f"{self.work}/{tag}"
        recs = []
        for lane in lanes:
            self.attempted += 1
            mark = len(self.tracer.spans) if self.tracing_on else 0
            if lane in STREAM_LANES:
                rec = self.stream_lane(lane, data, pass_dir)
            else:
                rec = self.batch_lane(lane, data)
            if self.tracing_on:
                rec["spans"] = self.tracer.spans[mark:]
                self.tracer.resolve_jobs(rec["spans"])
            recs.append(rec)
        shutil.rmtree(pass_dir, ignore_errors=True)
        return recs

    # -- the run -------------------------------------------------------
    def setup(self) -> dict:
        """Start the session, derive the inputs into a fresh directory
        and run one warm-up pass. The expected results are computed
        between the two, outside the set-up time, and the warm-up pass
        counts only its lanes' wall time, as a timed pass does."""
        from perfbench import workloads

        self.data = f"{self.work}/data"
        t0 = time.perf_counter()
        self._start_session()
        t1 = time.perf_counter()
        workloads.prepare_inputs(self.wl, self.seed, self.data)
        t2 = time.perf_counter()
        self.expected = workloads.expected(self.wl, self.data, f"{ROOT}/.perfbench/expected")
        _log("expected results ready")
        self.warmup = self.one_pass(self.data, "warmup")
        rep = {"start_s": t1 - t0, "input_gen_s": t2 - t1, "warmup_s": pass_wall(self.warmup)}
        rep["total_s"] = sum(rep.values())
        _log("setup: " + json.dumps({k: round(v, 3) for k, v in rep.items()}))
        return rep

    def n_passes(self, seconds: float) -> int:
        """As many passes as fill ``seconds`` at the workload's nominal
        pass time, at least MIN_PASSES."""
        return max(MIN_PASSES, round(seconds / self.wl.nominal_pass_s))

    def timed_pass(self, tag: str) -> list[dict]:
        recs = self.one_pass(self.data, tag)
        _log(f"{tag} pass: {pass_wall(recs):.3f}s")
        return recs

    @contextmanager
    def tracing(self):
        """Trace the passes run inside: spans, job groups and streaming
        progress events."""
        from etl_sql_and_pyspark_developement__spark.streaming.observability import (
            CollectingListener,
        )
        from perfbench.trace import Tracer

        self.tracer = self.tracer or Tracer(self.spark)
        self.listener = self.listener or CollectingListener()
        self.listener.register(self.spark)
        self.tracer.install()
        self.span, self.tracing_on = self.tracer.span, True
        try:
            yield
        finally:
            self.tracer.uninstall()
            self.listener.unregister(self.spark)
            self.span, self.tracing_on = _nospan, False

    def run(self) -> tuple[dict, dict]:
        env = {"nproc": self.cores, "os_cpu_count": os.cpu_count(),
               "loadavg_start": os.getloadavg()}
        cpu_start = _cpu_times()
        rep = self.setup()
        env["default_parallelism"] = self.spark.sparkContext.defaultParallelism
        env["calibration_start_s"] = self._calibration()
        _log("calibrated")
        plain, traced = [], []
        if self.traced:
            # alternate, so both halves sit at the same point of warm-up
            for i in range(self.n_passes(self.seconds / 2)):
                plain.append(self.timed_pass(f"plain{i}"))
                with self.tracing():
                    traced.append(self.timed_pass(f"traced{i}"))
        else:
            for i in range(self.n_passes(self.seconds)):
                plain.append(self.timed_pass(f"timed{i}"))
        env["calibration_end_s"] = self._calibration()
        env["loadavg_end"] = os.getloadavg()
        busy, steal = (e - s for s, e in zip(cpu_start, _cpu_times()))
        # time the hypervisor gave this box's CPUs to other guests, as a
        # share of the run's CPU time: a high value marks a slowed run
        env["cpu_steal_share"] = steal / max(busy + steal, 1)
        env["peak_rss"] = self._peak_rss()
        record = {
            "workload": self.wl.name, "seed": self.seed, "seconds": self.seconds,
            "traced": self.traced, "env": env, "setup": rep,
            "warmup": _strip(self.warmup), "passes": [_strip(p) for p in plain],
            "failures": self.failures,
        }
        record["lane_latencies"] = lanes = lane_latencies(plain)
        record["end_to_end"] = e2e = end_to_end(rep, plain, lanes, env["peak_rss"])
        if self.traced:
            from perfbench.layers import per_layer

            metrics, detail = per_layer(self, rep, plain, traced)
            record.update(detail)
        else:
            metrics = e2e
        return metrics, record


def _cpu_times() -> tuple[int, int]:
    """(busy, steal) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = ticks[:8]
    return user + nice + system + irq + softirq, steal


def _strip(p: list[dict]) -> list[dict]:
    return [{k: v for k, v in r.items() if k not in ("spans", "plan")} for r in p]


def _plan_counters(df) -> dict:
    """Counters of the executed plan: scanned and shuffled rows, and the
    Python/Arrow evaluation nodes with the rows Python returned to them."""
    from etl_sql_and_pyspark_developement__spark.plans.inspect import (
        _node_metrics,
        _walk_executed,
        executed_plan_metrics,
    )

    m = executed_plan_metrics(df)
    py_rows = 0
    for node, name in _walk_executed(df._jdf.queryExecution().executedPlan()):
        if "Python" in name or "InPandas" in name or "InArrow" in name:
            nm = _node_metrics(node)
            py_rows += int(nm.get("pythonNumRowsReceived", nm.get("numOutputRows", 0)))
    return {"scan_rows": sum(m["scan_rows"]), "shuffle_rows": sum(m["shuffle_rows"]),
            "python_stages": m["n_python_stages"], "python_rows": py_rows}


def pass_wall(p: list[dict]) -> float:
    """A pass's time: the sum of its lanes' wall times."""
    return sum(r.get("wall_s", 0.0) for r in p)


def lane_latencies(passes: list[list[dict]]) -> dict[str, float]:
    """Each lane's median wall time over the timed passes."""
    samples = defaultdict(list)
    for p in passes:
        for r in p:
            if "wall_s" in r:
                samples[r["lane"]].append(r["wall_s"])
    return {k: statistics.median(v) for k, v in samples.items()}


def end_to_end(rep: dict, passes: list[list[dict]], lanes: dict, rss: dict) -> dict:
    """The end-to-end metrics. A run holds too few lane samples for a
    percentile with ten samples beyond it, so the tail is the slowest
    lane's median, and the p50 the median over lanes of their medians:
    both then name the same lanes on every run."""
    return {
        "setup_s": rep["total_s"],
        "pass_s": statistics.median(map(pass_wall, passes)),
        "lane_p50_s": statistics.median(lanes.values()),
        "lane_tail_s": max(lanes.values()),
        "peak_rss_mb": rss["jvm_mb"] + rss["python_mb"],
    }


def _isolate(work: str) -> None:
    """Keep every file the run writes inside its work directory."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    tempfile.tempdir = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(f"{base}/records", exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    run = None
    try:
        _isolate(work)
        run = Run(wl, args.seed, args.seconds, bool(args.trace), work)
        metrics, record = run.run()
    finally:
        _stop_all(run.spark if run is not None else None)
        _log("session stopped")
        shutil.rmtree(work, ignore_errors=True)
    name = f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    with open(f"{base}/records/{name}", "w") as f:
        json.dump(record, f, indent=1, default=str)
    from perfbench.spec import UNITS

    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


def _stop_all(spark) -> None:
    """Stop the session and its JVM, and wait until every process this
    run started (the JVM, the Python workers it forked, any helper) has
    ended; a process that outlives the grace time is killed."""
    pids = _descendants()
    try:
        if spark is not None:
            spark.stop()
        pyspark = sys.modules.get("pyspark")
        gw = pyspark.SparkContext._gateway if pyspark is not None else None
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
    finally:
        _wait_ended(pids | _descendants())


def _descendants() -> set[int]:
    """Pids of every process below this one."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = set(), [os.getpid()]
    while todo:
        for c in children[todo.pop()]:
            out.add(c)
            todo.append(c)
    return out


def _ended(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)  # reap it if it is this process's child
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except (OSError, IndexError):
        return True


def _wait_ended(pids: set[int], grace_s: float = 30.0) -> None:
    deadline = time.monotonic() + grace_s
    killed = False
    while pids := {p for p in pids if not _ended(p)}:
        if not killed and time.monotonic() > deadline:
            _log(f"killing {sorted(pids)}")
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


if __name__ == "__main__":
    sys.exit(main())
