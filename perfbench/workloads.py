"""The benchmark's workloads, their inputs and their expected results.

Each workload is a fixed set of lanes run back to back by one driver
session (a closed loop with one client). Batch lanes are entries of the
engine's query registry; a lane run builds the query (construction)
and collects its result (the action). A streaming lane builds a
streaming query (construction) and drains landing files through it
(the action).

Inputs are the engine's sf0.1 reference tables that the lanes read
(``documents``, ``embeddings`` and ``events``), kept byte for byte in
``perfbench/data``. The seed sets the lane order of every pass and the
split of ``events`` into streaming landing files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE = os.path.join(ROOT, "perfbench", "data")
TABLES = ("documents", "embeddings", "events")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    lanes: tuple[str, ...]
    # pass time on a 4-core box; --seconds / nominal_pass_s passes run
    nominal_pass_s: float


# Streaming components, run as lanes: each drains the landing files
# with an AvailableNow query, one file per micro-batch.
STREAM_LANES = ("st03_streaming_dedup",)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "construct_wide",
            "MinHash-LSH dedup, whose time goes to building plans: a wide "
            "signature aggregate battery and eager localCheckpoint jobs",
            ("d03_dedup_minhash_lsh",),
            nominal_pass_s=5.0,
        ),
        Workload(
            "llm_pipeline",
            "Embedding near-dup and Arrow-UDF lanes plus a streaming dedup ingest: "
            "the action (shuffle, Python workers, micro-batches) sets the time",
            ("d08_embedding_neardup", "s11_arrow_vector_features", "st03_streaming_dedup"),
            nominal_pass_s=7.0,
        ),
    )
}

# Landing files of events for the streaming lanes; each becomes one
# micro-batch (maxFilesPerTrigger=1).
STREAM_FILES = 3


def prepare_inputs(wl: Workload, seed: int, data_dir: str) -> None:
    """Copy the reference tables under ``data_dir``; for streaming
    lanes also split the events into landing files."""
    os.makedirs(data_dir)
    for t in TABLES:
        shutil.copyfile(f"{REFERENCE}/{t}.parquet", f"{data_dir}/{t}.parquet")
    if set(wl.lanes) & set(STREAM_LANES):
        _landing_files(np.random.default_rng(seed), data_dir)


def _write(table: pa.Table, path: str) -> None:
    # one file, one row group: the reference tables' layout
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _landing_files(rng, data_dir: str) -> None:
    """The time-ordered events cut at seeded boundaries into landing
    files (a later file never holds an event older than the
    watermark), with about 3% of rows delivered again in the same or
    the next file."""
    ev = pq.read_table(f"{data_dir}/events.parquet")
    n = ev.num_rows
    cuts = np.sort(rng.choice(np.arange(1, n), STREAM_FILES - 1, replace=False))
    bounds = [0, *cuts.tolist(), n]
    dup_rows = np.flatnonzero(rng.random(n) < 0.03)
    dup_file = np.searchsorted(cuts, dup_rows, side="right")
    dup_file = np.minimum(dup_file + rng.integers(0, 2, len(dup_rows)), STREAM_FILES - 1)
    d = f"{data_dir}/stream/events"
    os.makedirs(d)
    for i in range(STREAM_FILES):
        rows = np.concatenate([np.arange(bounds[i], bounds[i + 1]), dup_rows[dup_file == i]])
        path = f"{d}/part-{i:03d}.parquet"
        _write(ev.take(rows), path)
        # the file source orders files by modification time
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def expected(wl: Workload, data_dir: str, cache_dir: str) -> dict:
    """Each lane's expected result over the same inputs: a batch lane's
    DuckDB oracle digest; for the streaming dedup, the distinct event
    ids of the landing files, as ``stream_output`` reads them back from
    its sink.

    The oracles run in a child process, so DuckDB's memory stays out of
    the driver's peak RSS, and their answers are kept in ``cache_dir``
    under a hash of the tables and the oracle queries: a later run over
    the same tables reads them back instead of computing them again."""
    from etl_sql_and_pyspark_developement__spark.plans import ORACLES

    sqls = {k: ORACLES[k] for k in wl.lanes if k not in STREAM_LANES}
    h = hashlib.sha1(json.dumps(sorted(sqls.items())).encode())
    for t in TABLES:
        with open(f"{data_dir}/{t}.parquet", "rb") as f:
            h.update(f.read())
    cached = f"{cache_dir}/{wl.name}-{h.hexdigest()}.json"
    if not os.path.exists(cached):
        args = {"sqls": sqls, "data_dir": data_dir, "tables": TABLES}
        child = subprocess.run(
            [sys.executable, "-m", "perfbench.check"], input=json.dumps(args),
            capture_output=True, text=True, check=True, cwd=ROOT,
        )
        answers = json.loads(child.stdout)
        os.makedirs(cache_dir, exist_ok=True)
        with open(f"{cached}.tmp", "w") as f:
            json.dump(answers, f)
        os.replace(f"{cached}.tmp", cached)
    with open(cached) as f:
        out = json.load(f)
    src = f"SELECT DISTINCT event_id FROM read_parquet('{data_dir}/stream/events/*.parquet')"
    for k in set(wl.lanes) & set(STREAM_LANES):
        out[k] = _event_ids(src)
    return out


def stream_output(out_dir: str) -> list[int]:
    """The event ids a dedup sink wrote, duplicates kept."""
    return _event_ids(f"SELECT event_id FROM read_parquet('{out_dir}/*.parquet')")


def _event_ids(sql: str) -> list[int]:
    con = duckdb.connect(config={"threads": 2})
    try:
        return [r[0] for r in con.execute(f"{sql} ORDER BY 1").fetchall()]
    finally:
        con.close()
