"""Scan-parallelism repair for small-file inputs.

Parquet scans parallelize at ROW-GROUP granularity: a table written as
one file with one row group arrives as ONE scan partition no matter how
many cores the cluster has, and every map-side stage above it — shingle
explodes, vector math, Arrow kernels, regex batteries — runs on a
single core while the other 31 idle. That is the optimization guide's
"input skew: one huge unsplittable file" case (§2.5), and its fix:
repartition immediately after the read.

`spread_small_scan` applies that fix SCALE-ADAPTIVELY: it widens a
frame to the cluster's default parallelism only when the frame has
FEWER partitions than that — at 100 TB a scan already carries orders of
magnitude more partitions than cores and this is a structural no-op
(no exchange is added). The widening is a keyless round-robin
repartition: deterministic under task retry (sort-before-repartition,
SPARK-23207 — on by default), and safe above any order-independent
consumer (all of this engine's aggregates are min/max/count/sum over
exact integers or per-row computations; nothing folds floats across
row order).

Cost when it fires: one local sort + one exchange of the small frame —
microseconds of data movement next to the serial map stage it breaks
up (measured: d03's MinHash signature build 3.9s → 2.3s at sf0.1
local[32] from this alone).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Partition-count probe cache (r12): df.rdd.getNumPartitions() builds
# a full plan-to-RDD conversion (analysis -> optimization -> physical
# planning) PER CALL — measurable driver time when ~30 call sites each
# probe per query construction. The count it returns is a function of
# (leaf file set, maxPartitionBytes, default parallelism) for the
# scan-projection frames this helper is called on (plus the other
# file-split settings, openCostInBytes and minPartitionNum), so one
# probe per distinct key serves every later call in the session. A cache
# hit costs one walk of the frame's ALREADY-analyzed plan
# (df.inputFiles()); frames with no file leaves (localCheckpoint /
# in-memory inputs) skip the cache and probe directly. A stale or
# colliding entry can only mis-ROUTE the perf decision (spread or
# not), never change values — the repartition is semantically a no-op
# either way. Bounded so a long-lived session can't grow it without
# limit.
_PART_CACHE: dict[tuple, int] = {}
_PART_CACHE_MAX = 256


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Widen ``df`` to the session's default parallelism when (and only
    when) it currently has fewer partitions — see module docstring.

    Call it on the PROJECTED frame right before heavy per-row map work
    (after column pruning / filters, so scan pushdown is unaffected
    below the exchange).

    Notes (r11 advice): the probe reads the pre-AQE physical plan's
    partition count — for the leaf scans this helper targets, AQE does
    not change scan splits, so the two agree; and determinism of the
    keyless repartition under task retry relies on
    spark.sql.execution.sortBeforeRepartition staying at its default
    (true; SPARK-23207) — do not disable it in sessions that spread."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    files = df.inputFiles()
    n = None
    key = None
    if files:
        # no-default get: returns the conf's session default when
        # unset (a passed default string is TYPE-VALIDATED by Spark 4
        # and '' is not a bytes value)
        conf = df.sparkSession.conf
        key = (
            tuple(sorted(files)),
            target,
            *(
                conf.get(f"spark.sql.files.{k}")
                for k in ("maxPartitionBytes", "openCostInBytes", "minPartitionNum")
            ),
        )
        n = _PART_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            if len(_PART_CACHE) >= _PART_CACHE_MAX:
                _PART_CACHE.clear()
            _PART_CACHE[key] = n
    if n >= target:
        return df
    return df.repartition(target)
