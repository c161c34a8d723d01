"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose the SURVEY §2 inventory for the driver's
DuckDB-oracle correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (q01_pricing_summary) on /root/testdata/sf0.001."""
    from etl_sql_and_pyspark_developement__spark.plans import QUERIES
    from etl_sql_and_pyspark_developement__spark.session import configure_existing

    configure_existing(spark)
    return QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")


# Entries with no driver CORRECTNESS row for their *current* code —
# listed FIRST so a driver that samples 50 entries per round covers
# the unproven backlog before re-proving already-green rows. Entries
# are pruned once their fresh row lands (every earlier entry is green
# in CORRECTNESS_r11.json and CORRECTNESS_r12.json).
_NEEDS_DRIVER_ROW = [
    # ewma_stats now builds its guarded milli series through
    # fold._milli_series (same expression text, same plan)
    "q72_ewma_smoothing",
    # holt_stats builds the same series through fold._milli_series
    "q86_holt_forecast",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered
    unproven/changed-first (see _NEEDS_DRIVER_ROW)."""
    from etl_sql_and_pyspark_developement__spark.plans import QUERIES

    ordered = {k: QUERIES[k] for k in _NEEDS_DRIVER_ROW if k in QUERIES}
    for k in sorted(QUERIES):
        ordered.setdefault(k, QUERIES[k])
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-expressible query."""
    from etl_sql_and_pyspark_developement__spark.plans import ORACLES

    return dict(ORACLES)
