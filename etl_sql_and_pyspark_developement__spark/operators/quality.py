"""Data-quality validation: declarative column expectations evaluated
in ONE pass over the table (every check is a conditional aggregate —
no per-check scans, no Python).

The ETL guardrail the reference's pipelines assume implicitly; here
it's a first-class operator emitting a per-check violation summary.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    name: str
    predicate: Column  # True => row VIOLATES the expectation


def not_null(col: str) -> Check:
    return Check(f"{col}_null", F.col(col).isNull())


def in_range(col: str, lo: float, hi: float) -> Check:
    return Check(
        f"{col}_out_of_range",
        F.col(col).isNotNull() & ((F.col(col) < lo) | (F.col(col) > hi)),
    )


def matches(col: str, pattern: str) -> Check:
    return Check(
        f"{col}_bad_format",
        F.col(col).isNotNull() & ~F.col(col).rlike(pattern),
    )


def validate(df: DataFrame, checks: list[Check]) -> DataFrame:
    """One-pass violation summary: (check, n_violations, violation_pct)."""
    total = F.count("*")
    aggs = [total.alias("__total")] + [
        F.sum(F.when(c.predicate, 1).otherwise(0)).alias(c.name) for c in checks
    ]
    row = df.agg(*aggs)
    stacked = row.selectExpr(
        "__total",
        "stack({n}, {pairs}) AS (check_name, n_violations)".format(
            n=len(checks),
            pairs=", ".join(f"'{c.name}', {c.name}" for c in checks),
        ),
    )
    return stacked.select(
        "check_name",
        "n_violations",
        F.round(F.col("n_violations") * 100.0 / F.col("__total"), 6).alias(
            "violation_pct"
        ),
    )


def lineitem_checks() -> list[Check]:
    """The standard lineitem expectation set (q33's checks; shared by
    the in-flight observation lane so both surfaces count violations
    with the SAME predicates)."""
    return [
        not_null("l_orderkey"),
        not_null("l_shipdate"),
        in_range("l_discount", 0.0, 0.5),
        in_range("l_quantity", 1.0, 50.0),
        in_range("l_extendedprice", 0.0, 200000.0),
        matches("l_returnflag", "^[ANR]$"),
    ]


def observe_checks(df: DataFrame, checks: list[Check], observation=None):
    """Attach IN-FLIGHT quality counters to a frame: the same
    conditional aggregates validate() computes, but riding whatever
    scan the consuming query already performs (CollectMetrics — ZERO
    extra passes, no second job), instead of a dedicated validation
    pass. The production shape for "validate while you compute" at
    100 TB: the business query runs exactly as before and the
    violation counters fall out of the same executors' row stream.

    Pass a pyspark.sql.Observation to read the counters after the
    consuming action (observation.get blocks until the action
    finishes); omit it when the metrics ride along unread (the
    counters then cost a handful of longs per task)."""
    if observation is None:
        from pyspark.sql import Observation

        observation = Observation()
    metrics = [F.count(F.lit(1)).alias("__total")] + [
        F.sum(F.when(c.predicate, 1).otherwise(0)).alias(c.name)
        for c in checks
    ]
    return df.observe(observation, *metrics)
