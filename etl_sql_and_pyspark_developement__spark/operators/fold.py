"""Prefix-dependent folds expressed scale-first.

The marquee case is the CAPPED running total (loyalty-balance
semantics: ``bal = min(cap, bal + v)`` per event in time order).
Naively that is a sequential fold — each step's input depends on the
previous step's *clamped* output — which tempts a per-group Python
loop. But the fold has structure:

* **Non-negative inputs** (the common ledger shape: purchases,
  token counts, byte sizes): once the balance hits the cap, a
  non-negative add keeps it capped, and *before* the first cap the
  balance IS the plain running prefix sum. So the whole fold
  collapses to ``least(cap, sum(v) OVER (... ROWS UNBOUNDED
  PRECEDING))`` — pure window codegen, one shuffle, zero Python.
  The per-row capped flag is likewise windowable:
  ``least(cap, lag(S)) + v > cap`` replays the exact IEEE double
  add/compare the sequential fold performs (Spark's running-frame
  window sum accumulates rows one at a time in sort order, so the
  pre-cap prefix sums are bit-identical to the fold's balances).

* **Mixed-sign inputs** (refunds, chargebacks): the clamp no longer
  simplifies, so we fall back to an Arrow-batched ``applyInPandas``
  fold per key — the documented general-sign path.  (The map
  ``x ↦ min(cap, x + a)`` composes associatively, so a two-scalar
  tree aggregate exists in principle; the Arrow fold is the honest
  implementation until a JVM UDAF is warranted.)

Reference parity: R19's lifetime-value accumulation with promotion
caps (`pyspark/User Lifetime Value Prediction.py`) is this shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "capped_fold",
    "capped_running_total",
    "ewma_stats",
    "holt_stats",
    "round_half_up",
]


def round_half_up(x: float, digits: int = 2) -> float:
    """Replicate Spark ``F.round`` on DOUBLE exactly. Python
    ``round()`` is banker's (half-even); Spark is HALF_UP — but on a
    double Spark first routes through ``BigDecimal.valueOf`` /
    ``Double.toString`` (the *shortest decimal representation* that
    round-trips), THEN rounds. ``repr(float)`` is the same
    shortest-repr decimalization in Python, so
    ``Decimal(repr(x)).quantize(..., ROUND_HALF_UP)`` reproduces
    Spark on every value, including ones like 1.005 whose stored
    binary is 1.00499… (a naive ``floor(x*100+0.5)`` yields 1.00
    there; Spark and this helper yield 1.01)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def capped_fold(
    values, cap: float, bal: float = 0.0, n: int = 0, ncap: int = 0
) -> tuple[float, int, int]:
    """The sequential capped fold: ``bal = min(cap, bal + v)`` for each
    ``v`` of ``values`` in order, from state (bal, n, ncap). Returns the
    new state; ``n`` counts the values and ``ncap`` the clamps. The
    general-sign arm below and the streaming twins st21/st25 all step
    through it, so they share one IEEE add/compare sequence."""
    for v in values:
        n += 1
        s = bal + float(v)
        if s > cap:
            ncap += 1
            bal = cap
        else:
            bal = s
    return bal, n, ncap


def capped_running_total(
    df: DataFrame,
    key: str,
    order: list[str],
    value_col: str,
    cap: float,
    assume_nonnegative: bool = True,
) -> DataFrame:
    """Per-key summary of the capped fold: (key, n_events, n_capped,
    final_balance).

    ``assume_nonnegative=True`` (default) runs the pure-window plan —
    codegen end-to-end, ONE hash shuffle on ``key``, exact to the
    sequential fold bit-for-bit.  ``False`` runs the general-sign
    Arrow fold (one shuffle, per-key Python loop).
    """
    if assume_nonnegative:
        w = Window.partitionBy(key).orderBy(*order)
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        # The window collapse is only exact for non-negative adds —
        # enforce the precondition IN-PLAN (one codegen comparison per
        # row) so mixed-sign data fails loudly at scan time instead of
        # silently mis-folding. raise_error's NullType unifies with
        # the double branch under when/otherwise.
        v = F.when(
            F.col(value_col) < 0,
            F.raise_error(
                F.concat(
                    F.lit(
                        "capped_running_total(assume_nonnegative=True) "
                        "saw a negative value ("
                    ),
                    F.col(value_col).cast("string"),
                    F.lit(") — use assume_nonnegative=False"),
                )
            ).cast("double"),
        ).otherwise(F.col(value_col))
        prefix = F.sum(v).over(run)
        prev_bal = F.least(F.lit(cap), F.coalesce(F.lag(prefix).over(w), F.lit(0.0)))
        stepped = df.select(
            F.col(key),
            v.alias("__v"),
            prefix.alias("__s"),
            ((prev_bal + v) > F.lit(cap)).cast("bigint").alias("__capped"),
        )
        return stepped.groupBy(key).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__capped").alias("n_capped"),
            # S is non-decreasing for non-negative v, so max(S) is the
            # final prefix sum; least() pins it at cap post-cap.
            F.round(F.least(F.lit(cap), F.max("__s")), 2).alias("final_balance"),
        )

    import pandas as pd

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(order)
        bal, n, ncap = capped_fold(pdf[value_col], cap)
        return pd.DataFrame(
            {
                key: [pdf[key].iloc[0]],
                "n_events": [n],
                "n_capped": [ncap],
                "final_balance": [round_half_up(bal)],
            }
        )

    key_type = dict(df.dtypes)[key]
    return df.groupBy(key).applyInPandas(
        fold,
        f"{key} {key_type}, n_events bigint, n_capped bigint, "
        "final_balance double",
    )


def _milli_series(
    daily: DataFrame, key: str, order: str, cnt: str, who: str
) -> DataFrame:
    """Per-key (key, x): the key's ``cnt`` values sorted by ``order``,
    in milli-units — the series ewma_stats and holt_stats fold. A value
    outside [0, 2^31) milli-units raises in-plan, naming ``who``: the
    packed lanes hold 31 bits, and a negative value would corrupt them
    silently (negative DIV truncates toward zero and the low lane
    underflows into the high one)."""
    guard = (
        f"CASE WHEN CAST(e.{cnt} AS BIGINT) < 0"
        f" OR CAST(e.{cnt} AS BIGINT) * 1000 >= 2147483648"
        f" THEN CAST(raise_error(concat('{who}: value ',"
        f" CAST(e.{cnt} AS STRING),"
        f" ' outside the [0, 2^31) milli-unit packing budget')) AS BIGINT)"
    )
    return daily.groupBy(key).agg(
        F.expr(
            f"transform(sort_array(collect_list(struct({order}, {cnt}))),"
            f" e -> {guard}"
            f"      ELSE CAST(e.{cnt} AS BIGINT) * 1000 END)"
        ).alias("x")
    )


def ewma_stats(
    daily: DataFrame, key: str, order: str, cnt: str
) -> DataFrame:
    """Per-key EWMA (α = 0.3) over a bounded ordered series, in exact
    milli-unit integer arithmetic: returns (key, n_days,
    ewma_final_milli, ewma_peak_milli, n_spikes) where
    s_t = (3·x_t + 7·s_{t−1}) DIV 10 seeded with the first value,
    peak is the running max of s, and a spike is x_t > 2·s_{t−1}.

    The state rides TWO builtin scalar `aggregate()` folds over the
    same array, each bit-packing a pair of integers into one BIGINT
    (lane A: s·2^32 + peak; lane B: s·2^32 + spike count): pure JVM
    codegen, no Python, no floats — and truncating DIV makes the fold
    engine-exact (a DuckDB list_reduce replays it bit-for-bit; struct
    accumulators are avoided because DuckDB 1.0 folds struct fields
    inconsistently, and a single 3-variable packing caps values at
    2^26 milli-units — 67k raw, which a 100× events replay actually
    exceeded). Two 2-variable lanes give each variable 31/32 bits:
    per-step values up to 2^31 milli-units (2.1M raw) and 2^32 spike
    steps, enforced IN-PLAN (the capped_running_total discipline) so
    an oversized value fails loudly instead of silently corrupting a
    lane. The second fold re-runs the same cheap integer recurrence —
    series are bounded, so the extra pass is noise.

    Scale: series must be BOUNDED per key (calendar days, bucket
    counts — the t20 sorted-fold discipline). For unbounded per-key
    sequences use per-partition associative composition of the affine
    maps instead (module docstring).
    """
    # 2^32 = 4294967296. EWMA of values in [0, M] stays in [0, M], so
    # the input guard covers both lanes end-to-end.
    series = _milli_series(daily, key, order, cnt, "ewma_stats")
    # Lane A folds (s, peak), lane B folds (s, spikes); both seed from
    # the first element (s = peak = x₁, spikes = 0 — the same init
    # convention DuckDB's list_reduce applies natively).
    new_s = "((3 * el + 7 * (acc DIV 4294967296)) DIV 10)"
    merge_a = (
        f"(acc, el) -> {new_s} * 4294967296"
        f" + greatest(acc % 4294967296, {new_s})"
    )
    merge_b = (
        f"(acc, el) -> {new_s} * 4294967296"
        " + (acc % 4294967296)"
        " + (CASE WHEN el > 2 * (acc DIV 4294967296)"
        "     THEN 1 ELSE 0 END)"
    )
    folded = series.select(
        key,
        F.size("x").alias("n_days"),
        F.expr(
            "aggregate(slice(x, 2, size(x) - 1),"
            " x[0] * 4294967296 + x[0],"
            f" {merge_a})"
        ).alias("acc_a"),
        F.expr(
            "aggregate(slice(x, 2, size(x) - 1),"
            " x[0] * 4294967296,"
            f" {merge_b})"
        ).alias("acc_b"),
    )
    return folded.select(
        key,
        "n_days",
        F.expr("acc_a DIV 4294967296").alias("ewma_final_milli"),
        F.expr("acc_a % 4294967296").alias("ewma_peak_milli"),
        F.expr("acc_b % 4294967296").alias("n_spikes"),
    )


def holt_stats(
    daily: DataFrame, key: str, order: str, cnt: str
) -> DataFrame:
    """Per-key HOLT double exponential smoothing (level α = 0.3,
    trend β = 0.2) over a bounded ordered series, in exact milli-unit
    integer arithmetic — the FORECASTING extension of ewma_stats
    (which has no trend term and converges late on ramps):

        l_t = max(0, (3·x_t + 7·(l_{t−1} + b_{t−1})) DIV 10)
        b_t = ((l_t − l_{t−1}) + 4·b_{t−1}) DIV 5

    seeded l₁ = x₁, b₁ = 0; the level is clamped at 0 (the series
    are counts — a negative forecast level is meaningless and would
    corrupt the packing). Returns (key, n_days, level_milli,
    trend_milli, forecast7_milli = l + 7·b).

    The (l, b) pair co-evolves — neither lane folds alone — so this
    is the MIXED-SIGN packing ewma_stats cannot do: the trend is
    biased by 2^25 before packing (acc = l·2^26 + (b + 2^25)), which
    keeps the accumulator non-negative (no negative-DIV truncation
    or lane underflow) while giving b the full ±2^25 milli range
    (±33.5k raw units/day — covers the 100× replay's 68k-count days'
    swings). Budgets enforced IN-PLAN: inputs in [0, 2^31) milli
    (ewma_stats guard) and |b| < 2^25 raises rather than corrupting
    a lane. One builtin aggregate() fold, pure JVM codegen, zero
    floats; truncating DIV on BOTH magnitudes and signs is identical
    in DuckDB (// truncates toward zero), so the oracle's
    list_reduce replays it bit-for-bit.

    Scale: bounded series per key (calendar days — the t20 sorted-
    fold discipline), one groupBy + one codegen fold.
    """
    series = _milli_series(daily, key, order, cnt, "holt_stats")
    # K = 2^26 lane width, BIAS = 2^25.
    l_prev = "(acc DIV 67108864)"
    b_prev = "(acc % 67108864 - 33554432)"
    l_new = f"greatest(CAST(0 AS BIGINT), (3 * el + 7 * ({l_prev} + {b_prev})) DIV 10)"
    b_new = f"((({l_new}) - {l_prev}) + 4 * {b_prev}) DIV 5"
    merge = (
        f"(acc, el) -> CASE WHEN abs({b_new}) >= 33554432"
        " THEN CAST(raise_error('holt_stats: trend outside the"
        " +-2^25 milli packing budget') AS BIGINT)"
        f" ELSE ({l_new}) * 67108864 + (({b_new}) + 33554432) END"
    )
    folded = series.select(
        key,
        F.size("x").alias("n_days"),
        F.expr(
            "aggregate(slice(x, 2, size(x) - 1),"
            f" x[0] * 67108864 + 33554432, {merge})"
        ).alias("acc"),
    )
    return folded.select(
        key,
        "n_days",
        F.expr("acc DIV 67108864").alias("level_milli"),
        F.expr("acc % 67108864 - 33554432").alias("trend_milli"),
        F.expr(
            "acc DIV 67108864 + 7 * (acc % 67108864 - 33554432)"
        ).alias("forecast7_milli"),
    )
