"""As-of (point-in-time) join — Spark has no native one; this is the
canonical scale-correct composition: tag + union + partitioned window
with last(ignorenulls), i.e. ONE shuffle on the key and no range
explosion. (The alternative, applyInPandas + pd.merge_asof per group,
drops to Python; only worth it for many columns of payload.)

For each left row, attaches the latest right row with
right.ts <= left.ts within the same key (or, forward, the earliest
with right.ts >= left.ts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: dict[str, Column | str],
    tiebreak: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Return `left` plus, for every name in `payload`, the value of
    that right-side column from the matching right row within the
    same key (NULL if none):

    - ``direction="backward"``: the most recent right row at or before
      the left row's timestamp; output columns ``asof_<name>``.
    - ``direction="forward"``: the earliest right row at or after it
      (pandas merge_asof's other direction, first(ignorenulls) over
      the following frame); output columns ``asof_fwd_<name>``.

    Equal timestamps match either way: at equal ts the right rows
    sort on the near side of the left row (before it backward, after
    it forward). Pass `tiebreak` (a column present on BOTH sides, e.g.
    an event id) to make duplicate-(key, ts) inputs fully
    deterministic: the match is then the last preceding (backward) or
    first following (forward) right row in (ts, tiebreak) order —
    without it, callers with duplicate (key, ts) right rows should
    pre-aggregate.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', not {direction!r}")
    forward = direction == "forward"
    # the side tag sorts right rows onto the near side of an equal-ts
    # left row, which makes the match inclusive in both directions
    left_side, right_side = (0, 1) if forward else (1, 0)
    pay_names = list(payload)
    r = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(right_side).alias("__side"),
        *([F.col(tiebreak).alias("__tb")] if tiebreak else []),
        *[
            (F.col(c) if isinstance(c, str) else c).alias(f"__p_{n}")
            for n, c in payload.items()
        ],
    )
    l = left.withColumn("__k", F.col(key)).withColumn(
        "__ts", F.col(left_ts)
    ).withColumn("__side", F.lit(left_side))
    if tiebreak:
        l = l.withColumn("__tb", F.col(tiebreak))
    for n in pay_names:
        l = l.withColumn(f"__p_{n}", F.lit(None).cast(r.schema[f"__p_{n}"].dataType))
    unioned = l.select(*[f.name for f in l.schema.fields]).unionByName(
        r, allowMissingColumns=True
    )
    order = ["__ts", "__side"] + (["__tb"] if tiebreak else [])
    w = Window.partitionBy("__k").orderBy(*order)
    if forward:
        w, pick, prefix = (
            w.rowsBetween(Window.currentRow, Window.unboundedFollowing),
            F.first,
            "asof_fwd_",
        )
    else:
        w, pick, prefix = (
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow),
            F.last,
            "asof_",
        )
    matched = unioned
    for n in pay_names:
        matched = matched.withColumn(
            f"{prefix}{n}", pick(f"__p_{n}", ignorenulls=True).over(w)
        )
    return (
        matched.filter(F.col("__side") == left_side)
        .drop("__k", "__ts", "__side", "__tb", *[f"__p_{n}" for n in pay_names])
    )
