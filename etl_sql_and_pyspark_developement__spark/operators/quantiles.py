"""EXACT ranks, running sums and weighted quantiles without a
single-task sort.

Exact NTILE(n) / ROW_NUMBER() / running sums over an unpartitioned
ORDER BY (or over a few giant groups) funnel the whole table through
ONE window task — at 10⁹+ entities that is the canonical
driver-of-OOM. Every operator here ranks the same distributed way:

(a) a deterministic sketch (percentile_approx, a mergeable partial
    aggregate — sketch bytes shuffle, never rows) yields P-1 cut
    points on the sort key, over the whole input or per group;
(b) every row gets a MONOTONE bucket id `__rb` = 1 + (number of cuts
    strictly below its key): bucket b never sorts after bucket b+1 and
    equal keys share a bucket. A narrow codegen comparison — unlike
    repartitionByRange, whose sampled boundaries are not deterministic
    across re-computations of the same plan. The cut form follows the
    input: with no group the cuts are collected once and compared as a
    LITERAL array; per group they are a |groups|-row frame,
    broadcast-joined and compared by an unrolled element_at sum
    (`_range_buckets` records the A/B behind each);
(c) ONE window over the per-bucket aggregate (≤ |groups|×P rows, tiny
    by construction) gives each bucket its offsets — rows and sums in
    the lower buckets of its group — and the group totals
    (`_bucket_offsets`);
(d) a local window per (group, bucket) ranks and running-sums rows
    inside their bucket, so the sort is spread across P tasks per
    group;
(e) rank = offset + local rank, running sum = offset sum + local
    running sum — EXACT wherever the sketch put the cuts, because
    bucketing is monotone in the key and equal keys always share a
    bucket. Bucket sizes only need to be balanced, not exact.

scalable_ntile and grouped_prefix_stats run (a)–(e) over every row;
grouped_weighted_quantiles stops after (c) and windows only the
buckets its quantiles cross.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_sql_and_pyspark_developement__spark.session import materialize

# percentile_approx accuracy of every cut sketch: cut error ≤ 1/_ACCURACY
# of the mass, far below the 1/P a bucket holds. Balance only —
# exactness never depends on it.
_ACCURACY = 10000

# every helper column the construction adds; callers drop them
_HELPERS = (
    "__rkey", "__rb", "__bcnt", "__cnt_off", "__cnt_all",
    "__bsum", "__sum_off", "__sum_all",
)


def _balanced_sum(terms: list[Column]) -> Column:
    """Pairwise-reduce a term list so the Add tree has O(log n) depth —
    a left-deep 1000-term chain overflows the JVM analyzer stack."""
    while len(terms) > 1:
        terms = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _range_buckets(
    df: DataFrame, key: Column, group_col: str | None, partitions: int
) -> DataFrame:
    """Steps (a)–(b): `df` plus `__rkey` (the sort key as a double) and
    its monotone bucket `__rb` in [1, partitions], within `group_col`
    when given.

    Global cuts are collected EAGERLY and compared as a literal array
    through a higher-order filter. Both alternatives measured worse
    (isolated interleaved A/B, one scalable_ntile at sf0.1): a
    DataFrame.scalar() subquery is copied into every bucket term (q67
    construction 1.4s -> 5.1s), and a broadcast 1-row cross join
    re-runs the sketch once per consumer of the bucketed frame and
    loses the literal constant (eager 0.60-0.74s vs lazy join
    2.06-2.20s best-of-3). Against a literal array the HOF also beat
    an unrolled when-sum (0.7s vs 1.2s): the array is one constant,
    while a 63-term tree bloats analysis and codegen in every operator
    it appears in.

    Per-group cuts are a |groups|-row frame, broadcast-joined and left
    lazy: AQE reuses the one broadcast for every consumer of the
    bucketed frame, and materializing it measured slower (interleaved
    A/B at sf0.1, 4 cores, 3 rounds, median best-of-runs: q83 2.16s
    materialized vs 1.68s lazy, p16 1.27s vs 1.10s, p15 1.23s vs
    1.08s, q65 2.34s vs 2.30s — the eager job costs more construct time
    than it saves). Against that per-ROW array column the comparison is
    unrolled into element_at terms: the HOF lambda would be interpreted
    per element with no constant to hoist (unrolled ~1.6x faster per
    pass — q65 2.0s vs 3.4s, grouped_prefix_stats 1.1s vs 1.7s at
    sf0.1)."""
    tagged = df.withColumn("__rkey", key.cast("double"))
    groups = [group_col] if group_col else []
    probs = [i / partitions for i in range(1, partitions)]
    cuts = tagged.groupBy(*groups).agg(
        F.percentile_approx("__rkey", probs, _ACCURACY).alias("__cuts")
    )
    if group_col is None:
        lits = [F.lit(float(c)) for c in cuts.first()["__cuts"] or []]
        below = F.size(F.filter(F.array(*lits), lambda c: c < F.col("__rkey")))
        return tagged.withColumn("__rb", (F.lit(1) + below).cast("int"))
    terms = [
        F.when(F.element_at(F.col("__cuts"), i) < F.col("__rkey"), 1).otherwise(0)
        for i in range(1, partitions)
    ]
    return (
        tagged.join(F.broadcast(cuts), group_col)
        .withColumn("__rb", _balanced_sum([F.lit(1), *terms]).cast("int"))
        .drop("__cuts")
    )


def _bucket_offsets(
    bucketed: DataFrame, group_col: str | None, sum_col: str | None
) -> DataFrame:
    """Step (c): one row per (group, bucket) with the bucket's row
    count `__bcnt`, the rows in its group's lower buckets `__cnt_off`
    and the group's row total `__cnt_all`; with `sum_col`, the same
    three for its sum (`__bsum`, `__sum_off`, `__sum_all`). Columns a
    caller never reads are pruned from the plan."""
    groups = [group_col] if group_col else []
    stats = [("__bcnt", "__cnt", F.count(F.lit(1)))]
    if sum_col:
        stats.append(("__bsum", "__sum", F.sum(sum_col)))
    per_bucket = bucketed.groupBy(*groups, "__rb").agg(
        *[agg.alias(name) for name, _, agg in stats]
    )
    w = Window.partitionBy(*groups).orderBy("__rb")
    lower = w.rowsBetween(Window.unboundedPreceding, -1)
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cols = []
    for name, prefix, _ in stats:
        cols += [
            name,
            F.coalesce(F.sum(name).over(lower), F.lit(0)).alias(f"{prefix}_off"),
            F.sum(name).over(whole).alias(f"{prefix}_all"),
        ]
    return per_bucket.select(*groups, "__rb", *cols)


def _prefix_rank(
    df: DataFrame,
    group_col: str | None,
    sum_col: str | None,
    key: Column,
    order: list[Column],
    partitions: int,
    rank_out: str,
    cum_out: str | None,
) -> DataFrame:
    """Steps (a)–(e): `df` plus the exact row_number `rank_out` in
    (key ASC, *order) order within `group_col` (all rows when None)
    and, with `sum_col`, its inclusive running sum `cum_out`; the
    helper columns stay on for the caller to read and drop.

    The input is materialized: the sketch, the per-bucket aggregate
    and the rank pass would otherwise each re-execute its whole
    upstream plan — callers feed a per-entity aggregate or a
    feature-heavy scan (p06's quality regexes), exactly the frame
    worth caching (bench: q16 1.75s -> ~0.6s at sf0.1)."""
    bucketed = _range_buckets(materialize(df), key, group_col, partitions)
    offsets = _bucket_offsets(bucketed, group_col, sum_col)
    groups = [group_col] if group_col else []
    w_local = Window.partitionBy(*groups, "__rb").orderBy(
        F.col("__rkey").asc(), *order
    )
    ranked = bucketed.join(F.broadcast(offsets), [*groups, "__rb"]).withColumn(
        rank_out, F.col("__cnt_off") + F.row_number().over(w_local)
    )
    if sum_col is None:
        return ranked
    return ranked.withColumn(
        cum_out,
        F.col("__sum_off")
        + F.sum(sum_col).over(
            w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def scalable_ntile(
    df: DataFrame,
    value_col: str,
    n: int,
    tiebreak_col: str,
    out_col: str = "bucket",
    descending: bool = True,
    range_partitions: int = 64,
) -> DataFrame:
    """EXACT NTILE(n) over (value_col [DESC], tiebreak_col ASC) with
    no unpartitioned window: the global exact rank of the module
    docstring's steps (a)–(e), then pure arithmetic on it. Bit-identical
    to F.ntile(n).over(Window.orderBy(...)) — asserted in
    tests/test_sampling.py — at ~P-way parallel sort cost.
    `range_partitions` bounds per-task sort size: at 10⁹ entities use
    n_rows / ~5M.

    With q = n_rows div n and rem = n_rows mod n, the first rem tiles
    hold q+1 rows:
        ntile(n) = ceil(rank / (q+1))                 if rank ≤ rem·(q+1)
                   rem + ceil((rank − rem·(q+1)) / q) otherwise
    which reproduces SQL's front-loaded-remainder semantics
    bit-for-bit. (The tempting floor((rank−1)·n/n_rows)+1 is NOT ntile
    — it spreads the remainder evenly instead of front-loading it.)"""
    key = -F.col(value_col) if descending else F.col(value_col)
    ranked = _prefix_rank(
        df, None, None, key, [F.col(tiebreak_col).asc()], range_partitions,
        "__grank", None,
    )
    r, total = F.col("__grank"), F.col("__cnt_all")
    q = F.floor(total / n)  # base tile size (n_rows div n)
    rem = total % n  # this many leading tiles get one extra row
    big = (q + 1) * rem  # ranks covered by the larger tiles
    # ceil-div via floor((a+b-1)/b); greatest() only guards the
    # never-taken branch when q=0 (more tiles than rows) from a
    # divide-by-zero under ANSI mode.
    tile = F.when(r <= big, F.floor((r + q) / (q + 1))).otherwise(
        rem + F.floor((r - big + F.greatest(q, F.lit(1)) - 1) / F.greatest(q, F.lit(1)))
    ).cast("int")
    return ranked.withColumn(out_col, tile).drop("__grank", *_HELPERS)


def grouped_prefix_stats(
    df: DataFrame,
    group_col: str | None,
    sum_col: str | None,
    priority_cols: list[str],
    tiebreak_col: str,
    rank_out: str = "sel_rank",
    cum_out: str = "cum_sum",
    descending: bool = True,
    range_partitions: int = 32,
) -> DataFrame:
    """Per-group EXACT row_number `rank_out` + inclusive running sum
    `cum_out` of `sum_col` in (priority_cols... DESC, tiebreak ASC)
    order, without one serial window task per group — the scale form
    of Window.partitionBy(group).orderBy(...) running totals when
    groups are few and giant (a handful of sources over 100 TB).
    `group_col=None` ranks the whole input as one order; `sum_col=None`
    returns the rank alone.

    The module docstring's steps (a)–(e) on the PRIMARY priority column
    (or the tiebreak, with no priorities): bucketing only needs the
    primary key to be monotone — secondary priorities and the tiebreak
    order rows within a bucket, which is consistent because cross-bucket
    order is decided by the primary alone. Bit-identical to the
    single-window form — asserted in tests/test_sampling.py."""
    if priority_cols:
        primary = F.col(priority_cols[0])
        key = -primary if descending else primary
        tail = [F.desc(c) for c in priority_cols[1:]] + [F.asc(tiebreak_col)]
    else:
        key = F.col(tiebreak_col)
        tail = [F.asc(tiebreak_col)]
    return _prefix_rank(
        df, group_col, sum_col, key, tail, range_partitions, rank_out, cum_out
    ).drop(*_HELPERS)


def grouped_weighted_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    tiebreak_col: str,
    quantiles: list[tuple[int, int]],
    range_partitions: int = 32,
) -> DataFrame:
    """EXACT lower weighted quantiles per group: for each (num, den)
    fraction, the first value (in (value, tiebreak) order) whose
    inclusive cumulative weight reaches num/den of the group's total.
    Returns (group, num, den, q_value, total_w, total_n) — one row
    per group × quantile. Integer weights make every crossing test exact.

    Crucially CHEAPER than materializing per-row ranks
    (grouped_prefix_stats) when only the quantile POINTS are needed:
    after the module docstring's steps (a)–(c) by value, each
    quantile's crossing BUCKET is located on the tiny per-bucket frame
    (the first bucket whose end-of-bucket cumulative weight reaches the
    mark — unique, because ties in value never straddle a bucket), and
    only the crossing buckets (≤ |quantiles| per group, ~1/P of the
    data) are re-joined and running-summed — the full table is never
    windowed.
    Input is NOT materialized: it is scanned three times (cuts,
    per-bucket agg, crossing-bucket join), which beats materialization
    whenever the upstream is a plain column projection of a scan —
    callers with an expensive upstream should persist it themselves.
    """
    bucketed = _range_buckets(df, F.col(value_col), group_col, range_partitions)
    stats = _bucket_offsets(bucketed, group_col, weight_col)
    # quantile marks inlined as a literal struct array (explode on the
    # tiny stats frame) — a createDataFrame here costs ~0.5s of
    # Python→JVM conversion per call for 3 rows
    marks = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(int(n)).alias("num"), F.lit(int(d)).alias("den")
                )
                for n, d in quantiles
            ]
        )
    ).alias("__m")
    # crossing bucket: first b with den·cum_end(b) ≥ num·W (cum_end is
    # strictly increasing over non-empty buckets, so it is unique)
    crossing = (
        stats.select("*", marks)
        .select("*", "__m.num", "__m.den")
        .filter(
            (F.col("den") * (F.col("__sum_off") + F.col("__bsum"))
             >= F.col("num") * F.col("__sum_all"))
            & (F.col("den") * F.col("__sum_off") < F.col("num") * F.col("__sum_all"))
        )
        .select(group_col, "__rb", "num", "den", "__sum_off", "__sum_all", "__cnt_all")
    )
    sel = bucketed.join(F.broadcast(crossing), [group_col, "__rb"])
    w_loc = Window.partitionBy(group_col, "__rb", "num", "den").orderBy(
        F.col("__rkey").asc(), F.col(tiebreak_col).asc()
    )
    run = F.col("__sum_off") + F.sum(weight_col).over(
        w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sel.withColumn("__run", run)
        .filter(
            (F.col("den") * F.col("__run") >= F.col("num") * F.col("__sum_all"))
            & (
                F.col("den") * (F.col("__run") - F.col(weight_col))
                < F.col("num") * F.col("__sum_all")
            )
        )
        .select(
            group_col,
            "num",
            "den",
            F.col(value_col).alias("q_value"),
            F.col("__sum_all").alias("total_w"),
            F.col("__cnt_all").alias("total_n"),
        )
    )
