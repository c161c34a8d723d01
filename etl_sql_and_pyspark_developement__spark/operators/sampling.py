"""Sampling operators for training-data pipelines: stratified
sampling, deterministic per-group caps (hot-group downsampling), and
md5-bucket train/test splits.

Scale notes: sampleBy/randomSplit are map-side filters (no shuffle);
the per-group cap is one window shuffle on the group key — the same
cost as any per-group operation, used to stop a few giant groups
(one language, one domain) from dominating a 100 TB training mix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_sql_and_pyspark_developement__spark.functions import hex_int, md5_bucket


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sampling (deterministic under a fixed
    seed and input partitioning)."""
    return df.sampleBy(strata_col, fractions, seed=seed)


def per_group_cap(
    df: DataFrame, group_col: str, order_col: str, cap: int
) -> DataFrame:
    """Keep at most `cap` rows per group, chosen deterministically by
    `order_col` — reproducible downsampling of over-represented groups
    (unlike random sampling, re-runs and engines agree exactly)."""
    w = Window.partitionBy(group_col).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def token_budget_select(
    df: DataFrame,
    group_col: str,
    token_col: str,
    budget: int,
    priority_cols: list[str] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy per-group token-budget curation: rank rows by the
    priority columns (descending; ties broken by `id_col` ascending),
    then keep the maximal prefix whose running token total stays
    within `budget` — how a training mix allocates a per-source /
    per-domain token quota to the highest-quality documents first,
    deterministically (re-runs and engines agree on the exact kept
    set, unlike random subsampling to a size).

    Token counts are positive, so the running sum is strictly
    increasing and `cum <= budget` selects a clean prefix of the
    priority order.

    Scale: the rank and running sum come from
    quantiles.grouped_prefix_stats — per-group range-bucketed local
    windows plus broadcast bucket offsets — so a handful of giant
    sources over 100 TB never funnel through one serial window task
    per source, yet the kept set is bit-identical to the
    single-window form (asserted in tests/test_sampling.py).
    """
    from etl_sql_and_pyspark_developement__spark.operators.quantiles import (
        grouped_prefix_stats,
    )

    stats = grouped_prefix_stats(
        df,
        group_col,
        token_col,
        list(priority_cols or []),
        id_col,
        rank_out="sel_rank",
        cum_out="cum_tokens",
    )
    return stats.filter(F.col("cum_tokens") <= budget)


def _seed_key(seed: str | int, id_col: str) -> Column:
    """md5(seed:id) as hex: the seeded per-row key of every seeded
    md5 sampler (epoch shuffle, stratified sample, packing order,
    curriculum), so one seed names one permutation of the ids."""
    return F.md5(F.concat(F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string")))


def seeded_shuffle_rank(
    df: DataFrame, id_col: str, seed: str | int = 0
) -> DataFrame:
    """Reproducible corpus ordering for a training epoch: every row
    gets a dense rank from the md5 of (seed, id) — a deterministic
    permutation that changes completely per seed (per epoch) yet is
    identical across runs, engines, and partitionings, unlike
    orderBy(rand()). Ties on the 16-hex prefix are broken by id, so
    the order is total.

    Scale: the rank comes from quantiles.grouped_prefix_stats — the
    md5 key's top 52 bits feed the monotone range bucketing, rows sort
    within buckets by the FULL key (so the order is exactly ORDER BY
    md5, id even on prefix collisions), and bucket offsets come from a
    broadcast P-row table — the global permutation with no single-task
    global sort, bit-identical to the windowed form (asserted in
    tests/test_sampling.py).
    """
    from etl_sql_and_pyspark_developement__spark.operators.quantiles import (
        grouped_prefix_stats,
    )

    tagged = df.withColumn("shuffle_key", _seed_key(seed, id_col)).withColumn(
        "__sk", hex_int(F.col("shuffle_key"), digits=13)
    )
    return grouped_prefix_stats(
        tagged,
        None,
        None,
        ["__sk"],
        "shuffle_key",
        rank_out="epoch_rank",
        descending=False,
    ).drop("__sk")


def weighted_mix(
    df: DataFrame,
    id_col: str,
    group_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic weighted corpus mixing: keep each row with its
    group's mixture rate, decided by an md5 bucket of the row id —
    how a training pipeline applies mixture weights (upweight quality
    sources, downweight boilerplate) reproducibly. Unlike rand()
    sampling, the KEPT SET is stable across runs, partitionings, and
    engines, so the mix is auditable and oracle-verifiable.

    Rates should be dyadic (k/2^n: 0.5, 0.25, 0.125...) when
    cross-engine exactness matters: dyadic × 1e6 is exact in both
    double and decimal arithmetic, so no keep decision sits on a
    representation-dependent boundary.

    Scale: per-row codegen arithmetic, zero shuffles.
    """
    bucket = md5_bucket(F.col(id_col), 1000000)
    rate = F.lit(float(default_rate))
    for val, r in rates.items():
        rate = F.when(F.col(group_col) == val, F.lit(float(r))).otherwise(rate)
    return df.filter(bucket < rate * 1000000)


def epoch_expand(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weights: dict[str, float],
    default_weight: float = 1.0,
) -> DataFrame:
    """Weighted multi-epoch expansion: materialize each group's rows
    `weight` times on average — how a training mix upweights scarce
    high-quality sources (weight > 1 repeats docs across epochs) and
    downweights boilerplate (weight < 1 samples) in ONE pass.

    copies(row) = floor(w) + (md5_bucket(id) < frac(w) ? 1 : 0)

    The fractional epoch reuses weighted_mix's md5-bucket decision, so
    the expanded multiset is deterministic, engine-portable, and
    auditable — the exact property rand() repetition lacks. Dyadic
    fractional parts (.5, .25, ...) keep every keep decision off
    representation boundaries.

    Returns the input row + `copy_idx` (1..copies). Scale: per-row
    codegen arithmetic + explode(sequence(...)) — a narrow op whose
    output is weight× the input, no shuffle; downstream epoch ORDER
    comes from composing with seeded_shuffle_rank over
    (id, copy_idx).
    """
    bucket = md5_bucket(F.col(id_col), 1000000)
    w = F.lit(float(default_weight))
    for val, r in weights.items():
        w = F.when(F.col(group_col) == val, F.lit(float(r))).otherwise(w)
    n_full = F.floor(w).cast("int")
    frac_ppm = F.round((w - F.floor(w)) * 1000000).cast("long")
    copies = n_full + (bucket < frac_ppm).cast("int")
    return (
        df.withColumn("__copies", copies)
        .filter(F.col("__copies") > 0)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(1), F.col("__copies"))))
        .drop("__copies")
    )


def stratified_sample_md5(
    df: DataFrame,
    strata_col: str,
    fractions_ppm: dict[str, int],
    id_col: str = "doc_id",
    seed: str | int = 0,
) -> DataFrame:
    """Deterministic stratified Bernoulli sampling: keep a row iff
    md5(seed:id) mod 1e6 falls below its stratum's rate (integer ppm).
    Unlike sampleBy's engine-specific RNG draws, the kept SET is a
    pure function of (seed, id, rate) — identical across runs,
    engines, and partitionings, so the selection itself is
    oracle-verifiable (p02) and a training mix built from it is
    exactly reproducible. Unknown strata are dropped (rate 0).

    Scale: per-row codegen arithmetic, map-side filter, no shuffle.
    """
    bucket = F.pmod(hex_int(_seed_key(seed, id_col)), F.lit(1_000_000))
    rate = None
    for stratum, ppm in sorted(fractions_ppm.items()):
        cond = F.col(strata_col) == stratum
        rate = F.when(cond, F.lit(ppm)) if rate is None else rate.when(cond, F.lit(ppm))
    rate = (rate.otherwise(F.lit(0))) if rate is not None else F.lit(0)
    return df.filter(bucket < rate)


def sequence_pack(
    df: DataFrame,
    id_col: str,
    token_col: str,
    max_len: int = 256,
    seed: str | int = "pack",
) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard pretraining
    step that concatenates documents in a deterministic order and cuts
    the token stream into fixed-`max_len` training sequences (GPT-style
    packing; no padding waste, boundary docs span two sequences).

    Order is md5(seed:id) (a reproducible epoch permutation, like
    seeded_shuffle_rank); each doc's sequence assignment is pure
    arithmetic on the exact running token total:

        seq_id   = (cum - tokens) div max_len   -- where the doc starts
        end_seq  = (cum - 1) div max_len        -- where it ends
        is_split = end_seq > seq_id             -- crosses a boundary

    Returns the input rows + (pack_rank, cum_tokens, seq_id, end_seq,
    is_split).

    Scale: the running sum comes from quantiles.grouped_prefix_stats
    (range-bucketed local windows + broadcast offsets), so the global
    token prefix-sum never serializes through one window task; the
    md5 rank key's top 52 bits are used for bucketing (exact in
    double).
    """
    from etl_sql_and_pyspark_developement__spark.operators.quantiles import (
        grouped_prefix_stats,
    )

    pack_num = hex_int(_seed_key(seed, id_col), digits=13)
    stats = grouped_prefix_stats(
        df.withColumn("pack_num", pack_num),
        None,
        token_col,
        ["pack_num"],
        id_col,
        rank_out="pack_rank",
        cum_out="cum_tokens",
        descending=False,
    )
    start_seq = F.expr(f"(cum_tokens - {token_col}) div {max_len}")
    end_seq = F.expr(f"(cum_tokens - 1) div {max_len}")
    return (
        stats.withColumn("seq_id", start_seq)
        .withColumn("end_seq", end_seq)
        .withColumn("is_split", (F.col("end_seq") > F.col("seq_id")).cast("int"))
    )


def curriculum_order(
    df: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score_ppm",
    stages: int = 4,
    seed: str | int = 0,
) -> DataFrame:
    """Deterministic curriculum ordering for a training run: documents
    staged easy→hard by a quality score (stage 1 = highest-quality
    quartile), with a seeded md5 shuffle INSIDE each stage so no stage
    replays corpus order, and a single global `curriculum_rank` that
    concatenates the stages. The permutation is engine-portable and
    identical across runs/partitionings (same contract as
    seeded_shuffle_rank; change `seed` per run to reshuffle within
    stages without touching the stage structure).

    Scale: stage boundaries come from quantiles.scalable_ntile (exact
    distributed NTILE — no unpartitioned window); the within-stage
    order comes from grouped_prefix_stats keyed on the md5's 52-bit
    prefix (no serial per-stage sort); the cross-stage offsets are a
    window over a ≤`stages`-row aggregate joined broadcast. Nothing
    funnels the corpus through one task.
    """
    from etl_sql_and_pyspark_developement__spark.operators.quantiles import (
        grouped_prefix_stats,
        scalable_ntile,
    )

    staged = scalable_ntile(
        df, score_col, stages, id_col, out_col="stage", descending=True
    )
    tagged = staged.withColumn("shuffle_key", _seed_key(seed, id_col)).withColumn(
        "__sk", hex_int(F.col("shuffle_key"), digits=13)
    )
    ranked = grouped_prefix_stats(
        tagged,
        "stage",
        None,
        ["__sk"],
        "shuffle_key",
        rank_out="__stage_rank",
        descending=False,
    )
    sizes = staged.groupBy("stage").count()
    w_off = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "stage", F.coalesce(F.sum("count").over(w_off), F.lit(0)).alias("__soff")
    )
    return (
        ranked.join(F.broadcast(offsets), "stage")
        .withColumn(
            "curriculum_rank", F.col("__soff") + F.col("__stage_rank")
        )
        .select(id_col, "stage", score_col, "curriculum_rank")
    )


def temperature_mix(
    df: DataFrame,
    id_col: str,
    group_col: str,
    budget_divisor: int = 2,
) -> DataFrame:
    """Temperature-smoothed source re-balancing (α = 0.5): sampling
    rates ∝ n_g^α / n_g, the mT5/XLM-R mixture rule that upweights
    scarce groups and damps dominant ones, applied as a deterministic
    md5-ppm keep decision so the KEPT SET is engine-portable.

    The group weight is an INTEGER milli-weight floor(sqrt(n)*1000):
    sqrt and * are IEEE correctly-rounded, so both engines compute the
    identical double and the identical floor — and the weight SUM is
    then integer arithmetic, immune to the float-reduction-order
    nondeterminism a sum of raw sqrt doubles would have. The per-group
    ppm rate is one fixed-order double expression (mirrored literally
    in the oracle), capped at 1e6.

    Returns the kept rows + (w_mil, rate_ppm) audit columns.

    Scale: one tiny groupBy (|groups| rows), a broadcast join of the
    rate table, and a per-row md5 filter — zero wide shuffles on the
    corpus itself.
    """
    counts = df.groupBy(group_col).agg(F.count("*").alias("n_docs"))
    w = counts.withColumn(
        "w_mil", F.floor(F.sqrt(F.col("n_docs")) * 1000).cast("long")
    )
    tot = w.agg(
        F.sum("n_docs").alias("total_docs"), F.sum("w_mil").alias("sum_w")
    )
    rates = (
        w.crossJoin(F.broadcast(tot))
        .withColumn("budget", F.expr(f"total_docs div {budget_divisor}"))
        .withColumn(
            "rate_ppm",
            F.least(
                F.lit(1000000).cast("long"),
                F.floor(
                    F.lit(1000000.0)
                    * F.col("budget")
                    / F.col("sum_w")
                    * F.col("w_mil")
                    / F.col("n_docs")
                ).cast("long"),
            ),
        )
        .select(group_col, "w_mil", "rate_ppm")
    )
    bucket = md5_bucket(F.col(id_col), 1000000)
    return df.join(F.broadcast(rates), group_col).filter(bucket < F.col("rate_ppm"))


# --- A-Res score kernel, ONE definition for batch and streaming ----
# The md5-rational uniform and the exponential race score are shared
# by batch weighted_reservoir (column-expression form) and st32's
# streaming reservoir (Python form, streaming/stateful._res_score):
# two hand-maintained copies could silently drift apart (seed prefix,
# modulus, the strictly-(0,1) +1 shift) — the split-parity test
# asserts == but only for the corpora it samples.

RES_SEED_PREFIX = "res:{seed}:"
RES_UNIFORM_MOD = 1_000_000
RES_UNIFORM_DEN = 1_000_001.0


def res_uniform_expr(id_col: str, seed: int = 7):
    """Deterministic md5-rational uniform STRICTLY inside (0,1):
    u = (m + 1) / 1000001 with m = first-6-hex-digits(md5) % 1e6.
    u = 1 would score an unweighted 0 and beat any weight; u = 0
    would make -ln(u) infinite."""
    prefix = RES_SEED_PREFIX.format(seed=seed)
    m = hex_int(
        F.md5(F.concat(F.lit(prefix), F.col(id_col).cast("string"))), digits=6
    )
    return (m % RES_UNIFORM_MOD + 1).cast("double") / F.lit(RES_UNIFORM_DEN)


def res_score_py(doc_id: int, weight: int, seed: int = 7) -> float:
    """The SAME score as the column form, in Python for streaming
    state kernels: Python math.log == JVM log at floor-ppb precision
    on these md5 rationals (st32's split-parity test proves it per
    corpus)."""
    import hashlib
    import math

    prefix = RES_SEED_PREFIX.format(seed=seed)
    m = (
        int(
            hashlib.md5(f"{prefix}{doc_id}".encode()).hexdigest()[:6], 16
        )
        % RES_UNIFORM_MOD
    )
    return -math.log((m + 1) / RES_UNIFORM_DEN) / weight


def weighted_reservoir(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """WEIGHTED sampling WITHOUT replacement via the A-Res order
    statistic (Efraimidis & Spirakis 2006): each row gets an
    exponential race score s = -ln(u) / w with u a DETERMINISTIC
    md5 uniform in strictly-(0,1) (the +1/1000001 form — u=1 would
    score an unweighted 0 and beat any weight), and the k SMALLEST
    scores ARE the sample — inclusion probability proportional to
    weight, no replacement, no sequential reservoir.

    This is the weighted twin of p15's systematic PPS with a
    different distribution contract: PPS fixes per-stratum counts;
    A-Res draws one global sample whose composition is itself random
    (but deterministic here via md5) — the form that MERGES: the
    global top-k equals the top-k of any partition-wise top-k union
    (split-invariance tested), so a 100 TB corpus samples as
    per-partition TakeOrdered(k) + a k-sized driver merge, zero
    shuffles of the frame itself.

    p03/p07's md5 discipline: every engine and every re-run agrees.
    """
    u = res_uniform_expr(id_col, seed)
    return (
        df.filter(F.col(weight_col) > 0)
        .select(
            id_col,
            F.col(weight_col).alias("weight"),
            (-F.log(u) / F.col(weight_col).cast("double")).alias("score"),
        )
        .orderBy("score", id_col)
        .limit(k)
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    test_pct: int = 10,
) -> DataFrame:
    """LEAKAGE-SAFE train/test split — p20's group-aware rule applied
    to NEAR-DUPLICATE structure: a doc-keyed md5 split (p03) sends
    ~18% of near-dup pairs across the boundary, so the eval half
    contains paraphrases of training documents and every benchmark
    number inherits the leak (exactly what d09 measures after the
    fact; this prevents it by construction). Documents are first
    clustered into near-dup COMPONENTS (dedup_components over the
    verified-pairs artifact; singletons keep their own id), and the
    md5 bucket is computed on the COMPONENT id — every member of a
    cluster lands in the same split, so zero verified pairs can
    cross.

    Returns one row per doc: (id, component, split, split_naive) —
    split_naive is the doc-keyed assignment, kept so callers can
    audit how many pairs the naive rule WOULD have leaked.

    Scale: components are the d06 pointer-jumping rounds over pairs
    only (never all docs); the labeling join is one id-keyed
    equi-join; buckets are per-row codegen md5.
    """
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        dedup_components,
    )

    comps = dedup_components(pairs)

    labeled = (
        docs.join(comps, docs[id_col] == comps.doc, "left")
        .drop("doc")
        .withColumn(
            "component", F.coalesce(F.col("component"), F.col(id_col))
        )
    )
    return labeled.withColumn(
        "split",
        F.when(md5_bucket(F.col("component")) < test_pct, F.lit("test"))
        .otherwise(F.lit("train")),
    ).withColumn(
        "split_naive",
        F.when(md5_bucket(F.col(id_col)) < test_pct, F.lit("test"))
        .otherwise(F.lit("train")),
    )
