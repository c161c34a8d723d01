"""Sampling invariants: determinism, per-stratum rates, per-group
caps, seeded md5 orderings."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stratified_sample_deterministic_and_rates(spark, sf_dir):
    from etl_sql_and_pyspark_developement__spark.operators.sampling import (
        stratified_sample,
    )
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    docs = table(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "fr": 1.0, "es": 0.0, "de": 1.0, "zh": 1.0}
    s1 = stratified_sample(docs, "lang", fractions, seed=42)
    s2 = stratified_sample(docs, "lang", fractions, seed=42)
    assert sorted(r.doc_id for r in s1.collect()) == sorted(
        r.doc_id for r in s2.collect()
    ), "same seed must give the same sample"

    counts = {r.lang: r.n for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert "es" not in counts  # fraction 0 -> excluded entirely
    assert counts["fr"] == totals["fr"]  # fraction 1 -> everything
    rate = counts["en"] / totals["en"]
    assert 0.3 < rate < 0.7, f"en sampling rate {rate} far from 0.5"


def test_per_group_cap_exact(spark):
    from etl_sql_and_pyspark_developement__spark.operators.sampling import (
        per_group_cap,
    )

    df = spark.createDataFrame(
        [(g, i) for g in ["a", "b"] for i in range(10)], ["grp", "i"]
    )
    capped = per_group_cap(df, "grp", "i", cap=3)
    rows = capped.collect()
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r.grp, []).append(r.i)
    assert sorted(by_grp["a"]) == [0, 1, 2]
    assert sorted(by_grp["b"]) == [0, 1, 2]


def test_weighted_mix_nested_and_deterministic(spark, sf_dir):
    """Threshold-bucket mixing has the NESTED-SAMPLE property random
    sampling lacks: the kept set at a lower rate is a subset of the
    kept set at any higher rate (same bucket, lower cutoff), and
    rate 1.0 keeps everything."""
    from etl_sql_and_pyspark_developement__spark.operators.sampling import (
        weighted_mix,
    )
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    docs = table(spark, sf_dir, "documents")
    lo = {r.doc_id for r in weighted_mix(docs, "doc_id", "lang", {"en": 0.25}).filter("lang = 'en'").collect()}
    hi = {r.doc_id for r in weighted_mix(docs, "doc_id", "lang", {"en": 0.75}).filter("lang = 'en'").collect()}
    assert lo <= hi, "lower-rate kept set must nest inside higher-rate"
    n_en = docs.filter("lang = 'en'").count()
    full = weighted_mix(docs, "doc_id", "lang", {"en": 1.0}).filter("lang = 'en'").count()
    assert full == n_en, "rate 1.0 must keep every row"
    again = {r.doc_id for r in weighted_mix(docs, "doc_id", "lang", {"en": 0.25}).filter("lang = 'en'").collect()}
    assert lo == again, "kept set must be identical across runs"


def test_token_budget_select_greedy_prefix(spark):
    """Kept set must be the MAXIMAL prefix of the priority order that
    fits the budget: budget respected, ranks contiguous from 1, and
    the first excluded doc would overflow."""
    from etl_sql_and_pyspark_developement__spark.operators.sampling import (
        token_budget_select,
    )

    rows = [
        # (doc_id, grp, quality, tokens)
        (1, "a", 90, 40),
        (2, "a", 80, 50),
        (3, "a", 80, 30),   # tie with 2 -> doc_id order
        (4, "a", 70, 100),  # overflows the 100-budget
        (5, "b", 50, 100),  # exactly consumes the budget
        (6, "b", 40, 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, q long, toks long")
    kept = token_budget_select(
        df, "grp", "toks", budget=100, priority_cols=["q"], id_col="doc_id"
    ).collect()
    by_grp = {}
    for r in kept:
        by_grp.setdefault(r.grp, []).append(r)
    a = sorted(by_grp["a"], key=lambda r: r.sel_rank)
    assert [r.doc_id for r in a] == [1, 2], "90->40toks, 80(id2)->90toks; id3 would hit 120"
    assert [r.sel_rank for r in a] == [1, 2]
    assert a[-1].cum_tokens <= 100
    b = by_grp["b"]
    assert [r.doc_id for r in b] == [5], "exact-fit doc kept, next doc excluded"
    assert b[0].cum_tokens == 100


def test_seeded_shuffle_rank_permutation_properties(spark, sf_dir):
    """Same seed -> identical order across runs; different seed ->
    different permutation; ranks are exactly 1..n."""
    from etl_sql_and_pyspark_developement__spark.operators.sampling import (
        seeded_shuffle_rank,
    )
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    docs = table(spark, sf_dir, "documents")
    n = docs.count()
    o1 = [r.doc_id for r in seeded_shuffle_rank(docs, "doc_id", 7).orderBy("epoch_rank").collect()]
    o1b = [r.doc_id for r in seeded_shuffle_rank(docs, "doc_id", 7).orderBy("epoch_rank").collect()]
    o2 = [r.doc_id for r in seeded_shuffle_rank(docs, "doc_id", 8).orderBy("epoch_rank").collect()]
    assert o1 == o1b, "same seed must reproduce the identical order"
    assert o1 != o2, "different seeds must permute differently"
    assert sorted(o1) == sorted(o2) == list(range(n)), "must be a permutation"
    assert o1 != sorted(o1), "shuffle must not be the identity order"


def test_epoch_expand_copies_and_determinism(spark, sf_dir):
    from etl_sql_and_pyspark_developement__spark.operators.sampling import (
        epoch_expand,
    )
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    docs = table(spark, sf_dir, "documents")
    weights = {"en": 2.5, "zh": 2.0, "de": 1.5, "fr": 1.0, "es": 0.5}
    out = epoch_expand(docs, "doc_id", "lang", weights)
    rows = out.select("doc_id", "lang", "copy_idx").collect()

    per_doc: dict[int, list[int]] = {}
    lang_of: dict[int, str] = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.copy_idx)
        lang_of[r.doc_id] = r.lang
    for did, idxs in per_doc.items():
        w = weights[lang_of[did]]
        # copy_idx is dense 1..copies and copies ∈ {floor(w), ceil(w)}
        assert sorted(idxs) == list(range(1, len(idxs) + 1))
        assert int(w) <= len(idxs) <= int(w) + (1 if w != int(w) else 0)

    # integer weights are exact: every fr doc appears exactly once
    n_fr_docs = docs.filter("lang = 'fr'").count()
    n_fr_copies = sum(len(v) for d, v in per_doc.items() if lang_of[d] == "fr")
    assert n_fr_copies == n_fr_docs

    # achieved average epochs tracks the weight for fractional groups
    n_en_docs = docs.filter("lang = 'en'").count()
    n_en_copies = sum(len(v) for d, v in per_doc.items() if lang_of[d] == "en")
    assert abs(n_en_copies / n_en_docs - 2.5) < 0.25

    # deterministic: the exact multiset reproduces
    again = epoch_expand(docs, "doc_id", "lang", weights).select(
        "doc_id", "lang", "copy_idx"
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_scalable_ntile_bit_identical_to_exact(spark, sf_dir):
    """scalable_ntile must reproduce F.ntile over the global window
    bit-for-bit (same value, same tiebreak), across several bucket
    counts and range-partition settings — including P larger than the
    row count (empty buckets) and P=2."""
    from pyspark.sql import Window

    from etl_sql_and_pyspark_developement__spark.operators.quantiles import (
        scalable_ntile,
    )
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    orders = table(spark, sf_dir, "orders")
    ltv = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("ltv")
    )
    for n, parts in [(10, 64), (3, 2), (7, 1000)]:
        w = Window.orderBy(F.desc("ltv"), F.col("o_custkey"))
        exact = {
            r.o_custkey: r.d
            for r in ltv.withColumn("d", F.ntile(n).over(w)).collect()
        }
        got = {
            r.o_custkey: r.d
            for r in scalable_ntile(
                ltv, "ltv", n, "o_custkey", out_col="d", range_partitions=parts
            ).collect()
        }
        assert got == exact, f"ntile({n}) P={parts} diverged from exact"


def test_grouped_prefix_stats_bit_identical_to_window(spark, sf_dir):
    """grouped_prefix_stats (distributed per-group rank + running sum)
    must match the single-window-per-group form exactly."""
    from pyspark.sql import Window

    from etl_sql_and_pyspark_developement__spark.operators.quantiles import (
        grouped_prefix_stats,
    )
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", (F.col("doc_id") % 97).alias("prio")
    )
    w = Window.partitionBy("source").orderBy(F.desc("prio"), F.asc("doc_id"))
    exact = {
        (r.source, r.doc_id): (r.rnk, r.cum)
        for r in docs.withColumn("rnk", F.row_number().over(w))
        .withColumn(
            "cum",
            F.sum("n_chars").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .collect()
    }
    got = {
        (r.source, r.doc_id): (r.rnk, r.cum)
        for r in grouped_prefix_stats(
            docs,
            "source",
            "n_chars",
            ["prio"],
            "doc_id",
            rank_out="rnk",
            cum_out="cum",
            range_partitions=8,
        ).collect()
    }
    assert got == exact


def test_sequence_pack_chunking_invariants(spark, sf_dir):
    """Packing must form a gapless token stream: ranks are a
    permutation, running totals increase by each doc's tokens, and
    seq assignments tile [0, ceil(total/max_len))."""
    from etl_sql_and_pyspark_developement__spark.operators.sampling import (
        sequence_pack,
    )
    from etl_sql_and_pyspark_developement__spark.operators.textstats import tokens
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    docs = table(spark, sf_dir, "documents").withColumn(
        "ws_tokens", F.size(tokens(F.col("text")))
    )
    rows = sorted(
        sequence_pack(docs, "doc_id", "ws_tokens", max_len=256).collect(),
        key=lambda r: r.pack_rank,
    )
    assert [r.pack_rank for r in rows] == list(range(1, len(rows) + 1))
    cum = 0
    for r in rows:
        cum += r.ws_tokens
        assert r.cum_tokens == cum
        assert r.seq_id == (r.cum_tokens - r.ws_tokens) // 256
        assert r.end_seq == (r.cum_tokens - 1) // 256
        assert r.is_split == (1 if r.end_seq > r.seq_id else 0)
    total = cum
    seq_ids = {r.seq_id for r in rows}
    assert max(r.end_seq for r in rows) == (total - 1) // 256
    # every sequence index up to the last start is inhabited by a start
    assert seq_ids == set(range(0, max(seq_ids) + 1)) - (
        set() if 0 in seq_ids else {0}
    )


def test_seeded_shuffle_rank_bit_identical_to_window_form(spark, sf_dir):
    """The distributed epoch rank must equal row_number() OVER
    (ORDER BY md5_key, id) exactly."""
    from pyspark.sql import Window

    from etl_sql_and_pyspark_developement__spark.operators.sampling import (
        seeded_shuffle_rank,
    )
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    docs = table(spark, sf_dir, "documents").select("doc_id")
    key = F.md5(F.concat(F.lit("7"), F.lit(":"), F.col("doc_id").cast("string")))
    w = Window.orderBy(key, F.col("doc_id"))
    exact = {
        r.doc_id: r.epoch_rank
        for r in docs.withColumn("epoch_rank", F.row_number().over(w)).collect()
    }
    got = {
        r.doc_id: r.epoch_rank
        for r in seeded_shuffle_rank(docs, "doc_id", seed=7).collect()
    }
    assert got == exact


def test_curriculum_order_invariants(spark, sf_dir):
    """Ranks are a permutation, stages partition easy->hard by score,
    and reseeding reshuffles within stages without moving any doc
    across stages."""
    from etl_sql_and_pyspark_developement__spark.operators.sampling import (
        curriculum_order,
    )
    from etl_sql_and_pyspark_developement__spark.operators.textstats import (
        classifier_score,
    )
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    scored = classifier_score(table(spark, sf_dir, "documents")).select(
        "doc_id", "score_ppm"
    )
    out = curriculum_order(scored, stages=4, seed=0).collect()
    n = len(out)
    assert sorted(r.curriculum_rank for r in out) == list(range(1, n + 1))
    # every stage-1 score >= every stage-4 score; stages ordered by rank
    by_stage = {}
    for r in out:
        by_stage.setdefault(r.stage, []).append(r)
    assert sorted(by_stage) == [1, 2, 3, 4]
    for s in (1, 2, 3):
        assert min(r.score_ppm for r in by_stage[s]) >= max(
            r.score_ppm for r in by_stage[s + 1]
        )
        assert max(r.curriculum_rank for r in by_stage[s]) < min(
            r.curriculum_rank for r in by_stage[s + 1]
        )
    out2 = curriculum_order(scored, stages=4, seed=1).collect()
    stage_of = {r.doc_id: r.stage for r in out}
    assert all(stage_of[r.doc_id] == r.stage for r in out2)
    assert {r.doc_id: r.curriculum_rank for r in out} != {
        r.doc_id: r.curriculum_rank for r in out2
    }


def test_temperature_mix_rebalances_and_is_deterministic(spark, sf_dir):
    from etl_sql_and_pyspark_developement__spark.operators.sampling import (
        temperature_mix,
    )
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    docs = table(spark, sf_dir, "documents")
    kept = temperature_mix(docs, "doc_id", "lang", budget_divisor=2)
    rows = kept.collect()
    # kept set is a subset of the corpus
    all_ids = {r.doc_id for r in docs.collect()}
    assert {r.doc_id for r in rows} <= all_ids

    # α=0.5 smoothing: the TARGET rate (rate_ppm, carried as an audit
    # column) orders opposite to group size — the dominant group is
    # damped hardest. (The ACHIEVED rate additionally carries md5
    # sampling noise, ±10% on 70-doc groups, so it is only compared
    # at the extremes.)
    sizes = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    ppm = {r.lang: r.rate_ppm for r in rows}
    by_size = sorted(sizes, key=lambda g: sizes[g])
    for small, big in zip(by_size, by_size[1:]):
        if sizes[small] < sizes[big]:
            assert ppm[small] >= ppm[big], (
                f"{small} (n={sizes[small]}) should target a rate >= "
                f"{big} (n={sizes[big]}): {ppm}"
            )
    kept_n: dict[str, int] = {}
    for r in rows:
        kept_n[r.lang] = kept_n.get(r.lang, 0) + 1
    smallest, biggest = by_size[0], by_size[-1]
    if sizes[biggest] >= 2 * sizes[smallest]:
        assert (
            kept_n.get(smallest, 0) / sizes[smallest]
            > kept_n.get(biggest, 0) / sizes[biggest]
        )

    # deterministic: identical kept set on re-run
    again = temperature_mix(docs, "doc_id", "lang", budget_divisor=2)
    assert sorted(r.doc_id for r in again.collect()) == sorted(r.doc_id for r in rows)


def test_weighted_reservoir_merges_and_prefers_heavy(spark):
    """A-Res contract: (1) split-invariance — the global top-k equals
    the top-k of the union of per-half top-ks (the property that makes
    it per-partition TakeOrdered + k-row merge at scale); (2) an
    extremely heavy row is sampled (score <= 13.8/w ~ 1.4e-11 beats
    any weight-1 row, whose u < 1 strictly keeps scores > 0);
    (3) deterministic across runs."""
    from etl_sql_and_pyspark_developement__spark.operators.sampling import (
        weighted_reservoir,
    )

    rows = [(i, 1) for i in range(100)] + [(1000, 10**12)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, w BIGINT")
    got = weighted_reservoir(df, "w", 10, id_col="doc_id").collect()
    ids = [r.doc_id for r in got]
    assert len(ids) == 10
    assert 1000 in ids, "the ~1e12-weight row must be in the sample"
    assert ids == [
        r.doc_id for r in weighted_reservoir(df, "w", 10, id_col="doc_id").collect()
    ], "must be deterministic"

    halves = [df.filter("doc_id % 2 = 0"), df.filter("doc_id % 2 = 1")]
    merged = (
        weighted_reservoir(halves[0], "w", 10, id_col="doc_id")
        .unionAll(weighted_reservoir(halves[1], "w", 10, id_col="doc_id"))
        .orderBy("score", "doc_id")
        .limit(10)
        .collect()
    )
    assert [r.doc_id for r in merged] == ids, "top-k must merge"


def test_leakage_safe_split_planted_pairs_never_cross(spark):
    """Planted near-dup pairs whose members' OWN md5 buckets fall on
    opposite sides of the naive cut must still land in ONE split under
    the grouped rule — and the naive rule must provably leak them."""
    from pyspark.sql import functions as F

    from etl_sql_and_pyspark_developement__spark.operators.sampling import (
        leakage_safe_split,
    )

    def bucket(i: int) -> int:
        import hashlib

        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100

    # find a (test, train) id pair under the naive 10% rule
    test_ids = [i for i in range(1000) if bucket(i) < 10]
    train_ids = [i for i in range(1000) if bucket(i) >= 10]
    a, b = test_ids[0], train_ids[0]
    docs = spark.createDataFrame(
        [(i, 100) for i in (a, b, train_ids[1], train_ids[2])],
        ["doc_id", "n_chars"],
    )
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b))], ["doc_a", "doc_b"]
    )
    out = {r.doc_id: r for r in leakage_safe_split(docs, pairs).collect()}
    assert out[a].split_naive != out[b].split_naive, "pair must straddle naive cut"
    assert out[a].split == out[b].split, "grouped rule must co-locate the pair"
    assert out[a].component == out[b].component == min(a, b)
    # untouched singletons keep their own component and naive == grouped
    for i in (train_ids[1], train_ids[2]):
        assert out[i].component == i
        assert out[i].split == out[i].split_naive


def test_p23_k_anonymity_floor_and_conservation(spark, sf_dir):
    """The release invariants: (1) CONSERVATION — released doc/char
    totals equal the corpus exactly (suppression re-keys, never
    drops); (2) K-FLOOR — every published non-redacted cell carries
    >= k members; (3) the redacted bucket exists iff small cells
    exist, and merges exactly the small-cell counts."""
    from pyspark.sql import functions as F

    from etl_sql_and_pyspark_developement__spark.plans.queries import QUERIES
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    k = 5
    rel = QUERIES["p23_k_anonymity"](spark, sf_dir).collect()
    docs = table(spark, sf_dir, "documents")
    n_total = docs.count()
    chars_total = docs.agg(F.expr("CAST(sum(n_chars) AS BIGINT)")).collect()[0][0]
    assert sum(r.n_docs for r in rel) == n_total
    assert sum(r.n_chars for r in rel) == chars_total
    small = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < k)
        .collect()
    )
    red = [r for r in rel if r.lang == "__redacted__"]
    for r in rel:
        if r.lang != "__redacted__":
            assert r.n_docs >= k and r.cells_merged == 0
        assert r.n_suppressed_cells == len(small)
    if small:
        assert len(red) == 1
        assert red[0].n_docs == sum(s.n for s in small)
        assert red[0].cells_merged == len(small)
    else:
        assert not red
