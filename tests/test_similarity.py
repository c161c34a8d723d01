"""ANN invariants: brute-force is the ground truth; LSH must place a
vector in its own bucket (self-similarity) and achieve nonzero recall."""

from __future__ import annotations

import math
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType


@pytest.fixture(scope="module")
def vectors(spark):
    import struct

    def gen(i):
        # deterministic pseudo-random unit-ish vector
        vals = []
        state = i * 2654435761 % (1 << 32)
        for _ in range(16):
            state = (state * 1103515245 + 12345) % (1 << 31)
            vals.append((state / (1 << 30)) - 1.0)
        return vals

    rows = [(i, [float(v) for v in gen(i)]) for i in range(60)]
    # vector 50 = copy of vector 0 (cosine 1.0 with it)
    rows[50] = (50, rows[0][1][:])
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_bruteforce_finds_exact_copy(spark, vectors):
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        cosine_topk,
    )

    q = vectors.filter(F.col("vec_id") == 0)
    top = cosine_topk(vectors, q, k=3).collect()
    assert top[0].cand_id == 50
    assert abs(top[0].cosine - 1.0) < 1e-5


def test_bruteforce_cosine_bounds_and_ranks(spark, vectors):
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        cosine_topk,
    )

    q = vectors.filter(F.col("vec_id") < 5)
    rows = cosine_topk(vectors, q, k=5).collect()
    by_q = {}
    for r in rows:
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        ranks = [r.rnk for r in rs]
        assert ranks == sorted(ranks)
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_zero_norm_vector_scores_cosine_zero(spark, vectors):
    """An all-zero embedding has cosine 0.0 with every vector (the
    zero-norm rule in similarity's module docstring), where the
    division by its norm used to raise DIVIDE_BY_ZERO under ANSI: as
    a cosine_topk query it scores exactly 0.0 against every candidate
    (ties ranked by cand_id), and cosine_neardup_pairs emits no pair
    containing it at threshold 0.45."""
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        cosine_neardup_pairs,
        cosine_topk,
    )

    zero = spark.createDataFrame([(99, [0.0] * 16)], vectors.schema)
    corpus = vectors.unionByName(zero)
    n = corpus.count()
    top = cosine_topk(corpus, zero, k=n).collect()
    assert len(top) == n - 1
    assert all(repr(r.cosine) == "0.0" for r in top), top
    assert [r.cand_id for r in top] == sorted(r.cand_id for r in top)
    pairs = {
        (r.id_a, r.id_b) for r in cosine_neardup_pairs(corpus, threshold=0.45).collect()
    }
    assert (0, 50) in pairs, "the planted copy must still pair"
    assert not any(99 in p for p in pairs)


def test_lsh_self_bucket_and_recall(spark, vectors):
    """An exact copy hashes to the same bucket, so LSH must find it;
    overall recall vs brute force must be positive."""
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        ann_lsh_topk,
        cosine_topk,
    )

    q = vectors.filter(F.col("vec_id") == 0)
    approx = ann_lsh_topk(vectors, q, k=3, n_bits=4, dim=16).collect()
    assert approx, "copy of query must share its bucket"
    assert approx[0].cand_id == 50

    qs = vectors.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.cand_id) for r in cosine_topk(vectors, qs, k=5).collect()
    }
    got = {
        (r.query_id, r.cand_id)
        for r in ann_lsh_topk(vectors, qs, k=5, n_bits=4, dim=16).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall > 0.2, f"LSH recall too low: {recall}"


def test_lsh_results_subset_of_universe(spark, vectors):
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        ann_lsh_topk,
    )

    qs = vectors.filter(F.col("vec_id") < 3)
    for r in ann_lsh_topk(vectors, qs, k=5, n_bits=4, dim=16).collect():
        assert r.cand_id != r.query_id
        assert 1 <= r.rnk <= 5


def test_ivf_recall_vs_bruteforce(spark, vectors):
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        ann_ivf_topk,
        cosine_topk,
    )

    qs = vectors.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.cand_id) for r in cosine_topk(vectors, qs, k=5).collect()
    }
    got = {
        (r.query_id, r.cand_id)
        for r in ann_ivf_topk(
            vectors, qs, k=5, n_clusters=8, n_probe=4, dim=16
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall > 0.5, f"IVF recall too low: {recall}"
    # the planted exact copy shares its query's cluster -> must be found
    q0 = vectors.filter(F.col("vec_id") == 0)
    top = ann_ivf_topk(vectors, q0, k=3, n_clusters=8, n_probe=2, dim=16).collect()
    assert top and top[0].cand_id == 50


def _sql_double(v: float) -> str:
    return f"{v!r}D" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"


def _argmin_sql_form(vec: str, table: list[list[float]]):
    """The retired inline nearest codeword: array_sort over (distance,
    index) structs of literal codewords, the distance in power(·, 2)
    form. Ties and NaN go as in the kernel, but a row with no defined
    distance sorts its all-NULL structs by index and gets code 0."""
    from etl_sql_and_pyspark_developement__spark.operators.similarity import _fold

    entries = ", ".join(
        f"named_struct('d', {_fold('power(CAST(x AS DOUBLE) - y, 2)', vec, lit)}, 'i', {i})"
        for i, lit in enumerate(
            "array(" + ", ".join(map(_sql_double, c)) + ")" for c in table
        )
    )
    return F.expr(f"cast(array_sort(array({entries}))[0].i as int)")


def _join_sql_form(df, vec: str, table: list[list[float]], n: int | None = None):
    """The retired broadcast-join nearest codeword: every (row,
    codeword) pair scored by `_sq_l2`, then assign_clusters' min_by
    (n=None: ties arbitrary, no defined distance gives NULL) or
    _probe_lists' row_number over (distance, index) (the n nearest;
    ties to the lower index, NaN last, but a row with no defined
    distance sorts first and probes codes 0..n-1). {vec_id: code}."""
    from pyspark.sql import Window

    from etl_sql_and_pyspark_developement__spark.operators.similarity import _sq_l2

    cents = df.sparkSession.createDataFrame(
        list(enumerate(table)), "cluster int, centroid array<double>"
    )
    scored = df.join(F.broadcast(cents), F.lit(True)).withColumn(
        "__dist", F.expr(_sq_l2(vec, "centroid"))
    )
    if n is None:
        out = scored.groupBy("vec_id").agg(F.min_by("cluster", "__dist").alias("c"))
        return {r.vec_id: r.c for r in out.collect()}
    w = Window.partitionBy("vec_id").orderBy("__dist", "cluster")
    out = scored.withColumn("__pr", F.row_number().over(w)).filter(F.col("__pr") <= n)
    got: dict = {}
    for r in out.orderBy("vec_id", "__pr").collect():
        got.setdefault(r.vec_id, []).append(r.cluster)
    return got


def _codes(df, col):
    return {r.vec_id: r[col] for r in df.collect()}


def test_nearest_kernel_matches_retired_forms(spark, sf_dir, monkeypatch):
    """`_nearest` against both retired SQL forms, with one tile per
    batch and with a tile of one row.

    The fixture has ties, a duplicated codeword, an all-NaN vector, a
    NaN codeword, an Inf element, the zero vector, a NULL vector, a
    NULL element and rows one element short and long. Where the
    retired forms disagree the kernel keeps two rules: ties go to the
    lower index and NaN sorts above every number (the array_sort form;
    min_by's tie pick is arbitrary), and a row with no defined
    distance gets a NULL code and probes no list (the min_by form;
    array_sort gives it code 0 and row_number probes codes 0..n-1).
    The sf0.01 embeddings take s10's shape: 16 centroids and four PQ
    subspace codebooks in one kernel pass, and 4 probes."""
    import pyarrow as pa

    from etl_sql_and_pyspark_developement__spark.operators import similarity as sim
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    nan, inf = float("nan"), float("inf")
    rows = [
        (1, [0.0, 1.0]),
        (2, [0.5, 0.5]),
        (3, [1.0, 0.0]),
        (4, [nan, nan]),
        (5, [0.0, 0.0]),
        (6, None),
        (7, [1.0]),
        (8, [1.0, None]),
        (9, [1.0, 1.0, 1.0]),
        (10, [inf, 0.0]),
        (11, [3.0, 3.0]),
        (12, [-1.0, -1.0]),
        (13, [0.9, 0.2]),
    ]
    undefined = {6, 7, 8, 9}
    adv = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
    dup = [[1.0, 1.0], [1.0, 1.0], [0.0, 0.0]]
    nan_cw = [[nan, 0.0], [2.0, 2.0], [0.0, 0.0], [1.0, 1.0]]
    # rows whose nearest codeword is unique and a number, per table
    tie_free = {"dup": {5, 12}, "nan_cw": {5, 11, 12, 13}}
    want = {
        "dup": {1: 0, 2: 0, 3: 0, 4: 0, 5: 2, 10: 0, 11: 0, 12: 2, 13: 0},
        "nan_cw": {1: 2, 2: 2, 3: 2, 4: 0, 5: 2, 10: 1, 11: 1, 12: 2, 13: 3},
    }
    probes = {1: [2, 3], 2: [2, 3], 3: [2, 3], 4: [0, 1], 5: [2, 3],
              10: [1, 2], 11: [1, 3], 12: [2, 3], 13: [3, 2]}
    tables = {"dup": dup, "nan_cw": nan_cw}
    inline_rows = adv.select(
        "vec_id", *(_argmin_sql_form("v", t).alias(name) for name, t in tables.items())
    ).collect()
    joined = {name: _join_sql_form(adv, "v", t) for name, t in tables.items()}
    probed = _join_sql_form(adv, "v", nan_cw, n=2)

    emb = table(spark, os.path.join(os.path.dirname(sf_dir), "sf0.01"), "embeddings")
    emb = emb.select("vec_id", F.col("embedding").alias("v"))
    seeds = [
        [float(x) for x in r.v] for r in emb.orderBy("vec_id").limit(16).collect()
    ]
    books = sim._pq_codebooks(seeds[:8], 4, 16)
    real_inline = emb.select(
        "vec_id",
        _argmin_sql_form("v", seeds).alias("cluster"),
        *(
            _argmin_sql_form(f"slice(v, {off + 1}, 16)", cb).alias(out)
            for out, off, cb in books
        ),
    ).collect()
    real_joined = _join_sql_form(emb, "v", seeds)
    real_probed = _join_sql_form(emb, "v", seeds, n=4)
    assert len(real_inline) == len(real_probed) == emb.count() > 0

    for tile in (sim._PAIR_TILE_CELLS, 1):
        monkeypatch.setattr(sim, "_PAIR_TILE_CELLS", tile)
        got = sim._nearest(adv, "v", 2, [(name, 0, t) for name, t in tables.items()])
        got_rows = {r.vec_id: r for r in got.collect()}
        for name in tables:
            codes = {i: r[name] for i, r in got_rows.items()}
            assert codes == {**want[name], **dict.fromkeys(undefined)}, (name, tile)
            for r in inline_rows:
                assert r[name] == (0 if r.vec_id in undefined else codes[r.vec_id])
            assert all(joined[name][i] is None for i in undefined)
            assert {i: joined[name][i] for i in tie_free[name]} == {
                i: codes[i] for i in tie_free[name]
            }
        got_probes = _codes(sim._nearest(adv, "v", 2, [("c", 0, nan_cw)], n=2), "c")
        assert got_probes == {**probes, **dict.fromkeys(undefined)}, tile
        assert all(probed[i] == [0, 1] for i in undefined)
        assert {i: p for i, p in probed.items() if i not in undefined} == probes
        assert _codes(sim._nearest(adv.limit(0), "v", 2, [("c", 0, dup)]), "c") == {}

        enc = sim._nearest(emb, "v", 64, [("cluster", 0, seeds)] + books)
        got_real = {r.vec_id: r for r in enc.collect()}
        for r in real_inline:
            assert got_real[r.vec_id].asDict() == {
                **r.asDict(), "v": got_real[r.vec_id].v
            }, r.vec_id
        assert {i: r.cluster for i, r in got_real.items()} == real_joined
        assert _codes(sim._nearest(emb, "v", 64, [("c", 0, seeds)], n=4), "c") == (
            real_probed
        )

    # an empty Arrow batch passes through with empty code columns
    kernel = sim._nearest_kernel("v", 2, [("c", 0, dup)], 2, 1)
    empty = pa.record_batch([pa.array([], pa.list_(pa.float32()))], names=["v"])
    (out,) = kernel([empty])
    assert out.num_rows == 0 and out.schema.names == ["v", "c"]
    assert out.schema.field("c").type == pa.list_(pa.int32())


def test_cosine_neardup_candidates_path_is_subset_with_same_scores(spark, sf_dir):
    """The LSH-bucketed formulation must return a subset of the exact
    pairs with IDENTICAL cosine values (same verification math,
    smaller pair source)."""
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_neardup_pairs(emb, threshold=0.3).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_neardup_pairs(emb, threshold=0.3, n_bits=4).collect()
    }
    assert set(approx) <= set(exact)
    assert all(exact[k] == v for k, v in approx.items())
    assert len(approx) > 0


def _neardup_sql_form(emb, threshold, n_bits=None, dim=64):
    """The retired SQL cosine_neardup_pairs, kept as the parity oracle
    for its per-bucket Arrow kernel: two `_unit_vectors` frames joined
    onto the (id_a < id_b) pairs — all pairs, or d08's same-bucket
    candidate self-join — scored by the interpreted `_dot` fold,
    filtered unrounded, rounded to 6dp."""
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        _dot,
        _unit_vectors,
        lsh_signature,
    )

    emb = emb.select("vec_id", "embedding")
    a = _unit_vectors(emb, "embedding", "va", F.col("vec_id").alias("id_a"))
    b = _unit_vectors(emb, "embedding", "vb", F.col("vec_id").alias("id_b"))
    if n_bits is None:
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        bucketed = emb.select(
            "vec_id", lsh_signature("embedding", n_bits, dim).alias("bucket")
        )
        cands = (
            bucketed.alias("a")
            .join(
                bucketed.alias("b"),
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        )
        pairs = cands.join(a, "id_a").join(b, "id_b")
    return (
        pairs.withColumn("__cos", _dot("va", "vb"))
        .filter(F.col("__cos") >= threshold)
        .select("id_a", "id_b", F.round(F.col("__cos"), 6).alias("cosine"))
    )


def _neardup_rows(df):
    return sorted((r.id_a, r.id_b, repr(r.cosine)) for r in df.collect())


def test_neardup_kernel_matches_sql_form(spark, sf_dir, monkeypatch):
    """REPR-parity of cosine_neardup_pairs' per-bucket Arrow kernel
    against the retired SQL form, on (a) an adversarial fixture and
    (b) the sf0.01 and sf0.1 embeddings, all pairs and LSH-bucketed,
    with one tile per bucket and with a tile of one row.

    The fixture holds a zero vector, a NULL vector, a NULL element, a
    NaN and an Inf element (Spark's `n > 0` and `cos >= t` hold for
    NaN, so those rows pair at cosine NaN), two rows of another length
    (they pair with each other only), exact duplicates, a cosine
    exactly at the 0.6 threshold (3-4-5), cosines ±0.1250005 and
    0.5749744999999999 on either side of a 6dp .5 boundary (the fast
    path alone rounds each of them the wrong way; only the Decimal
    recompute gets HALF_UP right), a one-row bucket, and empty
    input."""
    from collections import Counter

    from etl_sql_and_pyspark_developement__spark.operators import similarity as sim
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    c, d = 0.1250005, 0.5749744999999999
    # each row folds to a norm of exactly 1.0, so its cosine with
    # row 1 is its first element
    s, t = math.sqrt(1 - c * c), math.sqrt(1 - d * d)
    assert math.sqrt(c * c + s * s) == math.sqrt(d * d + t * t) == 1.0
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [3.0, 0.0, 4.0, 0.0]),
        (3, [c, s, 0.0, 0.0]),
        (4, [-c, s, 0.0, 0.0]),
        (18, [d, t, 0.0, 0.0]),
        (5, [0.0, 0.0, 0.0, 0.0]),
        (6, None),
        (7, [1.0, None, 0.0, 0.0]),
        (8, [float("nan"), 1.0, 0.0, 0.0]),
        (9, [float("inf"), 1.0, 0.0, 0.0]),
        (10, [1.0, 0.0, 0.0]),
        (11, [1.0, 0.5, 0.0]),
        (12, [0.25, -0.5, 0.75, 1.0]),
        (13, [0.25, -0.5, 0.75, 1.0]),
        (14, [0.0, 0.0, 0.0, -1.0]),
        (15, [0.0, 0.0, 0.0, 1.0]),
        (16, [0.0, 0.1, 0.2, 1.0]),
        (17, [-0.3, 0.0, 0.2, 1.0]),
    ]
    schema = "vec_id bigint, embedding array<double>"
    adv = spark.createDataFrame(rows, schema)
    buckets = adv.select(sim.lsh_signature("embedding", 2, 4).alias("b"))
    sizes = Counter(r.b for r in buckets.collect())
    assert 1 in sizes.values() and max(sizes.values()) > 1, sizes

    sf01, sf1 = (os.path.join(os.path.dirname(sf_dir), d) for d in ("sf0.01", "sf0.1"))
    real = table(spark, sf01, "embeddings")
    cases = [(adv, t, n_bits, 4) for t in (-1.0, 0.6) for n_bits in (None, 2)]
    cases += [(adv.limit(0), -1.0, None, 4), (adv.limit(0), -1.0, 2, 4)]
    cases += [(real, 0.45, None, 64), (real, 0.45, 4, 64)]
    want = [_neardup_rows(_neardup_sql_form(*case)) for case in cases]
    for tile in (sim._PAIR_TILE_CELLS, 1):
        monkeypatch.setattr(sim, "_PAIR_TILE_CELLS", tile)
        for (emb, threshold, n_bits, dim), rows_want in zip(cases, want):
            got = _neardup_rows(
                sim.cosine_neardup_pairs(emb, threshold=threshold, n_bits=n_bits, dim=dim)
            )
            assert got == rows_want, (set(got) ^ set(rows_want), tile, n_bits)
    everything, at_threshold = want[0], want[2]  # all pairs at -1.0 and 0.6
    assert (1, 3, "0.125001") in everything
    assert (1, 4, "-0.125001") in everything
    assert (1, 18, "0.574974") in everything
    assert (1, 2, "0.6") in at_threshold
    assert (10, 11, repr(round(1 / math.sqrt(1.25), 6))) in everything
    assert any(r[2] == "nan" for r in everything)
    assert want[4] == want[5] == []
    sf1_emb = table(spark, sf1, "embeddings")
    assert _neardup_rows(
        sim.cosine_neardup_pairs(sf1_emb, threshold=0.45, n_bits=4)
    ) == _neardup_rows(_neardup_sql_form(sf1_emb, 0.45, 4, 64))


def test_semantic_dedup_planted_copies(spark, sf_dir):
    """Exact duplicate embeddings land in the same cluster with equal
    centrality; the higher-id copy must be dropped, the original kept.
    With an impossible threshold nothing drops."""
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        semantic_dedup,
    )
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    emb = table(spark, sf_dir, "embeddings").limit(60).select("vec_id", "embedding")
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    copies = emb.limit(5).select(
        (F.col("vec_id") + max_id + 1).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies)

    flagged = semantic_dedup(corpus, "vec_id", "embedding", k=4, threshold=0.99)
    by_id = {r.vec_id: r for r in flagged.collect()}
    assert len(by_id) == 65
    copied_src = [r.vec_id for r in emb.limit(5).collect()]
    for src in copied_src:
        dup = src + max_id + 1
        assert by_id[dup].dropped == 1, f"copy {dup} of {src} must be dropped"
        assert by_id[src].dropped in (0, 1)  # src drops only via a third neighbor
        assert by_id[dup].cluster == by_id[src].cluster, "copies co-cluster"

    none_dropped = semantic_dedup(corpus, "vec_id", "embedding", k=4, threshold=1.01)
    assert none_dropped.agg(F.sum("dropped")).collect()[0][0] == 0


def _assign_sql_form(pts, seeds):
    """The retired r11 SQL seeded-argmax assignment, kept verbatim as
    the parity oracle for the r12 mapInArrow kernel: broadcast seed
    cross join, interpreted zip_with/aggregate left-fold dot,
    round(·, 6), max(struct(cent, -seed_id)) argmax."""
    spark = pts.sparkSession
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    seeds_df = spark.createDataFrame(
        [
            (int(s), None if vec is None else [float(x) for x in vec])
            for s, vec in seeds
        ],
        StructType(
            [
                StructField("seed_id", LongType()),
                StructField("su", ArrayType(DoubleType())),
            ]
        ),
    )
    cos_seed = F.round(
        F.aggregate(
            F.zip_with(F.col("u"), F.col("su"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    return (
        pts.join(F.broadcast(seeds_df), F.lit(True))
        .select("id", F.col("seed_id"), cos_seed.alias("cent"))
        .groupBy("id")
        .agg(
            F.max(
                F.struct(F.col("cent"), (-F.col("seed_id")).alias("neg_seed"))
            ).alias("best")
        )
        .select(
            "id",
            (-F.col("best.neg_seed")).alias("cluster"),
            F.col("best.cent").alias("cent"),
        )
    )


def test_seeded_argmax_kernel_matches_sql_form(spark, sf_dir):
    """BIT-parity of the r12 mapInArrow assignment kernel against the
    retired SQL form (the d17 protocol): identical (cluster, cent) —
    compared via repr, so -0.0 vs 0.0 and last-ulp drift both fail —
    on (a) adversarial hand-built vectors covering argmax ties,
    HALF_UP .5-boundaries (positive and negative), zero vectors, and
    anti-parallel vectors, and (b) the real corpus embeddings through
    semantic_dedup's own unit projection and md5 seed rule."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        _assign_seeded_argmax_kernel,
    )

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("u", ArrayType(DoubleType())),
        ]
    )

    def check(pts_rows, seeds):
        pts = spark.createDataFrame(pts_rows, schema)
        got = {
            r["id"]: (r["cluster"], repr(r["cent"]))
            for r in _assign_seeded_argmax_kernel(pts, seeds).collect()
        }
        want = {
            r["id"]: (r["cluster"], repr(r["cent"]))
            for r in _assign_sql_form(pts, seeds).collect()
        }
        assert got == want, {
            k: (got.get(k), want.get(k))
            for k in set(got) | set(want)
            if got.get(k) != want.get(k)
        }

    # (a) adversarial: seeds = 4 basis-ish directions with distinct ids
    d = 8
    basis = [[0.0] * d for _ in range(4)]
    for j in range(4):
        basis[j][j] = 1.0
    seeds = [(10 + j, basis[j]) for j in range(4)]
    rows = [
        # exact tie between seeds 10 and 11 -> smaller seed id wins
        (0, [0.5, 0.5, 0.0, 0.0] + [0.0] * (d - 4)),
        # HALF_UP boundary: repr(0.1234565) parses to a double whose
        # binary value sits under the decimal .5 boundary — the fast
        # path's risky-window recompute must reproduce Spark exactly
        (1, [0.1234565, 0.0, 0.0, 0.0] + [0.0] * (d - 4)),
        (2, [0.0000005, 0.0, 0.0, 0.0] + [0.0] * (d - 4)),
        (3, [-0.0000004, 1.0, 0.0, 0.0] + [0.0] * (d - 4)),
        # negative best: every cosine negative, HALF_UP away from zero
        (4, [-0.9999995, -0.0000015, 0.0, 0.0] + [0.0] * (d - 4)),
        # zero vector: cent 0.0 everywhere -> smallest seed id
        (5, [0.0] * d),
        # anti-parallel to one seed, orthogonal to the rest
        (6, [-1.0, 0.0, 0.0, 0.0] + [0.0] * (d - 4)),
        # generic irrational-ish values
        (7, [0.3141592653589793, -0.2718281828459045, 0.57721566, 0.0]
            + [0.0] * (d - 4)),
        # NULL vector: every cosine NULL -> smallest seed id, NULL cent
        (8, None),
        # 0.1250005 and 0.5749744999999999: the fast path rounds each
        # the wrong way; only the Decimal recompute matches Spark
        (9, [0.1250005, 0.0, 0.0, 0.0] + [0.0] * (d - 4)),
        (10, [0.0, 0.5749744999999999, 0.0, 0.0] + [0.0] * (d - 4)),
    ]
    check(rows, seeds)
    # a NULL seed never wins for valid rows and joins the all-NULL
    # fallback: with seed 9 (< every other id) carrying a NULL vector,
    # the NULL-u row must now cluster to 9, valid rows unchanged
    check(rows, [(9, None)] + seeds)

    # (b) the real corpus through semantic_dedup's own projections
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    unit = F.when(nrm > 0, F.transform(v, lambda x: x / nrm)).otherwise(v)
    pts = emb.select(F.col("vec_id").alias("id"), unit.alias("u"))
    import math

    k = max(1, math.isqrt(pts.count()))
    seed_rows = (
        pts.withColumn("__mk", F.md5(F.col("id").cast("string")))
        .orderBy("__mk", "id")
        .limit(k)
        .select(F.col("id").alias("seed_id"), F.col("u").alias("su"))
        .collect()
    )
    seeds_real = sorted((int(r["seed_id"]), list(r["su"])) for r in seed_rows)
    got = {
        r["id"]: (r["cluster"], repr(r["cent"]))
        for r in _assign_seeded_argmax_kernel(pts, seeds_real).collect()
    }
    want = {
        r["id"]: (r["cluster"], repr(r["cent"]))
        for r in _assign_sql_form(pts, seeds_real).collect()
    }
    assert got == want


def test_seeded_argmax_kernel_sorts_unsorted_seeds(spark):
    """The first-max tie rule equals max(-seed_id) only over seeds in
    ascending seed_id order; the kernel sorts them itself, so a caller
    passing seeds in any order gets the same assignments (including
    the tie, which must still go to the SMALLER seed id)."""
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        _assign_seeded_argmax_kernel,
    )

    seeds = [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [-1.0, 0.0])]
    pts = spark.createDataFrame(
        [(0, [0.5, 0.5]), (1, [0.0, 1.0]), (2, [-1.0, 0.1]), (3, None)],
        "id bigint, u array<double>",
    )

    def assign(ss):
        return {
            r["id"]: (r["cluster"], repr(r["cent"]))
            for r in _assign_seeded_argmax_kernel(pts, ss).collect()
        }

    want = assign(seeds)
    assert want[0][0] == 10, "tie must go to the smaller seed id"
    assert assign(seeds[::-1]) == want
    assert assign([seeds[1], seeds[2], seeds[0]]) == want


def test_mmr_first_pick_is_argmax_relevance_and_diverse(spark, vectors):
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        cosine_topk,
        mmr_select,
    )

    k = 5
    sel = mmr_select(vectors, k=k, pool=20, lambda_x1000=700).collect()
    assert [r["rank"] for r in sel] == list(range(1, k + 1))
    # rank 1 must be the plain argmax-relevance pick
    assert sel[0]["relevance"] == max(r["relevance"] for r in sel)
    # MMR scores decrease weakly with rank (greedy picks the best left)
    scores = [r["mmr_score"] for r in sel]
    assert all(a >= b - 1e-9 for a, b in zip(scores, scores[1:]))

    # diversity: average pairwise cosine within the MMR set must not
    # exceed that of the plain relevance top-k set
    def avg_pairwise(ids):
        rows = {r["vec_id"]: r["embedding"] for r in vectors.collect()}

        def unit(v):
            n = math.sqrt(sum(x * x for x in v))
            return [x / n for x in v]

        us = [unit(rows[i]) for i in ids]
        sims = [
            sum(a * b for a, b in zip(us[i], us[j]))
            for i in range(len(us))
            for j in range(i + 1, len(us))
        ]
        return sum(sims) / len(sims)

    qid = min(r["vec_id"] for r in vectors.collect())
    topk = (
        cosine_topk(
            vectors,
            vectors.filter(F.col("vec_id") == qid),
            k=k,
        )
        .orderBy("rnk")
        .collect()
    )
    plain_ids = [r["cand_id"] for r in topk]
    mmr_ids = [r["vec_id"] for r in sel]
    assert avg_pairwise(mmr_ids) <= avg_pairwise(plain_ids) + 1e-9

    # determinism: re-running yields the identical selection
    again = mmr_select(vectors, k=k, pool=20, lambda_x1000=700).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in sel]


def test_knn_graph_recall_and_planted_copy(spark, vectors):
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        cosine_topk,
        knn_graph,
    )

    k = 3
    approx = knn_graph(vectors, k=k, n_bits=6, dim=16).collect()
    # every vector that produced neighbors got at most k, ranked 1..m
    by_q: dict[int, list] = {}
    for r in approx:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rnks = sorted(r["rnk"] for r in rows)
        assert rnks == list(range(1, len(rows) + 1))
        assert len(rows) <= k

    # the planted exact copy (50 == 0) shares every LSH bucket with
    # its twin, so each must surface as the other's top neighbor
    assert by_q[0][0]["cand_id"] == 50 and by_q[0][0]["cosine"] == 1.0
    assert by_q[50][0]["cand_id"] == 0 and by_q[50][0]["cosine"] == 1.0

    # Recall is asserted on CLUSTERED vectors — the case the LSH
    # contract covers (collision probability rises with cosine; on
    # uniformly random vectors the "nearest" neighbors are ~orthogonal
    # and hyperplane LSH rightly keeps them apart). 12 centers × 5
    # jittered members: true neighbors are same-cluster, high-cosine.
    import math as _math

    def jitter(base, j):
        state = (j * 48271 + 11) % (1 << 31)
        out = []
        for x in base:
            state = (state * 1103515245 + 12345) % (1 << 31)
            out.append(x + 0.05 * ((state / (1 << 30)) - 1.0))
        return out

    base_rows = {r["vec_id"]: r["embedding"] for r in vectors.collect()}
    clustered = []
    vid = 0
    for c in range(12):
        center = base_rows[c]
        for j in range(5):
            clustered.append((vid, [float(v) for v in jitter(center, j)]))
            vid += 1
    cdf = spark.createDataFrame(clustered, vectors.schema)
    exact = cosine_topk(cdf, cdf, k=k).collect()
    approx2 = knn_graph(cdf, k=k, n_bits=6, dim=16).collect()
    exact_pairs = {(r["query_id"], r["cand_id"]) for r in exact}
    approx_pairs = {(r["query_id"], r["cand_id"]) for r in approx2}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"kNN-graph recall too low on clustered data: {recall:.2f}"


def test_adaptive_n_bits_keeps_buckets_bounded():
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        adaptive_n_bits,
    )

    # floor: small corpora keep the oracle-mirrored 8 bits
    for n in (0, 1, 100, 500, 2000):
        assert adaptive_n_bits(n) == 8
    # growth: E[bucket] = n / 2^bits stays <= target as n scales
    for n in (20_000, 10**6, 10**9):
        bits = adaptive_n_bits(n)
        assert n / (1 << bits) <= 8
        # and not over-sized (one bit of slack above the exact log)
        assert n / (1 << (bits - 1)) > 8
    # monotone in n
    seq = [adaptive_n_bits(n) for n in (10**3, 10**4, 10**5, 10**6, 10**7)]
    assert seq == sorted(seq)


def test_density_prune_planted_dense_cluster(spark):
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        density_prune,
    )

    # 10 near-identical vectors (a dense mode) + 10 well-spread ones,
    # all one label: the dense mode must occupy the PRUNED (high-rank)
    # half, the spread vectors the kept half.
    import math

    def unit(theta, phi):
        return [
            math.cos(theta) * math.cos(phi),
            math.cos(theta) * math.sin(phi),
            math.sin(theta),
        ] + [0.0] * 13

    rows = []
    for i in range(10):  # tight cluster around (0, 0), ~0.01 rad apart
        rows.append((i, [float(v) for v in unit(0.001 * i, 0.001 * i)], 0))
    for i in range(10):  # spread over the sphere
        rows.append(
            (10 + i, [float(v) for v in unit(-1.2 + 0.27 * i, 2.1 * i)], 0)
        )
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    out = density_prune(df, k=3, n_bits=4, dim=16)
    res = {r.vec_id: r for r in out.collect()}
    assert len(res) == 20
    # exact keep fraction: exactly half kept
    assert sum(r.kept for r in res.values()) == 10
    # every clustered vector is denser than every spread vector
    dense = [res[i].density_ppm for i in range(10)]
    spread = [res[10 + i].density_ppm for i in range(10)]
    assert min(dense) > max(spread), (min(dense), max(spread))
    # so the kept set is exactly the spread vectors
    assert all(not res[i].kept for i in range(10))
    assert all(res[10 + i].kept for i in range(10))
    # ranks are a permutation of 1..n within the label
    assert sorted(r.dens_rank for r in res.values()) == list(range(1, 21))


def test_pq_ann_finds_exact_copy_and_is_deterministic(spark, vectors):
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        ann_pq_topk,
    )

    queries = vectors.filter("vec_id < 5")
    out1 = ann_pq_topk(vectors, queries, dim=16, m_sub=4, k_codes=8).collect()
    out2 = ann_pq_topk(vectors, queries, dim=16, m_sub=4, k_codes=8).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    by_q = {}
    for r in out1:
        by_q.setdefault(r.query_id, []).append(r)
    # vector 50 is an exact copy of vector 0: its ADC distance equals
    # query 0's own quantization error (the minimum possible for that
    # query), so it survives the shortlist and the exact re-rank puts
    # it at rank 1 with cosine 1.0
    top0 = sorted(by_q[0], key=lambda r: r.rnk)[0]
    assert top0.cand_id == 50 and top0.cosine == 1.0
    for q, rows in by_q.items():
        rows = sorted(rows, key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        # refine orders by exact cosine descending
        cosines = [r.cosine for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.cand_id != q for r in rows)


def test_density_prune_keep_fraction_odd_sizes(spark):
    """The integer keep test (rank*den <= n*num) keeps exactly
    floor(n*num/den) per group, for odd and tiny group sizes."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        density_prune,
    )

    rows = []
    vid = 0
    for label, n in ((0, 7), (1, 1), (2, 4)):
        for i in range(n):
            vec = [0.0] * 16
            vec[(vid + i) % 16] = 1.0
            vec[(vid + i + 3) % 16] = 0.5
            rows.append((vid, [float(v) for v in vec], label))
            vid += 1
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    out = density_prune(
        spark.createDataFrame(rows, schema), k=3, n_bits=4, dim=16
    ).collect()
    kept_per = {}
    for r in out:
        kept_per[r.label] = kept_per.get(r.label, 0) + int(r.kept)
    assert kept_per == {0: 3, 1: 0, 2: 2}  # floor(n/2) each


def test_collapse_exact_vectors_planted_duplicates(spark):
    """Planted exact copies: representatives are the lowest-id copy
    with correct multiplicity, membership rejoins every original id,
    and the kNN graph built on representatives equals the graph built
    on the naturally-distinct set — the dedup-before-graph tier that
    keeps LSH bucketing linear on duplicate-heavy corpora."""
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        collapse_exact_vectors,
        knn_graph,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import pyspark.sql.functions as F  # noqa: PLC0415

    dup = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = base.unionByName(dup)
    reps, member = collapse_exact_vectors(corpus)
    got = {r.vec_id: r.multiplicity for r in reps.collect()}
    assert set(got) == {r.vec_id for r in base.collect()}, (
        "representative must be the lowest-id copy"
    )
    assert all(m == 2 for m in got.values())
    assert member.count() == corpus.count()
    assert member.filter(F.col("rep_id") > 99999).count() == 0
    # Graph on representatives == graph on the distinct set.
    g_reps = {
        tuple(r)
        for r in knn_graph(reps.drop("multiplicity")).collect()
    }
    g_base = {tuple(r) for r in knn_graph(base).collect()}
    assert g_reps == g_base


def test_ivf_pq_composed_recall_and_copy_recovery(spark, vectors):
    """s10: the composed IVF-PQ path must (1) be deterministic,
    (2) recover the planted exact copy at rank 1 / cosine 1.0 (same
    cluster as its query by construction, ADC-minimal, exact-refined),
    and (3) keep useful recall vs brute force despite BOTH prunings."""
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        ann_ivf_pq_topk,
        cosine_topk,
    )

    qs = vectors.filter(F.col("vec_id") < 10)
    kwargs = dict(
        k=5, n_clusters=8, n_probe=4, dim=16, train_iterations=1,
        m_sub=4, k_codes=8, refine_n=15,
    )
    out1 = ann_ivf_pq_topk(vectors, qs, **kwargs).collect()
    out2 = ann_ivf_pq_topk(vectors, qs, **kwargs).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    exact = {
        (r.query_id, r.cand_id)
        for r in cosine_topk(vectors, qs, k=5).collect()
    }
    got = {(r.query_id, r.cand_id) for r in out1}
    recall = len(exact & got) / len(exact)
    assert recall > 0.4, f"IVF-PQ recall too low: {recall}"
    by_q = {}
    for r in out1:
        by_q.setdefault(r.query_id, []).append(r)
    top0 = sorted(by_q[0], key=lambda r: r.rnk)[0]
    assert top0.cand_id == 50 and top0.cosine == 1.0
    for q, rows in by_q.items():
        rows = sorted(rows, key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        cosines = [r.cosine for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.cand_id != q for r in rows)


def test_vector_features_arrow_edge_cases(spark):
    """The mapInArrow kernel must handle empty vectors (reduceat's
    next-element quirk forced to 0), negative values (floor is toward
    -inf on both engines), and exact integer moments on hand-checked
    inputs."""
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        vector_features_arrow,
    )

    df = spark.createDataFrame(
        [
            (1, [0.5, -0.5]),
            (2, []),
            (3, [1.0]),
            (4, [-0.0000015]),
            # TRAILING empty after a non-empty (regression: the old
            # reduceat clip truncated vector 5's segment to 3 when an
            # empty list closed the batch)
            (5, [0.25, 0.25, 0.25, 0.25]),
            (6, []),
        ],
        "vec_id bigint, embedding array<float>",
    )
    # coalesce(1): all rows share one Arrow batch, so the trailing-
    # empty and mid-array-empty cases actually exercise the kernel's
    # offset handling instead of landing in separate batches
    got = {
        r.vec_id: (r.n_dims, r.sum_micro, r.sumsq_micro)
        for r in vector_features_arrow(df.coalesce(1)).collect()
    }
    # floor(0.5e6)=500000, floor(-0.5e6)=-500000; squares sum 2*25e10
    assert got[1] == (2, 0, 500_000_000_000)
    assert got[2] == (0, 0, 0)
    assert got[3] == (1, 1_000_000, 1_000_000_000_000)
    # float32(-0.0000015) widened: floor(-1.5000000187446...) = -2
    assert got[4][0] == 1 and got[4][1] == -2 and got[4][2] == 4
    # 4 x floor(0.25e6) = 4 x 250000; the FULL segment must survive a
    # trailing empty list in the same batch
    assert got[5] == (4, 1_000_000, 250_000_000_000)
    assert got[6] == (0, 0, 0)
    plan = (
        vector_features_arrow(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "PythonMapInArrow" in plan
