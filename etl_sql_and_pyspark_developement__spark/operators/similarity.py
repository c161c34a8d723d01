"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline. Query set broadcasts;
  one pass over the corpus; per-query top-k via window. Exact and
  oracle-able, O(|queries| * |corpus|).
- LSH-bucketed ANN: the scale path. Random-hyperplane signatures from
  a deterministic plane matrix; bucket equi-join shrinks candidates
  to ~corpus/2^bits per query before exact scoring.

Vector vocabulary. Every operator's vector math comes from the
builders below, each written once; nothing else in this module folds
an array:

- `_fold` — the one left fold: built-in higher-order functions
  (`aggregate` over `transform` / `zip_with`) from 0D in DOUBLE,
  JVM-side, no Python in the hot path. Every caller squares by a
  multiply: Spark's power(d, 2) equals d * d anyway, numpy's does not.
- `_dot`, `_norm`, `_sq_l2` — the dot product, L2 norm and squared
  L2 distance.
- `_side` — (id, vector, norm) of one side of a pair join: norms are
  computed once per row, never per pair.
- `_unit_vectors` — the L2-unit projection.
- `_cosine` — round(dot / (|q|·|c|), 6), the one cosine division.
- `_topk` — score the pairs with `_cosine`, keep each query's top k.
- `_pq_search` — the PQ ADC scan, shortlist, exact refine and top k.

The Arrow kernels (`_nearest_kernel` for every nearest codeword — IVF
training, assignment and probes, PQ codes —, `_neardup_kernel` for
cosine_neardup_pairs, `_assign_seeded_argmax_kernel` for
semantic_dedup) run the same math in numpy, through three helpers
written once:

- `_np_lists` — an Arrow list column as float64 values plus each
  row's start, length and foldability (no NULL row, no NULL element).
- `_np_fold` — `_fold`'s left fold from 0.0, one dimension at a time,
  so each value is the IEEE op sequence of the SQL form.
- `_np_round6` — Spark's round(·, 6): HALF_UP on the double's decimal
  repr.

Zero-norm rule: an all-zero vector has cosine 0.0 with every vector.
Its unit vector is itself, and `_cosine` returns 0.0 instead of
dividing by zero (DIVIDE_BY_ZERO under ANSI). A NULL vector still
scores NULL. mmr_select alone drops zero-norm candidates (see there).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

from etl_sql_and_pyspark_developement__spark.operators.spread import (
    spread_small_scan,
)
from etl_sql_and_pyspark_developement__spark.session import materialize


def _fold(term: str, a: str, b: str | None = None) -> str:
    """SQL text of the left fold from 0D of `term` over the elements x
    of array `a` (zipped with the elements y of `b`, if given)."""
    if b is None:
        arr = f"transform({a}, x -> {term})"
    else:
        arr = f"zip_with({a}, {b}, (x, y) -> {term})"
    return f"aggregate({arr}, 0D, (acc, v) -> acc + v)"


def _np_lists(vecs) -> tuple:
    """(flat, starts, lens, ok) of an Arrow list array: its values
    widened to float64, each row's start and length in them, and ok —
    the row is non-NULL with no NULL element. Any other row folds to
    NULL in the SQL form, so it scores nothing."""
    offs = np.asarray(vecs.offsets)  # absolute into .values, sliced or not
    ok = ~np.asarray(vecs.is_null())
    if vecs.values.null_count:
        bad = np.concatenate(([0], np.cumsum(~np.asarray(vecs.values.is_valid()))))
        ok &= bad[offs[1:]] == bad[offs[:-1]]
    flat = vecs.values.to_numpy(zero_copy_only=False).astype(np.float64)
    return flat, offs[:-1], np.diff(offs), ok


def _np_fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """`_fold`'s sum of x*y in numpy: a left fold from 0.0 over the
    leading (dimension) axis of a and b, their other axes broadcast
    — (dim, m, 1) by (dim, 1, n) gives the m×n pair matrix. numpy
    mul/add are plain IEEE doubles (no FMA, no pairwise sum), so each
    value is the SQL fold's, op for op."""
    acc = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _np_round6(x: np.ndarray) -> np.ndarray:
    """Spark's round(x, 6) on doubles: HALF_UP on BigDecimal(repr(x)).
    Fast path sign·floor(|x|·1e6 + 0.5)/1e6 is exact whenever the
    scaled fraction is farther than 1e-7 from .5 (at |x| ≲ 1 the
    double multiply errs ≤1e-10); values inside that window are
    recomputed with Decimal(repr(x)) — Python's repr is
    shortest-roundtrip like the JVM's. -0.0 becomes 0.0 (BigDecimal
    has no signed zero); NaN and ±Inf pass through, as in Spark."""
    with np.errstate(invalid="ignore"):
        scaled = np.abs(x) * 1e6
        out = np.sign(x) * np.floor(scaled + 0.5) / 1e6
        risky = np.abs(scaled - np.floor(scaled) - 0.5) < 1e-7
    for i in np.flatnonzero(risky):
        out.flat[i] = float(
            Decimal(repr(float(x.flat[i]))).quantize(Decimal("1e-6"), ROUND_HALF_UP)
        )
    out[out == 0.0] = 0.0
    return out


def _literal(vec: list[float]) -> str:
    """A double array literal; repr() round-trips doubles exactly."""
    return "array(" + ", ".join(f"{v!r}D" for v in vec) + ")"


def _dot(a: str, b: str) -> Column:
    return F.expr(_fold("CAST(x AS DOUBLE) * CAST(y AS DOUBLE)", a, b))


def _norm(a: str) -> Column:
    return F.sqrt(F.expr(_fold("CAST(x AS DOUBLE) * CAST(x AS DOUBLE)", a)))


def _sq_l2(a: str, b: str) -> str:
    """SQL text of the squared L2 distance: (x - y) * (x - y), folded."""
    return _fold("(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)", a, b)


def _side(
    df: DataFrame, id_col: str, vec_col: str, side: str, *extra: Column | str
) -> DataFrame:
    """One side of a scored pair join: (query_id, q_vec, q_nrm) for
    side "q", (cand_id, c_vec, c_nrm) for side "c", plus `extra`.
    Higher-order folds evaluate interpreted per element, so the norm
    is projected once per row here rather than once per pair."""
    return df.select(
        F.col(id_col).alias("query_id" if side == "q" else "cand_id"),
        F.col(vec_col).alias(f"{side}_vec"),
        _norm(vec_col).alias(f"{side}_nrm"),
        *extra,
    )


def _unit_vectors(
    df: DataFrame, vec_col: str, out: str, *keep: Column | str
) -> DataFrame:
    """`keep` plus `out`, the L2-unit DOUBLE vector of `vec_col`: a
    zero vector stays zero, NULL stays NULL.

    Two projections on purpose. The norm is its own column, and the
    zero guard references it a second time, outside the lambda.
    CollapseProject inlines a non-trivial column into the next
    projection when that projection references it once; a bare
    transform(v, x -> x / n) references n once, so the norm fold
    would be pasted into the lambda and re-run for every element —
    O(dim²) work per row (20k × 64 vectors on 4 cores, warm: 2.5 s
    inlined vs 0.35 s in this form, identical values)."""
    step = df.select(
        *keep,
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        _norm(vec_col).alias("__n"),
    )
    n, v = F.col("__n"), F.col("__v")
    unit = F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v)
    return step.select(*step.columns[:-2], unit.alias(out))


def _cosine(q_vec: str, q_norm: str, c_vec: str, c_norm: str) -> Column:
    """round(dot / (|q|·|c|), 6), and 0.0 when either norm is 0."""
    denom = F.col(q_norm) * F.col(c_norm)
    return F.when(denom == 0, F.lit(0.0)).otherwise(
        F.round(_dot(q_vec, c_vec) / denom, 6)
    )


def _topk(pairs: DataFrame, k: int, *extra: str) -> DataFrame:
    """Score `pairs` (two `_side` frames joined) by `_cosine` and keep
    each query's k best, ties to the lower cand_id:
    (query_id, rnk, cand_id, *extra, cosine)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("cand_id"))
    return (
        pairs.withColumn("cosine", _cosine("q_vec", "q_nrm", "c_vec", "c_nrm"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "rnk", "cand_id", *extra, "cosine")
    )


Codebook = tuple[str, int, list[list[float]]]  # (out column, offset, codewords)


def _nearest_kernel(
    vec_col: str, dim: int, books: list[Codebook], n: int | None, tile_cells: int
):
    """mapInArrow batches -> the same batches plus one code column per
    codebook: the index of the codeword nearest to vec[off : off +
    width], or for n the n nearest, nearest first.

    Each distance is `_np_fold` of the per-dimension differences, so
    it is `_sq_l2`'s op sequence, (x - y) * (x - y) summed from 0.0 —
    a multiply: np.power(d, 2) differs from d * d in the last ulp. A
    stable argsort ranks them: ties go to the lower index and NaN sorts
    above every number, as in Spark. A row with no defined distance
    (NULL vector, NULL element, or not exactly `dim` elements) gets a
    NULL code. Tiles of tile_cells // (width·k) rows bound the
    difference tensor at O(tile) doubles."""
    tables = [(off, np.asarray(cw, np.float64)) for _, off, cw in books]
    names = [out for out, _, _ in books]
    m = n or 1  # codes kept per row

    def kernel(batches):
        for batch in batches:
            flat, starts, lens, ok = _np_lists(batch.column(vec_col))
            ok &= lens == dim
            x = flat[starts[ok][:, None] + np.arange(dim)]
            codes = []
            for off, cw in tables:
                k, w = cw.shape
                near = np.zeros((len(x), min(m, k)), np.int32)
                step = max(1, tile_cells // (w * k))
                with np.errstate(invalid="ignore", over="ignore"):  # NaN/Inf rank last
                    for s in range(0, len(x), step):
                        d = x[s : s + step, off : off + w].T[:, :, None] - cw.T[:, None]
                        near[s : s + step] = np.argsort(_np_fold(d, d), 1, kind="stable")[:, :m]
                full = np.zeros((len(ok), near.shape[1]), np.int32)
                full[ok] = near
                if n is None:
                    codes.append(pa.array(full[:, 0], mask=~ok))
                else:
                    offs = np.arange(len(ok) + 1, dtype=np.int32) * near.shape[1]
                    codes.append(
                        pa.ListArray.from_arrays(offs, full.ravel(), mask=pa.array(~ok))
                    )
            yield pa.RecordBatch.from_arrays(
                batch.columns + codes, batch.schema.names + names
            )

    return kernel


def _nearest(
    df: DataFrame, vec_col: str, dim: int, books: list[Codebook], n: int | None = None
) -> DataFrame:
    """`df` plus, per codebook (out, off, codewords), column `out`:
    `_nearest_kernel`'s int code, or for n an array of the n nearest.
    The one nearest-codeword site — Lloyd training, IVF assignment,
    probe selection and PQ encoding — in one narrow mapInArrow, with
    the codewords a closure constant: the plan does not grow with
    k × dim."""
    code = IntegerType() if n is None else ArrayType(IntegerType())
    schema = StructType(df.schema.fields + [StructField(out, code) for out, _, _ in books])
    return df.mapInArrow(
        _nearest_kernel(vec_col, dim, books, n, _PAIR_TILE_CELLS), schema
    )


def _probes(n_bits: int) -> Column:
    """Multi-probe bucket ids: the own bucket plus every hamming-1
    neighbour (n_bits + 1 values)."""
    return F.array(
        F.col("bucket"),
        *[F.expr(f"bucket ^ {1 << b}").cast("long") for b in range(n_bits)],
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus, the query
    itself excluded.

    Scale: F.broadcast on the query side → a broadcast nested-loop
    that streams the corpus exactly once, no shuffle of the corpus;
    the window partitions by query (small) for the top-k.
    """
    q = _side(queries, id_col, vec_col, "q")
    # corpus side spread BEFORE the norm projection + pair scoring —
    # a single-row-group embeddings file otherwise scores every
    # |queries|·|corpus| pair on one core (r11; no-op at real scale)
    c = _side(spread_small_scan(corpus.select(id_col, vec_col)), id_col, vec_col, "c")
    pairs = c.join(F.broadcast(q), F.lit(True)).filter(
        F.col("cand_id") != F.col("query_id")
    )
    return _topk(pairs, k)


def _planes(n_bits: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random ±1 hyperplanes via a fixed LCG —
    reproducible across runs/sessions without any RNG state."""
    planes = []
    state = 0x2545F4914F6CDD1D
    for _ in range(n_bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(1.0 if (state >> 32) & 1 else -1.0)
        planes.append(row)
    return planes


def lsh_signature(vec_col: str, n_bits: int, dim: int) -> Column:
    """Integer bucket id: sign bits of the vector against n_bits
    deterministic hyperplanes.

    Emitted as ONE parsed SQL expression: composing the n_bits × dim
    plane literals through py4j one Column op at a time costs ~1.5s of
    driver time per call.
    repr() round-trips doubles exactly, so the literals — and thus the
    buckets the s02/d08 oracles mirror — are bit-identical.
    """
    terms = [
        f"(case when {_fold('CAST(x AS DOUBLE) * y', vec_col, _literal(row))} > 0"
        f" then {1 << b} else 0 end)"
        for b, row in enumerate(_planes(n_bits, dim))
    ]
    return F.expr("cast(" + " + ".join(terms) + " as bigint)")


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket, then exact
    cosine within the bucket.

    Multi-probe: the query side also probes every hamming-1 bucket
    (n_bits+1 probe rows per query — queries are the small side, so
    this is free), the standard recall lift that keeps the corpus-side
    join a pure equi-join on the bucket id.

    Scale: signature is a map-side expression; the bucket equi-join
    replaces the full cross product with ~(n_bits+1)/2^n_bits of it.
    Recall is tested against cosine_topk in tests/test_similarity.py.
    """
    sig = lsh_signature(vec_col, n_bits, dim)
    q = _side(queries, id_col, vec_col, "q", sig.alias("bucket"))
    q = q.withColumn("bucket", F.explode(_probes(n_bits)))
    c = _side(
        spread_small_scan(corpus.select(id_col, vec_col)),
        id_col,
        vec_col,
        "c",
        sig.alias("bucket"),
    )
    pairs = c.join(F.broadcast(q), "bucket").filter(
        F.col("cand_id") != F.col("query_id")
    )
    return _topk(pairs, k)


def adaptive_n_bits(n_rows: int, target_bucket: int = 8, floor_bits: int = 8) -> int:
    """Hyperplane count that keeps E[bucket size] ≈ target_bucket as
    the corpus grows: buckets ∝ 2^n_bits, so n_bits must grow with
    log2(n). At fixed n_bits the bucket join is quadratic — measured
    89× wall at 10× vectors with n_bits=8; with bits scaling, pair
    work stays ~n·(n_bits+1)·target_bucket. The recall trade: more
    bits lower per-pair collision probability, partially compensated
    by the probe count growing with n_bits — the same
    capacity-∝-corpus rule as d11's k = floor(sqrt(n)) clustering."""
    import math

    return max(floor_bits, math.ceil(math.log2(max(n_rows, 1) / target_bucket)))


def knn_graph(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int | None = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate k-NN GRAPH over the whole corpus: every vector's
    top-k cosine neighbors among vectors sharing an LSH bucket (own
    bucket plus every hamming-1 probe). The kNN graph is the backbone
    of semantic curation — SemDeDup clustering, density-based quality
    scoring, and graph-based diversity sampling all start from it.

    Unlike ann_lsh_topk (small query set, broadcast), BOTH sides here
    are the full corpus, so neither is broadcast: the probe side
    explodes (n_bits+1) rows per vector and the candidate join is a
    shuffle equi-join on the bucket id. Expected pair count is
    ~(n_bits+1)/2^n_bits of n² — at n_bits=8 that is ~3.5% of the
    cross product, and recall is tested vs the exact graph.

    Pairs are UNIQUE BY CONSTRUCTION — no dedup shuffle: a query's
    probe rows carry (n_bits+1) DISTINCT bucket values, and each
    corpus vector sits in exactly ONE bucket, so a (query, candidate)
    pair can match at most one probe row (it matches iff
    hamming(sig_q, sig_c) ≤ 1). Scoring happens AT the bucket join
    (both sides carry their vector), so the whole operator is two
    wide ops: the bucket join and the per-vector top-k window. The
    probe side replicates each vector (n_bits+1)× through the
    shuffle — the standard LSH trade (the minhash band path
    replicates 32×), cheaper than re-joining vectors onto id-only
    pairs twice. Real embedding distributions skew bucket sizes —
    AQE skew-join splits hot buckets; n_bits must grow with the
    corpus to keep E[bucket size] bounded (buckets ∝ 2^n_bits) —
    pass n_bits=None to size it automatically via adaptive_n_bits
    (one count job; stays 8 up to ~2k vectors, so small-corpus
    results are unchanged).

    EXACT-duplicate vectors defeat any bucketing: ten identical
    copies of every vector multiply same-bucket candidate pairs
    ~100× no matter how many bits — LSH can only split points that
    differ. Measured on 10×-duplicated sf0.1 embeddings: 153s raw vs
    9.2s after a d01-style exact-vector collapse (one representative
    per distinct vector). Run the dedup tier FIRST — the pipeline
    ordering SURVEY §2's dedup ladder documents.
    """
    if n_bits is None:
        n_bits = adaptive_n_bits(corpus.count())
    c = materialize(
        _side(
            spread_small_scan(corpus.select(id_col, vec_col)),
            id_col,
            vec_col,
            "c",
            lsh_signature(vec_col, n_bits, dim).alias("bucket"),
        )
    )
    q = c.select(
        F.col("cand_id").alias("query_id"),
        F.col("c_vec").alias("q_vec"),
        F.col("c_nrm").alias("q_nrm"),
        F.explode(_probes(n_bits)).alias("bucket"),
    )
    pairs = q.join(c, "bucket").filter(F.col("query_id") != F.col("cand_id"))
    return _topk(pairs, k)


def assign_clusters(
    corpus: DataFrame, centroids: list[list[float]], id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, cluster): each vector's nearest centroid by `_nearest`,
    NULL where no distance is defined."""
    return _nearest(
        corpus.select(id_col, vec_col),
        vec_col,
        len(centroids[0]),
        [("cluster", 0, centroids)],
    )


def kmeans_lite_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    iterations: int = 2,
    dim: int = 64,
    seed_vectors: list[list[float]] | None = None,
) -> list[list[float]]:
    """Deterministic Lloyd's iterations for IVF coarse quantization.

    Seeds: the k vectors with the lowest ids (deterministic, no RNG).
    Each iteration: assign every vector to its nearest centroid
    (`assign_clusters`, ties to the lower cluster, as the s03 oracle
    trains), then average per cluster (one groupBy); a vector with no
    defined distance trains nothing. The centroid list itself is tiny
    (k × dim floats) — collecting it to the driver is the standard IVF
    training pattern, NOT a data collect.
    """
    id_col = corpus.columns[0]
    if seed_vectors is not None:
        # Caller-provided seeds (r12): a composed index (ann_ivf_pq)
        # already collects the lowest-id vectors for its PQ codebooks —
        # passing the same rows here merges two orderBy-limit collect
        # jobs into one. The caller owns the contract that these ARE
        # the k lowest-id vectors of the train corpus, i.e. exactly
        # what the collect below would return.
        centroids = [[float(x) for x in v] for v in seed_vectors[:k]]
    else:
        seeds = corpus.orderBy(id_col).limit(k).select(vec_col).collect()
        centroids = [[float(x) for x in row[0]] for row in seeds]
    for _ in range(iterations if centroids else 0):  # no seeds: an empty corpus
        sums = (
            assign_clusters(corpus, centroids, id_col, vec_col)
            .filter(F.col("cluster").isNotNull())
            .select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_c = [row[:] for row in centroids]
        acc: dict[int, list[float]] = {}
        cnt: dict[int, int] = {}
        for r in sums:
            acc.setdefault(r.cluster, [0.0] * dim)[r.pos] = r.s
            cnt[r.cluster] = max(cnt.get(r.cluster, 0), r.n)
        for c, vec in acc.items():
            new_c[c] = [x / cnt[c] for x in vec]
        centroids = new_c
    return centroids


def _probe_lists(
    q: DataFrame, centroids: list[list[float]], n_probe: int
) -> DataFrame:
    """`q` (a "q" `_side`) once per probed inverted list: the n_probe
    centroids nearest each query by `_nearest`, ties to the lower
    cluster id. A query with no defined distance probes no list."""
    return _nearest(
        q, "q_vec", len(centroids[0]), [("cluster", 0, centroids)], n=n_probe
    ).withColumn("cluster", F.explode("cluster"))


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    train_iterations: int = 2,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into
    n_clusters inverted lists; each query scores only the n_probe
    nearest lists.

    Scale: training touches aggregates only; Lloyd assignment, the
    final assignment and probe selection are each one narrow
    `_nearest` kernel pass (no shuffle, plan size independent of k);
    the probe join is an equi-join on cluster id, cutting scored
    candidates to ~n_probe/n_clusters of the corpus. A query with a
    NULL or ragged vector probes no list, so it returns no rows.
    Recall vs brute force is asserted in tests/test_similarity.py.
    """
    spark = corpus.sparkSession
    # a NULL vector can neither train the quantizer nor be probed —
    # drop such rows at the operator boundary (no-op on clean data)
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    # training scans the corpus once per Lloyd iteration and the final
    # assignment once more — materialize it across those passes;
    # spread first so training/assignment map work parallelizes off a
    # single-row-group file (r11)
    corpus = materialize(spread_small_scan(corpus))
    centroids = kmeans_lite_centroids(
        corpus, vec_col, n_clusters, train_iterations, dim
    )
    if not centroids:
        # empty corpus (e.g. an empty ingest partition): no lists to
        # probe — return an empty, correctly-typed result instead of
        # training a quantizer on nothing
        return spark.createDataFrame(
            [], "query_id BIGINT, rnk INT, cand_id BIGINT, cosine DOUBLE"
        )
    c = _side(
        assign_clusters(corpus, centroids, id_col, vec_col),
        id_col,
        vec_col,
        "c",
        "cluster",
    )
    q = _probe_lists(_side(queries, id_col, vec_col, "q"), centroids, n_probe)
    pairs = c.join(F.broadcast(q), "cluster").filter(
        F.col("cand_id") != F.col("query_id")
    )
    return _topk(pairs, k)


_PAIR_TILE_CELLS = 1 << 20  # pair-matrix cells a kernel tile holds (8 MB of doubles)


def _neardup_kernel(threshold: float, tile_cells: int):
    """applyInArrow over one bucket (bucket, id, vec) -> (id_a, id_b,
    cosine): the retired SQL form's values, repr for repr (parity test
    in tests/test_similarity.py). Rows sort by id; each row's norm is
    `_np_fold` of it with itself, then sqrt; its unit vector divides
    by the norm unless the norm is 0 (Spark's `n > 0` holds for NaN, so
    a NaN norm divides too). Row tiles of `tile_cells // rows` score
    pairs with id_a < id_b by `_np_fold`, keep cos >= threshold (NaN
    passes: Spark orders NaN above every value) and round with
    `_np_round6`. A zip_with of unequal lengths pads with NULL, so
    only rows of equal length pair."""

    def kernel(t):
        with np.errstate(invalid="ignore"):  # ±Inf elements make NaN on purpose
            ids = t.column(1).combine_chunks()
            flat, starts, lens, ok = _np_lists(t.column(2).combine_chunks())
            ok &= np.asarray(ids.is_valid())
            rank = np.asarray(pc.rank(ids, tiebreaker="dense"))
            parts = [(np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0))]
            for dim in np.unique(lens[ok]):
                rows = np.flatnonzero(ok & (lens == dim))
                rows = rows[np.argsort(rank[rows], kind="stable")]
                # dimension-major (dim, rows), so x[k] is contiguous
                x = np.ascontiguousarray(flat[starts[rows][:, None] + np.arange(dim)].T)
                nrm = np.sqrt(_np_fold(x, x))
                u, r = x / np.where(nrm == 0, 1.0, nrm), rank[rows]
                step = max(1, tile_cells // len(rows))
                for s in range(0, len(rows), step):
                    cos = _np_fold(u[:, s : s + step, None], u[:, None, s:])
                    i, j = np.nonzero(
                        (r[s : s + step, None] < r[None, s:])
                        & ((cos >= threshold) | np.isnan(cos))
                    )
                    parts.append((rows[s + i], rows[s + j], cos[i, j]))
            a, b, cos = map(np.concatenate, zip(*parts))
            return pa.table(
                [ids.take(a), ids.take(b), _np_round6(cos)], ["id_a", "id_b", "cosine"]
            )

    return kernel


def cosine_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_bits: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold) — the semantic-dedup step of a training-data pipeline.

    Rows group by bucket: `lsh_signature(vec_col, n_bits, dim)` (the
    same-bucket pairs of d08, deterministic, so its SQL oracle mirrors
    them) or, with n_bits=None, one bucket for all rows — the exact
    all-pairs verifier, quadratic, the ground truth. Each bucket is
    scored by ONE Arrow kernel call (`_neardup_kernel`): one shuffle of
    the vectors keyed by bucket, no pair join, no per-pair interpreted
    fold. Pair work is in row tiles of `_PAIR_TILE_CELLS` cells, so a
    bucket of m rows holds O(tile·m) doubles, not O(m²).

    cosine = round(dot(a/|a|, b/|b|), 6) in the SQL form's float64 op
    order, filtered on the unrounded value. A zero vector scores 0.0
    with every vector. A NULL vector, a vector with a NULL element, a
    NULL id or a length mismatch scores NULL, so it pairs with nothing.
    A NaN or ±Inf element makes the unit vector NaN, and NaN passes
    every threshold (Spark orders NaN above every value): such a row
    pairs with every same-length row of its bucket at cosine NaN."""
    id_type = emb.schema[id_col].dataType.simpleString()
    emb = spread_small_scan(emb.select(id_col, vec_col))
    bucket = F.lit(0) if n_bits is None else lsh_signature(vec_col, n_bits, dim)
    return (
        emb.select(bucket.alias("__bucket"), id_col, vec_col)
        .groupBy("__bucket")
        .applyInArrow(
            _neardup_kernel(threshold, _PAIR_TILE_CELLS),
            f"id_a {id_type}, id_b {id_type}, cosine double",
        )
    )


_ASSIGN_KERNEL_SCHEMA = "id bigint, cluster bigint, cent double, u array<double>"


def _assign_seeded_argmax_kernel(pts: DataFrame, seeds) -> DataFrame:
    """mapInArrow seeded-argmax assignment — (id, cluster, cent, u),
    bit-identical to the retired SQL form
    max(struct(round(dot(u, su), 6), -seed_id)) over a broadcast seed
    join (parity test in tests/test_similarity.py):

    - dot and round(·, 6): `_np_fold` over (point, seed) pairs, then
      `_np_round6` — the SQL form's op sequence and Spark's HALF_UP;
    - argmax tie rule: seeds are sorted by seed_id ascending here and
      np.argmax takes the FIRST maximum — exactly max(-seed_id);
    - u passes through, replacing the SQL form's join-back;
    - NULL semantics mirror the SQL form exactly (pinned by the
      parity test): a NULL vector, a vector containing a NULL
      element, or a length mismatch vs the seed dimension makes every
      per-seed cosine NULL in the SQL form, and max(struct) then
      resolves purely on -seed_id — so such rows emit
      (min seed_id over ALL seeds, NULL cent); a NULL seed vector can
      never win against any non-NULL cent and only participates in
      that all-NULL fallback; with NO seeds at all the SQL form's
      inner join produces an EMPTY frame, and so does the kernel.

    `seeds`: [(seed_id, [float, ...] | None), ...] in any order.
    """
    seed_list = sorted(
        (
            (int(s), None if vec is None else [float(x) for x in vec])
            for s, vec in seeds
        ),
        key=lambda sv: sv[0],
    )

    def kernel(batches):
        valid = [(s, vec) for s, vec in seed_list if vec is not None]
        dims = {len(vec) for _, vec in valid}
        if len(dims) > 1:
            raise ValueError(
                f"seeded-argmax kernel: seed dims differ ({dims})"
            )
        d = dims.pop() if dims else 0
        S = np.asarray([vec for _, vec in valid], dtype=np.float64)
        S = S.reshape(len(valid), d)  # (0, d) when no seed has a vector
        sids = np.asarray([s for s, _ in valid], dtype=np.int64)
        min_all = min((s for s, _ in seed_list), default=None)
        for batch in batches:
            n = len(batch)
            if n == 0 or min_all is None:
                # no seeds: the SQL form's inner join yields no rows
                continue
            u = batch.column("u")
            flat, starts, lens, ok = _np_lists(u)
            ok &= (lens == d) & (len(valid) > 0)
            cluster = np.full(n, min_all, dtype=np.int64)
            cent = np.full(n, np.nan)
            if ok.any():
                U = flat[starts[ok][:, None] + np.arange(d)]
                scores = _np_round6(_np_fold(U.T[:, :, None], S.T[:, None, :]))
                best = np.argmax(scores, axis=1)
                cluster[ok] = sids[best]
                cent[ok] = scores[np.arange(len(U)), best]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("id").cast(pa.int64()),
                    pa.array(cluster, pa.int64()),
                    pa.array(cent, pa.float64(), mask=~ok),
                    u.cast(pa.list_(pa.float64())),
                ],
                ["id", "cluster", "cent", "u"],
            )

    return pts.select("id", "u").mapInArrow(kernel, _ASSIGN_KERNEL_SCHEMA)


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    threshold: float = 0.95,
    top_compare: int = 200,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"), in a fully DETERMINISTIC seeded form the DuckDB
    oracle mirrors value-for-value:

    1. seeds — the k items with the smallest md5(id) (k defaults to
       floor(sqrt(n)), so k GROWS with the corpus: cluster populations
       stay ~sqrt(n) and in-cluster pair work is O(n^1.5), never
       O(n²/const) — the scale flaw of a fixed k);
    2. assignment — argmax cosine-to-seed (rounded 6dp, ties to the
       smaller seed id), computed as one partial-aggregable
       max(struct) against the broadcast seed set — no iterative Lloyd
       loop, no driver-side re-planning, no float-sum-order
       nondeterminism;
    3. pruning — within a cluster, DROP every item whose cosine to a
       MORE CENTRAL item (higher cosine-to-seed; ties to smaller id)
       among the cluster's `top_compare` most central items exceeds
       `threshold` — the keeper side is capped, bounding per-cluster
       pair work at top_compare x |cluster|.

    Returns (id_col, cluster, cent, dropped) for every corpus row;
    `cluster` is the seed's id.

    Scale: seeds are a top-k (TakeOrderedAndProject; k·dim ≈ 16 MB of
    doubles at n=10⁹, dim=64 — broadcastable); assignment shuffles n
    pre-combined rows (map-side max(struct)), not n×k; at extreme n
    the assignment scan can route through s02's LSH prefilter.
    Zero-norm vectors keep cosine 0 and are never dropped.
    """
    base = spread_small_scan(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    if k is None:
        import math

        k = max(1, math.isqrt(base.count()))
    pts = _unit_vectors(base, "v", "u", "id")
    # Seeds COLLECTED (k·dim doubles — the same tiny payload the old
    # broadcast shipped; at n=10⁹, k=√n this is ~16 MB, the standard
    # quantizer-training collect, NOT a data collect) and handed to
    # the mapInArrow assignment kernel (r12): the n×k argmax used to
    # ride an interpreted zip_with/aggregate fold per (point, seed)
    # PAIR plus a groupBy shuffle and a join back to re-attach u —
    # the kernel does the same left-fold dot vectorized per dimension
    # (bit-identical op order), Spark-exact 6dp HALF_UP rounding, and
    # first-max argmax over seed_id-ascending seeds (== the SQL
    # max(struct(cent, -seed_id)) tie rule), emitting (id, cluster,
    # cent, u) in ONE narrow map — no pair explosion, no shuffle, no
    # re-join. Bit-parity with the retired SQL form is asserted in
    # tests/test_similarity.py (incl. tie and .5-boundary cases).
    seed_rows = (
        pts.withColumn("__mk", F.md5(F.col("id").cast("string")))
        .orderBy("__mk", "id")
        .limit(k)
        .select(F.col("id").alias("seed_id"), F.col("u").alias("su"))
        .collect()
    )
    seeds = [(r["seed_id"], r["su"]) for r in seed_rows]
    assigned = materialize(_assign_seeded_argmax_kernel(pts, seeds))
    w_rank = Window.partitionBy("cluster").orderBy(F.desc("cent"), F.asc("id"))
    ranked = assigned.withColumn("crank", F.row_number().over(w_rank))
    a = ranked.filter(F.col("crank") <= top_compare).select(
        F.col("id").alias("id_a"),
        F.col("cluster").alias("ca"),
        F.col("cent").alias("cent_a"),
        F.col("u").alias("va"),
    )
    b = ranked.select(
        F.col("id").alias("id_b"),
        F.col("cluster").alias("cb"),
        F.col("cent").alias("cent_b"),
        F.col("u").alias("vb"),
    )
    more_central = (F.col("cent_a") > F.col("cent_b")) | (
        (F.col("cent_a") == F.col("cent_b")) & (F.col("id_a") < F.col("id_b"))
    )
    cos_ab = F.round(_dot("va", "vb"), 6)
    dropped = (
        a.join(b, (F.col("ca") == F.col("cb")) & more_central)
        .filter(cos_ab > threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return assigned.join(dropped, "id", "left").select(
        F.col("id").alias(id_col),
        "cluster",
        "cent",
        F.coalesce("__dropped", F.lit(0)).alias("dropped"),
    )


def mmr_select(
    corpus: DataFrame,
    query_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    pool: int = 50,
    lambda_x1000: int = 700,
) -> DataFrame:
    """Maximal-Marginal-Relevance diverse top-k (Carbonell & Goldstein
    1998) — the data-selection step that picks items both RELEVANT to
    a query and DIVERSE from each other (dedup-aware retrieval /
    training-subset selection):

        MMR(d) = λ·cos(q, d) − (1−λ)·max_{s∈S} cos(d, s)

    Two-tier plan, the standard scale shape for greedy-sequential
    selection:
    1. DISTRIBUTED: exact cosine relevance of every corpus row to the
       query (one broadcast-scan pass, no shuffle), then top-`pool`
       candidates via ORDER BY relevance LIMIT pool (pool ≪ corpus).
    2. DRIVER: greedy MMR over the pool — the algorithm is inherently
       sequential in k, and the pool is O(pool·dim) floats by
       construction, so this is a top-k-sized collect, not a corpus
       collect.

    λ is passed in integer thousandths and all driver arithmetic uses
    the same float64 ops both sides would use, ties broken by id, so
    the selection is deterministic. query_id=None uses the smallest
    id in the corpus as the query vector (excluded from candidates).

    Returns (rank, id, relevance, mmr_score) with rank 1..k.
    """
    spark = corpus.sparkSession
    empty = "rank INT, vec_id BIGINT, relevance DOUBLE, mmr_score DOUBLE"
    base = spread_small_scan(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    if query_id is None:
        # one combined 1-row job: the min id AND its vector (min_by),
        # instead of a min(id) job + a filter job + a broadcast build
        qid_row = base.agg(
            F.min("id").alias("qid"), F.min_by("v", "id").alias("qv")
        ).collect()[0]
        query_id, qraw = qid_row["qid"], qid_row["qv"]
    else:
        qrows = base.filter(F.col("id") == query_id).select("v").collect()
        qraw = qrows[0]["v"] if qrows else None
    if qraw is None:  # empty corpus, or query_id not present in it
        return spark.createDataFrame([], empty)
    # Normalize the query DRIVER-side with the `_norm` fold's float64
    # ops (`_np_fold`, then sqrt and one divide per element —
    # bit-identical to the previous in-plan normalization), then
    # inline it as a LITERAL array: no broadcast join, no per-row
    # query sub-plan — the analysis/codegen of that join dominated
    # this query's wall time (pool-bounded data; measured 2.5x).
    q = np.asarray(qraw, dtype=np.float64)
    qn = np.sqrt(_np_fold(q, q))
    if qn == 0.0:
        return spark.createDataFrame([], empty)
    qu = _literal((q / qn).tolist())
    # Zero-norm candidates are excluded (the unit projection alone
    # would keep them at relevance 0): a vector with no direction is
    # neither relevant to nor diverse from anything, just as a zero
    # query yields no result.
    cands = (
        _unit_vectors(
            base.filter((F.col("id") != query_id) & (_norm("v") > 0)),
            "v",
            "uv",
            "id",
        )
        .withColumn("relevance", _dot("uv", qu))
        .orderBy(F.desc("relevance"), "id")
        .limit(pool)
        .select("id", "uv", "relevance")
    )
    rows = cands.collect()  # |pool| rows by construction — not a corpus collect
    lam = lambda_x1000 / 1000.0
    remaining = {r["id"]: (list(r["uv"]), float(r["relevance"])) for r in rows}
    selected: list[tuple[int, int, float, float]] = []
    sel_vecs: list[list[float]] = []
    while remaining and len(selected) < k:
        best = None
        for rid in sorted(remaining):
            uv, rel = remaining[rid]
            max_sim = max(
                (sum(a * b for a, b in zip(uv, sv)) for sv in sel_vecs),
                default=0.0,
            )
            score = lam * rel - (1.0 - lam) * max_sim
            if best is None or score > best[1]:
                best = (rid, score, rel)
        rid, score, rel = best
        sel_vecs.append(remaining.pop(rid)[0])
        selected.append((len(selected) + 1, rid, rel, score))
    # Emit the k result rows as a literal inline-table plan instead of
    # createDataFrame: the Python->JVM row-conversion path costs
    # ~0.7s per call even warm (measured), pure-literal plans ~0.1s —
    # and k rows of 4 scalars are trivially literal-able.
    if not selected:
        return spark.createDataFrame([], empty)
    return spark.range(1).select(
        F.inline(
            F.array(*[
                F.struct(
                    F.lit(rank).cast("int").alias("rank"),
                    F.lit(rid).cast("bigint").alias("vec_id"),
                    F.lit(round(rel, 6)).cast("double").alias("relevance"),
                    F.lit(round(score, 6)).cast("double").alias("mmr_score"),
                )
                for rank, rid, rel, score in selected
            ])
        )
    )


def embedding_neardup_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Precomputed artifact for screening ARRIVING embeddings against a
    static reference corpus: (c_id, L2-unit vector, LSH bucket),
    materialized once and reused across every
    screened batch/micro-batch — the embedding twin of
    dedup.corpus_neardup_index's never-rescan contract. Signatures are
    scale-invariant, so hashing the raw vector and storing the unit
    vector is consistent."""
    return materialize(
        _unit_vectors(
            spread_small_scan(corpus.select(id_col, vec_col)),
            vec_col,
            "c_unit",
            F.col(id_col).alias("c_id"),
            lsh_signature(vec_col, n_bits, dim).alias("bucket"),
        ).select("c_id", "c_unit", "bucket")
    )


def embedding_neardup_screen(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_bits: int = 8,
    dim: int = 64,
    cache_handles: list | None = None,
) -> DataFrame:
    """Drop every batch embedding with a cosine >= threshold match in
    the indexed corpus (ids differing); returns surviving batch rows
    unchanged — the semantic-ingest gate of a continuous multimodal /
    embedding crawl.

    The BATCH side (small) carries the multi-probe expansion (own
    bucket + hamming-1) and is broadcast onto the corpus index, so the
    probe join never shuffles the corpus; per-pair cost is ONE dot
    product on pre-normalized vectors. Per-batch cost ∝ batch size,
    never the corpus — the same sustainability contract as
    dedup.neardup_screen, lifted to embeddings. Long-running callers
    (st12's per-micro-batch loop) MUST pass `cache_handles` and
    unpersist them after the sink write.
    """
    b = _unit_vectors(
        batch,
        vec_col,
        "b_unit",
        F.col(id_col).alias("b_id"),
        lsh_signature(vec_col, n_bits, dim).alias("bucket"),
    ).persist()
    if cache_handles is not None:
        cache_handles.append(b)
    probed = b.select("b_id", "b_unit", F.explode(_probes(n_bits)).alias("bucket"))
    dup_ids = (
        index.join(F.broadcast(probed), "bucket")
        .filter(F.col("b_id") != F.col("c_id"))
        .filter(_dot("b_unit", "c_unit") >= threshold)
        .select("b_id")
        .distinct()
    )
    return batch.join(
        dup_ids.withColumnRenamed("b_id", id_col), id_col, "left_anti"
    )


def density_prune(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    k: int = 5,
    n_bits: int | None = 8,
    dim: int = 64,
    keep_num: int = 1,
    keep_den: int = 2,
    graph: DataFrame | None = None,
) -> DataFrame:
    """D4-style density-based diversification (Tirumala et al. 2023):
    score every vector by the total cosine similarity to its k nearest
    neighbors in the approximate kNN graph (dense region = redundant,
    prototypical content), then per group keep the LEAST dense
    keep_num/keep_den fraction — pruning the over-represented modes a
    near-dup pass (d08/d11) leaves behind.

    Emits the full per-vector artifact (density_ppm, dens_rank, kept),
    not just the kept set, so downstream mixing can reweight rather
    than drop.

    Determinism/oracle: per-neighbor cosines are the kNN graph's
    6dp-rounded doubles, converted to integer micro-units BEFORE the
    sum — density_ppm is a BIGINT sum, reduction-order-independent,
    so the DuckDB oracle matches bit-exactly. Vectors with fewer than
    k graph neighbors (sparse buckets) sum what they have; isolated
    vectors get density 0 — absent similarity counts as dissimilar.

    Scale: knn_graph's two wide ops (bucket join + per-vector top-k)
    dominate; on top of that, one groupBy on the graph (high-
    cardinality query_id), a broadcast of |groups| counts, and the
    per-group rank via quantiles.grouped_prefix_stats — no serial
    per-group window even when one label holds most of the corpus.
    keep threshold is integer arithmetic (rank*den <= n*num), exact
    at any size.

    Pass ``graph`` (query_id, rnk, cand_id, cosine — knn_graph's
    schema) to score against a PRE-BUILT graph artifact instead of
    constructing it inline: the production pipeline builds the graph
    once per corpus snapshot (sources/io.knn_graph_artifact) and every
    consumer reads the materialization.
    """
    from etl_sql_and_pyspark_developement__spark.operators.quantiles import (
        grouped_prefix_stats,
    )

    g = graph if graph is not None else knn_graph(
        corpus, id_col=id_col, vec_col=vec_col, k=k, n_bits=n_bits, dim=dim
    )
    density = g.groupBy(F.col("query_id").alias("__vid")).agg(
        F.sum(F.round(F.col("cosine") * 1000000).cast("bigint")).alias(
            "density_ppm"
        )
    )
    base = corpus.select(
        F.col(id_col).alias("__vid"), F.col(group_col).alias("grp")
    ).join(density, "__vid", "left").select(
        "__vid", "grp", F.coalesce("density_ppm", F.lit(0)).alias("density_ppm")
    )
    ranked = grouped_prefix_stats(
        base,
        group_col="grp",
        sum_col=None,
        priority_cols=["density_ppm"],
        tiebreak_col="__vid",
        rank_out="dens_rank",
        descending=False,
    )
    counts = base.groupBy("grp").agg(F.count("*").alias("__n"))
    return (
        ranked.join(F.broadcast(counts), "grp")
        .select(
            F.col("__vid").alias(id_col),
            F.col("grp").alias(group_col),
            "density_ppm",
            F.col("dens_rank").cast("int").alias("dens_rank"),
            (F.col("dens_rank") * keep_den <= F.col("__n") * keep_num).alias(
                "kept"
            ),
        )
    )


def _pq_codebooks(
    seeds: list[list[float]], m_sub: int, sub_dim: int
) -> list[Codebook]:
    """PQ's `_nearest` codebooks: code_m indexes codebook m, slice m of
    every seed vector, against slice m of each vector (the s03
    construction, which the s06/s10 oracles mirror bit-exactly)."""
    return [
        (f"code_{m}", m * sub_dim, [s[m * sub_dim : (m + 1) * sub_dim] for s in seeds])
        for m in range(m_sub)
    ]


def _pq_search(
    pairs: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[Codebook],
    k: int,
    refine_n: int,
) -> DataFrame:
    """The PQ search tail over `pairs`, a "q" `_side` joined to encoded
    candidates (cand_id, code_0 … code_{m-1}):

    - ADC: per subspace, the `_sq_l2` from the query's subvector to
      the codeword the candidate stored (element_at over the literal
      codebook), summed in FIXED order d0 + d1 + … as one parsed
      expression, rounded 6dp;
    - shortlist: each query's refine_n smallest ADC, ties to the
      lower cand_id;
    - refine: exact `_topk` cosine against the real vectors."""
    adc = " + ".join(
        _sq_l2(
            f"slice(q_vec, {off + 1}, {len(cb[0])})",
            f"element_at(array({', '.join(map(_literal, cb))}), {out} + 1)",
        )
        for out, off, cb in books
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "cand_id")
    shortlist = (
        pairs.withColumn("adc_dist", F.round(F.expr(adc), 6))
        .withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= refine_n)
        .select("query_id", "q_vec", "q_nrm", "cand_id", "adc_dist")
    )
    refined = shortlist.join(_side(corpus, id_col, vec_col, "c"), "cand_id")
    return _topk(refined, k, "adc_dist")


def ann_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m_sub: int = 4,
    k_codes: int = 8,
    dim: int = 64,
    refine_n: int = 20,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): split each vector
    into `m_sub` subspaces, quantize each against a per-subspace
    codebook of `k_codes` entries, and answer queries in two stages —
    an ADC (asymmetric distance computation) scan that sums per-
    subspace query→codeword distances over the CODES, then an exact
    cosine re-rank of the top `refine_n` ADC candidates.

    Completes the ANN toolbox (brute s01 → LSH s02 → IVF s03 → kNN
    graph s05): PQ is the MEMORY story — the scan touches m_sub small
    ints per vector (m_sub·log2(k_codes) bits, here 4 codes ≈ 12 bits
    vs 256 bytes of floats), which is what keeps 10⁹-vector indexes
    in RAM; only the refine stage re-reads refine_n real vectors per
    query.

    Deterministic end-to-end (lowest-id codebook seeds, argmin ties to
    the lower code, fixed-order ADC sum d0+d1+…), so the DuckDB oracle
    mirrors codebooks, codes, ADC, and refine value-for-value.

    Scale: codebooks are k_codes×dim floats collected once (a
    constant, not data); encoding is one narrow `_nearest` kernel
    pass for all m_sub codes (zero shuffle), which leaves out a row
    with no defined distance (a query without one returns no rows);
    the ADC scan is broadcast-queries × codes with no shuffle; refine
    joins refine_n·|queries| ids back against the corpus — the only
    wide op is the final per-query top-k window over refine_n rows.
    """
    spark = corpus.sparkSession
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    seed_rows = corpus.orderBy(id_col).limit(k_codes).select(vec_col).collect()
    if not seed_rows:
        return spark.createDataFrame(
            [],
            f"query_id long, rnk int, cand_id long, "
            f"adc_dist double, cosine double",
        )
    seeds = [[float(x) for x in r[0]] for r in seed_rows]
    books = _pq_codebooks(seeds, m_sub, dim // m_sub)
    # encoded frame feeds the ADC scan; the refine stage re-reads real
    # vectors from the corpus — materialize the (tiny-per-row) codes
    coded = _nearest(
        corpus.select(F.col(id_col).alias("cand_id"), vec_col), vec_col, dim, books
    )
    # a row with no defined distance has every code NULL: it is no candidate
    enc = materialize(coded.filter(F.col("code_0").isNotNull()).drop(vec_col))
    # a query with no defined distance (`_nearest`'s rule: NULL vector,
    # NULL element, or not `dim` elements) returns no rows, as in s03/s10
    defined = F.size(F.array_compact(vec_col)) == dim
    pairs = F.broadcast(_side(queries.filter(defined), id_col, vec_col, "q")).join(
        enc, F.col("query_id") != F.col("cand_id")
    )
    return _pq_search(pairs, corpus, id_col, vec_col, books, k, refine_n)


def collapse_exact_vectors(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """The d01-for-vectors tier that MUST precede graph construction
    on duplicate-heavy corpora: collapse exact-duplicate vectors to
    one representative each (lowest id, deterministic), returning
    (representatives, membership).

    `representatives` has the corpus schema restricted to (id, vec)
    plus `multiplicity`; `membership` maps every original id to its
    representative — join any representative-level result (kNN edges,
    cluster labels, densities) back out to the full corpus with one
    equi-join.

    Why it exists: LSH bucketing can only split points that DIFFER —
    ten identical copies of every vector multiply same-bucket
    candidate pairs ~100× regardless of bit count (measured: 153s vs
    9.2s for knn_graph on 10×-duplicated sf0.1 embeddings). Exact
    collapse is one hash groupBy; the md5-of-bytes key avoids
    shuffling raw vectors twice.

    Scale: one (hash)-keyed shuffle over the corpus; representatives
    carry their vector, membership carries only ids.
    """
    hashed = corpus.select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__vec"),
        F.md5(F.to_json(F.col(vec_col))).alias("__h"),
    )
    w = Window.partitionBy("__h").orderBy("__vid")
    tagged = materialize(
        hashed.select(
            "__vid",
            "__vec",
            "__h",
            F.min("__vid").over(w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )).alias("__rep"),
        )
    )
    reps = (
        tagged.filter(F.col("__vid") == F.col("__rep"))
        .join(
            tagged.groupBy("__rep").agg(
                F.count(F.lit(1)).alias("multiplicity")
            ),
            "__rep",
        )
        .select(
            F.col("__vid").alias(id_col),
            F.col("__vec").alias(vec_col),
            "multiplicity",
        )
    )
    membership = tagged.select(
        F.col("__vid").alias(id_col), F.col("__rep").alias("rep_id")
    )
    return reps, membership


def ann_ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    train_iterations: int = 1,
    m_sub: int = 4,
    k_codes: int = 8,
    refine_n: int = 20,
) -> DataFrame:
    """IVF-PQ composed ANN — the production billion-vector index
    shape (FAISS's IVFPQ): the IVF coarse quantizer (s03) prunes the
    SEARCH SPACE to n_probe inverted lists per query, and inside the
    probed lists the PQ codes (s06) prune the MEMORY — the ADC scan
    touches m_sub small ints per candidate instead of dim floats,
    with an exact cosine re-rank of the top refine_n. Neither stage
    alone carries a 10⁹-vector index: IVF with full vectors still
    reads dim floats per probed candidate; PQ alone still scans every
    code. Composed, the scan cost is (n_probe/n_clusters) of the
    corpus at m_sub bytes each.

    Deterministic end to end by composition of the two verified
    stages (lowest-id seeds for both quantizers, argmin ties to the
    lower id/code, fixed-order ADC sum), so the DuckDB oracle chains
    the s03 and s06 mirrors value-for-value.

    Scale: centroids and codebooks are tiny collected constants;
    cluster assignment + PQ encoding are ONE `_nearest` kernel pass
    over the corpus; the probe join is a broadcast equi-join on
    cluster id; refine re-reads refine_n real vectors per query. A
    query with a NULL or ragged vector probes no list, so it returns
    no rows.
    """
    spark = corpus.sparkSession
    # r12 (VERDICT item 5): project to the two consumed columns, SPREAD
    # before materializing (the corpus feeds the nearest-codeword
    # kernel pass — off a single-row-group file it ran on one
    # core; no-op at real scale, the s03 fix applied here), and collect
    # the k-means seeds and PQ codebook seeds in ONE job (both are "the
    # lowest-id vectors", k_codes ≤ n_clusters here and the slice is
    # free) instead of two separate orderBy-limit collects.
    corpus = materialize(
        spread_small_scan(
            corpus.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col)
        )
    )
    n_seed = max(k_codes, n_clusters)
    seed_rows = (
        corpus.orderBy(id_col).limit(n_seed).select(vec_col).collect()
    )
    all_seeds = [[float(x) for x in r[0]] for r in seed_rows]
    centroids = kmeans_lite_centroids(
        corpus,
        vec_col,
        n_clusters,
        train_iterations,
        dim,
        seed_vectors=all_seeds[:n_clusters],
    )
    empty_schema = (
        "query_id BIGINT, rnk INT, cand_id BIGINT,"
        " adc_dist DOUBLE, cosine DOUBLE"
    )
    if not centroids:
        return spark.createDataFrame([], empty_schema)
    books = _pq_codebooks(all_seeds[:k_codes], m_sub, dim // m_sub)
    # ONE kernel pass: coarse cluster id + the m_sub PQ codes.
    # NOT localCheckpointed (r12): the encoded frame has exactly one
    # consumer (the probe join) — the old LC paid an eager job + a
    # materialization for nothing (A/B below in the lane's record).
    enc = _nearest(corpus, vec_col, dim, [("cluster", 0, centroids)] + books).select(
        F.col(id_col).alias("cand_id"), "cluster", *[out for out, _, _ in books]
    )
    q = _probe_lists(_side(queries, id_col, vec_col, "q"), centroids, n_probe)
    pairs = enc.join(F.broadcast(q), "cluster").filter(
        F.col("cand_id") != F.col("query_id")
    )
    return _pq_search(pairs, corpus, id_col, vec_col, books, k, refine_n)


ARROW_FEATURES_SCHEMA = (
    "vec_id bigint, n_dims int, sum_micro bigint, sumsq_micro bigint"
)


def vector_features_arrow(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """mapInArrow vector-feature kernel — the Arrow-NATIVE Python
    boundary (RecordBatch in / RecordBatch out, no pandas
    conversion), the third and lowest-overhead rung of the Python
    ladder the engine documents (row UDF ≪ Pandas UDF < mapInArrow):
    where the m-lane kernels accept pandas for ergonomic byte
    wrangling, a numeric kernel over fixed-width vectors wants the
    columnar buffers directly.

    Per vector: n_dims, and the INTEGER micro-unit moments
    sum(floor(x_f64 * 1e6)) and sum(floor(x_f64 * 1e6)^2) — the
    quantizer pre-pass (scale calibration for int8 vector
    compression) computed exactly: float32 widens to float64
    losslessly, floor lands on integers, and integer sums are
    order-independent, so a DuckDB list_transform/list_sum oracle
    replays every value bit-for-bit (no float-summation tolerance
    anywhere).

    Execution: values buffer flattened once per batch, two
    vectorized numpy passes, per-list sums via add.reduceat on the
    list offsets — zero Python per-element work. Narrow map, no
    shuffle; at 100 TB this is scan-bound and embarrassingly
    parallel.
    """

    def kernel(batches):
        for batch in batches:
            if len(batch) == 0:
                continue
            flat, starts, lens, ok = _np_lists(batch.column(vec_col))
            # NULL list slots / NULL elements have no integer-exact
            # meaning here (a null list would silently become an
            # (n_dims=0, 0, 0) row, a null element a NaN whose
            # floor().astype(int64) is undefined garbage that can slip
            # past the overflow guard) — fail loudly instead of
            # emitting wrong values.
            if not ok.all():
                raise ValueError(
                    "vector_features_arrow: NULL embeddings / NULL "
                    "vector elements are not supported; filter or "
                    "impute them before the kernel"
                )
            micro = np.floor(flat * 1_000_000.0).astype(np.int64)
            # Segment sums as prefix-sum differences: exact for ANY
            # offsets pattern (empty lists anywhere, including the
            # batch tail) — np.add.reduceat mishandles both a trailing
            # offset == len(arr) and repeated offsets. Overflow guard,
            # in two tiers BEFORE any int64 squaring (squaring first
            # can wrap and make the check pass on garbage):
            # 1. per-element: |micro| must square inside int64;
            # 2. whole-batch: the cumsum-of-squares peak is the plain
            #    sum of squares (all terms >= 0), measured exactly
            #    enough via a float64 dot (rel. error ~1e-16 against a
            #    2x headroom limit of 2^62) — a worst-case
            #    size*max^2 bound would spuriously reject legitimate
            #    high-dim unit-NORM batches whose true sum is ~1e12
            #    per vector, not per element.
            m = int(np.abs(micro).max()) if micro.size else 0
            mf = micro.astype(np.float64)
            if m > 3_000_000_000 or (
                micro.size and float(np.dot(mf, mf)) >= float(1 << 62)
            ):
                raise OverflowError(
                    "vector_features_arrow: squared micro-units would "
                    "approach int64 range; rescale the vectors or "
                    "reduce the Arrow batch size"
                )
            sq = micro * micro
            cs = np.concatenate(([0], np.cumsum(micro)))
            cs2 = np.concatenate(([0], np.cumsum(sq)))
            sum_micro = cs[starts + lens] - cs[starts]
            sumsq_micro = cs2[starts + lens] - cs2[starts]
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": batch.column(id_col).cast(pa.int64()),
                    "n_dims": pa.array(lens, pa.int32()),
                    "sum_micro": pa.array(sum_micro, pa.int64()),
                    "sumsq_micro": pa.array(sumsq_micro, pa.int64()),
                }
            )

    # NOT spread (r11 A/B: 0.51s -> 0.91s with the widening exchange —
    # the vectorized Arrow kernel clears a small corpus faster
    # single-task than the exchange round-trip, the m-lane finding)
    return df.select(id_col, vec_col).mapInArrow(
        kernel, ARROW_FEATURES_SCHEMA
    )
