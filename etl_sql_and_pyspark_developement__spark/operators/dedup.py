"""Deduplication operators for LLM training-data pipelines.

Four tiers, from cheapest to fuzziest:
- exact: md5 of normalized text, one hash-groupBy shuffle.
- bag: md5 of the sorted token bag (catches reorderings), same cost.
- n-gram Jaccard: exact set similarity over word 3-gram shingles —
  the *verifier*, quadratic in candidate count, so only ever run on
  candidate pairs.
- MinHash + LSH: the 100 TB path. Shingle sets are built JVM-side
  (shingle_sets, one array per doc); signatures and band keys come
  from ONE vectorized Arrow kernel per batch (mapInArrow over the
  shingle arrays): two md5-derived 32-bit halves per shingle, then
  128 mixes minhash_j = min((a1_j*hi + a2_j*lo + b_j) mod p) in
  int64 numpy, packed into 32 band keys — a narrow map, no aggregate,
  no shuffle keyed by doc. Banding turns near-duplicate search into
  an equi-join on (band_id, band-tuple key) — the only shuffle — and
  candidates are then verified with exact Jaccard. Everything is
  deterministic md5 arithmetic, so the d03/d06 DuckDB oracles mirror
  the pipeline value-for-value.
- SimHash: 64-bit signature via per-bit weighted sums of token
  hashes; hamming-ball candidates found by 16-bit chunk equality
  (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 chunks equal).

The shingle vocabulary, each piece written once:
- textstats.tokens is the only whitespace split, and textstats.ngrams
  builds every word n-gram (shingles, positional spans, the corpus
  profile, t06's repetition grams, d18's novelty grams).
- shingle_sets (doc, shingles) is the only shingle frame. Every
  Jaccard / containment consumer takes one, or a minhash_signed frame,
  which carries it; _explode is its only exploded form and _sizes its
  only set size.
- _shared_pairs is the one df ≥ 2-pruned shared-shingle self-join
  (jaccard_pairs, containment_pairs), _overlap the one
  candidate-restricted intersection (prefix filter, LSH verify,
  index/delta screens), _with_sizes the one size join and _jaccard
  the one Jaccard ratio.

Reference note: the reference repo has no dedup surface — these are
the training-data-pipeline extensions SURVEY §2 lists as first-class.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_sql_and_pyspark_developement__spark.functions import hex_int
from etl_sql_and_pyspark_developement__spark.operators.spread import spread_small_scan
from etl_sql_and_pyspark_developement__spark.operators.textstats import (
    bag_fingerprint,
    exact_fingerprint,
    ngrams,
    tokens,
)
from etl_sql_and_pyspark_developement__spark.session import materialize

N_MINHASH = 128
N_BANDS = 32  # 32 bands x 4 rows

# The 128 per-seed hashes mix a FIXED-WIDTH base fingerprint computed
# once per shingle (two independent md5-derived 32-bit halves), not
# the shingle string: re-reading the variable-length UTF-8 bytes per
# seed is the dominant signature cost. The mix
#   mh_j = (a1_j*hi + a2_j*lo + b_j) mod p
# needs TWO independent halves to be a usable permutation family:
# with a single base value the mix is monotone in it, every seed picks
# the same min shingle, and LSH recall collapses (caught by the
# planted-pair recall test). With two halves the induced order varies
# with the (a1, a2) ratio per seed. Bounds: a, b < 2^29 and halves
# < 2^32, so the sum is < 2^62 + 2^29 < 2^63 — int64 numpy computes
# exactly what the DuckDB oracle's BIGINT arithmetic does (asserted
# below). md5 (not xxhash64) so the ENTIRE minhash/LSH pipeline is
# mirrorable in the DuckDB oracle.
_MERSENNE_P = (1 << 61) - 1
import random as _random

_rng = _random.Random(20240813)
_MIX_A1 = [_rng.randrange(1, 1 << 29) for _ in range(N_MINHASH)]
_MIX_A2 = [_rng.randrange(1, 1 << 29) for _ in range(N_MINHASH)]
_MIX_B = [_rng.randrange(0, 1 << 29) for _ in range(N_MINHASH)]
assert max(_MIX_A1 + _MIX_A2 + _MIX_B) < 1 << 29, "int64 mix bound"

# Shingles per kernel chunk (whole docs; a larger doc runs alone):
# bounds the (128 x shingles) int64 mix matrix at ~64 MB whatever the
# doc lengths (~1250 docs of the reference corpus per chunk).
_KERNEL_CHUNK_SHINGLES = 1 << 16


def shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    spread: bool = True,
) -> DataFrame:
    """(doc, shingles): each doc's DISTINCT word n-gram shingles as one
    array<string> — the package's only shingle frame. A doc with fewer
    than n tokens is one shingle (its whole token string); a NULL text
    is [NULL]. Doc ids are assumed unique.

    Tokenizes ONCE into a column before the n-gram lambda (see
    textstats.ngrams): an inline split inside the lambda would
    re-split per shingle index (O(tokens²) per doc — measured 3-4×
    slower end-to-end).

    The (id, text) projection is spread across the cluster first
    (spread_small_scan): a single-row-group corpus file otherwise
    serializes the shingle transform + signature kernel on one core
    (r11; no-op at real scale). Pass ``spread=False`` for frames that
    are SMALL BY CONSTRUCTION (delta batches, candidate-pruned verify
    sides) where the widening exchange is pure overhead — measured
    +0.8s on d22's per-batch frames.
    """
    proj = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__t"))
    if spread:
        proj = spread_small_scan(proj)
    toked = proj.select("doc", tokens(F.col("__t")).alias("__toks"))
    toks = F.col("__toks")
    shingles = F.when(
        F.size(toks) >= n, F.array_distinct(ngrams(toks, n))
    ).otherwise(F.array(F.array_join(toks, " ")))
    return toked.select("doc", shingles.alias("shingles"))


def _explode(sets: DataFrame) -> DataFrame:
    """(doc, shingle): a shingle-set frame's only exploded form."""
    return sets.select("doc", F.explode("shingles").alias("shingle"))


def _sizes(sets: DataFrame) -> DataFrame:
    """(doc, n_sh): a shingle-set frame's only set size, a BIGINT like
    the count it equals."""
    return sets.select("doc", F.size("shingles").cast("bigint").alias("n_sh"))


def _shared_pairs(sets: DataFrame, max_shingle_df: int | None = None) -> DataFrame:
    """(doc_a, doc_b, inter) for EVERY doc pair (doc_a < doc_b) sharing
    a shingle: the shared-shingle self-join, quadratic in colliding
    docs. Shingles unique to one doc can't intersect any pair, so they
    are dropped before the join (semantics-preserving; sizes still
    come from the full sets) — that removes the long tail of the
    shingle frequency distribution. `max_shingle_df` also drops
    shingles found in more docs than that (containment_pairs' hot-
    shingle cap)."""
    sh = _explode(sets)
    dfreq = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") >= 2)
    )
    if max_shingle_df is not None:
        dfreq = dfreq.filter(F.col("df_") <= max_shingle_df)
    shared = sh.join(dfreq.select("shingle"), "shingle")
    a, b = shared.alias("a"), shared.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def _overlap(
    cand: DataFrame, a: str, b: str, sets_a: DataFrame, sets_b: DataFrame
) -> DataFrame:
    """(a, b, inter, n_a, n_b) per candidate pair: shared shingles,
    joining shingle sets of candidate docs only, plus both set sizes."""
    inter = (
        cand.join(_explode(sets_a).withColumnRenamed("doc", a), a)
        .join(_explode(sets_b).withColumnRenamed("doc", b), [b, "shingle"])
        .groupBy(a, b)
        .agg(F.count("*").alias("inter"))
    )
    return _with_sizes(inter, a, b, sets_a, sets_b)


def _with_sizes(
    pairs: DataFrame, a: str, b: str, sets_a: DataFrame, sets_b: DataFrame
) -> DataFrame:
    """`pairs` plus n_a / n_b, the set sizes of its `a` and `b` docs."""
    return pairs.join(
        _sizes(sets_a).select(F.col("doc").alias(a), F.col("n_sh").alias("n_a")), a
    ).join(_sizes(sets_b).select(F.col("doc").alias(b), F.col("n_sh").alias("n_b")), b)


def _jaccard():
    """The Jaccard ratio of a pair carrying inter, n_a and n_b."""
    return F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))


def _mixes(halves):
    """(128, S) int64 matrix, row j = (a1_j*hi + a2_j*lo + b_j) mod p,
    for (S, 2) int64 (hi, lo) halves; exact (bound above). Hash-major,
    so the per-doc min reduces contiguous runs (2x faster)."""
    import numpy as np

    mix = np.multiply.outer(np.asarray(_MIX_A1, dtype=np.int64), halves[:, 0])
    mix += np.multiply.outer(np.asarray(_MIX_A2, dtype=np.int64), halves[:, 1])
    mix += np.asarray(_MIX_B, dtype=np.int64)[:, None]
    mix %= _MERSENNE_P
    return mix


def _signature_matrix(shingles):
    """(sig, ok) for an Arrow list<string> column of shingle sets:
    sig[i, j] = min over doc i's non-NULL shingles s of mix_j(hi, lo),
    hi/lo = the first two big-endian 32-bit words of md5(UTF-8 bytes
    of s), Spark's hex_int(md5(s)) and hex_int(md5(s), 9). ok[i] is
    False (signature NULL, the SQL min over no values) where doc i has
    no non-NULL shingle."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(shingles)
    lens = pc.list_value_length(shingles).fill_null(0).to_numpy(zero_copy_only=False)
    flat = shingles.flatten()  # honours slicing and NULL lists
    valid = flat.is_valid().to_numpy(zero_copy_only=False)
    digests = b""
    if len(flat):  # md5 straight off the Arrow UTF-8 buffers
        _, obuf, dbuf = flat.buffers()
        odt = np.int64 if pa.types.is_large_string(flat.type) else np.int32
        o = np.frombuffer(obuf, odt)[flat.offset : flat.offset + len(flat) + 1].tolist()
        data = memoryview(dbuf if dbuf is not None else b"")
        md5 = hashlib.md5
        digests = b"".join(
            md5(data[o[k] : o[k + 1]]).digest() for k in np.flatnonzero(valid).tolist()
        )
    halves = np.frombuffer(digests, ">u4").reshape(-1, 4)[:, :2].astype(np.int64)
    # per-doc offsets into the valid shingles
    vo = np.concatenate(([0], np.cumsum(valid)))[np.concatenate(([0], np.cumsum(lens)))]
    ok = np.diff(vo) > 0
    sig = np.zeros((n, N_MINHASH), dtype=np.int64)
    c0 = 0
    while c0 < n:
        end = np.searchsorted(vo, vo[c0] + _KERNEL_CHUNK_SHINGLES, "right") - 1
        c1 = min(n, max(c0 + 1, int(end)))
        docs = np.flatnonzero(ok[c0:c1]) + c0
        if docs.size:  # docs without valid shingles own no columns
            sig[docs] = np.minimum.reduceat(
                _mixes(halves[vo[c0] : vo[c1]]), vo[docs] - vo[c0], axis=1
            ).T
        c0 = c1
    return sig, ok


def _minhash_kernel(batches):
    """mapInArrow: (doc, shingles) -> (doc, shingles, sig, bands). sig =
    the 128 minhash values; bands = the N_BANDS keys, each packing its
    band's 4 values (15 low bits apiece) into one BIGINT. A doc with a
    NULL signature gets NULL elements (the SQL form's all-NULL row):
    its bands never join."""
    import numpy as np
    import pyarrow as pa

    rows = N_MINHASH // N_BANDS
    shifts = np.arange(rows, dtype=np.int64) * 15

    def arrays(values, ok):
        n, w = values.shape
        return pa.ListArray.from_arrays(
            pa.array(np.arange(0, w * (n + 1), w), pa.int32()),
            pa.array(values.ravel(), pa.int64(), mask=np.repeat(~ok, w)),
        )

    for batch in batches:
        sig, ok = _signature_matrix(batch.column("shingles"))
        keys = ((sig & 0x7FFF).reshape(len(sig), N_BANDS, rows) << shifts).sum(axis=2)
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc"), batch.column("shingles"), arrays(sig, ok), arrays(keys, ok)],
            ["doc", "shingles", "sig", "bands"],
        )


def minhash_signed(sets: DataFrame) -> DataFrame:
    """(doc, shingles, sig, bands): a shingle_sets frame plus its MinHash
    signature and LSH band keys, from ONE vectorized Arrow kernel
    (_minhash_kernel: a narrow mapInArrow — no aggregate, no shuffle
    keyed by doc). Values equal 128 SQL min aggregates of
    pmod(a1_j*hi + a2_j*lo + b_j, p) and the packed band sums (parity
    test in tests/test_dedup.py). Materialized once, it feeds bands,
    sizes and the Jaccard verify."""
    doc_type = sets.schema["doc"].dataType.simpleString()
    return sets.select("doc", "shingles").mapInArrow(
        _minhash_kernel,
        f"doc {doc_type}, shingles array<string>, sig array<bigint>, bands array<bigint>",
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, sets: DataFrame | None = None
) -> DataFrame:
    """(doc, sig): the 128 minhash values per doc as one array<bigint>,
    computed by the Arrow kernel of minhash_signed (128 NULLs for a NULL
    text). Pass ``sets`` to reuse a caller's shingle_sets frame."""
    if sets is None:
        sets = shingle_sets(df, id_col, text_col, n)
    return minhash_signed(sets).select("doc", "sig")


def minhash_bands(signed: DataFrame) -> DataFrame:
    """(doc, band_id, band_hash) LSH band table: the explode of a
    minhash_signed frame's band keys, N_BANDS rows per doc.

    band key = the 4 minhash values packed into ONE BIGINT (15 low
    bits each, 60 bits total). Packing can only MERGE distinct tuples
    (extra candidates, filtered by the exact Jaccard verify — results
    unchanged), never split equal ones, and the same shift arithmetic
    exists in DuckDB, so the d03/d06 oracles mirror the candidate set
    exactly. A long key shuffles ~10x fewer bytes than the
    concatenated-tuple string and avoids Spark-only xxhash64.
    """
    return signed.select("doc", F.posexplode("bands").alias("band_id", "band_hash"))


def exact_dedup_stats(
    df: DataFrame, id_col: str, text_col: str, group_col: str
) -> DataFrame:
    """Per-group exact + bag dedup statistics (n_docs vs n_unique)."""
    # NOT spread (r11): interleaved A/B measured the widening exchange
    # at +0.33s here — the fingerprint map work is light and the
    # groupBy's partial aggregation already parallelizes
    keyed = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("doc"),
        exact_fingerprint(text_col).alias("exact_fp"),
        bag_fingerprint(text_col).alias("bag_fp"),
    )
    return (
        keyed.groupBy("grp")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("exact_fp").alias("n_unique_exact"),
            F.countDistinct("bag_fp").alias("n_unique_bag"),
        )
        .withColumn(
            "exact_dup_pct",
            F.round((F.col("n_docs") - F.col("n_unique_exact")) * 100.0 / F.col("n_docs"), 4),
        )
        .withColumn(
            "bag_dup_pct",
            F.round((F.col("n_docs") - F.col("n_unique_bag")) * 100.0 / F.col("n_docs"), 4),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard over ALL pairs sharing ≥1 shingle.

    Quadratic in colliding docs — the small-data oracle / verifier.
    At scale use minhash_lsh_pairs, which feeds only LSH candidates
    into this same verification math.

    Pass ``sets`` (an ALREADY-MATERIALIZED shingle_sets or
    minhash_signed frame) to share one shingle pass with sibling
    consumers — same contract as jaccard_pairs_prefix's ``sets``.
    """
    # The sets feed sizes AND both sides of the pair join — materialize
    # them so the tokenize+shingle transform runs once, not three times.
    if sets is None:
        sets = materialize(shingle_sets(df, id_col, text_col, n))
    return (
        _with_sizes(_shared_pairs(sets), "doc_a", "doc_b", sets, sets)
        .withColumn("jaccard", F.round(_jaccard(), 6))
        .select("doc_a", "doc_b", "inter", "n_a", "n_b", "jaccard")
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Threshold-Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin
    family): losslessly prunes the candidate join that jaccard_pairs
    runs over every shared shingle.

    Order each doc's shingles by ascending global document frequency;
    two docs with Jaccard >= t MUST share a shingle within each one's
    first (|d| - ceil(t*|d|) + 1) rarest shingles — if they only met
    beyond the prefix, the overlap could be at most |d| - prefix_len <
    t*|d|. So the candidate join runs on prefixes only, and the exact
    verification (full shingle sets) runs on candidates only. Hot
    shingles (common trigrams) are high-frequency, sort LAST, and fall
    OUT of prefixes — exactly the keys that explode the naive
    self-join quadratically.

    Scale: one extra aggregation (global shingle DF) + a per-doc
    ranking window buy a quadratically smaller candidate join. The
    crossover is real: at the 5k-doc test corpus the extra passes
    COST more than they save (measured 5.8s vs 2.7s at sf0.1), so the
    d-queries keep the plain join; at Zipfian-vocabulary corpora of
    10^6+ docs the hot-shingle candidate blowup dominates everything
    and this is the only exact formulation that survives. Results are
    IDENTICAL to jaccard_pairs(...).filter(jaccard >= t) — asserted
    in tests/test_dedup.py at three thresholds.

    Pass ``sets`` (an ALREADY-MATERIALIZED shingle_sets or
    minhash_signed frame) to share one shingle pass with sibling
    consumers — the d21/d23 evaluation lanes build signatures AND
    exact truth from the same sample, and without sharing each
    pipeline pays its own tokenize+shingle pass (values unchanged,
    the frame is the same either way).
    """
    if sets is None:
        sets = materialize(shingle_sets(df, id_col, text_col, n))
    sh, sizes = _explode(sets), _sizes(sets)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    # rank shingles within each doc, rarest first (deterministic ties)
    ranked = (
        sh.join(freq, "shingle")
        .join(sizes, "doc")
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("doc").orderBy("df_", "shingle")
            ),
        )
    )
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    prefixes = ranked.filter(F.col("__r") <= prefix_len).select("doc", "shingle")
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    return (
        _overlap(candidates, "doc_a", "doc_b", sets, sets)
        .withColumn("jaccard", F.round(_jaccard(), 6))
        .filter(_jaccard() >= threshold)
        .select("doc_a", "doc_b", "inter", "n_a", "n_b", "jaccard")
    )


def cap_hot_bands(banded: DataFrame, max_band_df: int) -> DataFrame:
    """Drop LSH band buckets shared by more than `max_band_df` docs
    before the candidate self-join — the hot-bucket guard for
    pathological corpora (boilerplate/templated text can collapse a
    band value onto millions of docs, turning the bucket join into a
    quadratic blowup: 10⁶ docs in one bucket = 10¹² candidate pairs).

    Dropping a hot bucket trades recall for boundedness the standard
    way: a TRUE near-dup pair sharing a dropped band almost always
    collides in another of its 32 bands, and docs that only ever meet
    in mega-buckets are boilerplate-similar, not near-duplicates.
    Pair work after the cap is bounded by 32·n·max_band_df/2. The
    same pigeonhole-capping applies to simhash chunks and phash
    chunks (multimodal.phash_neardup_pairs). Capped + lossless-below-
    cap behavior is asserted in tests/test_dedup.py.
    """
    counts = banded.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("__df")
    )
    return (
        banded.join(
            counts.filter(F.col("__df") <= max_band_df),
            ["band_id", "band_hash"],
        )
        .drop("__df")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_band_df: int | None = None,
    signed: DataFrame | None = None,
) -> DataFrame:
    """CONTENT-based candidate pairs from MinHash-LSH band collisions,
    WITHOUT the Jaccard verify — the reusable blocking stage for any
    pairwise verifier (bounded levenshtein in d05, exact Jaccard in
    d03 via minhash_lsh_pairs). Two docs become a candidate pair iff
    they share all 4 minhash values of at least one band — a function
    of their TEXT, so near-identical docs are found regardless of how
    far apart their ids are (the property id-range blocking lacks).

    Scale: signatures and band keys are one narrow kernel map
    (minhash_signed); the self-join is an equi-join on (band_id,
    band_hash) — bucketed, never all-pairs. Pass `max_band_df` to arm
    the hot-bucket guard (cap_hot_bands) on corpora with
    templated/boilerplate text, which bounds per-bucket pair work at
    the cost of mega-bucket recall. Pass ``signed`` (an
    already-materialized minhash_signed frame) to share one kernel
    pass with sibling consumers (d03's verify, d21's exact truth).
    """
    if signed is None:
        # both self-join sides read it — materialize so the kernel
        # does not execute once PER SIDE
        signed = materialize(minhash_signed(shingle_sets(df, id_col, text_col, n)))
    banded = minhash_bands(signed)
    if max_band_df is not None:
        banded = cap_hot_bands(banded, max_band_df)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_band_df: int | None = None,
) -> DataFrame:
    """MinHash+LSH candidate generation → exact Jaccard verification.

    Scale path: signatures and bands are one narrow kernel map over
    the shingle sets (32 band rows per doc); the bucket self-join is
    the only wide shuffle, keyed by (band_id, band_hash) which is
    uniform by construction (hash values) on natural text —
    templated/boilerplate corpora can still collapse a band value onto
    many docs, so `max_band_df` arms the cap_hot_bands guard.
    Verification touches only candidate pairs.
    """
    # ONE materialized kernel pass feeds both band self-join sides, the
    # sizes, and candidate verification (the shingle sets ride along).
    signed = materialize(minhash_signed(shingle_sets(df, id_col, text_col, n)))
    candidates = lsh_candidate_pairs(
        df, id_col, text_col, n, max_band_df=max_band_df, signed=signed
    )
    # Verify candidates with exact Jaccard.
    return (
        _overlap(candidates, "doc_a", "doc_b", signed, signed)
        .withColumn("jaccard", F.round(_jaccard(), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash as 4×16-bit chunks (c0..c3).

    Per-bit weighted sums of token-hash bits, computed as 64
    conditional-sum aggregates (JVM partial agg); chunking enables the
    pigeonhole candidate join (hamming ≤ 3 ⇒ some chunk equal).

    The token hash is two md5-derived 32-bit halves rather than
    xxhash64: identical hex arithmetic exists in DuckDB, so the WHOLE
    simhash pipeline — signatures, chunk candidates, hamming verify —
    is mirrored by the d04 oracle value-for-value (same pattern as
    d08/s02's deterministic-LSH oracles). Two halves, never combined:
    hi*2^32+lo would overflow BIGINT under ANSI mode.
    """
    toks = (
        spread_small_scan(
            df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__t"))
        )
        .select("doc", F.explode(tokens(F.col("__t"))).alias("tok"))
        .withColumn("__md5", F.md5("tok"))
        .withColumn("hi", hex_int(F.col("__md5")))
        .withColumn("lo", hex_int(F.col("__md5"), 9))
    )
    # Single F.expr per column: composing these 64 sums + 4 chunk
    # folds operator-by-operator through py4j costs ~1.5s of query
    # construction; one parse call each is ~50ms total.
    bit_sums = [
        F.expr(
            "sum(case when (({col} >> {sh}) & 1) = 1 then 1 else -1 end)".format(
                col="lo" if b < 32 else "hi", sh=b if b < 32 else b - 32
            )
        ).alias(f"s_{b}")
        for b in range(64)
    ]
    sums = toks.groupBy("doc").agg(*bit_sums)
    chunks = [
        F.expr(
            "cast("
            + " + ".join(
                f"(case when s_{16 * c + b} > 0 then {1 << b} else 0 end)"
                for b in range(16)
            )
            + " as bigint)"
        ).alias(f"c{c}")
        for c in range(4)
    ]
    return sums.select("doc", *chunks)


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ max_hamming.

    Candidates come from an EQUI-join on exploded (chunk_id, chunk
    value) rows — pigeonhole guarantees hamming ≤ 3 pairs share a
    chunk. An OR-of-equalities join condition would have degenerated
    into a nested-loop join (quadratic at scale); exploding 4 narrow
    rows per doc keeps it a hash join.
    """
    return _chunk_hamming_pairs(
        simhash_signatures(df, id_col, text_col), "doc", max_hamming
    )


def _chunk_hamming_pairs(
    sigs: DataFrame, id_col: str, max_hamming: int | None
) -> DataFrame:
    """(doc_a, doc_b, hamming) over 64-bit signatures stored as four
    16-bit chunks c0..c3, keyed by `id_col`: candidates are pairs that
    share a (chunk_id, chunk_val), scored by popcount of the xor.
    `max_hamming=None` keeps every candidate."""
    # `sigs` feeds FOUR subtrees (both chunk-join sides + sa + sb);
    # unmaterialized, the signature build would run four times.
    sigs = materialize(sigs)
    chunks = sigs.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"), F.col(f"c{c}").alias("chunk_val")
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("doc", "ch.chunk_id", "ch.chunk_val")
    a = chunks.alias("a")
    b = chunks.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(
        F.col(id_col).alias("doc_a"), *[F.col(f"c{c}").alias(f"a_c{c}") for c in range(4)]
    )
    sb = sigs.select(
        F.col(id_col).alias("doc_b"), *[F.col(f"c{c}").alias(f"b_c{c}") for c in range(4)]
    )
    hamming = sum(F.bit_count(F.expr(f"a_c{c} ^ b_c{c}")) for c in range(4))
    scored = (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", hamming)
    )
    if max_hamming is not None:
        scored = scored.filter(F.col("hamming") <= max_hamming)
    return scored.select("doc_a", "doc_b", "hamming")


def dedup_components(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-duplicate pairs: (doc, component)
    where component = the smallest doc id reachable through the pair
    graph. Turns pairwise dedup output into dedup GROUPS, from which a
    pipeline keeps one canonical doc per component.

    Iterative min-label propagation PLUS pointer jumping: each round
    (1) every node adopts the smallest label in its neighborhood
    (moves labels ONE hop — alone this would be O(diameter) rounds),
    then (2) every node re-points its label to its label's label
    (component := label(component)), which doubles the distance a
    label has travelled — together O(log(diameter)) rounds, the
    Hash-to-Min-style guarantee. Near-dup clusters are tiny
    (stars/cliques, diameter ≤ 3), so 2 rounds in practice, but long
    chains (e.g. pairwise-similar doc series) stay cheap too. The
    loop is driver-side control flow over fully distributed steps
    (joins + min aggregations). If the loop exhausts
    ``max_iterations`` without converging it RAISES — a silently
    wrong component assignment is the worst failure mode a dedup
    pipeline can have (it deletes the wrong docs).

    Iteration frames are materialized: each round would otherwise
    re-analyze a lineage that grows by two joins per iteration.
    """
    # The union reads `pairs` twice; unmaterialized, the whole
    # upstream pair pipeline (e.g. MinHash-LSH) executes twice just to
    # build the edge set — measured 2x the d06 runtime.
    pairs = materialize(pairs)
    edges = materialize(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
    )
    # Init fuses the FIRST adopt step (r11): component starts as
    # min(self, direct neighbors) — one groupBy, the same cost as the
    # old distinct-self init, but one propagation hop already done.
    # Star/clique-shaped near-dup components (the common case) then
    # converge one full loop iteration (≈4 jobs) earlier; the fixpoint,
    # convergence test, and raise-on-budget semantics are unchanged.
    labels = materialize(
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("component"))
        .select(F.col("src").alias("doc"), "component")
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = labels.join(
            neighbor_min, labels.doc == neighbor_min.src, "left"
        ).select(
            "doc",
            F.col("component").alias("__old"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
        )
        # Pointer jump: component := label(component). Every label is
        # itself a doc id present in `updated`, so a self-lookup
        # doubles how far a small label has propagated — this is what
        # buys O(log d) instead of O(d) rounds on chains.
        lk = updated.select(
            F.col("doc").alias("__c"), F.col("component").alias("__cc")
        )
        # Carry old + new label in ONE materialized frame so the
        # convergence check is a filter over it, not a second join.
        jumped = materialize(
            updated.join(lk, updated.component == lk.__c, "left")
            .select(
                "doc",
                "__old",
                F.coalesce(F.col("__cc"), F.col("component")).alias("component"),
            )
        )
        changed = (
            jumped.filter(F.col("component") != F.col("__old")).limit(1).count()
        )
        labels = jumped.select("doc", "component")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_components did not converge in {max_iterations} "
            "iterations — refusing to return a partially-propagated "
            "labeling (it would assign wrong dedup groups). Raise "
            "max_iterations; O(log(graph diameter)) rounds suffice."
        )
    return labels.select("doc", "component")


def contamination_check(
    df: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str = "split",
    test_value: str = "test",
    n: int = 3,
) -> DataFrame:
    """Train→test contamination screen (decontamination): for every
    TEST doc sharing ≥1 n-gram shingle with any TRAIN doc, report the
    best-matching train doc and the CONTAINMENT ratio
    |shared shingles| / |test-doc shingles| — asymmetric by design (a
    test doc quoted verbatim inside a larger train doc has low Jaccard
    but containment 1.0; the classic GPT-3 13-gram decontamination is
    this same asymmetric screen), plus an exact-hash duplicate flag.

    Scale: the cross-split shingle equi-join is the only wide stage
    (one shuffle on the shingle key). At 10⁹-doc corpora, generate
    candidates with minhash_lsh_pairs and keep cross-split pairs — the
    per-pair verification arithmetic here is unchanged.
    """
    test = df.filter(F.col(split_col) == test_value)
    train = df.filter(F.col(split_col) != test_value)
    # test-side sets feed sizes AND the overlap join — materialize.
    sets_t = materialize(shingle_sets(test, id_col, text_col, n))
    sh_r = _explode(shingle_sets(train, id_col, text_col, n)).withColumnRenamed(
        "doc", "train_doc"
    )
    shared = (
        _explode(sets_t)
        .join(sh_r, "shingle")
        .groupBy("doc", "train_doc")
        .agg(F.count("*").alias("shared"))
    )
    w = Window.partitionBy("doc").orderBy(F.desc("shared"), "train_doc")
    best = (
        shared.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") == 1)
        .drop("__rnk")
    )
    t_fp = test.select(
        F.col(id_col).alias("doc"), exact_fingerprint(text_col).alias("fp")
    )
    r_fp = (
        train.select(exact_fingerprint(text_col).alias("fp"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    flags = t_fp.join(r_fp, "fp", "left").select(
        "doc", F.coalesce(F.col("__hit"), F.lit(0)).alias("exact_dup")
    )
    return (
        best.join(_sizes(sets_t), "doc")
        .join(flags, "doc")
        .select(
            "doc",
            "n_sh",
            "train_doc",
            "shared",
            F.round(F.col("shared") / F.col("n_sh"), 6).alias("containment"),
            "exact_dup",
        )
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    min_span_tokens: int = 6,
) -> DataFrame:
    """Exact-substring duplication screen (the distributed form of
    suffix-array exact-substring dedup, per Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    positional word k-grams matched across documents, then chained
    into MAXIMAL shared spans.

    Two docs sharing a run of m consecutive k-grams share a substring
    of m + k - 1 tokens. Matches lie on a diagonal (pos_a - pos_b =
    const); within a (pair, diagonal) group, consecutive positions
    merge into one span via the lag-gap + running-sum pattern (the
    same sessionization shape as q03). Spans shorter than
    `min_span_tokens` are noise on a small-vocabulary corpus and are
    dropped after measurement.

    Returns one row per (doc_a, doc_b) pair with n_spans,
    max_span_tokens, total_span_tokens.

    Scale: the gram frame is materialized (feeds both join sides);
    k-grams occurring in a single document are pruned before the
    self-join — semantics-preserving (they cannot produce a cross-doc
    match) and it removes the long tail. The join key is a k-token
    string — high-cardinality, skew-free for k >= 4; the span window
    partitions by (pair, diagonal), never globally. No UDFs.
    """
    toked = spread_small_scan(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__t"))
    ).select("doc", tokens(F.col("__t")).alias("__toks"))
    # posexplode's 0-based positions: only their differences (diagonal,
    # run breaks) reach the output
    grams = materialize(
        toked.select("doc", F.posexplode(ngrams(F.col("__toks"), k)).alias("pos", "gram"))
    )
    # "appears in >= 2 distinct docs" == min(doc) != max(doc): same
    # predicate as count_distinct >= 2 but with cheap decomposable
    # partials instead of a two-phase distinct aggregation.
    cross_doc = (
        grams.groupBy("gram")
        .agg(F.min("doc").alias("_lo"), F.max("doc").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("gram")
    )
    gs = grams.join(cross_doc, "gram")
    a, b = gs.alias("a"), gs.alias("b")
    matches = a.join(
        b,
        (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc") < F.col("b.doc")),
    ).select(
        F.col("a.doc").alias("doc_a"),
        F.col("b.doc").alias("doc_b"),
        F.col("a.pos").alias("pos_a"),
        F.col("b.pos").alias("pos_b"),
    )
    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    w = Window.partitionBy("doc_a", "doc_b", diag).orderBy("pos_a")
    runs = matches.withColumn(
        "brk",
        F.when(F.lag("pos_a").over(w) == F.col("pos_a") - 1, 0).otherwise(1),
    ).withColumn(
        "span_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    spans = (
        runs.groupBy("doc_a", "doc_b", (F.col("pos_a") - F.col("pos_b")).alias("diag"), "span_id")
        .agg((F.count("*") + (k - 1)).alias("span_tokens"))
        .filter(F.col("span_tokens") >= min_span_tokens)
    )
    return spans.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_spans"),
        F.max("span_tokens").alias("max_span_tokens"),
        F.sum("span_tokens").alias("total_span_tokens"),
    )


def corpus_dup_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    n: int = 5,
) -> DataFrame:
    """Corpus-level duplication audit over word n-grams — the
    measurement that decides WHETHER a corpus needs dedup before the
    expensive pairwise machinery runs (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", report dup fractions
    first for exactly this reason). Per group:

    - total_grams / distinct_grams: occurrence vs type counts
    - dup_occ_ppm:    fraction of gram occurrences that are repeats of
                      an earlier occurrence (1e6·(total−distinct)/total)
    - cross_doc_ppm:  fraction of occurrences whose gram appears in ≥2
                      distinct docs — the between-doc duplication that
                      pairwise dedup would remove (within-doc repeats
                      are t06's repetition signal instead)

    Integer-ppm arithmetic end to end (bit-exact vs the oracle).

    Scale: ONE explode pass → (group, gram, doc) partial count →
    (group, gram) rollup → per-group rollup. Shuffle keys are
    high-cardinality grams (skew-free); the final rollup is
    |groups|-sized. Linear in corpus size, never pairwise.
    """
    base = spread_small_scan(
        df.select(
            F.col(group_col).alias("grp"),
            F.col(id_col).alias("doc"),
            F.col(text_col).alias("__t"),
        )
    ).select("grp", "doc", tokens(F.col("__t")).alias("_toks"))
    grams = base.select(
        "grp", "doc", F.explode(ngrams(F.col("_toks"), n)).alias("gram")
    )
    per_gram_doc = grams.groupBy("grp", "gram", "doc").agg(
        F.count("*").alias("occ")
    )
    per_gram = per_gram_doc.groupBy("grp", "gram").agg(
        F.sum("occ").alias("cnt"), F.count("*").alias("n_docs_with")
    )
    profile = per_gram.groupBy("grp").agg(
        F.sum("cnt").alias("total_grams"),
        F.count("*").alias("distinct_grams"),
        F.sum(F.when(F.col("n_docs_with") >= 2, F.col("cnt")).otherwise(0)).alias(
            "__crossdoc_occ"
        ),
    )
    n_docs = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").alias("n_docs")
    )
    return (
        profile.join(n_docs, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "total_grams",
            "distinct_grams",
            F.expr(
                "1000000 * (total_grams - distinct_grams) div total_grams"
            ).alias("dup_occ_ppm"),
            F.expr("1000000 * __crossdoc_occ div total_grams").alias(
                "cross_doc_ppm"
            ),
        )
    )


def _segments(
    df: DataFrame, id_col: str, text_col: str, seg_words: int
) -> DataFrame:
    """(doc, pos, seg, fp): non-overlapping `seg_words`-token chunks
    with position and md5 fingerprint — the one segmentation of
    boilerplate_index and boilerplate_apply (the batch scrub d13 and
    the streaming gate st13).

    NOT spread (r11): the interleaved A/B measured the widening
    exchange at +0.46s on d13 — the chunk transform is light and the
    doc-frequency groupBy's partial aggregation parallelizes the
    heavy half already."""
    base = df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("_toks"))
    n_chunks = F.ceil(F.size("_toks") / F.lit(seg_words)).cast("int")
    return base.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice("_toks", i * seg_words + 1, seg_words), " "
                ),
            )
        ).alias("pos", "seg"),
    ).withColumn("fp", F.md5("seg"))


def boilerplate_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 8,
    min_docs: int = 10,
) -> DataFrame:
    """The boilerplate-fingerprint set of a STATIC reference corpus:
    md5 fps of every `seg_words`-token segment found in ≥ `min_docs`
    distinct corpus docs. Build and persist once; reuse across every
    screened batch/micro-batch (st13) — same never-rescan contract as
    corpus_neardup_index. Tiny by construction (only fps crossing the
    threshold), so the per-batch anti-join broadcasts it."""
    return (
        _segments(corpus, id_col, text_col, seg_words)
        .select("doc", "fp")
        .distinct()
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs_with"))
        .filter(F.col("n_docs_with") >= min_docs)
        .select("fp")
    )


def boilerplate_apply(
    batch: DataFrame,
    boiler: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 8,
) -> DataFrame:
    """Scrub a batch against a prebuilt boilerplate index: drop every
    segment whose fp is in `boiler`, reassemble survivors in order.
    Returns (id, n_segs, n_removed, clean_text) — clean_text is ''
    when the whole doc was boilerplate. Per-batch cost ∝ batch
    (segment explode + broadcast anti-join + per-doc groupBy); the
    corpus is never rescanned."""
    segs = _segments(batch, id_col, text_col, seg_words)
    kept = segs.join(F.broadcast(boiler), "fp", "left_anti")
    totals = segs.groupBy("doc").agg(F.count("*").alias("n_segs"))
    reassembled = kept.groupBy("doc").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return totals.join(reassembled, "doc", "left").select(
        F.col("doc").alias(id_col),
        "n_segs",
        (F.col("n_segs") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def boilerplate_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 8,
    min_docs: int = 10,
) -> DataFrame:
    """Corpus-wide duplicated-segment removal (CCNet-style line dedup,
    Wenzek et al. 2020): drop every fixed-width token segment that
    occurs in ≥ `min_docs` DISTINCT documents (navigation chrome,
    cookie banners, license footers — the boilerplate that survives
    document-level dedup because the documents AROUND it differ), then
    reassemble each document's surviving segments in original order.

    Complements d10 (duplicated_spans): d10 finds shared spans between
    candidate PAIRS (pairwise join); this removes corpus-frequency
    boilerplate with NO pairwise machinery at all — linear passes only,
    which is why CCNet runs it over Common Crawl before anything
    pairwise is attempted.

    Per doc: n_segs, n_removed, removed_ppm (integer), and clean_fp =
    md5 of the reassembled text (md5('') when every segment was
    boilerplate) — value-verifiable without shipping full text.

    The scrub is boilerplate_index over the corpus itself, then
    boilerplate_apply. Scale (100 TB): four linear passes, never
    pairwise —
    1. chunk+explode into (doc, pos, seg) — narrow;
    2. doc-frequency count on md5(seg): partial-agg (the distinct
       (doc, fp) pre-step shuffles on high-cardinality fp — skew-free
       even when one banner is in every doc, because partial
       aggregation collapses per-task before the exchange);
    3. left_anti join segments × boiler-fp set on fp — the boiler set
       is tiny by construction (only fps crossing `min_docs`), so it
       broadcasts;
    4. per-doc reassembly groupBy: collect_list bounded by the doc's
       own segment count — the same size bound as the source row.
    """
    boiler = boilerplate_index(df, id_col, text_col, seg_words, min_docs)
    return boilerplate_apply(df, boiler, id_col, text_col, seg_words).select(
        id_col,
        "n_segs",
        "n_removed",
        F.expr("1000000 * n_removed div n_segs").alias("removed_ppm"),
        F.md5("clean_text").alias("clean_fp"),
    )


def corpus_neardup_index(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> dict[str, DataFrame]:
    """Precomputed (and persisted) artifacts for screening arriving
    documents against a STATIC reference corpus: the LSH band table
    and the signed shingle sets. Build once, reuse across every
    screened batch/micro-batch — the historical corpus is never
    rescanned (the same never-rescan contract as st08's exact-
    fingerprint ingest, lifted to NEAR-duplicates)."""
    signed = minhash_signed(shingle_sets(corpus, id_col, text_col, n)).persist()
    return {"bands": minhash_bands(signed), "sets": signed}


def neardup_screen(
    batch: DataFrame,
    index: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    cache_handles: list | None = None,
) -> DataFrame:
    """Drop every batch document with a verified near-duplicate in the
    indexed corpus; returns the surviving batch rows unchanged.

    Same machinery as minhash_lsh_pairs, but CROSS-corpus: candidates
    come from shared (band_id, band_hash) buckets between the batch
    band table and the corpus index, then exact Jaccard over shingle
    sets verifies ≥ threshold. Batch-side cost is proportional to the
    BATCH size (signatures + bucket probe + candidate verify), never
    to the corpus — the property that makes continuous-crawl ingest
    sustainable at 100 TB corpora.

    The batch's signed shingle frame is persisted (it feeds the bands,
    sizes, and the verify join). Long-running callers (st10's
    per-micro-batch loop) MUST pass `cache_handles` and unpersist them
    once the result is materialized — otherwise each batch leaks one
    cached DataFrame of executor storage.
    """
    # micro-batch frames are batch-sized — skip the widening exchange
    signed_b = minhash_signed(
        shingle_sets(batch, id_col, text_col, n, spread=False)
    ).persist()
    if cache_handles is not None:
        cache_handles.append(signed_b)
    candidates = (
        minhash_bands(signed_b)
        .join(index["bands"].withColumnRenamed("doc", "c_doc"), ["band_id", "band_hash"])
        .filter(F.col("doc") != F.col("c_doc"))
        .select("doc", "c_doc")
        .distinct()
    )
    dup_ids = (
        _overlap(candidates, "doc", "c_doc", signed_b, index["sets"])
        .filter(_jaccard() >= threshold)
        .select(F.col("doc").alias(id_col))
        .distinct()
    )
    return batch.join(dup_ids, id_col, "left_anti")


# ---------------------------------------------------------------------------
# URL canonicalization (d14) — the crawl-pipeline dedup stage BEFORE any
# content hashing: normalize scheme/host/port/path/params/fragment, then
# one groupBy on the canonical form. All codegen string expressions, one
# shuffle total. The planted-URL generator and the normalizer are built
# from the same dialect-parameterized template so the DuckDB oracle runs
# structurally identical SQL (bit-exact parity).
# ---------------------------------------------------------------------------

_URL_DIALECTS = {
    "spark": {
        "idiv": "DIV",
        "str": "STRING",
        "split": "split({s}, '&')",
        "filter": "filter({l}, x -> NOT startswith(x, 'utm_'))",
        "sort": "array_sort({l})",
        "join": "concat_ws('&', {l})",
    },
    "duckdb": {
        "idiv": "//",
        "str": "VARCHAR",
        "split": "string_split({s}, '&')",
        "filter": "list_filter({l}, x -> NOT starts_with(x, 'utm_'))",
        "sort": "list_sort({l})",
        "join": "array_to_string({l}, '&')",
    },
}


def url_planted_sql(dialect: str = "spark") -> str:
    """Deterministic synthetic URL per doc (the documents table carries
    no URL column; like t09's planted PII, both engines derive the SAME
    messy URLs so the normalizer is value-verified): mixed-case scheme/
    host, www. prefixes, :80 ports, trailing slashes, utm_* tracking
    params, unsorted param order, fragments. Host AND path derive from
    doc_id DIV 7, so each run of 7 ids aims at one page through several
    different messes — the normalizer must actually collapse them into
    dedup groups (group sizes asserted in tests/test_dedup.py)."""
    d = _URL_DIALECTS[dialect]
    host = f"'site' || CAST(doc_id {d['idiv']} 7 % 5 AS {d['str']})"
    return (
        "(CASE WHEN doc_id % 3 = 0 "
        f"THEN 'HTTP://WWW.' || upper({host}) || '.EXAMPLE.COM' "
        f"ELSE 'https://' || {host} || '.example.com' END "
        "|| CASE WHEN doc_id % 6 = 1 THEN ':80' ELSE '' END "
        f"|| '/articles/' || CAST(doc_id {d['idiv']} 7 AS {d['str']}) "
        "|| CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END "
        "|| CASE doc_id % 4 "
        "WHEN 0 THEN '?ref=en&zz=2&utm_source=feed' "
        "WHEN 1 THEN '?utm_campaign=x&zz=2&ref=en' "
        "WHEN 2 THEN '?ref=en' "
        "ELSE '' END "
        "|| CASE WHEN doc_id % 5 = 0 THEN '#section2' ELSE '' END)"
    )


def url_canonical_sql(url: str, dialect: str = "spark") -> str:
    """Canonicalize ``url`` (a SQL string expression): force https,
    lowercase host, strip www./:80, strip trailing slash and fragment,
    drop utm_* params, sort surviving params. Pure string codegen —
    no UDF, no shuffle."""
    d = _URL_DIALECTS[dialect]
    stripped = f"regexp_replace({url}, '#.*$', '')"
    host = (
        f"regexp_replace(regexp_replace("
        f"lower(regexp_extract({stripped}, '^[hH][tT][tT][pP][sS]?://([^/?#]+)', 1)), "
        f"'^www[.]', ''), ':80$', '')"
    )
    path = (
        f"regexp_replace("
        f"regexp_extract({stripped}, '^[hH][tT][tT][pP][sS]?://[^/?#]+([^?#]*)', 1), "
        f"'/$', '')"
    )
    raw_q = f"regexp_extract({stripped}, '[?]([^#]*)', 1)"
    kept = d["filter"].format(l=d["split"].format(s=raw_q))
    canon_q = d["join"].format(l=d["sort"].format(l=kept))
    return (
        f"'https://' || {host} || {path} || "
        f"CASE WHEN {canon_q} = '' THEN '' ELSE '?' || {canon_q} END"
    )


def url_dedup(df: DataFrame) -> DataFrame:
    """d14: canonical-URL dedup over planted URLs — one codegen scan to
    canonicalize, ONE shuffle (groupBy canonical), keeper = min doc_id.
    At 100 TB this is the cheap first dedup tier: no content reads, no
    pairwise machinery, naturally partial-aggregated."""
    planted = url_planted_sql("spark")
    canon = url_canonical_sql("url", "spark")
    return (
        df.selectExpr("doc_id", f"{planted} AS url")
        .selectExpr("doc_id", "url", f"{canon} AS canonical_url")
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_ppm: int = 800_000,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-CONTAINMENT pairs: doc A is (near-)contained in
    doc B when |sh(A) ∩ sh(B)| / |sh(A)| ≥ threshold — the quote /
    snippet / excerpt duplication symmetric Jaccard systematically
    MISSES: a 50-shingle doc fully inside a 5000-shingle doc has
    Jaccard ≈ 0.01 (invisible to d02/d03's threshold) but containment
    1.0. A training corpus keeps the superset and drops the excerpt.

    Emits (doc_small, doc_big, inter, n_small, n_big,
    containment_ppm) with containment computed FROM THE SMALLER
    SHINGLE SET (ties broken toward the lower id), in exact integer
    ppm — engine-portable.

    Scale: the candidate join of jaccard_pairs (_shared_pairs) — the
    shingle self-join restricted to shingles with document frequency
    ≥ 2.
    Pair work is Σ_shingle df², which boilerplate/near-dup-heavy
    shingles dominate: measured 104× wall at 10× near-duplicated docs
    (df ×10 ⇒ Σdf² ×100 — partially output-bound, the copies ARE
    contained in each other, but the joined-rows blowup is real). The
    mitigation ladder: run d13's boilerplate scrub and the d01/d03
    dedup tiers upstream (the documented pipeline ordering), and set
    `max_shingle_df` to drop hotter shingles from BOTH the candidate
    join and the intersection count (the cap_hot_bands trade:
    containment is undercounted only on pairs whose overlap is
    dominated by corpus-hot shingles — exactly the boilerplate
    overlap a containment dedup should not fire on anyway). Sizes
    come from the FULL shingle set, so the ≥ threshold gate only
    gets STRICTER under the cap — capped results are a subset, never
    false positives. The df≥2 prune is semantics-preserving
    (singleton shingles intersect nothing).
    """
    sets = materialize(shingle_sets(df, id_col, text_col, n))
    pairs = _shared_pairs(sets, max_shingle_df)
    a_small = "n_a < n_b OR (n_a = n_b AND doc_a < doc_b)"
    scored = _with_sizes(pairs, "doc_a", "doc_b", sets, sets).select(
        F.expr(f"CASE WHEN {a_small} THEN doc_a ELSE doc_b END").alias("doc_small"),
        F.expr(f"CASE WHEN {a_small} THEN doc_b ELSE doc_a END").alias("doc_big"),
        "inter",
        F.least("n_a", "n_b").alias("n_small"),
        F.greatest("n_a", "n_b").alias("n_big"),
        F.expr("1000000 * inter DIV least(n_a, n_b)").alias("containment_ppm"),
    )
    return scored.filter(F.col("containment_ppm") >= threshold_ppm)


def delta_dedup_matches(
    base: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    base_bands: DataFrame | None = None,
) -> DataFrame:
    """INDEX-vs-DELTA near-dup matching — the INCREMENTAL ingestion
    shape: a new batch (delta) is screened against an already-ingested
    corpus (base) whose LSH band index was built ONCE (pass
    `base_bands`, e.g. io.minhash_index_artifact's committed table;
    omitted, it is computed here). minhash_lsh_pairs answers "which
    pairs inside ONE corpus are near-dups"; this answers the
    production question "which of today's documents are near-dups of
    anything we already have" WITHOUT touching the base corpus's
    signatures again.

    Scale shape: the delta side (small) is signed fresh; candidates
    are one equi-join of delta bands against the index; and the exact
    Jaccard verify SHINGLES ONLY THE BASE DOCS THAT MATCHED A BAND
    (semi-join before shingling) — base-side verify work is
    proportional to candidate count, not corpus size. Returns
    (delta_doc, base_doc, jaccard) for verified matches.
    """
    # per-batch frames are small by construction — the r11 widening
    # exchange measured as pure overhead here (see shingle_sets)
    signed_d = materialize(
        minhash_signed(shingle_sets(delta, id_col, text_col, n, spread=False))
    )
    if base_bands is None:
        base_bands = minhash_bands(
            minhash_signed(shingle_sets(base, id_col, text_col, n))
        )
    cand = materialize(
        minhash_bands(signed_d)
        .select(F.col("doc").alias("delta_doc"), "band_id", "band_hash")
        .join(
            base_bands.select(F.col("doc").alias("base_doc"), "band_id", "band_hash"),
            ["band_id", "band_hash"],
        )
        .select("delta_doc", "base_doc")
        .distinct()
    )
    # Verify-side base shingles: ONLY candidate base docs.
    base_needed = base.join(
        cand.select(F.col("base_doc").alias(id_col)).distinct(),
        id_col,
        "semi",
    )
    sets_b = materialize(
        shingle_sets(base_needed, id_col, text_col, n, spread=False)
    )
    return (
        _overlap(cand, "delta_doc", "base_doc", signed_d, sets_b)
        .withColumn("jaccard", F.round(_jaccard(), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("delta_doc", "base_doc", "jaccard")
    )


def lsh_band_sweep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    configs: tuple[tuple[int, int], ...] = ((2, 64), (4, 32), (8, 16)),
) -> DataFrame:
    """LSH BANDING PARAMETER SWEEP — the S-curve measured, not
    recited: d21 evaluates THE shipped banding (4 rows x 32 bands);
    this regroups the SAME 128-minhash signatures into several
    (rows_per_band, n_bands) configurations and reports each one's
    candidate volume, recall, and precision against the same exact
    threshold-Jaccard ground truth. Fewer rows per band collide more
    (higher recall, more verify work); more rows collide less — the
    classic r x b trade a dedup owner must price BEFORE burning a
    100 TB pass on the wrong curve. Signatures are computed ONCE and
    re-banded per config — re-banding is a narrow projection, so the
    sweep costs one signature build plus |configs| bucketed self-joins
    over the sample.

    Band keys here are md5 of the comma-joined row values sig[i]
    (engine-portable, any rows_per_band; a NULL signature joins to
    md5('')); the production path (minhash_bands) packs 4x15-bit
    values into one BIGINT — same collision semantics where both
    apply, cheaper shuffle bytes, but capped at 4 rows/band.
    """
    # validate BEFORE the eager signature/truth builds — a bad config
    # must not cost the two most expensive stages first
    for r, b in configs:
        if r * b > N_MINHASH:
            raise ValueError(f"config ({r},{b}) exceeds {N_MINHASH} minhashes")
    # ONE shingle pass feeds both the signature build and the exact
    # ground truth (r11: each previously paid its own tokenize+explode
    # — two identical scans of the sample, measured ~1s apart at sf0.1)
    signed = materialize(minhash_signed(shingle_sets(df, id_col, text_col, n)))
    # Ground truth via the PLAIN shared-shingle all-pairs join (r12):
    # on the bounded evaluation sample this operator is built for
    # (d21/d23 fix the sample at 2000 docs, so the exact pair work is
    # bounded at ANY corpus size), the prefix filter's extra passes
    # (global DF aggregate + per-doc rank window) cost more than the
    # candidate pruning saves — interleaved A/B at sf0.1: prefix
    # 1.70s vs plain 1.05s (noop), with IDENTICAL pair sets (48=48,
    # asserted generally in tests/test_dedup.py at three thresholds).
    # jaccard_pairs_prefix remains the corpus-WIDE exact form for
    # unbounded inputs (its docstring's 10^6+-doc crossover).
    truth = materialize(
        jaccard_pairs(df, id_col, text_col, n=n, sets=signed)
        .filter(_jaccard() >= threshold)
        .select("doc_a", "doc_b")
        .withColumn("__true", F.lit(1))
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    # ALL configs ride ONE tagged band frame and ONE bucketed self-join
    # keyed by (config, band_id, band_key) — r11: the per-config loop
    # paid |configs| materializations + self-joins + aggregates where
    # one of each suffices (per-config candidate sets are disjoint by
    # the config tag, so values are identical; measured ~6.3s → ~4.5s
    # at sf0.1). Candidate volume + hit count per config come from one
    # broadcast LEFT join against the materialized truth set (both
    # pair sets distinct ⇒ count(__true) == |truth ∩ cand|); a config
    # with zero candidates is restored by the left join from the
    # literal config table below.
    # One lambda per config over the signature array (r x b keys each),
    # not one struct per band: a 3-expression tree instead of 112.
    sig = F.col("sig").cast("array<string>")

    def config_keys(r: int, b: int) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(b - 1)),
            lambda i: F.struct(
                F.lit(r).alias("r"),
                F.lit(b).alias("b"),
                i.alias("band_id"),
                F.md5(F.concat_ws(",", F.slice(sig, i * r + 1, F.lit(r)))).alias("band_key"),
            ),
        )

    keys = F.flatten(F.array(*[config_keys(r, b) for r, b in configs]))
    banded = materialize(
        signed.select("doc", F.explode(keys).alias("x")).select(
            "doc", "x.r", "x.b", "x.band_id", "x.band_key"
        )
    )
    a, bb = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.r") == F.col("b.r"))
            & (F.col("a.b") == F.col("b.b"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.r").alias("r"),
            F.col("a.b").alias("b"),
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
        )
        .distinct()
    )
    # Broadcast-hint safety (r11 advice): the truth side is bounded by
    # the caller's SAMPLE, not the corpus — this sweep is an
    # evaluation operator over a fixed-count sample (d21/d23 pass 2000
    # docs), so |truth| ≤ C(|sample|, 2) ≈ 2M pairs of three numeric
    # columns worst-case (~50 MB), far under broadcast limits at ANY
    # corpus size. Callers who feed an UNBOUNDED frame would pay the
    # quadratic exact-truth join long before the broadcast hurt —
    # don't: sample first (the docstring's contract).
    stats = (
        cand.join(F.broadcast(truth), ["doc_a", "doc_b"], "left")
        .groupBy("r", "b")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.count("__true").alias("n_hits"),
        )
    )
    spark = df.sparkSession
    cfg_rows = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), F.lit(b).alias("b")
                    )
                    for r, b in configs
                ]
            )
        )
    )
    out = cfg_rows.join(F.broadcast(stats), ["r", "b"], "left").select(
        F.col("r").cast("bigint").alias("rows_per_band"),
        F.col("b").cast("bigint").alias("n_bands"),
        F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
    )
    return (
        out.crossJoin(F.broadcast(n_true))
        .select(
            "rows_per_band",
            "n_bands",
            "n_true_pairs",
            "n_candidates",
            "n_hits",
            F.expr(
                "CASE WHEN n_true_pairs = 0 THEN 1000000"
                " ELSE (1000000 * n_hits) DIV n_true_pairs END"
            ).alias("recall_ppm"),
            F.expr(
                "CASE WHEN n_candidates = 0 THEN 1000000"
                " ELSE (1000000 * n_hits) DIV n_candidates END"
            ).alias("precision_ppm"),
        )
        .orderBy("rows_per_band")
    )


def cdc_chunk_doc_fps(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_chars: int = 512,
) -> DataFrame:
    """Per-doc CDC chunk fingerprints — (doc_id, fp, cnt), one row per
    DISTINCT chunk fingerprint within a doc, cnt = how many of the
    doc's chunks carry it (so per-doc chunk counts are sums of cnt).

    Boundary rule (value-identical to d17's SQL form and its DuckDB
    oracle): the doc's first `prefix_chars` characters chunk at start
    1 plus every interior position i in [2, L-7] where the 8-char
    window polynomial sum_j codepoint(t[i+j-1]) * 256^(7-j) mod
    1e9+7 is ≡ 0 (mod 64); each chunk's fp is md5 of the chunk's
    UTF-8 bytes. All-integer arithmetic, engine-portable.

    Why an Arrow kernel and not the array-lambda filter: Spark
    evaluates higher-order-function lambdas INTERPRETED per element,
    so the unrolled 8-term hash costs ~8 boxed BIGINT ops × ~500
    positions × every doc — and d17's plan referenced the chunk
    subtree twice, paying the screen twice (measured 6-9 s at sf0.1).
    Here the same arithmetic runs once, vectorized: the batch's texts
    concatenate into one UTF-32 codepoint array (codepoints ==
    ascii()/ord semantics for any input, not just ASCII), one
    sliding-window product against the 8 power constants scores every
    position of every doc (products < 2^51 — exact int64), and md5
    runs only on the ~L/64 chunk substrings via hashlib (identical
    UTF-8-byte hashing as Spark/DuckDB md5). Narrow map, no shuffle,
    no per-doc window pass — boundaries AND chunk assembly are local
    to the row. Scan-bound and embarrassingly parallel at 100 TB;
    per-byte examination is inherent to CDC, this is its vectorized
    form (guide §4.2: batch work belongs in native kernels).
    """
    import pyarrow as pa

    prepared = spread_small_scan(
        df.filter(
            F.col(text_col).isNotNull() & (F.length(text_col) > 0)
        ).select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.substring(F.col(text_col), 1, prefix_chars).alias("t"),
        )
    )

    M = 1_000_000_007
    pows = [pow(256, 7 - j, M) for j in range(8)]

    def kernel(batches):
        import hashlib

        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        pw = np.array(pows, dtype=np.int64)
        for batch in batches:
            if len(batch) == 0:
                continue
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("t").to_pylist()
            lens = np.fromiter(
                (len(t) for t in texts), dtype=np.int64, count=len(texts)
            )
            offs = np.concatenate(([0], np.cumsum(lens)))
            # utf-32-le bytes ARE the codepoint array — vectorized ord()
            codes = np.frombuffer(
                "".join(texts).encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            if codes.size >= 8:
                win = sliding_window_view(codes, 8)
                # windows that straddle two docs are computed but never
                # selected (the per-doc slice below stays inside the doc)
                hb = (((win * pw) % M).sum(axis=1) % M) % 64 == 0
            else:
                hb = np.zeros(0, dtype=bool)
            out_ids: list[int] = []
            out_fps: list[str] = []
            out_cnts: list[int] = []
            for d, t in enumerate(texts):
                L = int(lens[d])
                starts = [1]
                if L >= 9:
                    # global window index g == offs[d] + (i - 1) for
                    # 1-based interior start i in [2, L-7]
                    lo = int(offs[d]) + 1
                    idx = np.nonzero(hb[lo : int(offs[d]) + L - 7])[0]
                    if idx.size:
                        starts.extend((idx + 2).tolist())
                counts: dict[str, int] = {}
                for si, s in enumerate(starts):
                    e = starts[si + 1] - 1 if si + 1 < len(starts) else L
                    fp = hashlib.md5(t[s - 1 : e].encode("utf-8")).hexdigest()
                    counts[fp] = counts.get(fp, 0) + 1
                for fp, c in counts.items():
                    out_ids.append(ids[d])
                    out_fps.append(fp)
                    out_cnts.append(c)
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": pa.array(out_ids, pa.int64()),
                    "fp": pa.array(out_fps, pa.string()),
                    "cnt": pa.array(out_cnts, pa.int64()),
                }
            )

    return prepared.mapInArrow(kernel, "doc_id bigint, fp string, cnt bigint")
