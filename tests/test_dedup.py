"""Property tests for the dedup family: planted near-duplicates must be
found by MinHash-LSH and SimHash; exact Jaccard is the ground truth."""

from __future__ import annotations

import pytest

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "under the warm sun and the birds sing in the tall green trees near "
    "the old stone bridge by the quiet river bank every single morning"
)


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus with two planted near-duplicates of doc 0 and unrelated docs."""
    near1 = BASE.replace("quick", "swift")  # 1 token changed
    near2 = BASE.replace("morning", "evening").replace("cat", "kitten")
    rows = [(0, BASE), (1, near1), (2, near2)]
    for i in range(3, 40):
        rows.append(
            (
                i,
                " ".join(
                    f"tok{(i * 37 + j * 11) % 211}" for j in range(45)
                ),
            )
        )
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_jaccard_finds_planted(spark, planted):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import jaccard_pairs

    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(planted, "doc_id", "text").collect()
    }
    assert pairs[(0, 1)] > 0.7, pairs.get((0, 1))
    assert pairs[(0, 2)] > 0.6
    # jaccard bounded
    assert all(0 <= j <= 1 for j in pairs.values())


def test_minhash_lsh_recall_on_planted(spark, planted):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    found = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(planted, "doc_id", "text", threshold=0.5).collect()
    }
    # 32 bands x 4 rows: P(candidate) at j=0.7 is 1-(1-0.7^4)^32 ≈ 0.9998
    assert (0, 1) in found
    assert (0, 2) in found
    # verified jaccard is exact, so it must match jaccard_pairs' value
    from etl_sql_and_pyspark_developement__spark.operators.dedup import jaccard_pairs

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(planted, "doc_id", "text").collect()
    }
    for pair, j in found.items():
        assert abs(exact[pair] - j) < 1e-9


def test_minhash_no_false_positives_above_threshold(spark, planted):
    """Everything LSH returns is verified >= threshold by construction."""
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    for r in minhash_lsh_pairs(planted, "doc_id", "text", threshold=0.5).collect():
        assert r.jaccard >= 0.5


def test_simhash_identical_docs_hamming_zero(spark):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame(
        [(0, BASE), (1, BASE), (2, "completely different words here xyz abc")],
        ["doc_id", "text"],
    )
    found = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(df, "doc_id", "text").collect()}
    assert found.get((0, 1)) == 0
    assert (0, 2) not in found


def test_simhash_near_dup_low_hamming(spark, planted):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        simhash_signatures,
    )

    sigs = {r.doc: (r.c0, r.c1, r.c2, r.c3) for r in simhash_signatures(planted, "doc_id", "text").collect()}

    def hamming(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    assert hamming(sigs[0], sigs[1]) <= 8  # 1-token change barely moves simhash
    assert hamming(sigs[0], sigs[3]) > 12  # unrelated doc is far


def test_exact_dedup_stats_counts(spark):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        exact_dedup_stats,
    )

    df = spark.createDataFrame(
        [
            (0, "a b c", "s1"),
            (1, "a b c", "s1"),  # exact dup
            (2, "c b a", "s1"),  # bag dup only
            (3, "x y z", "s2"),
        ],
        ["doc_id", "text", "source"],
    )
    rows = {r.grp: r for r in exact_dedup_stats(df, "doc_id", "text", "source").collect()}
    assert rows["s1"].n_docs == 3
    assert rows["s1"].n_unique_exact == 2
    assert rows["s1"].n_unique_bag == 1
    assert rows["s2"].n_unique_exact == 1


def test_dedup_components_groups(spark):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        dedup_components,
    )

    # two clusters: {1,2,3,4} via a chain, {10,11}; 20-21-22 via star
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
        ["doc_a", "doc_b"],
    )
    comp = {r.doc: r.component for r in dedup_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == 20


def test_dedup_components_on_planted(spark, planted):
    """End-to-end: LSH pairs -> components; the planted near-dups of
    doc 0 must land in one component labeled 0."""
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        dedup_components,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(planted, "doc_id", "text", threshold=0.5)
    comp = {r.doc: r.component for r in dedup_components(pairs).collect()}
    assert comp.get(1) == 0
    assert comp.get(2) == 0


def test_prefix_filtered_jaccard_is_lossless(spark, sf_dir):
    """Prefix filtering must return EXACTLY the pairs of the full
    shared-shingle join at the same threshold — no false negatives."""
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for tau in (0.3, 0.5, 0.8):
        full = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in jaccard_pairs(docs, "doc_id", "text").collect()
            if (r.inter / (r.n_a + r.n_b - r.inter)) >= tau
        }
        pref = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in jaccard_pairs_prefix(docs, "doc_id", "text", tau).collect()
        }
        assert pref == full, f"tau={tau}: prefix {len(pref)} vs full {len(full)}"


def test_contamination_planted_dup(spark):
    """A test doc duplicated verbatim in train must surface with
    containment 1.0 AND the exact flag; a test doc embedded inside a
    LARGER train doc must still reach containment 1.0 (the asymmetric
    property that Jaccard screening misses)."""
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        contamination_check,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base, "test"),                                   # verbatim dup of 101
        (2, "one two three four five six", "test"),          # quoted inside 102
        (3, "totally unrelated words here now", "test"),     # clean
        (101, base, "train"),
        (102, "prefix one two three four five six suffix tail", "train"),
        (103, "other train content entirely different", "train"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    out = {r.doc: r for r in contamination_check(df, "doc_id", "text").collect()}
    assert out[1].containment == 1.0 and out[1].exact_dup == 1
    assert out[1].train_doc == 101
    assert out[2].containment == 1.0 and out[2].exact_dup == 0, \
        "full containment inside a larger train doc, but not an exact dup"
    assert 3 not in out, "clean doc shares no shingle with train"


def test_duplicated_spans_planted(spark):
    """A planted shared substring must surface as ONE span of exactly
    its token length; disjoint docs produce no pair; identical docs
    produce a full-length span."""
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        duplicated_spans,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"seven eight {shared} nine ten eleven twelve"),
        (3, "unrelated words only here nothing shared at all"),
        (4, "copy cat doc body with exact clone text spans"),
        (5, "copy cat doc body with exact clone text spans"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_a, r.doc_b): r for r in duplicated_spans(df, "doc_id", "text").collect()}
    assert set(out) == {(1, 2), (4, 5)}
    r12 = out[(1, 2)]
    assert (r12.n_spans, r12.max_span_tokens, r12.total_span_tokens) == (1, 8, 8)
    r45 = out[(4, 5)]
    assert (r45.n_spans, r45.max_span_tokens) == (1, 9), "identical 9-token docs"


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("aa bb cc dd ee".split()), min_size=1, max_size=12),
        min_size=2,
        max_size=5,
    )
)
def test_duplicated_spans_matches_python_reference(spark, docs):
    """Span rollup must equal an independent per-pair Python chaining
    of positional k-gram matches (k=2, min span 3) on tiny-alphabet
    random docs — the regime where collisions and multi-diagonal
    matches are dense."""
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        duplicated_spans,
    )

    k, min_span = 2, 3
    texts = [" ".join(t) for t in docs]

    def grams(toks):
        return [
            (i, " ".join(toks[i - 1 : i - 1 + k]))
            for i in range(1, len(toks) - k + 2)
        ] if len(toks) >= k else []

    expected = {}
    for ai in range(len(texts)):
        for bi in range(ai + 1, len(texts)):
            ta, tb = docs[ai], docs[bi]
            matches = [
                (pa, pb)
                for pa, ga in grams(ta)
                for pb, gb in grams(tb)
                if ga == gb
            ]
            by_diag = {}
            for pa, pb in matches:
                by_diag.setdefault(pa - pb, []).append(pa)
            span_lens = []
            for _, pas in by_diag.items():
                pas.sort()
                run = 1
                for prev, cur in zip(pas, pas[1:]):
                    if cur == prev + 1:
                        run += 1
                    else:
                        span_lens.append(run + k - 1)
                        run = 1
                span_lens.append(run + k - 1)
            span_lens = [s for s in span_lens if s >= min_span]
            if span_lens:
                expected[(ai, bi)] = (
                    len(span_lens),
                    max(span_lens),
                    sum(span_lens),
                )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_spans, r.max_span_tokens, r.total_span_tokens)
        for r in duplicated_spans(df, "doc_id", "text", k=k, min_span_tokens=min_span).collect()
    }
    assert got == expected


def test_corpus_dup_profile_hand_computed(spark):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        corpus_dup_profile,
    )

    rows = [
        # srcA: doc1 and doc2 share the trigram "a b c"; doc1 repeats it
        (1, "a b c x a b c", "srcA"),     # grams: abc bcx cxa xab abc (5, 4 distinct)
        (2, "a b c q r", "srcA"),         # grams: abc bcq cqr (3)
        # srcB: no repetition at all
        (3, "p q r s", "srcB"),           # grams: pqr qrs (2)
        # short doc: fewer tokens than n -> contributes nothing
        (4, "z", "srcB"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")
    got = {r.source: r for r in corpus_dup_profile(df, n=3).collect()}

    a = got["srcA"]
    # doc1: [abc bcx cxa xab abc], doc2: [abc bcq cqr] -> 8 occurrences
    # over 6 types (abc bcx cxa xab bcq cqr) -> 2 repeat occurrences;
    # "a b c" occurs 3x across 2 docs -> 3 cross-doc occurrences
    assert (a.n_docs, a.total_grams, a.distinct_grams) == (2, 8, 6)
    assert a.dup_occ_ppm == 1000000 * 2 // 8
    assert a.cross_doc_ppm == 1000000 * 3 // 8

    b = got["srcB"]
    assert (b.n_docs, b.total_grams, b.distinct_grams) == (2, 2, 2)
    assert b.dup_occ_ppm == 0 and b.cross_doc_ppm == 0


def test_neardup_screen_drops_planted_copy_keeps_novel(spark, sf_dir):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        corpus_neardup_index,
        minhash_lsh_pairs,
        neardup_screen,
    )
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    index = corpus_neardup_index(corpus)

    # a verbatim copy of a corpus doc (new id) must be dropped; a
    # novel doc must survive
    src_text = corpus.orderBy("doc_id").first()["text"]
    batch = spark.createDataFrame(
        [
            (10_000_001, src_text, "en", "probe", len(src_text)),
            (10_000_002, "entirely novel words nowhere else present at all",
             "en", "probe", 48),
        ],
        docs.schema,
    )
    kept = {r.doc_id for r in neardup_screen(batch, index).collect()}
    assert kept == {10_000_002}

    # cross-parity with the self-join path: screening the odd docs
    # must drop exactly the odd side of verified odd-even LSH pairs
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    kept_odd = {r.doc_id for r in neardup_screen(odd, index).collect()}
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    dropped_expected = {
        r.a for r in pairs.selectExpr(
            "CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS a",
            "CASE WHEN doc_a % 2 = 1 THEN doc_b ELSE doc_a END AS b",
        ).filter("a % 2 = 1 AND b % 2 = 0").collect()
    }
    want_odd = {r.doc_id for r in odd.collect()} - dropped_expected
    assert kept_odd == want_odd


def test_d05_content_blocking_finds_distant_ids(spark):
    """Edit-distance screen recall must not depend on doc_id adjacency:
    a planted near-identical pair with ids 3 and 9003 must be blocked
    together (LSH band collision) and verified by bounded levenshtein —
    the property the old doc_id-range blocking lacked."""
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    near = BASE.replace("quick", "quik")  # 1 edit in the 64-char prefix
    rows = [(3, BASE), (9003, near)]
    for i in range(100, 130):
        rows.append(
            (i, " ".join(f"w{(i * 53 + j * 17) % 307}" for j in range(50)))
        )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    cand = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(docs, "doc_id", "text").collect()
    }
    assert (3, 9003) in cand, "distant-id near-dup pair must be a candidate"
    verified = {
        (r.doc_a, r.doc_b): r.prefix_dist
        for r in docs.selectExpr("doc_id", "substring(text, 1, 64) AS p")
        .alias("a")
        .join(docs.selectExpr("doc_id", "substring(text, 1, 64) AS p").alias("b"))
        .where("a.doc_id = 3 AND b.doc_id = 9003")
        .selectExpr(
            "a.doc_id AS doc_a", "b.doc_id AS doc_b",
            "levenshtein(a.p, b.p, 30) AS prefix_dist",
        )
        .collect()
    }
    assert 0 < verified[(3, 9003)] <= 2  # deletion + shifted tail char in the fixed window


def test_cap_hot_bands_bounds_blowup_and_lossless_below_cap(spark, sf_dir):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    docs = table(spark, sf_dir, "documents").limit(120)
    # boilerplate corpus: 30 docs share the identical templated text →
    # every band of those docs collapses onto one bucket of size 30
    template = spark.createDataFrame(
        [
            (9_000_000 + i, "identical boilerplate template text repeated verbatim "
             "across many documents of the corpus", "en", "tpl", 90)
            for i in range(30)
        ],
        docs.schema,
    )
    corpus = docs.unionByName(template)

    uncapped = minhash_lsh_pairs(corpus, "doc_id", "text", threshold=0.5)
    capped = minhash_lsh_pairs(
        corpus, "doc_id", "text", threshold=0.5, max_band_df=10
    )
    un_pairs = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    cap_pairs = {(r.doc_a, r.doc_b) for r in capped.collect()}

    # the 30-doc template clique is 435 pairs; the cap (10 < 30)
    # removes its mega-buckets, so the capped result loses exactly the
    # pairs that only ever met in hot buckets
    tpl_pairs = {(a, b) for (a, b) in un_pairs if a >= 9_000_000 and b >= 9_000_000}
    assert len(tpl_pairs) == 435
    assert not (cap_pairs & tpl_pairs), "hot-bucket pairs must be dropped by the cap"

    # lossless below the cap: every pair whose docs are NOT part of the
    # hot clique survives identically
    normal_un = {(a, b) for (a, b) in un_pairs if b < 9_000_000}
    normal_cap = {(a, b) for (a, b) in cap_pairs if b < 9_000_000}
    assert normal_un == normal_cap

    # a cap ABOVE every bucket size changes nothing at all
    loose = minhash_lsh_pairs(
        corpus, "doc_id", "text", threshold=0.5, max_band_df=1000
    )
    assert {(r.doc_a, r.doc_b) for r in loose.collect()} == un_pairs


def test_boilerplate_scrub_removes_planted_keeps_unique(spark):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        boilerplate_scrub,
    )
    import hashlib

    banner = "one two three four five six seven eight"  # 8 words
    rows = []
    # 12 docs sharing a banner prefix (>= min_docs=10) plus unique body
    for i in range(12):
        body = " ".join(f"u{i}w{j}" for j in range(8))
        rows.append((i, f"{banner} {body}"))
    # 1 doc that is NOTHING BUT the banner (all segments removed)
    rows.append((100, banner))
    # 1 doc with a misaligned banner occurrence (prefixed by 4 words):
    # its chunks straddle the banner so they never match the aligned
    # copies — documents alignment-sensitivity of segment dedup.
    rows.append((101, "a b c d " + banner))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in boilerplate_scrub(df, min_docs=10).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    for i in range(12):
        r = out[i]
        assert (r.n_segs, r.n_removed) == (2, 1), r
        body = " ".join(f"u{i}w{j}" for j in range(8))
        assert r.clean_fp == md5(body)
        assert r.removed_ppm == 500000
    # all-boilerplate doc: everything removed, clean_fp = md5("")
    assert (out[100].n_removed, out[100].clean_fp) == (1, md5(""))
    # misaligned doc: its straddling chunks are corpus-unique -> kept
    assert out[101].n_removed == 0
    assert out[101].clean_fp == md5("a b c d " + banner)


def test_boilerplate_scrub_identity_and_monotonicity(spark):
    """min_docs above the corpus size removes nothing (clean_fp is the
    original text's md5); lowering min_docs only ever removes MORE."""
    import hashlib

    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        boilerplate_scrub,
    )

    banner = "one two three four five six seven eight"
    rows = [
        (i, f"{banner} " + " ".join(f"u{i}w{j}" for j in range(8)))
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # identity: threshold 100 > 6 docs -> nothing is boilerplate
    ident = {r.doc_id: r for r in boilerplate_scrub(df, min_docs=100).collect()}
    for i, text in rows:
        assert ident[i].n_removed == 0
        assert ident[i].clean_fp == hashlib.md5(text.encode()).hexdigest()
    # monotonicity: removals at min_docs=2 are a superset per doc
    loose = {r.doc_id: r.n_removed for r in boilerplate_scrub(df, min_docs=2).collect()}
    tight = {r.doc_id: r.n_removed for r in boilerplate_scrub(df, min_docs=6).collect()}
    assert all(loose[i] >= tight[i] for i in loose)
    # at min_docs=6 exactly the shared banner goes
    assert all(v == 1 for v in tight.values())


def test_url_canonicalization_cases(spark):
    """The d14 canonicalizer collapses every planted mess-dimension:
    case, www., :80, trailing slash, fragment, utm_* params, param
    order — and does NOT collapse genuinely different URLs."""
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        url_canonical_sql,
    )

    cases = [
        # (raw, expected canonical)
        ("https://a.example.com/x", "https://a.example.com/x"),
        ("HTTP://WWW.A.EXAMPLE.COM/x", "https://a.example.com/x"),
        ("https://a.example.com:80/x/", "https://a.example.com/x"),
        ("https://a.example.com/x#frag", "https://a.example.com/x"),
        ("https://a.example.com/x?utm_source=f", "https://a.example.com/x"),
        (
            "https://a.example.com/x?b=2&a=1&utm_campaign=c",
            "https://a.example.com/x?a=1&b=2",
        ),
        # different path / param value must NOT collapse
        ("https://a.example.com/y", "https://a.example.com/y"),
        ("https://a.example.com/x?a=2", "https://a.example.com/x?a=2"),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(cases)], "i long, url string"
    )
    got = {
        r.i: r.canon
        for r in df.selectExpr(
            "i", url_canonical_sql("url", "spark") + " AS canon"
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_url_dedup_groups_form(spark):
    """The planted mess actually collapses: within one DIV-7 id run the
    param-presence classes {%4 in 0,1}, {%4 = 2}, {%4 = 3} land on
    exactly three canonical URLs (sizes 4/2/1), keeper is the min id,
    and group sizes partition the input."""
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        url_dedup,
    )

    df = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    out = {r.canonical_url: r for r in url_dedup(df).collect()}
    assert len(out) == 3
    by_size = sorted((r.n_dups, r.keeper_doc_id) for r in out.values())
    assert by_size == [(1, 3), (2, 2), (4, 0)]
    assert sum(r.n_dups for r in out.values()) == 7


def test_url_canonicalization_idempotent(spark):
    """Canonicalizing an already-canonical URL is the identity — the
    normalizer is a projection (running the crawl gate twice can't
    change the dedup key)."""
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        url_canonical_sql,
        url_planted_sql,
    )

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    once = df.selectExpr(
        "doc_id", url_planted_sql("spark") + " AS url"
    ).selectExpr("doc_id", url_canonical_sql("url", "spark") + " AS c1")
    twice = once.selectExpr(
        "doc_id", "c1", url_canonical_sql("c1", "spark") + " AS c2"
    )
    assert twice.filter("c1 <> c2").count() == 0


def test_entity_resolution_planted_truth(spark, sf_dir):
    """d16 ground truth: every planted case-mangled variant resolves
    to its master record; no genuinely-new entity matches anything;
    blocking never admits cross-entity candidates (n_candidates ==
    n_variants exactly)."""
    from etl_sql_and_pyspark_developement__spark.plans import QUERIES
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    rows = QUERIES["d16_entity_resolution"](spark, sf_dir).collect()
    cust = table(spark, sf_dir, "customer")
    n_variants = cust.filter(F.col("c_custkey") % 9 == 0).count()
    n_fresh = cust.filter(F.col("c_custkey") % 9 == 5).count()
    assert sum(r.n_dirty for r in rows) == n_variants + n_fresh
    assert sum(r.n_candidates for r in rows) == n_variants
    assert sum(r.n_matched for r in rows) == n_variants


def test_d17_short_doc_boundary_regression(spark, sf_dir, tmp_path):
    """Regression (round-3 ADVICE): a doc whose 512-char prefix is
    exactly 8 chars used to hit sequence(2, L-7) = sequence(2, 1),
    which Spark generates DESCENDING as [2, 1] — the boundary lambda
    then read element_at(bs, 9) past the 8-byte array and the whole
    query died with ArrayIndexOutOfBoundsException. L=8 docs must
    route through the single-chunk arm (they have no valid interior
    boundary: i >= 2 and i <= L-7 is empty)."""
    import os

    from etl_sql_and_pyspark_developement__spark.plans import QUERIES

    synth = tmp_path / "sf_synth"
    synth.mkdir()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        os.symlink(f"{sf_dir}/{t}.parquet", synth / f"{t}.parquet")
    docs = spark.createDataFrame(
        [
            (1, "12345678", "en", "web"),          # exactly 8 chars
            (2, "1234567", "en", "web"),           # 7 chars
            (3, "abcdefgh" * 40, "en", "web"),     # long, has boundaries
            (4, "abcdefgh" * 40 + "tail", "en", "web"),
        ],
        "doc_id bigint, text string, lang string, source string",
    )
    docs.write.parquet(str(synth / "documents.parquet"))
    out = {r["doc_id"]: r["n_chunks"]
           for r in QUERIES["d17_cdc_chunk_dedup"](spark, str(synth)).collect()}
    assert out[1] == 1 and out[2] == 1
    assert out[3] >= 1 and out[4] >= 1


def test_components_long_chain_converges_or_raises(spark):
    """Round-3 VERDICT fix: plain one-hop min propagation needed
    O(diameter) rounds, so a >20-hop chain silently returned wrong
    components when max_iterations=20 ran out. With pointer jumping
    the same chain converges in O(log d) rounds — and when the budget
    really is too small the operator now RAISES instead of returning
    a wrong labeling."""
    import pytest

    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        dedup_components,
    )

    # a 200-node path: diameter 199 >> 20
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "doc_a bigint, doc_b bigint"
    )
    labels = {
        r["doc"]: r["component"]
        for r in dedup_components(pairs, max_iterations=20).collect()
    }
    assert set(labels.values()) == {0} and len(labels) == 200

    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(pairs, max_iterations=2)


def test_containment_cap_lossless_below_and_bounds_above(spark):
    """max_shingle_df must be a no-op when every shingle's df is under
    the cap, and under a planted corpus-hot shingle it may only REMOVE
    pairs (containment is undercounted, never overcounted — sizes come
    from the full set, so the threshold gate gets stricter)."""
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        containment_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta"
    rows = [(1, base), (2, base + " extra tail words here")]
    # 30 docs sharing one boilerplate 3-gram but otherwise disjoint
    rows += [
        (100 + i, f"hot shingle text u{i} v{i} w{i} x{i} y{i}")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    uncapped = {
        (r.doc_small, r.doc_big, r.containment_ppm)
        for r in containment_pairs(df, "doc_id", "text").collect()
    }
    nooop = {
        (r.doc_small, r.doc_big, r.containment_ppm)
        for r in containment_pairs(
            df, "doc_id", "text", max_shingle_df=50
        ).collect()
    }
    assert nooop == uncapped, "cap above every df must be a no-op"
    assert (1, 2, 1000000) in uncapped, "planted containment pair found"
    capped = {
        (r.doc_small, r.doc_big, r.containment_ppm)
        for r in containment_pairs(
            df, "doc_id", "text", max_shingle_df=10
        ).collect()
    }
    assert capped <= uncapped, "cap may only remove pairs, never add"
    assert (1, 2, 1000000) in capped, "cold pairs survive the cap"


def test_lsh_band_sweep_monotone_in_rows_per_band(spark):
    """Aligned re-banding of one signature frame is NESTED: an 8-row
    band match implies its two 4-row halves match, which imply their
    2-row halves — so candidates (and recall) are non-increasing in
    rows_per_band, and every config's hits are bounded by its
    candidates and the truth."""
    from pyspark.sql import functions as F

    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        lsh_band_sweep,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "runs far away into the deep dark woods tonight"
    )
    rows = []
    for i in range(30):
        rows.append((i, base + f" tail{i % 7}"))
    rows.append((100, base + " tail0"))  # planted near-dup of doc 0
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.rows_per_band: r
        for r in lsh_band_sweep(df).collect()
    }
    assert set(out) == {2, 4, 8}
    assert (
        out[2].n_candidates >= out[4].n_candidates >= out[8].n_candidates
    )
    assert out[2].n_hits >= out[4].n_hits >= out[8].n_hits
    for r in out.values():
        assert r.n_hits <= r.n_candidates
        assert r.n_hits <= r.n_true_pairs
        assert 0 <= r.recall_ppm <= 1000000
        assert 0 <= r.precision_ppm <= 1000000
    # identical-tail docs are true near-dups the loosest banding finds
    assert out[2].n_true_pairs > 0 and out[2].n_hits > 0


# --- MinHash kernel parity -------------------------------------------------
# The retired SQL form of the signature battery (128 JVM min aggregates
# over two md5-derived halves per shingle) and of the 32-struct band
# explode lives here ONLY, as the reference the Arrow kernel
# (dedup._minhash_kernel) must match.


def _sql_signatures(sets):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        N_MINHASH,
        _MERSENNE_P,
        _MIX_A1,
        _MIX_A2,
        _MIX_B,
    )

    sh = sets.select("doc", F.explode("shingles").alias("shingle"))
    based = (
        sh.withColumn("__md5", F.md5(F.col("shingle")))
        .withColumn(
            "__hi", F.conv(F.substring("__md5", 1, 8), 16, 10).cast("long")
        )
        .withColumn(
            "__lo", F.conv(F.substring("__md5", 9, 8), 16, 10).cast("long")
        )
    )
    return based.groupBy("doc").agg(
        *[
            F.expr(
                f"min(pmod({_MIX_A1[j]} * __hi + {_MIX_A2[j]} * __lo"
                f" + {_MIX_B[j]}, {_MERSENNE_P}))"
            ).alias(f"mh_{j}")
            for j in range(N_MINHASH)
        ]
    )


def _sql_banded(sigs):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        N_BANDS,
        N_MINHASH,
    )

    rows = N_MINHASH // N_BANDS
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.expr(
                " + ".join(
                    f"pmod(mh_{b * rows + r}, {1 << 15}) * {1 << (15 * r)}"
                    for r in range(rows)
                )
            ).alias("band_hash"),
        )
        for b in range(N_BANDS)
    ]
    return sigs.select(
        "doc", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc", "band.band_id", "band.band_hash")


_EDGE_DOCS = [
    (-1, None),  # NULL text: shingles [NULL], NULL signature
    (-2, ""),  # empty string: one '' shingle
    (-3, "two words"),  # fewer than n tokens: one whole-text shingle
    (-4, "a b c a b c a b c a b c"),  # repeated shingles
    (-5, "naïve café déjà vu — 日本語の テキスト ünïcödé 🙂 emoji"),
    (-6, "double  spaced  tokens here"),  # empty tokens from split
    (-7, "solo"),
]


@pytest.fixture(scope="module")
def parity_corpus(spark, sf_dir):
    """sf0.01 documents (when present beside the test scale) plus the
    planted edge docs and a copy of each (id - 100), so every edge
    text can pair with another doc."""
    import os

    from etl_sql_and_pyspark_developement__spark.sources.catalog import table

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    docs = table(spark, sf if os.path.isdir(sf) else sf_dir, "documents")
    edges = spark.createDataFrame(
        _EDGE_DOCS + [(d - 100, t) for d, t in _EDGE_DOCS],
        "doc_id bigint, text string",
    )
    return docs.select("doc_id", "text").unionByName(edges).localCheckpoint()


@pytest.fixture(scope="module")
def parity_sets(parity_corpus):
    """The parity corpus as one shingle_sets frame."""
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        shingle_sets,
    )

    return shingle_sets(parity_corpus, "doc_id", "text", 3).localCheckpoint()


def test_minhash_kernel_signatures_match_sql_form(spark, parity_sets):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        N_MINHASH,
        minhash_signatures,
    )

    got = {
        r.doc: r.sig
        for r in minhash_signatures(None, "", "", sets=parity_sets).collect()
    }
    want = {
        r.doc: [r[f"mh_{j}"] for j in range(N_MINHASH)]
        for r in _sql_signatures(parity_sets).collect()
    }
    assert len(want) > len(_EDGE_DOCS)
    # the NULL-text doc keeps the SQL form's all-NULL signature
    assert got[-1] == [None] * N_MINHASH
    assert got == want


def test_minhash_kernel_bands_match_sql_form(spark, parity_sets):
    from collections import Counter

    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        N_BANDS,
        minhash_bands,
        minhash_signed,
    )

    kernel = minhash_bands(minhash_signed(parity_sets))
    sql = _sql_banded(_sql_signatures(parity_sets))
    assert kernel.dtypes == sql.dtypes
    got = Counter(tuple(r) for r in kernel.collect())
    want = Counter(tuple(r) for r in sql.collect())
    assert got == want
    # the NULL-text doc keeps all N_BANDS rows with a NULL key, which
    # can never satisfy the band equi-join
    assert sum(c for (d, _, h), c in got.items() if d == -1 and h is None) == N_BANDS


def test_minhash_mix_is_exact_in_int64():
    """The mix bound (a, b < 2^29) keeps a1*hi + a2*lo + b below 2^63
    for 32-bit halves, so int64 numpy equals arbitrary-precision pmod —
    checked at the extreme hi = lo = 2^32 - 1."""
    import numpy as np

    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        _MERSENNE_P,
        _MIX_A1,
        _MIX_A2,
        _MIX_B,
        _mixes,
    )

    top = (1 << 32) - 1
    halves = [(top, top), (0, 0), (top, 0), (0, top), (123456789, 987654321)]
    got = _mixes(np.asarray(halves, dtype=np.int64))
    for i, (hi, lo) in enumerate(halves):
        assert got[:, i].tolist() == [
            (a1 * hi + a2 * lo + b) % _MERSENNE_P
            for a1, a2, b in zip(_MIX_A1, _MIX_A2, _MIX_B)
        ]


@pytest.mark.parametrize("chunk_shingles", [1 << 16, 2])
def test_minhash_kernel_sliced_and_null_arrow_input(monkeypatch, chunk_shingles):
    """_signature_matrix reads the Arrow buffers directly; a sliced
    list array, NULL lists and NULL elements must give the same
    signatures as a plain Python reference over hashlib md5 — also
    when the shingle budget splits the batch into many chunks and a
    doc larger than the budget runs alone."""
    import hashlib

    import pyarrow as pa

    from etl_sql_and_pyspark_developement__spark.operators import dedup
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        _MERSENNE_P,
        _MIX_A1,
        _MIX_A2,
        _MIX_B,
        _signature_matrix,
    )

    monkeypatch.setattr(dedup, "_KERNEL_CHUNK_SHINGLES", chunk_shingles)

    def ref(shingles):
        vals = []
        for s in shingles or []:
            if s is None:
                continue
            d = hashlib.md5(s.encode("utf-8")).digest()
            hi, lo = int.from_bytes(d[:4], "big"), int.from_bytes(d[4:8], "big")
            vals.append(
                [
                    (a1 * hi + a2 * lo + b) % _MERSENNE_P
                    for a1, a2, b in zip(_MIX_A1, _MIX_A2, _MIX_B)
                ]
            )
        return [min(c) for c in zip(*vals)] if vals else None

    docs = [
        ["skip me"], ["x y z", "ü ö"], None, [None], ["", None, "b"], [],
        ["p", "q", "r", "s", "t"], ["single"],
    ]
    arr = pa.array(docs, pa.list_(pa.string())).slice(1)
    sig, ok = _signature_matrix(arr)
    got = [row.tolist() if k else None for row, k in zip(sig, ok)]
    assert got == [ref(d) for d in docs[1:]]


# --- Shingle-set parity ----------------------------------------------------
# The retired exploded-frame form of the Jaccard/containment family —
# (doc, shingle) rows, set sizes by a count aggregate, and each
# operator's shared-shingle self-join written inline — lives here ONLY,
# as the reference the shingle_sets form must match row for row.


def _ref_exploded(sets):
    return sets.select("doc", F.explode("shingles").alias("shingle"))


def _ref_sizes(sh):
    return sh.groupBy("doc").agg(F.count("*").alias("n_sh"))


def _ref_with_sizes(pairs, sizes):
    return pairs.join(
        sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a"
    ).join(sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")


def _ref_ratio():
    return F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))


def _ref_shared_self_join(sh, max_shingle_df=None):
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df_")).filter(F.col("df_") >= 2)
    if max_shingle_df is not None:
        dfreq = dfreq.filter(F.col("df_") <= max_shingle_df)
    shared = sh.join(dfreq.select("shingle"), "shingle")
    a, b = shared.alias("a"), shared.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )


def _ref_jaccard_pairs(sets):
    sh = _ref_exploded(sets)
    return (
        _ref_with_sizes(_ref_shared_self_join(sh), _ref_sizes(sh))
        .withColumn("jaccard", F.round(_ref_ratio(), 6))
        .select("doc_a", "doc_b", "inter", "n_a", "n_b", "jaccard")
    )


def _ref_jaccard_pairs_prefix(sets, threshold):
    from pyspark.sql import Window

    sh = _ref_exploded(sets)
    sizes = _ref_sizes(sh)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    ranked = sh.join(freq, "shingle").join(sizes, "doc").withColumn(
        "__r", F.row_number().over(Window.partitionBy("doc").orderBy("df_", "shingle"))
    )
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    prefixes = ranked.filter(F.col("__r") <= prefix_len).select("doc", "shingle")
    a, b = prefixes.alias("a"), prefixes.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    inter = (
        cand.join(sh.withColumnRenamed("doc", "doc_a"), "doc_a")
        .join(sh.withColumnRenamed("doc", "doc_b"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        _ref_with_sizes(inter, sizes)
        .withColumn("jaccard", F.round(_ref_ratio(), 6))
        .filter(_ref_ratio() >= threshold)
        .select("doc_a", "doc_b", "inter", "n_a", "n_b", "jaccard")
    )


def _ref_contamination_check(df):
    from pyspark.sql import Window

    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        shingle_sets,
    )
    from etl_sql_and_pyspark_developement__spark.operators.textstats import (
        exact_fingerprint,
    )

    test = df.filter(F.col("split") == "test")
    train = df.filter(F.col("split") != "test")
    sh_t = _ref_exploded(shingle_sets(test, "doc_id", "text", 3))
    sh_r = _ref_exploded(shingle_sets(train, "doc_id", "text", 3)).withColumnRenamed(
        "doc", "train_doc"
    )
    shared = (
        sh_t.join(sh_r, "shingle").groupBy("doc", "train_doc").agg(F.count("*").alias("shared"))
    )
    w = Window.partitionBy("doc").orderBy(F.desc("shared"), "train_doc")
    best = shared.withColumn("__rnk", F.row_number().over(w)).filter(F.col("__rnk") == 1)
    t_fp = test.select(F.col("doc_id").alias("doc"), exact_fingerprint("text").alias("fp"))
    r_fp = train.select(exact_fingerprint("text").alias("fp")).distinct().withColumn(
        "__hit", F.lit(1)
    )
    flags = t_fp.join(r_fp, "fp", "left").select(
        "doc", F.coalesce(F.col("__hit"), F.lit(0)).alias("exact_dup")
    )
    return (
        best.join(_ref_sizes(sh_t), "doc")
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


def _ref_containment_pairs(sets, threshold_ppm, max_shingle_df):
    sh = _ref_exploded(sets)
    small = "n_a < n_b OR (n_a = n_b AND doc_a < doc_b)"
    return (
        _ref_with_sizes(_ref_shared_self_join(sh, max_shingle_df), _ref_sizes(sh))
        .select(
            F.expr(f"CASE WHEN {small} THEN doc_a ELSE doc_b END").alias("doc_small"),
            F.expr(f"CASE WHEN {small} THEN doc_b ELSE doc_a END").alias("doc_big"),
            "inter",
            F.least("n_a", "n_b").alias("n_small"),
            F.greatest("n_a", "n_b").alias("n_big"),
            F.expr("1000000 * inter DIV least(n_a, n_b)").alias("containment_ppm"),
        )
        .filter(F.col("containment_ppm") >= threshold_ppm)
    )


def _same_rows(got, want):
    from collections import Counter

    assert got.dtypes == want.dtypes
    g = Counter(tuple(r) for r in got.collect())
    w = Counter(tuple(r) for r in want.collect())
    assert g == w, (len(g), len(w), list((g - w).items())[:3], list((w - g).items())[:3])
    return g


def test_jaccard_pairs_match_exploded_form(spark, parity_sets):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import jaccard_pairs

    rows = _same_rows(
        jaccard_pairs(None, "", "", sets=parity_sets), _ref_jaccard_pairs(parity_sets)
    )
    # every planted edge text that can shingle-match its copy does:
    # '' , the short doc, the repeated-shingle doc, the non-ASCII doc
    # and the single token; the NULL text never joins
    edge_pairs = {(a, b) for a, b, *_ in rows if b < 0}
    assert {(d - 100, d) for d in (-2, -3, -4, -5, -6, -7)} <= edge_pairs
    assert not {p for p in edge_pairs if -1 in p or -101 in p}


@pytest.mark.parametrize("tau", [0.3, 0.5, 0.8])
def test_jaccard_pairs_prefix_matches_exploded_form(spark, parity_sets, tau):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        jaccard_pairs_prefix,
    )

    _same_rows(
        jaccard_pairs_prefix(None, "", "", tau, sets=parity_sets),
        _ref_jaccard_pairs_prefix(parity_sets, tau),
    )


def test_contamination_check_matches_exploded_form(spark, parity_corpus):
    """Edge docs are test docs and their copies train docs, next to a
    1-in-4 test split of the corpus."""
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        contamination_check,
    )

    keyed = parity_corpus.withColumn(
        "split",
        F.when(
            ((F.col("doc_id") < 0) & (F.col("doc_id") > -100))
            | ((F.col("doc_id") >= 0) & (F.col("doc_id") % 4 == 0)),
            F.lit("test"),
        ).otherwise(F.lit("train")),
    )
    rows = _same_rows(
        contamination_check(keyed, "doc_id", "text"), _ref_contamination_check(keyed)
    )
    assert {r[0] for r in rows} >= {-2, -3, -4, -5, -6, -7}


@pytest.mark.parametrize(
    "threshold_ppm,max_shingle_df", [(800_000, None), (0, None), (0, 3), (800_000, 3)]
)
def test_containment_pairs_match_exploded_form(
    spark, parity_corpus, parity_sets, threshold_ppm, max_shingle_df
):
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        containment_pairs,
    )

    _same_rows(
        containment_pairs(
            parity_corpus,
            "doc_id",
            "text",
            threshold_ppm=threshold_ppm,
            max_shingle_df=max_shingle_df,
        ),
        _ref_containment_pairs(parity_sets, threshold_ppm, max_shingle_df),
    )
