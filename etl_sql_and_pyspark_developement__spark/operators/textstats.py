"""Text-analysis operators for LLM training-data pipelines: quality
scoring, language-ID heuristic, token counting, content fingerprints.

All four are pure built-in column expressions (JVM-side, whole-stage
codegen) — no Python UDFs — so they scan-scale linearly: one pass over
the documents table, no shuffle until the (optional) final aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_sql_and_pyspark_developement__spark.functions import hex_int, md5_bucket
from etl_sql_and_pyspark_developement__spark.operators.spread import spread_small_scan
from etl_sql_and_pyspark_developement__spark.session import materialize

STOPWORDS = ("a", "the")

# Marker-token profiles for the n-gram/stopword language heuristic.
# Real corpora would use per-language character n-gram tables; the
# mechanism (score per language from token evidence, argmax) is the
# same and stays fully declarative.
LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "fr": ("le", "la", "et"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "zh": ("的", "是", "了"),
}


def tokens(col: Column) -> Column:
    """Single-space word tokens (a run of spaces yields empty tokens):
    the one whitespace split of every textstats and dedup operator."""
    return F.split(col, " ")


def ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of an ALREADY-PROJECTED token array, in position
    order, each the n tokens joined by one space; empty when the array
    has fewer than n tokens (sequence() would descend). Every word
    n-gram in the package is built here. Pass a column reference, not
    an inline tokens(...) expression: subexpression elimination does
    not reach inside the lambda, so an inline split re-runs per gram."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword features + a 0-100 quality score."""
    toks = tokens(F.col(text_col))
    n_chars = F.length(text_col)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(text_col, r"[.,!?;:]", ""))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    # greatest(..., 1) guards: ANSI mode raises DIVIDE_BY_ZERO on
    # zero-length docs (empty strings tokenize to one empty token, but
    # n_chars can be 0); mirrored literally in the DuckDB oracles
    avg_token_len = (n_chars - (n_tokens - 1)) / F.greatest(n_tokens, F.lit(1))
    return (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("punct_ratio", F.round(n_punct * 1.0 / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("stopword_ratio", F.round(n_stop * 1.0 / F.greatest(n_tokens, F.lit(1)), 6))
        .withColumn("avg_token_len", F.round(avg_token_len, 6))
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Deterministic 0-100 quality score over the feature columns
    (expects quality_features() output)."""
    length_pts = F.when(F.col("n_tokens") >= 50, 40).when(
        F.col("n_tokens") >= 20, 25
    ).when(F.col("n_tokens") >= 5, 10).otherwise(0)
    stop_pts = F.when(
        (F.col("stopword_ratio") >= 0.01) & (F.col("stopword_ratio") <= 0.2), 30
    ).otherwise(10)
    token_pts = F.when(
        (F.col("avg_token_len") >= 3) & (F.col("avg_token_len") <= 10), 30
    ).otherwise(10)
    return df.withColumn("quality_score", length_pts + stop_pts + token_pts)


def _isin_pred(markers: tuple[str, ...]):
    # A plain closure: a default-arg lambda would grow a second
    # parameter, which F.filter interprets as the (value, index)
    # two-arg lambda form.
    return lambda t: t.isin(*markers)


def predict_lang(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Argmax language over marker-token scores; 'und' when no evidence.

    Ties break by language-code order (deterministic), matching the
    SQL oracle's greatest-score-first CASE chain.

    The text is tokenized ONCE into an intermediate projection and the
    per-language filters read that array column — inlining the split
    into each score (the obvious withColumn chain) leaves |languages|
    split() calls in the plan, and codegen subexpression elimination
    does not reach inside higher-order-function arguments; at corpus
    scale that is a |languages|× tokenization bill. Single select for
    the scores (not a withColumn chain) also keeps analysis time flat
    as languages are added.
    """
    tokd = df.withColumn("_lang_toks", tokens(F.col(text_col)))
    scored = tokd.select(
        "*",
        *[
            F.size(F.filter(F.col("_lang_toks"), _isin_pred(markers))).alias(
                f"score_{lang}"
            )
            for lang, markers in LANG_MARKERS.items()
        ],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = F.when(best == 0, "und")
    for lang in LANG_MARKERS:  # first max wins -> deterministic tie-break
        pred = pred.when(F.col(f"score_{lang}") == best, lang)
    return scored.withColumn("predicted_lang", pred).drop("_lang_toks")


BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish regex segmentation count (letters
    runs / digit runs / other symbols), the standard cheap proxy for
    tokenizer cost in data pipelines."""
    return df.withColumn(
        "ws_tokens", F.size(tokens(F.col(text_col)))
    ).withColumn(
        "bpe_ish_tokens", F.regexp_count(F.col(text_col), F.lit(BPE_ISH_PATTERN))
    )


def bag_fingerprint(text_col: str = "text") -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token bag. Detects shuffled/reordered near-duplicates that exact
    hashing misses."""
    bag = F.array_join(
        F.array_sort(F.array_distinct(tokens(F.col(text_col)))), " "
    )
    return F.md5(bag)


def exact_fingerprint(text_col: str = "text") -> Column:
    """Exact-dedup key: md5 of lowercased, trimmed text."""
    return F.md5(F.lower(F.trim(F.col(text_col))))


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al.
    2021 §A1.1 use duplicate-line / top-n-gram-character fractions as
    core quality filters; our corpus is single-line so the word-level
    variants carry the signal):

    - dup_token_ppm:   1 - distinct/total tokens, in parts-per-million
    - top_bigram_ppm:  chars covered by occurrences of the most frequent
                       word 2-gram / total chars (ties: lexicographic)
    - dup_trigram_ppm: chars in word 3-grams occurring more than once /
                       total chars (overlaps counted, per the standard
                       formula)
    - repetitive:      1 if top_bigram_ppm > 200000 or
                       dup_trigram_ppm > 600000

    All ratios are BIGINT parts-per-million via integer division
    ((1e6 * num) div den) so the DuckDB oracle matches bit-for-bit —
    no float rounding boundary risk.

    Scale: bigrams and trigrams are generated in ONE tagged explode
    and counted by ONE groupBy on (doc, n, gram) — a single scan and a
    single shuffle whose keys are high-cardinality and skew-free; the
    counts frame is materialized so the two readers (top-bigram window,
    dup-trigram rollup) don't re-run the explode. The per-doc top-1
    window partitions by doc_id. No global sort, no UDFs.
    """
    toks = tokens(F.col("__t"))
    base = spread_small_scan(
        df.select(F.col(id_col), F.col(text_col).alias("__t"))
    ).select(
        F.col(id_col),
        F.length("__t").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        toks.alias("_toks"),
    )

    def gram_arr(n: int):
        return F.transform(
            ngrams(F.col("_toks"), n),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram")),
        )

    counts = materialize(
        base.select(
            id_col,
            "n_chars",
            F.explode(F.concat(gram_arr(2), gram_arr(3))).alias("g"),
        )
        .groupBy(id_col, "n_chars", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cnt"), "gram")
    top_bg = (
        counts.filter(F.col("n") == 2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            F.col("gram").alias("top_bigram"),
            F.expr("(1000000 * cnt * length(gram)) div n_chars").alias(
                "top_bigram_ppm"
            ),
        )
    )
    dup_tri = (
        counts.filter((F.col("n") == 3) & (F.col("cnt") > 1))
        .groupBy(id_col, "n_chars")
        .agg(F.sum(F.expr("cnt * length(gram)")).alias("dup_tri_chars"))
        .select(
            id_col,
            F.expr("(1000000 * dup_tri_chars) div n_chars").alias(
                "dup_trigram_ppm"
            ),
        )
    )
    return (
        base.drop("_toks")
        .join(top_bg, id_col, "left")
        .join(dup_tri, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.expr(
                "(1000000 * (n_tokens - n_distinct_tokens)) div n_tokens"
            ).alias("dup_token_ppm"),
            "top_bigram",
            F.coalesce("top_bigram_ppm", F.lit(0)).alias("top_bigram_ppm"),
            F.coalesce("dup_trigram_ppm", F.lit(0)).alias("dup_trigram_ppm"),
        )
        .withColumn(
            "repetitive",
            (
                (F.col("top_bigram_ppm") > 200000)
                | (F.col("dup_trigram_ppm") > 600000)
            ).cast("int"),
        )
    )


def vocab_stats(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    top_k: int = 10,
) -> DataFrame:
    """Corpus-level vocabulary statistics per group — the Heaps/Zipf
    health signals a corpus audit reports before training:

    - vocab_size:        distinct terms
    - total_tokens:      token occurrences
    - hapax_terms:       terms occurring exactly once (Zipf tail mass;
                         a collapsing hapax share flags boilerplate)
    - topk_tokens:       occurrences of the `top_k` most frequent terms
                         (ties: lexicographic)
    - topk_coverage_ppm: topk_tokens / total_tokens in integer ppm —
                         Zipf head concentration; high = templated text
    - hapax_ppm:         hapax_terms / vocab_size in integer ppm

    Integer ppm via `div` so the DuckDB oracle matches bit-for-bit.

    Scale: explode is narrow; the (group, term) groupBy is the one
    shuffle and its key is high-cardinality (vocabulary), so hot
    groups don't serialize — only the final per-group rollup (rows =
    vocab, not tokens) touches the low-cardinality group key.
    """
    # NOT spread (r11 A/B: +0.27s — the (group, term) partial agg
    # already parallelizes the heavy half)
    term_counts = (
        df.select(F.col(group_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(group_col, "term")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("cnt"), "term")
    return (
        term_counts.withColumn("rnk", F.row_number().over(w))
        .groupBy(group_col)
        .agg(
            F.count("*").alias("vocab_size"),
            F.sum("cnt").alias("total_tokens"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("hapax_terms"),
            F.sum(F.when(F.col("rnk") <= top_k, F.col("cnt")).otherwise(0)).alias(
                "topk_tokens"
            ),
        )
        .select(
            group_col,
            "vocab_size",
            "total_tokens",
            "hapax_terms",
            "topk_tokens",
            F.expr("(1000000 * topk_tokens) div total_tokens").alias(
                "topk_coverage_ppm"
            ),
            F.expr("(1000000 * hapax_terms) div vocab_size").alias("hapax_ppm"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_term_len: int = 3,
) -> DataFrame:
    """Per-document top-k salient terms by tf × idf — the standard
    corpus-analysis primitive (keyword extraction, quality weighting,
    topic skew detection) of a training-data pipeline.

    idf is the BM25 rational core (N - df + 0.5) / (df + 0.5) WITHOUT
    the log: log is monotone so the RANKING is identical, and pure
    rational IEEE arithmetic is bit-reproducible across engines — the
    DuckDB oracle verifies scores value-for-value, where an ln() could
    differ in the last ulp between libm implementations. (At scale the
    log only tames magnitudes; the plan shape is unchanged.)

    Scale: one narrow explode of tokens; tf = one shuffle on
    (doc, term); document frequency REUSES the tf output (no second
    text pass); corpus size joins in as a broadcast 1-row aggregate;
    the top-k window partitions by doc (high cardinality — no global
    sort anywhere).
    """
    # NOT spread (r11): measured 0.83s -> 1.44s with the widening
    # exchange — the token explode here is light and the (doc, term)
    # groupBy's partial aggregation already parallelizes the heavy part
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).filter(F.length("term") >= min_term_len)
    tf = toks.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    n_docs = df.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(doc_freq, "term")
        .join(F.broadcast(n_docs), F.lit(True))
        .withColumn(
            "score",
            F.col("tf")
            * (F.col("n_docs") - F.col("doc_freq") + 0.5)
            / (F.col("doc_freq") + 0.5),
        )
    )
    w = Window.partitionBy("doc").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("doc").alias(id_col),
            "rnk",
            "term",
            "tf",
            "doc_freq",
            F.round("score", 6).alias("score"),
        )
    )


def classifier_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    keep_threshold_ppm: int = 700_000,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Model-based quality-classifier filter (the FineWeb-Edu / DCLM
    pipeline stage: score every document with a trained quality model,
    keep the high-scoring tail). The "model" here is a fixed linear
    scorer over interpretable features — the same shape a distilled
    fasttext/regression quality model has — evaluated entirely in
    BIGINT parts-per-million integer arithmetic so the DuckDB oracle
    verifies scores bit-for-bit (no sigmoid/exp float boundary risk).

    Feature components (each clipped to its weight's range, summing to
    at most 1e6 ppm):
    - length:     min(n_tokens, 100) * 3000            (≤ 300000)
    - stopword:   peak at 10% stopword mass, linear falloff
                  max(0, 250000 - |stop_ppm - 100000|)  (≤ 250000)
    - punct:      max(0, 150000 - 2 * punct_ppm)        (≤ 150000)
    - diversity:  distinct/total token ppm * 3 div 10   (≤ 300000)

    Returns (id, *carry_cols, score_ppm, kept) — pass `carry_cols`
    to keep input columns (grouping keys, earlier gate flags) riding
    the same single pass instead of re-joining the scan (p13's
    dataset card does). One scan, no shuffle, no UDFs —
    whole-stage codegen end to end, so it runs at parquet-scan speed
    on a 100 TB corpus.
    """
    toks = tokens(F.col(text_col))
    carry = [F.col(c) for c in carry_cols]
    feats = df.select(
        F.col(id_col),
        *carry,
        F.length(text_col).alias("__qc_chars"),
        F.size(toks).alias("__qc_tokens"),
        F.size(F.array_distinct(toks)).alias("__qc_distinct"),
        (
            F.length(text_col)
            - F.length(F.regexp_replace(text_col, r"[.,!?;:]", ""))
        ).alias("__qc_punct"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).alias("__qc_stop"),
    )
    scored = feats.select(
        id_col,
        *[F.col(c) for c in carry_cols],
        F.expr(
            """
            least(__qc_tokens, 100) * 3000
            + greatest(0, 250000 - abs((__qc_stop * 1000000 div greatest(__qc_tokens, 1)) - 100000))
            + greatest(0, 150000 - 2 * (__qc_punct * 1000000 div greatest(__qc_chars, 1)))
            + ((__qc_distinct * 1000000 div greatest(__qc_tokens, 1)) * 3 div 10)
            """
        ).alias("score_ppm"),
    )
    return scored.withColumn(
        "kept", (F.col("score_ppm") >= keep_threshold_ppm).cast("int")
    )


# PII patterns shared by the scrub operator and its tests. Kept to
# syntax portable across Java regex (Spark) and RE2 (DuckDB): no
# backreferences, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}
PII_ORDER = ("email", "phone", "ipv4")


def pii_scrub(
    df: DataFrame, text_col: str = "text", out_col: str = "scrubbed"
) -> DataFrame:
    """PII detection + redaction (the privacy pass every released
    training corpus runs): count and replace emails, NANP-style phone
    numbers, and IPv4 literals with typed placeholder tokens.

    Order matters and is fixed (email → phone → ipv4): emails are
    scrubbed before the ip pattern can match a dotted quad inside a
    hostname-like tail. Counts are taken on the ORIGINAL text, each
    redaction on the previous stage's output — the standard chained
    regexp_replace shape, one scan, pure codegen, no UDFs.
    """
    out = df
    for name in PII_ORDER:
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[name]))
        )
    scrubbed = F.col(text_col)
    for name in PII_ORDER:
        scrubbed = F.regexp_replace(scrubbed, PII_PATTERNS[name], f"[{name.upper()}]")
    return out.withColumn(out_col, scrubbed)


def surprisal_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Perplexity-proxy scoring from corpus unigram statistics (the
    CCNet-style LM filter stage, with the n-gram LM replaced by the
    corpus's own unigram table so the score is engine-exact): each
    token occurrence contributes rarity = 1e6 div corpus_count, and a
    document's score is the integer mean of its tokens' rarities.
    High score ⇒ rare-token-heavy (OOV-ish / noisy), low score ⇒
    common-token text — the same decision axis a perplexity filter
    thresholds on, in BIGINT arithmetic the oracle replays exactly.

    Scale: token explode → corpus unigram groupBy (one shuffle on
    token, Zipf-skew absorbed by partial aggregation) → broadcast-or-
    shuffle join back → per-doc agg (one shuffle on doc id). Linear,
    no driver state; the unigram table is reusable across runs.
    """
    # NOT spread (r11 A/B: +0.33s — light explode, partial-agg absorbs)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    freq = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    return (
        toks.join(freq, "term")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_tokens"),
            F.expr("sum(1000000 div cnt) div count(*)").alias(
                "mean_rarity_ppm"
            ),
        )
        .select(F.col("doc").alias(id_col), "n_tokens", "mean_rarity_ppm")
    )


def _bigram_rows(toked: DataFrame, *keep: str) -> DataFrame:
    """(*keep, w1, bg): one row per adjacent token pair of the token
    array `t` — w1 the first token, bg the pair joined by a space —
    for rows of at least two tokens."""
    return (
        toked.filter(F.size("t") >= 2)
        .select(
            *keep,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), i -> struct("
                    "element_at(t, i) AS w1, "
                    "concat_ws(' ', element_at(t, i), element_at(t, i + 1)) AS bg))"
                )
            ).alias("x"),
        )
        .select(*keep, "x.w1", "x.bg")
    )


def bigram_surprisal_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bigram-conditional surprisal — t10's unigram proxy upgraded to
    a 2-gram LM: each bigram (w1, w2) contributes
    (1e6 * count(w1-as-prefix)) div count(w1 w2), the integer
    reciprocal of the conditional probability p(w2 | w1) estimated
    from the corpus itself; a document's score is the integer mean
    over its bigrams. High score ⇒ improbable continuations (noisy /
    shuffled / OOV text), low ⇒ fluent common phrasing — the closest
    engine-exact analogue of a perplexity filter. Docs with < 2
    tokens are excluded (no bigram evidence).

    Scale: bigram explode → two grouped counts (bigram, prefix) — both
    shuffle on high-cardinality gram keys with partial aggregation —
    → join back → per-doc agg. Linear, no driver state.
    """
    # NOT spread (r11 A/B: +0.44s — the localCheckpointed bigram
    # frame's gram groupBys dominate and already parallelize)
    toked = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("t")
    )
    flat = materialize(_bigram_rows(toked, "doc"))
    f12 = flat.groupBy("bg").agg(F.count("*").alias("c12"))
    f1 = flat.groupBy("w1").agg(F.count("*").alias("c1"))
    return (
        flat.join(f12, "bg")
        .join(f1, "w1")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr("sum((1000000 * c1) div c12) div count(*)").alias(
                "mean_cond_ppm"
            ),
        )
        .select(F.col("doc").alias(id_col), "n_bigrams", "mean_cond_ppm")
    )


def heuristic_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 30,
    max_words: int = 100000,
    min_mean_len: int = 4,
    max_mean_len: int = 10,
    min_unique_num: int = 1,
    min_unique_den: int = 2,
) -> DataFrame:
    """C4/Gopher-style heuristic rule battery (Raffel et al. 2020;
    Rae et al. 2021 Gopher §A1.1) — the RULE gate that runs before any
    learned classifier (t08): per-doc boolean flags for each rule plus
    the conjunction, so a pipeline can audit WHICH rule rejected a doc
    rather than just how many were dropped.

    - r_nwords:  word count in [min_words, max_words]
    - r_wordlen: mean word length in [min_mean_len, max_mean_len] —
      as the INTEGER inequality min*n <= total_chars <= max*n (no
      division, engine-exact); total word chars = len(text) minus the
      n-1 separator spaces
    - r_stop2:   ≥2 distinct stop words present (Gopher's stop-word
      requirement over this corpus's 2-word list)
    - r_unique:  unique-token fraction ≥ min_unique_num/min_unique_den
      (integer cross-multiplication)
    - r_clean:   no '{' and no 'lorem ipsum' (C4's code/placeholder
      screens; cheap constant guards on natural corpora)

    Scale: ONE scan, pure codegen expressions (split/size/
    array_distinct/contains), zero shuffles, zero UDFs — adding the
    gate to a pipeline costs no extra pass, same contract as t08.
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    total_chars = F.length(F.col(text_col)) - (n - F.lit(1))
    n_uniq = F.size(F.array_distinct(toks))
    r_nwords = (n >= min_words) & (n <= max_words)
    r_wordlen = (total_chars >= F.lit(min_mean_len) * n) & (
        total_chars <= F.lit(max_mean_len) * n
    )
    r_stop2 = (
        sum(
            F.when(F.array_contains(toks, w), 1).otherwise(0)
            for w in STOPWORDS
        )
        >= 2
    )
    r_unique = n_uniq * min_unique_den >= n * min_unique_num
    r_clean = (~F.col(text_col).contains("{")) & (
        ~F.col(text_col).contains("lorem ipsum")
    )
    out = df.select(
        "*",
        n.alias("n_tokens"),
        r_nwords.alias("r_nwords"),
        r_wordlen.alias("r_wordlen"),
        r_stop2.alias("r_stop2"),
        r_unique.alias("r_unique"),
        r_clean.alias("r_clean"),
    )
    flags = ["r_nwords", "r_wordlen", "r_stop2", "r_unique", "r_clean"]
    n_failed = sum(
        F.when(F.col(c), 0).otherwise(1) for c in flags
    ).cast("int")
    keep = F.col(flags[0])
    for c in flags[1:]:
        keep = keep & F.col(c)
    return out.withColumn("n_failed", n_failed).withColumn("keep", keep)


def bpe_merge_counts(
    df: DataFrame, text_col: str = "text", top_k: int = 20
) -> DataFrame:
    """One iteration of BPE tokenizer training's merge counting
    (Sennrich et al. 2016): build the word-frequency dictionary, then
    count adjacent character pairs WEIGHTED by word frequency — the
    top pair is the next merge a BPE trainer would apply. Training a
    tokenizer over a 100 TB corpus is itself a distributed counting
    job, and this is its inner loop.

    Emits the top_k merge candidates as (rnk, pair, pair_count),
    ties broken lexicographically — fully integer arithmetic, so the
    DuckDB oracle matches bit-for-bit.

    Scale: two shuffles, both on high-cardinality skew-free keys —
    (word) for the dictionary (the standard BPE preprocessing: pair
    counting runs over DISTINCT words × freq, not over every token
    occurrence — a corpus of 10¹² tokens has only ~10⁷ distinct
    words), then (pair) for the weighted rollup. The top-k is a
    global ORDER BY LIMIT over |pairs| rows (alphabet², bounded).
    Subsequent BPE iterations re-segment with the chosen merge and
    recount — a deterministic driver loop over this same plan, the
    s03-kmeans shape; one iteration is the capability surface here.
    """
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    counted = pairs.groupBy("pair").agg(
        F.sum("freq").alias("pair_count")
    )
    w = Window.orderBy(F.desc("pair_count"), F.col("pair"))
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("rnk", "pair", "pair_count")
    )


CHAR_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def char_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc character-diversity audit over a fixed 37-char alphabet
    (lowercased letters, digits, space): counted chars, distinct chars
    seen, and the Renyi-2 collision index in integer ppm
    (1e6 * sum(cnt_c^2) / n^2 — the probability two sampled chars
    collide; log-free, so bit-exact across engines, unlike Shannon
    entropy). High collision = repeated-character spam; low diversity
    is the cheap pre-filter before t06's token-level repetition pass.

    Scale: ZERO shuffles — per-char counts come from the
    length(replace(...)) trick, so the whole audit is one codegen
    scan projecting 37 integer subexpressions; no explode, no
    char-histogram groupBy. At 100 TB this runs at parquet-scan
    speed. The expression is built as one selectExpr so driver-side
    py4j cost stays flat.
    """
    n = len(CHAR_ALPHABET)
    cnt_exprs = [
        f"(length(__t) - length(replace(__t, '{c}', ''))) AS __c{i}"
        for i, c in enumerate(CHAR_ALPHABET)
    ]
    base = spread_small_scan(
        df.selectExpr(id_col, f"lower({text_col}) AS __t")
    ).selectExpr(id_col, *cnt_exprs)
    counted = " + ".join(f"__c{i}" for i in range(n))
    sumsq = " + ".join(f"__c{i} * __c{i}" for i in range(n))
    uniq = " + ".join(
        f"(CASE WHEN __c{i} > 0 THEN 1 ELSE 0 END)" for i in range(n)
    )
    return base.selectExpr(
        id_col,
        f"CAST({counted} AS BIGINT) AS counted_chars",
        f"CAST({uniq} AS INT) AS uniq_chars",
        f"CAST(CASE WHEN ({counted}) > 0 THEN "
        f"(1000000 * CAST({sumsq} AS BIGINT)) "
        f"DIV (CAST({counted} AS BIGINT) * CAST({counted} AS BIGINT)) "
        f"ELSE NULL END AS BIGINT) AS collision_ppm",
    )


def oov_rates(
    df: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the corpus's own top-N
    vocabulary (count desc, term asc tiebreak — deterministic): the
    domain-shift / noise axis a tokenizer-aware filter thresholds
    (docs full of tokens the tokenizer has no merges for blow up
    sequence lengths). Integer ppm, bit-exact.

    Scale: one token explode → (term) count shuffle → top-N rank
    (vocab_size rows) → BROADCAST the vocabulary into the per-doc
    token pass → one per-doc groupBy. The vocabulary is the only
    global artifact and it is bounded by construction.
    """
    # NOT spread (r11 A/B: +0.45s — light explode, partial-agg absorbs)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    # orderBy().limit() plans as TakeOrderedAndProject — per-partition
    # top-N merged on the driver, never a single-task global sort of
    # the whole vocabulary (a row_number window here would be one)
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("term"))
        .limit(vocab_size)
        .select("term", F.lit(1).alias("__in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), "term", "left")
    return (
        flagged.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            ).alias("oov_tokens"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            "oov_tokens",
            F.expr("1000000 * oov_tokens DIV n_tokens").alias("oov_ppm"),
        )
    )


def hash_embed(
    df: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashing-trick document embeddings (feature hashing, Weinberger
    et al. 2009): each token maps to a bucket and a ±1 sign by md5,
    bucket sums are L2-normalized — a real, trainable-model-free
    featurizer that bridges the text lane into the vector lane
    (s01/s02/d08 run unchanged on its output). Deterministic md5
    arithmetic end-to-end, so the whole embedding is engine-exact
    (unlike a learned encoder, which would be a stub in this
    container).

    Scale: one token explode → ONE per-doc groupBy whose `dim`
    conditional sums are partial-agg decomposable — the embedding of
    a 10⁹-doc corpus is a single shuffle. No Python, no pivot.
    """
    # NOT spread (r11): measured 1.41s -> 1.71s — the md5 bucket/sign
    # work rides the decomposable per-doc groupBy, which parallelizes
    # map-side already; the extra exchange only added overhead
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    bucket = hex_int(F.md5(F.concat(F.col("term"), F.lit("#b")))) % dim
    sign = F.when(
        hex_int(F.md5(F.concat(F.col("term"), F.lit("#s")))) % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    hashed = toks.select("doc", bucket.alias("b"), sign.alias("s"))
    sums = hashed.groupBy("doc").agg(
        *[
            F.sum(F.when(F.col("b") == i, F.col("s")).otherwise(0))
            .cast("double")
            .alias(f"__r{i}")
            for i in range(dim)
        ]
    )
    norm = F.sqrt(
        sum(F.col(f"__r{i}") * F.col(f"__r{i}") for i in range(dim))
    )
    out_cols = [
        F.when(norm > 0, F.round(F.col(f"__r{i}") / norm, 4))
        .otherwise(F.lit(0.0))
        .alias(f"d{i:02d}")
        for i in range(dim)
    ]
    return sums.select(F.col("doc").alias(id_col), *out_cols)


def _bpe_dictionary(df: DataFrame, text_col: str) -> DataFrame:
    """The BPE word dictionary: distinct [a-z0-9]{2,} words x corpus
    frequency, each word as a BOTH-sides-delimited symbol string
    '|h|e|l|l|o|' (the standard pre-tokenization normalization; the
    '|' separator is unambiguous under the alphabet filter). The
    trailing delimiter lets merge application match '|l|r|' exactly —
    a prefix-only form's replace(s, '|l|r', ..) also fires where the
    FOLLOWING symbol merely starts with r (e.g. after merging (b,c),
    applying (a,b) would corrupt '|a|bc' into '|abc')."""
    # NOT spread (r11 A/B: +0.3-0.45s on t13/t23/t24 — the word
    # groupBy's partial aggregation parallelizes the counting already)
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(
            F.col("word").rlike("^[a-z0-9]+$") & (F.length("word") >= 2)
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select(
            F.expr("regexp_replace(word, '(.)', '|$1') || '|'").alias(
                "s"
            ),
            "freq",
        )
    )


def _bpe_apply_expr(col_sql: str, l: str, r: str) -> str:
    """SQL expression applying merge (l, r) to a both-delimited symbol
    string: TWO passes of replace(s, '|l|r|', '|lr|'). One pass misses
    every second occurrence in a RUN of consecutive pairs (the match
    consumes the delimiter the next occurrence needs: '|a|b|a|b|' ->
    '|ab|a|b|'); but pass-1 misses are never adjacent (two adjacent
    misses would mean 4 consecutive unmerged symbols l r l r, and the
    left-to-right scan would have merged the first), so every miss is
    fully delimited after pass 1 and pass 2 reaches the fixpoint.
    Symbols never contain '|', so '|l|r|' matches exactly the symbol
    pair (l, r) — no prefix-extension false merges."""
    once = f"replace({col_sql}, '|{l}|{r}|', '|{l}{r}|')"
    return f"replace({once}, '|{l}|{r}|', '|{l}{r}|')"


def bpe_train(
    df: DataFrame, text_col: str = "text", n_merges: int = 4
) -> DataFrame:
    """ITERATED BPE tokenizer training (Sennrich et al. 2016): k rounds
    of count-pairs -> pick-top-merge -> re-segment, returning the merge
    TABLE (step, lhs, rhs, merged, pair_count) — the trained artifact a
    tokenizer ships. bpe_merge_counts above is ONE round's counting;
    this is the full training loop with the kcore/pagerank iterative
    discipline (fixed budget, raise when the corpus runs dry,
    localCheckpoint per round so lineage stays flat).

    Representation: each dictionary word is a BOTH-sides-delimited
    symbol string '|h|e|l|l|o|' (symbols are [a-z0-9]+ after the
    standard BPE pre-tokenization filter, so '|' is unambiguous).
    Re-segmentation for merge (l, r) is a TWO-pass codegen
    replace(s, '|l|r|', '|lr|') (_bpe_apply_expr): the end delimiter
    makes the match exact (a prefix-only '|l|r' also fires where the
    following symbol merely STARTS with r, fusing symbols no merge
    produced), and the second pass picks up the alternating misses in
    consecutive runs ('|a|b|a|b|' -> pass 1 '|ab|a|b|' -> pass 2
    '|ab|ab|'; misses are never adjacent, so two passes reach the
    fixpoint).

    Scale: the loop runs over the DISTINCT-word dictionary x freq
    (~1e7 rows for a 1e12-token corpus), never the corpus; each round
    is one pair-keyed shuffle + a TakeOrdered(1) reduction + one
    codegen replace; per-round state is checkpointed so the k-round
    lineage never re-reads the corpus. The driver holds exactly k
    1-row results (k-seeds-bounded collect discipline).
    """
    spark = df.sparkSession
    words = materialize(_bpe_dictionary(df, text_col))
    merges = []
    for step in range(1, n_merges + 1):
        # Project the split array to a column FIRST: codegen
        # subexpression elimination does not reach inside
        # higher-order-function lambdas (t02/d18 lesson).
        pair_counts = (
            words.withColumn(
                "a",
                F.expr("split(substring(s, 2, length(s) - 2), '[|]')"),
            )
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "CASE WHEN size(a) >= 2 THEN"
                        " transform(sequence(1, size(a) - 1),"
                        " i -> struct(element_at(a, i) AS l,"
                        " element_at(a, i + 1) AS r))"
                        " ELSE array() END"
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("pair_count"))
        )
        top = pair_counts.orderBy(
            F.desc("pair_count"), "l", "r"
        ).limit(1).collect()
        if not top:
            if step == 1:
                # Empty dictionary (every length>=2 word starts with
                # >=1 pair, so no pairs at step 1 means NO words):
                # "trained on nothing" is an empty merge table, not an
                # error — the empty-input contract every query keeps.
                break
            raise RuntimeError(
                f"bpe_train: corpus ran dry after {step - 1} merges "
                f"(asked for {n_merges}); lower n_merges or grow the "
                "corpus"
            )
        l, r, cnt = top[0].l, top[0].r, int(top[0].pair_count)
        merges.append((step, l, r, l + r, cnt))
        words = materialize(
            words.select(
                F.expr(_bpe_apply_expr("s", l, r)).alias("s"),
                "freq",
            )
        )
    return spark.createDataFrame(
        merges,
        "step INT, lhs STRING, rhs STRING, merged STRING,"
        " pair_count BIGINT",
    )


def bpe_compression(
    df: DataFrame, text_col: str = "text", n_merges: int = 4
) -> DataFrame:
    """TRAIN -> APPLY -> MEASURE: the tokenizer-compression number a
    BPE budget decision needs. compression_ppm = 1e6 * corpus_syms
    DIV corpus_chars — SYMBOLS PER CHAR scaled to ppm, so LOWER means
    better compression (an untrained corpus sits at 1e6; each merge
    pushes it down). Trains n_merges merges (bpe_train), applies them
    to the dictionary as ONE chained codegen replace projection (the
    same two-pass both-delimited application the trainer used, so
    apply == training's final segmentation by construction), and
    aggregates corpus-weighted chars vs symbols into a single
    exact-integer row.

    compression_ppm rides DECIMAL(38,0) (the t22 discipline: 1e6 x
    corpus characters passes 2^63 at large corpora).

    Scope: a k-merge chain is 2k codegen string ops per dictionary
    word — right for the small-k training loop this measures; a
    production 32k-merge vocabulary would apply as a trie-walk
    Pandas UDF instead (one pass per word, not 32k replaces).
    """
    merges = sorted(
        bpe_train(df, text_col, n_merges).collect(), key=lambda r: r.step
    )
    expr = "s"
    for m in merges:
        expr = _bpe_apply_expr(expr, m.lhs, m.rhs)
    applied = _bpe_dictionary(df, text_col).select(
        F.expr(expr).alias("s"), "freq"
    )
    # Both-delimited form carries n_syms + 1 pipes per word, hence -1.
    return applied.agg(
        F.count(F.lit(1)).alias("n_vocab_words"),
        F.expr(
            "CAST(sum(freq * length(replace(s, '|', ''))) AS BIGINT)"
        ).alias("corpus_chars"),
        F.expr(
            "CAST(sum(freq * (length(s) - length(replace(s, '|', ''))"
            " - 1)) AS BIGINT)"
        ).alias("corpus_syms"),
        F.expr(
            "CAST((1000000 * CAST(sum(freq * (length(s)"
            " - length(replace(s, '|', '')) - 1)) AS DECIMAL(38,0)))"
            " DIV sum(freq * length(replace(s, '|', ''))) AS BIGINT)"
        ).alias("compression_ppm"),
    )


def heldout_bigram_eval(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    test_pred: Column | None = None,
) -> DataFrame:
    """HELD-OUT bigram LM evaluation — the measurement t10/t11 skip:
    both score a document against counts that INCLUDE the document
    itself, so a filter tuned on them has silently seen its own test
    set. Here the corpus splits train/test on the p03 md5 bucket
    (test = bucket < 10 of 100, the same engine-portable assignment),
    an add-one-smoothed bigram LM is estimated from the TRAIN half
    only, and each TEST doc is scored on integer reciprocal
    conditional probabilities:

        ppm(w1 w2) = (1e6 * (c1(w1) + V)) div (c12(w1 w2) + 1)

    with c1/c12 TRAIN counts (0 when unseen) and V the train prefix
    vocabulary — Laplace smoothing keeps unseen continuations finite
    while still ranking them as maximally surprising. Per test doc:
    bigram count, unseen-bigram count (the OOV-transition tail), and
    the mean smoothed surprisal — exactly the quantity a perplexity
    gate thresholds, measured without train/test leakage.

    test_pred overrides the split predicate (unit tests plant exact
    corpora; production uses the default md5 bucket).

    Scale: train counts are two decomposable gram-keyed groupBys
    (the t11 shape over ~90% of the corpus); test scoring is two
    gram-keyed LEFT equi-joins plus a broadcast 1-row vocab size; the
    per-doc rollup shuffles on doc. Linear end to end, no pairwise
    machinery, no Python.
    """
    if test_pred is None:
        test_pred = md5_bucket(F.col(id_col)) < 10
    # NOT spread (r11): measured 1.25s -> 1.54s — the bigram explode
    # feeds a localCheckpoint whose downstream gram groupBys dominate
    toked = df.select(
        F.col(id_col).alias("doc"),
        test_pred.alias("is_test"),
        tokens(F.col(text_col)).alias("t"),
    )
    flat = materialize(_bigram_rows(toked, "doc", "is_test"))
    train = flat.filter(~F.col("is_test"))
    test = flat.filter(F.col("is_test"))
    f12 = train.groupBy("bg").agg(F.count("*").alias("c12"))
    f1 = train.groupBy("w1").agg(F.count("*").alias("c1"))
    vsz = train.agg(F.countDistinct("w1").alias("vsz"))
    return (
        test.join(f12, "bg", "left")
        .join(f1, "w1", "left")
        .crossJoin(F.broadcast(vsz))
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr(
                "CAST(sum(CASE WHEN c12 IS NULL THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_unseen_bigrams"),
            F.expr(
                "sum((1000000 * (coalesce(c1, 0) + vsz))"
                " div (coalesce(c12, 0) + 1)) div count(*)"
            ).alias("mean_heldout_ppm"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_bigrams",
            "n_unseen_bigrams",
            "mean_heldout_ppm",
        )
    )
