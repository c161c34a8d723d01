"""Structured Streaming pipelines: the streaming twins of the batch
event analytics (SURVEY §2 st01–st22).

The reference's "Real-time Personalization Effectiveness" workload is
a batch query over an events feed; in Spark the native re-expression
is readStream + watermark + windowed/sessionized aggregation. File
source here (tests drive it with processAllAvailable); swap
`.format("kafka")` in production — the transformations are identical.

Scale notes:
- Watermarks bound state: without them, windowed aggs grow state
  forever at 100 TB/day event rates.
- session_window is Spark's native gap-sessionization — the streaming
  equivalent of operators/sessionize.py (same 30-min gap).
- dropDuplicates WITH the watermark column bounds the dedup state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_sql_and_pyspark_developement__spark.session import materialize
from etl_sql_and_pyspark_developement__spark.sources.catalog import normalize_events_ts

_RAW_SCHEMA: dict[str, StructType] = {}


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events reader. A file-source stream needs its schema
    declared up front, so it declares the raw schema a one-off batch
    footer read of the directory found (probed once per directory, not
    a full read per call), then applies catalog.table's ts normalizer
    (normalize_events_ts): every events layout reaches the operators
    as the same TIMESTAMP column in both readers."""
    if sf_dir not in _RAW_SCHEMA:
        _RAW_SCHEMA[sf_dir] = spark.read.parquet(f"{sf_dir}/").schema
    raw = spark.readStream.schema(_RAW_SCHEMA[sf_dir]).format("parquet").load(f"{sf_dir}/")
    return normalize_events_ts(raw)


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """st01: watermarked sliding-window counts per event type."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes", "5 minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """st02: native session_window gap sessionization per user."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """st03: stateful exactly-once-per-key dedup within the watermark."""
    return events.withWatermark("ts", "30 minutes").dropDuplicates(
        ["event_id", "ts"]
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str) -> None:
    """Drive a streaming query to completion over the available files
    (synchronous; for tests/smoke).  Caller reads `SELECT * FROM name`."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def stream_static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """st05: stream-static join — enrich the event stream with a
    broadcastable static dimension, then windowed per-attribute rollup.

    Stream-static joins are stateless in Spark (each micro-batch joins
    against the static side's current snapshot) — the standard pattern
    for dimension enrichment at ingest."""
    return (
        events.join(F.broadcast(dim), events.user_id == dim.c_custkey, "left")
        .withColumn("segment", F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "segment")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "segment",
            "n_events",
            "total_value",
        )
    )


def _write_epoch(df: DataFrame, out_dir: str, epoch_id: int) -> None:
    """The one foreachBatch parquet write: overwrite the epoch's own
    partition `out_dir/__epoch=<id>`, so an epoch replayed after a
    restart (the sink wrote it, the commit log did not record it)
    replaces its rows instead of adding a second copy. Readers of
    `out_dir` see `__epoch` as a partition column."""
    df.write.mode("overwrite").parquet(f"{out_dir}/__epoch={epoch_id}")


def sink_foreach_batch_parquet(stream_df: DataFrame, out_dir: str):
    """Exactly-once-style sink via foreachBatch: each micro-batch goes
    through `_write_epoch`."""
    return stream_df.writeStream.foreachBatch(
        lambda batch_df, epoch_id: _write_epoch(batch_df, out_dir, epoch_id)
    )


def _attribution_interval_join(
    events_a: DataFrame,
    events_b: DataFrame,
    how: str,
    include_view_id: bool,
) -> DataFrame:
    """The ONE definition of the purchase<-view interval join st06 /
    st38 / st42 share (keys, 1h interval, 2h watermarks) — the three
    lanes differ only in join type and whether view identity columns
    ride the output, so a change to the attribution semantics lands
    in all three or none."""
    purchases = (
        events_a.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    views = (
        events_b.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    joined = purchases.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        how,
    )
    cols = ["purchase_id", "user_id", "purchase_ts"]
    if include_view_id:
        cols += ["view_id", "v_user_id"]
    return joined.select(*cols, "view_ts")


def stream_stream_attribution(events_a: DataFrame, events_b: DataFrame) -> DataFrame:
    """st06: stream-stream interval join — each purchase joins the
    view by the same user within the preceding hour (the streaming
    twin of the q25 as-of attribution).

    Both sides carry watermarks so Spark can bound the join state; the
    interval condition (view_ts in [purchase_ts - 1h, purchase_ts])
    tells the engine exactly when buffered rows expire.
    """
    return _attribution_interval_join(
        events_a, events_b, "inner", include_view_id=False
    )


def stream_ingest_dedup(doc_stream: DataFrame, corpus: DataFrame) -> DataFrame:
    """st08: incremental corpus ingestion — arriving documents are
    dropped when their exact fingerprint already exists in the static
    reference corpus, then quality features are attached for
    downstream gating. This is the continuous-crawl ingest path: the
    corpus fingerprint set is the static side of a stream-static join
    (stateless per micro-batch, broadcast when it fits), so ingestion
    never rescans the historical corpus.

    Structured Streaming has no stream-static LEFT ANTI join, so the
    anti is expressed as broadcast LEFT OUTER against the distinct
    fingerprint set + IS NULL filter — semantically identical, and the
    planner keeps the broadcast.

    At 100 TB the fingerprint set exceeds broadcast size: drop the
    broadcast hint and the same plan becomes a shuffled join per
    micro-batch, or swap the static side for a key-value store lookup
    via mapInPandas — the declarative shape here is unchanged.
    """
    from etl_sql_and_pyspark_developement__spark.operators.textstats import (
        exact_fingerprint,
        quality_features,
    )

    known = (
        corpus.select(exact_fingerprint("text").alias("fp"))
        .distinct()
        .withColumn("__known", F.lit(1))
    )
    fresh = (
        doc_stream.withColumn("fp", exact_fingerprint("text"))
        .join(F.broadcast(known), "fp", "left")
        .filter(F.col("__known").isNull())
        .drop("__known")
    )
    return quality_features(fresh).select(
        "doc_id", "lang", "source", "fp", "n_tokens"
    )


def streaming_dedup_within_watermark(
    events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """st07: dedup with BOUNDED state — dropDuplicatesWithinWatermark
    evicts each seen key once the watermark passes it. st03's plain
    dropDuplicates keeps every key forever: on an unbounded id space
    (event ids never repeat) that state grows without limit — the
    thing that OOMs a week-long stream at scale. The trade: a
    duplicate arriving later than the watermark delay is not
    suppressed, which is the correct contract when upstream replays
    are near-in-time (file redelivery, at-least-once sources)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_quality_gate(doc_stream: DataFrame) -> DataFrame:
    """st09: streaming quality-classifier gate — the t08 scorer
    (pure codegen integer arithmetic) applied to arriving documents,
    keeping only rows past the threshold. Stateless per micro-batch
    (no watermark, no state store), so it runs at ingest speed at any
    scale; compose with st08's anti-join for the full continuous-crawl
    curation path.
    """
    from etl_sql_and_pyspark_developement__spark.operators.textstats import (
        classifier_score,
    )

    return classifier_score(doc_stream).filter(F.col("kept") == 1)


def sink_stream_neardup(doc_stream: DataFrame, corpus: DataFrame, out_dir: str):
    """st10: streaming NEAR-duplicate ingest — each arriving micro-
    batch is screened against the static corpus with the full
    MinHash-LSH + exact-Jaccard machinery and survivors land in the
    sink. foreachBatch is the production shape here: the exact-Jaccard
    verify needs per-pair intersection aggregates, which an append-mode
    stream can't express directly, but per micro-batch the
    ALREADY-VERIFIED batch operator (operators/dedup.neardup_screen)
    runs unchanged.

    The corpus index (band table, shingles, sizes) is built and
    persisted ONCE outside the loop; per-batch caches are unpersisted
    after each sink write (a continuous stream must not accumulate one
    cached shingle frame per micro-batch); per-batch cost is
    proportional to the batch, never the corpus.
    """
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        corpus_neardup_index,
        neardup_screen,
    )

    index = corpus_neardup_index(corpus)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        handles: list = []
        survivors = neardup_screen(batch_df, index, cache_handles=handles)
        _write_epoch(survivors, out_dir, epoch_id)
        for h in handles:  # write materialized the screen; drop caches
            h.unpersist()

    return doc_stream.writeStream.foreachBatch(process)


def sink_stream_embed_neardup(vec_stream: DataFrame, corpus: DataFrame, out_dir: str):
    """st12: streaming EMBEDDING near-duplicate ingest — each arriving
    micro-batch of vectors is screened against a static embedding
    corpus (LSH-bucketed, pre-normalized; similarity.
    embedding_neardup_screen) and survivors land in the sink. The
    semantic twin of st10's text near-dup gate: a multimodal crawl
    dedups arriving embeddings against the corpus it has already kept.

    foreachBatch, same shape as st10: the index is built and
    materialized ONCE outside the loop; per-batch caches are released
    after each sink write; per-batch cost ∝ batch, never corpus.
    """
    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        embedding_neardup_index,
        embedding_neardup_screen,
    )

    index = embedding_neardup_index(corpus)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        handles: list = []
        survivors = embedding_neardup_screen(
            batch_df, index, cache_handles=handles
        )
        _write_epoch(survivors, out_dir, epoch_id)
        for h in handles:
            h.unpersist()

    return vec_stream.writeStream.foreachBatch(process)


def sink_stream_boilerplate(doc_stream: DataFrame, corpus: DataFrame, out_dir: str):
    """st13: streaming boilerplate-segment scrub — each arriving
    micro-batch of documents is scrubbed against the STATIC corpus's
    boilerplate index (dedup.boilerplate_index: md5 fps of segments in
    ≥10 distinct corpus docs) and the cleaned docs land in the sink.
    The streaming twin of d13, the way st10/st12 are streaming twins
    of the text/embedding near-dup screens: a continuous crawl strips
    the chrome it has already learned from the corpus it keeps.

    foreachBatch, same contract as st10: the index (tiny by
    construction) is built and persisted ONCE outside the loop and
    BROADCAST into each batch's anti-join; per-batch cost ∝ batch
    (segment explode + broadcast anti-join + per-doc reassembly) —
    the corpus is never rescanned. The index frame is one persisted
    handle for the stream's lifetime, not one per batch, so there is
    nothing to release per micro-batch.
    """
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        boilerplate_apply,
        boilerplate_index,
    )

    boiler = boilerplate_index(corpus).persist()
    boiler.count()  # materialize once, before the first batch

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        _write_epoch(boilerplate_apply(batch_df, boiler), out_dir, epoch_id)

    return doc_stream.writeStream.foreachBatch(process)


def stream_modality_router(doc_stream: DataFrame) -> DataFrame:
    """st14: streaming modality dispatch — m06's magic-byte sniff +
    per-modality typed metadata applied to arriving blobs. Stateless
    pure-codegen per micro-batch (no watermark, no state store), so a
    mixed crawl routes every incoming payload to its decode lane —
    or the quarantine — at ingest speed; compose with st09/st10/st13
    for the full multimodal curation path.
    """
    from etl_sql_and_pyspark_developement__spark.operators.multimodal import (
        modality_router,
        with_mixed_payload,
    )

    return modality_router(with_mixed_payload(doc_stream))


def _card_partials(batch_df: DataFrame) -> DataFrame:
    """Per-batch dataset-card PARTIAL state per (source, lang): the
    decomposable pieces of p13's card (counts/sums merge by summing)
    plus an HLL sketch of the exact-dup fingerprint set — the q51
    trick that makes even COUNT DISTINCT decomposable across batches.
    Same single carried-column pass as the batch card."""
    from etl_sql_and_pyspark_developement__spark.operators.textstats import (
        classifier_score,
        exact_fingerprint,
        heuristic_rules,
    )

    rules = heuristic_rules(batch_df).select(
        "doc_id", "text", "source", "lang", "n_chars",
        F.col("n_tokens").cast("long").alias("__toks"),
        F.col("keep").alias("__rule_keep"),
        exact_fingerprint("text").alias("__fp"),
    )
    scored = classifier_score(
        rules,
        carry_cols=(
            "source", "lang", "n_chars", "__toks", "__rule_keep", "__fp",
        ),
    )
    return scored.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("__toks").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("score_ppm").alias("sum_score"),
        F.sum(F.when(F.col("__rule_keep"), 1).otherwise(0)).alias(
            "n_rule_pass"
        ),
        F.hll_sketch_agg("__fp", F.lit(12)).alias("fp_sketch"),
    )


def _merge_card_state(parts: DataFrame) -> DataFrame:
    return parts.groupBy("source", "lang").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_tokens").alias("total_tokens"),
        F.sum("total_chars").alias("total_chars"),
        F.sum("sum_score").alias("sum_score"),
        F.sum("n_rule_pass").alias("n_rule_pass"),
        F.hll_union_agg("fp_sketch").alias("fp_sketch"),
    )


def sink_stream_dataset_card(doc_stream: DataFrame, state_dir: str):
    """st15: INCREMENTAL dataset-card maintenance — the q45 partial-
    merge pattern + q51's mergeable HLL sketches applied to p13's
    release audit. Each micro-batch writes its per-(source, lang)
    partials (one pass over the batch) through `_write_epoch`, and
    `read_dataset_card` merges them — history is NEVER rescanned, and
    the distinct-fingerprint axis stays decomposable because it lives
    in a union-mergeable sketch rather than an exact set.

    A replayed epoch overwrites its own partials, so it is counted
    once. The stored state grows by |cells| rows per batch (cells =
    the (source, lang) pairs the batch touches), as st22's does."""
    return doc_stream.writeStream.foreachBatch(
        lambda batch_df, epoch_id: _write_epoch(
            _card_partials(batch_df), state_dir, epoch_id
        )
    )


def read_dataset_card(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained card: the stored partials merged by
    `_merge_card_state`, with the derived (non-decomposable) columns
    computed at read time — mean quality from sum/count, rule pass
    rate in ppm, and the approximate distinct-document count from the
    merged sketch."""
    s = _merge_card_state(spark.read.parquet(state_dir))
    return s.select(
        "source",
        "lang",
        "n_docs",
        "total_tokens",
        "total_chars",
        F.expr("sum_score div n_docs").alias("mean_quality_ppm"),
        F.expr("1000000 * n_rule_pass div n_docs").alias("rule_pass_ppm"),
        F.round(F.hll_sketch_estimate("fp_sketch")).cast("bigint").alias(
            "approx_unique_docs"
        ),
    ).orderBy("source", "lang")


def stream_url_dedup(doc_stream: DataFrame, corpus: DataFrame) -> DataFrame:
    """st16: streaming canonical-URL admission — the crawl-frontier
    twin of d14 and the URL-tier sibling of st08's fingerprint
    anti-join. Each arriving doc's URL is canonicalized (stateless
    pure-codegen string work) and the doc is dropped when the static
    corpus already holds that canonical form. This gate runs BEFORE
    any content fetch/decode — the cheapest refetch suppressor a
    continuous crawl has, so it must stay stateless: no watermark, no
    state store, per-batch cost ∝ batch size.

    Same stream-static anti-join shape as st08 (broadcast LEFT OUTER
    + IS NULL — Structured Streaming has no stream-static left_anti);
    the corpus index is the DISTINCT canonical set, one row per known
    page. At 100 TB of corpus the index outgrows broadcast: drop the
    hint for a shuffled per-batch join or swap in a key-value lookup,
    the declarative shape is unchanged.
    """
    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        url_canonical_sql,
        url_planted_sql,
    )

    planted = url_planted_sql("spark")
    canon = url_canonical_sql("url", "spark")
    known = (
        corpus.selectExpr(f"{planted} AS url")
        .selectExpr(f"{canon} AS canonical_url")
        .distinct()
        .withColumn("__known", F.lit(1))
    )
    arriving = doc_stream.selectExpr(
        "*", f"{planted} AS url"
    ).selectExpr("*", f"{canon} AS canonical_url")
    return (
        arriving.join(F.broadcast(known), "canonical_url", "left")
        .filter(F.col("__known").isNull())
        .drop("__known")
        .select("doc_id", "url", "canonical_url", "lang", "source")
    )


def stream_path_alert(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """st17: streaming ordered-conversion detection — q53's
    MATCH_RECOGNIZE fallback running live. session_window groups each
    user's events into gap-bounded sessions; the ordered event-type
    path is reassembled INSIDE the session aggregate
    (sort_array(collect_list(struct(ts, event_id, type)))) and one
    regexp flags ordered view→click→purchase, so the alert fires as
    soon as the watermark closes the session.

    State is one in-flight session per (user, window), evicted at the
    watermark — bounded by concurrently-active users, never history.
    The collect_list is bounded by a single session's own events (the
    gap closes runaway sessions), the same bound q53's batch groupBy
    relies on. Emission is append-mode (one final row per closed
    session), which is what an alerting sink wants.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.concat_ws(
                ">",
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(ts, event_id, event_type))), x -> x.event_type)"
                ),
            ).alias("path"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
            "path",
            F.col("path").rlike("view.*click.*purchase").alias("converted"),
        )
    )


def _scd2_versions(state_dir: str) -> list[int]:
    """COMMITTED snapshot versions, ascending. A version counts only
    if its `_SUCCESS` marker exists — a crash mid-write leaves either
    a temp dir (ignored: no `v` prefix) or a marker-less partial that
    must never be adopted as current state."""
    import os

    out = []
    for d in os.listdir(state_dir):
        if d.startswith("v") and d[1:].isdigit() and os.path.exists(
            os.path.join(state_dir, d, "_SUCCESS")
        ):
            out.append(int(d[1:]))
    return sorted(out)


def _latest_scd2_version(state_dir: str) -> str:
    import os

    return os.path.join(state_dir, f"v{_scd2_versions(state_dir)[-1]}")


def sink_stream_scd2(
    update_stream: DataFrame,
    dim_init: DataFrame,
    state_dir: str,
    key: str,
    attr_cols: list[str],
    date_col: str = "update_date",
):
    """st18: streaming SCD2 dimension maintenance — q29's CDC apply
    running incrementally. Each micro-batch is compacted to its latest
    row per business key (standard CDC compaction: row_number by
    date desc), applied to the current dimension state with
    operators/scd2.scd2_apply (effective date = the batch's max
    update date), and the new state is written as an immutable
    versioned snapshot (state_dir/v{n}) — the plain-parquet stand-in
    for a lake-format MERGE INTO, with time-travel for free. Commit
    protocol: each snapshot is published through sources/io's
    _atomic_dir_commit (temp dir, _SUCCESS check, rename; a committed
    v{n} is never rewritten); version resolution requires the
    _SUCCESS marker, so a crash mid-write can never be adopted as
    current state; and n is derived from the max COMMITTED version on
    disk — not epoch_id — so a checkpoint-less restart extends
    history rather than overwriting it.

    Scale: per-batch cost is one key-shuffle join of batch × open
    rows; history rows pass through untouched. The versioned-snapshot
    write IS the cost of no lake format — swap the state read/write
    for Delta/Iceberg MERGE when those jars exist (sources/io.py
    gates them) and the per-batch apply logic is unchanged.
    """
    import os

    from pyspark.sql import Window

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        _atomic_dir_commit,
    )

    def commit_snapshot(df: DataFrame, version: int) -> None:
        _atomic_dir_commit(
            os.path.join(state_dir, f"v{version}"),
            lambda tmp: df.write.mode("overwrite").parquet(tmp),
        )

    commit_snapshot(dim_init, 0)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        eff = batch_df.agg(F.max(date_col).alias("m")).collect()[0].m
        latest = (
            batch_df.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(key).orderBy(F.desc(date_col))
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn", date_col)
        )
        from etl_sql_and_pyspark_developement__spark.operators.scd2 import (
            scd2_apply,
        )

        current = _scd2_versions(state_dir)[-1]
        dim = spark.read.parquet(os.path.join(state_dir, f"v{current}"))
        new_dim = scd2_apply(dim, latest, key, attr_cols, str(eff))
        commit_snapshot(new_dim, current + 1)

    return update_stream.writeStream.foreachBatch(process).outputMode("update")


def read_scd2_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current dimension state written by sink_stream_scd2 (the
    highest version snapshot)."""
    return spark.read.parquet(_latest_scd2_version(state_dir))


def sink_stream_trending(
    events: DataFrame, out_dir: str, k: int = 3, window: str = "1 hour"
):
    """st20: streaming TRENDING top-k — per time window, the k most
    frequent event types, maintained live. Structured Streaming
    cannot rank over its own windowed aggregates (window functions on
    a streaming aggregation are unsupported), so this uses the
    standard two-stage pattern: update-mode windowed counts feed a
    per-batch row_number rank in foreachBatch, and each batch
    IDEMPOTENTLY overwrites exactly the window partitions it touched
    (sources/io.overwrite_partitions' dynamic mode) — re-emission of
    a window replaces that window's top-k, siblings untouched, so
    the sink converges to the batch answer as counts accumulate.

    Scale: state is the windowed count aggregate (bounded by
    |windows in watermark| × |types|); each batch ranks only its
    UPDATED windows' rows, and the partition overwrite rewrites only
    those windows' files.
    """
    from pyspark.sql import Window as W

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        overwrite_partitions,
    )

    counts = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n_events"))
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = W.partitionBy("window").orderBy(
            F.desc("n_events"), F.asc("event_type")
        )
        ranked = (
            batch_df.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(
                F.date_format(F.col("window.start"), "yyyyMMddHH").alias(
                    "wpart"
                ),
                F.col("window.start").alias("window_start"),
                "event_type",
                "n_events",
                "rnk",
            )
        )
        overwrite_partitions(ranked, out_dir, ["wpart"])

    return counts.writeStream.foreachBatch(process).outputMode("update")


def sink_stream_sketches(events: DataFrame, out_dir: str, lg_k: int = 12):
    """st22: streaming MERGEABLE-SKETCH maintenance (q51's merge axis
    live): each micro-batch writes per-day Datasketches HLL PARTIALS
    of the distinct-user set — tiny binary sketches, never raw ids —
    and ``read_sketch_state`` union-merges them into per-day and
    global estimates. This is the lakehouse pattern that makes COUNT
    DISTINCT incrementally maintainable on a continuous feed: history
    is never rescanned, each batch's cost is one partial aggregation
    over the batch, and state grows by |days touched| rows per batch
    (bounded by the feed's day span, not by cardinality).

    HLL register merge is a element-wise MAX — associative,
    commutative, idempotent per input — so the union of per-batch
    partials is REGISTER-IDENTICAL to a batch sketch over the full
    feed: estimates match the batch twin bit-exactly on any batch
    split (asserted in tests), not merely within error bounds.
    """

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partials = batch_df.groupBy(F.to_date("ts").alias("day")).agg(
            F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sk"),
            F.count(F.lit(1)).alias("n_events"),
        )
        _write_epoch(partials, out_dir, epoch_id)

    return events.writeStream.foreachBatch(process).outputMode("append")


def read_sketch_state(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-day distinct-user estimates from sink_stream_sketches'
    partials: one union-merge per day + the merged global estimate
    workload runs on sketch rows only (|days| × |batches touching the
    day| inputs — never the raw feed)."""
    parts = spark.read.parquet(out_dir)
    return (
        parts.groupBy("day")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
            F.sum("n_events").alias("n_events"),
            F.count(F.lit(1)).alias("n_partials"),
        )
        .orderBy("day")
    )


def stream_observed_ingest(doc_stream: DataFrame) -> DataFrame:
    """st34: IN-FLIGHT quality observation on a STREAMING ingest —
    q102's CollectMetrics surface in its streaming mode: the document
    quality counters (length/emptiness expectations) ride the ingest
    query's own micro-batches as a NAMED observation, surfaced per
    batch in StreamingQueryProgress.observedMetrics["ingest_quality"]
    — the live data-quality monitor a 100 TB ingest pipeline reads
    from query progress instead of running a second scan. The
    transformation itself is a plain per-doc projection (the thing
    the pipeline was already doing); the counters are free riders.

    Named observation (not pyspark.sql.Observation) because streaming
    queries report metrics through progress events, once per batch —
    the parity test sums them across batches and asserts equality
    with the batch aggregate over the same files."""
    observed = doc_stream.observe(
        "ingest_quality",
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (F.col("text").isNull() | (F.length("text") == 0)).cast("bigint")
        ).alias("n_empty"),
        F.sum((F.length("text") < 20).cast("bigint")).alias("n_short"),
        F.sum(F.length("text")).alias("total_chars"),
    )
    return observed.select(
        "doc_id",
        "source",
        "lang",
        F.length("text").alias("n_chars"),
    )


def available_now_backfill(transformed: DataFrame, checkpoint: str, sink_fn):
    """st35: BOUNDED BACKFILL via Trigger.AvailableNow — the
    production backfill/catch-up runtime mode the rest of the suite's
    processAllAvailable tests don't exercise: the query processes
    everything available AT START (in rate-limited micro-batches —
    AvailableNow honors maxFilesPerTrigger, unlike the legacy Once
    trigger's single giant batch), commits each batch to the
    checkpoint, and TERMINATES on its own. Re-running the same
    checkpoint later picks up exactly the files that arrived since —
    the cron-shaped "drain the backlog nightly" pattern, with the
    same stateful fold and exactly-once sink contract as the 24/7
    query.

    Takes the already-transformed streaming frame (any stateful lane:
    st31's bitmap distinct is the parity-tested example), runs it to
    completion through a foreachBatch sink (the restartable form —
    memory sinks cannot recover a checkpoint), and returns the
    terminated StreamingQuery for progress inspection. Parity
    contract (tests/test_streaming.py): final state equals the
    processAllAvailable run bit-for-bit, a second AvailableNow run on
    the same checkpoint continues the fold over only-the-new files,
    and the run is genuinely bounded (awaitTermination returns, the
    query deactivates itself).

    A stateful run ends with one no-data micro-batch that advances the
    watermark and evicts state: ~0.3 s of st03's ~1.8-2.0 s over
    perfbench's three landing files (sf0.1, 4 cores), and st03 is
    ``llm_pipeline``'s slowest lane, so it sets ``lane_tail_s``. It
    stays because skipping it would defer timeout and outer-join
    output in other stateful lanes."""
    q = (
        transformed.writeStream.outputMode("update")
        .foreachBatch(sink_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_fresh_dim_enrich(
    stream: DataFrame,
    dim_path: str,
    dim_schema,
    batch_sink,
    *,
    on: str = "user_id",
    how: str = "left",
):
    """st44 FIX-OF-RECORD: stream-static enrichment against a dim that
    UPDATES while the query runs. A plain stream-static join freezes
    the static side's file LISTING at DataFrame resolution for the
    query's lifetime (appended dim files are invisible, and
    spark.catalog.refreshByPath does not reach a running query — both
    pinned in tests/test_streaming.py's st44 boundary test), so the
    slowly-changing-dim case needs the join INSIDE foreachBatch: a
    fresh read per micro-batch is a fresh listing. The dim is
    broadcast — it's the small side by definition, and at 100 TB of
    stream the per-batch relist+broadcast of a dim is noise next to
    the batch itself (a dim too big to broadcast belongs in st36's
    versioned temporal-enrich instead).

    `batch_sink(enriched_df, batch_id)` receives each enriched batch
    (the restartable foreachBatch form — memory sinks can't recover a
    checkpoint). Returns the DataStreamWriter; the caller adds
    checkpoint/trigger options and starts it."""
    spark = stream.sparkSession

    def _enrich(bdf: DataFrame, batch_id: int) -> None:
        fresh = spark.read.schema(dim_schema).parquet(dim_path)
        batch_sink(bdf.join(F.broadcast(fresh), on, how), batch_id)

    return stream.writeStream.outputMode("append").foreachBatch(_enrich)


def sink_stream_temporal_enrich(
    fact_stream: DataFrame,
    versions: DataFrame,
    out_dir: str,
    key: str = "custkey",
    left_ts: str = "ts",
    right_ts: str = "vf_ts",
) -> "DataStreamWriter":
    """st36: streaming TEMPORAL (SCD2 point-in-time) enrichment —
    each arriving fact joins the dimension version valid AT ITS OWN
    event time (q62's as-of semantics, live): a fact from before a
    customer's promotion books under the old segment even when it
    ARRIVES after the promotion landed — the correctness property a
    plain stream-static join on current state (st05) silently loses
    for late or replayed data.

    The as-of machinery is a key-partitioned window, which an
    append-mode stream cannot express, so foreachBatch runs the
    ALREADY-VERIFIED batch operator (operators/asof.as_of_join) per
    micro-batch against the versions snapshot — st10's shape: the
    dim is materialized ONCE outside the loop, per-batch cost is
    batch-proportional (one user-keyed shuffle of batch ∪ versions),
    history never rescanned. Versions change slowly by definition;
    a production job re-reads the latest committed SCD2 snapshot
    (st18 maintains them) inside process() — a one-line swap,
    documented rather than simulated here.
    """
    from etl_sql_and_pyspark_developement__spark.operators.asof import (
        as_of_join,
    )

    dim = materialize(versions)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        enriched = as_of_join(
            batch_df,
            dim,
            key=key,
            left_ts=left_ts,
            right_ts=right_ts,
            payload={"segment": "segment", "valid_from": "valid_from"},
        )
        _write_epoch(enriched, out_dir, epoch_id)

    return fact_stream.writeStream.foreachBatch(process)


def sink_stream_quarantine(
    spark: SparkSession,
    feed_dir: str,
    schema,
    clean_dir: str,
    quarantine_dir: str,
) -> "DataStreamWriter":
    """st37: streaming CORRUPT-RECORD QUARANTINE — q115's ingest
    contract live: a JSONL feed is parsed PERMISSIVE with a
    _corrupt_record marker as it ARRIVES; each micro-batch splits
    into clean rows (marker dropped) and quarantined raw lines, each
    written to its own sink — the never-fail / never-silently-null
    property enforced at stream speed, where a single malformed line
    would otherwise kill a continuous ingest query.

    foreachBatch is the right shape: the split needs the batch
    cached once (Spark refuses a corrupt-column-only query over raw
    files — the read_jsonl_quarantine workaround), and two sinks
    cannot hang off one streaming query any other way. Stateless:
    per-batch cost ∝ batch, nothing accumulates.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    marker = "_corrupt_record"
    full = StructType(
        list(schema.fields) + [StructField(marker, StringType(), True)]
    )
    stream = (
        spark.readStream.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", marker)
        .json(feed_dir)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.cache()
        try:
            clean = batch_df.filter(F.col(marker).isNull()).drop(marker)
            _write_epoch(clean, clean_dir, epoch_id)
            bad = batch_df.filter(F.col(marker).isNotNull()).select(
                F.col(marker).alias("raw_line")
            )
            _write_epoch(bad, quarantine_dir, epoch_id)
        finally:
            batch_df.unpersist()

    return stream.writeStream.foreachBatch(process)


def stream_stream_attribution_outer(
    events_a: DataFrame, events_b: DataFrame
) -> DataFrame:
    """st38: watermarked stream-stream LEFT OUTER interval join —
    st06 answers "which purchases had a preceding view"; production
    attribution equally needs the COMPLEMENT (unattributed spend: the
    purchase with NO view in its hour — the alarm row), which an
    inner join can never emit. Outer semantics in streaming are
    WATERMARK-DRIVEN: an unmatched purchase is held in join state
    until the view-side watermark proves no qualifying view can still
    arrive (watermark past purchase_ts, given the interval's lower
    bound), and only then emits null-padded — late-data-correct by
    construction, where a batch anti-join re-run per window would
    re-emit or miss borderline rows.

    Same keys/interval/watermarks as st06, join type leftOuter; the
    test drives the watermark past the data with far-future sentinel
    rows (emission is a watermark event, not a data event — two
    sentinel advances, because outer results release on the trigger
    AFTER the watermark moves).
    """
    return _attribution_interval_join(
        events_a, events_b, "leftOuter", include_view_id=False
    )


def stream_attribution_daily_rollup(
    events_a: DataFrame, events_b: DataFrame
) -> DataFrame:
    """st39: CHAINED STATEFUL OPERATORS in one streaming query —
    st06's watermarked stream-stream interval join feeding a windowed
    aggregation, the attribution-then-rollup pipeline as ONE query
    (Spark 4 supports multiple stateful operators per query,
    SPARK-42376) instead of st06 + a second job over its sink.

    Watermark propagation is the contract that makes the chain
    correct: the join's output inherits event time from its inputs
    (the global watermark is the MIN of both sides), so the
    downstream 6-hour window on purchase_ts closes only when BOTH
    input watermarks have passed window end — a pair the join is
    still allowed to emit can therefore never miss its window's
    final count (append-mode emission is late-data-correct through
    the whole chain, not per-operator).

    Output per closed window: attributed-pair count and the exact
    total view→purchase lag in seconds (integer sum — deterministic
    under any merge order). Distinct aggregates are unsupported in
    streaming, so cardinality stays with the batch twin in the
    parity test.

    At 100 TB: one query = one checkpoint lineage and state for both
    operators co-partitioned on user_id/window — the two-job version
    pays an extra sink materialization plus a second shuffle of the
    full join output.
    """
    joined = stream_stream_attribution(events_a, events_b)
    return (
        joined.groupBy(F.window("purchase_ts", "6 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")
            ).alias("lag_seconds_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_pairs",
            "lag_seconds_sum",
        )
    )


def stream_stream_attribution_full(
    events_a: DataFrame, events_b: DataFrame
) -> DataFrame:
    """st42: watermarked stream-stream FULL OUTER interval join —
    completes the streaming join-type family (st06 inner: attributed
    pairs; st38 left outer: + unattributed purchases; this: + views
    that never converted, the wasted-impression side a marketer
    prices). BOTH null-padded complements are watermark-driven: an
    unmatched row on EITHER side holds in join state until the other
    side's watermark proves no qualifying partner can arrive, then
    emits null-padded exactly once.

    Same keys/interval/watermarks as st06/st38; view-side rows keep
    their own identity columns so the unmatched-view rows are
    attributable. The test plants a never-viewed purchase AND a
    never-purchased view and drives both complements out with st38's
    sentinel double-pump.
    """
    return _attribution_interval_join(
        events_a, events_b, "fullOuter", include_view_id=True
    )
