"""Source / sink surface beyond the parquet catalog: CSV, JSON, and
(partitioned/bucketed) writers, plus import-gated connectors.

Design rules:
- Explicit schemas everywhere. `inferSchema` triggers an extra full
  scan and non-deterministic typing — never in production paths.
- Writers default to snappy parquet with partitionBy for pruning and
  optional bucketing for shuffle-free downstream joins.
- Lake-format connectors (Delta/Iceberg/Hudi) need jars not present
  in this environment; they are import/config-gated stubs that raise a
  clear error instead of failing mid-plan.
- Build-once fixtures live under one artifact root, a deployment
  path set in the environment and read only by _artifact_dest. Every
  fixture keys its directory (and any catalog name derived from it)
  through _artifact_dest and publishes it through _atomic_dir_commit;
  the catalog-registered ones point their saveAsTable at an
  _artifact_dest path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from etl_sql_and_pyspark_developement__spark.session import conf_scope, materialize
from etl_sql_and_pyspark_developement__spark.sources.catalog import (
    cached_parquet,
)


def read_csv(
    spark: SparkSession, path: str, schema: StructType | str, header: bool = True
) -> DataFrame:
    return spark.read.schema(schema).option("header", header).csv(path)


def read_json(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "snappy",
) -> None:
    """Partitioned parquet sink — partition columns become directory
    keys, so downstream filters on them prune files without reading."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: joins/aggregations on bucket_col across
    bucketed tables skip the shuffle entirely — the 100 TB co-location
    strategy for repeatedly-joined fact tables."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    partition_by: list[str] | None = None,
    target_rows_per_file: int = 1_000_000,
    order_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a fragmented parquet dataset into
    few, right-sized, optionally sorted files. Returns the row count.

    The 100 TB operational reality: streaming sinks and per-batch
    appends leave thousands of KB-sized files per partition, and scan
    cost becomes file-open cost (driver listing + one footer read per
    file) instead of IO. The fix is a periodic rewrite that

    - bounds file size with maxRecordsPerFile (the writer splits, so a
      single task never produces a multi-GB file), and
    - clusters rows with repartitionByRange on `order_by` when given:
      range partitioning + in-file sort tightens per-file min/max
      column stats, so downstream range predicates skip whole files
      (zone-map pruning) — sortWithinPartitions alone would sort but
      leave rows scattered across files.
    """
    df = spark.read.parquet(in_path)
    n = df.count()
    n_files = max(1, -(-n // target_rows_per_file))
    if order_by:
        df = df.repartitionByRange(n_files, *order_by).sortWithinPartitions(*order_by)
    else:
        df = df.coalesce(n_files)
    writer = (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_path)
    return n


# ORC twin of catalog._SCHEMA_CACHE (r12): q116 re-reads the same
# immutable content-keyed ORC fixture on every construction, paying a
# footer-inference job per read. Same immutable-path contract, and the
# same private-copy rule (a caller mutating df.schema must not reach
# the cache).
_ORC_SCHEMA_CACHE: dict[str, StructType] = {}


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    schema = _ORC_SCHEMA_CACHE.get(path)
    if schema is None:
        df = spark.read.orc(path)
        _ORC_SCHEMA_CACHE[path] = StructType.fromJson(df.schema.jsonValue())
        return df
    return spark.read.schema(schema).orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "zlib",
) -> None:
    """ORC sink — same pushdown/pruning properties as parquet (Spark's
    ORC reader supports predicate pushdown and partition-directory
    pruning); offered for parity with ORC-standardized warehouses."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: "StructType | None" = None,
) -> DataFrame:
    """XML source (native in Spark 4 — SPARK-44265 folded spark-xml
    into the engine): one DataFrame row per `row_tag` element. Pass
    an explicit schema for production reads — inference costs a full
    extra pass and types drift with the data. XML is an EXCHANGE
    format: the reader decodes every element (no predicate pushdown,
    no column-skip inside a document) — land it, convert to parquet
    at the edge, and point queries at the parquet (q122 demonstrates
    the read; its plan test pins the no-pushdown cost honestly)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str,
    root_tag: str,
    mode: str = "overwrite",
) -> None:
    """XML sink — one `row_tag` element per row under `root_tag` per
    file. For feed interchange with XML-consuming partners; never a
    lake format (row-major text, no stats, no pushdown)."""
    (
        df.write.mode(mode)
        .format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )


def xml_orders_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build-once XML twin of orders (q122's fixture, q116's ORC
    pattern): the same rows re-staged through write_xml, so the XML
    decode path is exercised against data whose truth the
    parquet-backed oracle already knows."""
    import os

    src = os.path.join(sf_dir, "orders.parquet")
    path = _artifact_dest("orders_xml", src, "xml|v=1")
    _atomic_dir_commit(
        path,
        lambda tmp: write_xml(
            spark.read.parquet(src),
            tmp,
            row_tag="order",
            root_tag="orders",
            mode="overwrite",
        ),
    )
    return path


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    """Delta Lake source — gated: the delta-spark jars are not in this
    environment."""
    try:
        return spark.read.format("delta").load(path)
    except Exception as exc:  # pragma: no cover - env without delta jars
        raise NotImplementedError(
            "Delta Lake requires the delta-spark package on the classpath; "
            "not available in this environment"
        ) from exc


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in `df`, leaving sibling partitions untouched — the idempotent
    backfill/late-data pattern (re-run one day's pipeline without
    truncating the whole dataset). Static overwrite (the default)
    would delete every partition under `path` first.

    Scoped via the writer option, not the session conf, so concurrent
    writers with different semantics don't race on a global setting.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: mergeSchema unions the footer schemas of
    every file, so columns added by newer writers appear (null-filled
    for old files) instead of being silently dropped by the
    first-footer-wins default. Costs one footer read per file — use on
    evolved datasets, not hot paths (compact to a uniform schema when
    the evolution settles)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """Schema-enforced JSONL ingest with corrupt-record QUARANTINE —
    the crawl-ingest contract: never fail the job on a bad line, never
    silently null it away. PERMISSIVE parsing routes every malformed
    or schema-violating line's RAW TEXT into `_corrupt_record`;
    returns (clean, quarantine) where clean rows parsed fully (the
    marker column dropped) and quarantine rows carry the raw line for
    replay/debugging alongside whatever fields did parse.

    The marker column must be part of the declared read schema (Spark
    only populates `columnNameOfCorruptRecord` if the schema contains
    it). Spark REFUSES any query over the raw files whose column
    pruning leaves only the corrupt column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — and
    `quarantine.count()` is exactly such a query — so the parsed
    frame is materialized before the split: the lineage is cut at a
    materialized RDD, so BOTH sides are served by ONE parse AND
    the returned plans stay valid independent of cache lifetime
    (spark.catalog.clearCache() cannot resurrect the corrupt-column
    analysis error the raw file relation would raise). At 100 TB
    ingest is chunked per batch, so the materialized unit is a batch,
    not the corpus.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField

    marker = "_corrupt_record"
    full = StructType(
        list(schema.fields) + [StructField(marker, StringType(), True)]
    )
    df = materialize(
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", marker)
        .json(path)
    )
    clean = df.filter(F.col(marker).isNull()).drop(marker)
    quarantine = df.filter(F.col(marker).isNotNull()).withColumnRenamed(
        marker, "raw_line"
    )
    return clean, quarantine


_KNN_ARTIFACT_VERSION = 1  # bump when knn_graph semantics change
_JSON_DOCS_ARTIFACT_VERSION = 1  # bump when the q69 doc format changes
# one definition for the q97/q125 day-partitioned artifact identity —
# partitioned_events_artifact and partitioned_events_path must resolve
# the SAME committed directory or q125 reads stale/missing data
_EVENTS_BY_DAY_NAME = "events_by_day"
_EVENTS_BY_DAY_PARAMS = "v=1|layout=hive-day"


def v2_parquet_pushdown(spark: SparkSession):
    """Context manager scoping the DS v2 parquet read path with
    aggregate pushdown armed (q124/q125 and their plan tests — ONE
    definition of the conf set, so lane and test cannot drift).
    Restores the prior values on exit; remember planning is LAZY —
    materialize inside the `with`, not after (q113's lesson)."""
    return conf_scope(
        spark,
        {
            "spark.sql.parquet.aggregatePushdown": "true",
            "spark.sql.sources.useV1SourceList":
                "avro,csv,json,kafka,orc,text",
        },
    )


def _clear_torn_dest(dest: str) -> None:
    """Clear a destination left half-written by a PRE-atomic writer
    (dir exists, no _SUCCESS) so a rename-commit can land — without
    the delete-the-winner race a bare rmtree has: the dir is renamed
    ASIDE first (atomic — either we got it or a concurrent committer
    just replaced it), then inspected: a complete artifact that raced
    in is put back; genuine garbage is deleted."""
    import os
    import shutil

    if not os.path.isdir(dest) or os.path.exists(
        os.path.join(dest, "_SUCCESS")
    ):
        return
    trash = f"{dest}.torn.{os.getpid()}"
    try:
        os.rename(dest, trash)
    except OSError:
        return  # a concurrent builder already replaced/removed it
    if os.path.exists(os.path.join(trash, "_SUCCESS")):
        # raced a winner's commit between check and rename: restore
        try:
            os.rename(trash, dest)
        except OSError:
            # another complete copy landed at dest meanwhile — this
            # one is redundant
            shutil.rmtree(trash, ignore_errors=True)
    else:
        shutil.rmtree(trash, ignore_errors=True)


def _atomic_dir_commit(dest: str, write_to) -> None:
    """The one commit protocol for a build-once directory: write to a
    tmp sibling, verify the _SUCCESS marker, os.rename into place.
    Readers never see a half-written dir; a build that fails removes
    its tmp and publishes nothing; a concurrent builder that loses the
    rename race discards its tmp and reads the winner. No-op if `dest`
    is already committed."""
    import os
    import shutil

    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    # dest existing WITHOUT _SUCCESS is pre-atomic/torn garbage (the
    # atomic path only ever publishes complete dirs via rename) — a
    # rename onto it would fail ENOTEMPTY forever; clear it (race-
    # safely: a concurrently committed winner is restored, not razed)
    _clear_torn_dest(dest)
    tmp = f"{dest}.tmp.{os.getpid()}"
    try:
        write_to(tmp)
        if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
            raise RuntimeError(
                f"atomic commit: build at {tmp} finished without a "
                "_SUCCESS marker; refusing to publish a torn directory"
            )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(dest, "_SUCCESS")):
            raise


def _artifact_dest(name: str, src_path: str, params: str) -> str:
    """The one key recipe for build-once artifacts: the directory for
    `name` built from `src_path` under `params`, inside the artifact
    root.

    Key = source identity (realpath + mtime + size) x params x the
    resolved root — a regenerated source or changed semantics (version
    the params) misses and rebuilds. The root is in the key because
    catalog-registered fixtures use the basename as their table name
    and the catalog is session-wide: without it, a second root in the
    same session would be handed the table registered under the first.

    At 100 TB this is a lake table keyed by corpus snapshot id; here
    the same contract over a local directory."""
    import hashlib
    import os
    import tempfile

    root = os.environ.get(
        "SPARK_GRAFT_ARTIFACT_DIR",
        os.path.join(tempfile.gettempdir(), "spark_graft_artifacts"),
    )
    st = os.stat(src_path)
    key = hashlib.sha1(
        f"{os.path.realpath(src_path)}|{st.st_mtime_ns}|{st.st_size}"
        f"|{params}|root:{os.path.realpath(root)}".encode()
    ).hexdigest()[:16]
    return os.path.join(root, f"{name}_{key}")


def _staged_artifact(
    spark: SparkSession,
    name: str,
    src_path: str,
    params: str,
    build,
    partition_by: list[str] | None = None,
    read_schema: StructType | None = None,
) -> DataFrame:
    """Build-once / read-many parquet artifact: `build(spark)`'s frame
    written once per key (_artifact_dest, _atomic_dir_commit), then
    read back."""
    dest = _artifact_dest(name, src_path, params)

    def write_to(tmp: str) -> None:
        writer = build(spark).write.mode("overwrite")
        if partition_by:
            # Hive-style layout (col=value dirs) so readers get
            # partition pruning from directory listing alone.
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)

    _atomic_dir_commit(dest, write_to)
    if read_schema is not None:
        # Explicit schema: an EMPTY partitioned artifact has no data
        # files to infer from (only _SUCCESS), and partition-column
        # types stay as declared instead of directory-value inference.
        return spark.read.schema(read_schema).parquet(dest)
    # Committed artifact paths are content-keyed (mtime+size+params in
    # the name) — immutable per path, so the schema cache applies and
    # the per-read inference job disappears (r12 fixed-cost cut).
    return cached_parquet(spark, dest)


def knn_graph_artifact(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Build-once / read-many kNN-graph artifact — the production shape
    for graph-consuming curation passes: the similarity graph is built
    ONCE per corpus snapshot (s05's bucketed LSH construction) and
    every consumer (q68 PageRank, q71 triangles, p12 density pruning)
    reads the materialized parquet instead of re-running the bucket
    join + top-k window inline. Adaptive n_bits is a pure function of
    the corpus, so it needs no key component."""
    import os

    from etl_sql_and_pyspark_developement__spark.operators.similarity import (
        knn_graph,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    return _staged_artifact(
        spark,
        "knn_graph",
        src,
        f"k={k}|dim={dim}|v={_KNN_ARTIFACT_VERSION}",
        lambda s: knn_graph(s.read.parquet(src), k=k, n_bits=None, dim=dim),
    )


def json_docs_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged (event_type, doc) JSON-document table for the VARIANT
    workload (q69): the nested document is deterministically derived
    from event columns, but building it with format_string inside the
    measured plan makes the query benchmark STRING CONSTRUCTION, not
    VARIANT access. Staging the docs once per corpus snapshot moves
    construction out of the timed plan — the measured work becomes
    scan + parse_json + variant_get, which is what a production
    pipeline ingesting real JSON actually pays."""
    import os

    from pyspark.sql import functions as F

    src = os.path.join(sf_dir, "events.parquet")

    def build(s: SparkSession) -> DataFrame:
        ev = s.read.parquet(src)
        return ev.select(
            "event_type",
            F.format_string(
                '{"user":{"id":%s,"seg":"%s"},"vals":[%s,%s]}',
                F.col("user_id"),
                F.col("event_type"),
                F.col("event_id") % 100,
                (F.col("event_id") % 7) * 3,
            ).alias("doc"),
        )

    return _staged_artifact(
        spark,
        "json_docs",
        src,
        f"v={_JSON_DOCS_ARTIFACT_VERSION}",
        build,
    )


def partitioned_events_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged DAY-PARTITIONED events table (Hive layout,
    event_day=yyyy-MM-dd directories) — the physical shape a 100 TB
    event lake actually has, which the flat testdata parquet cannot
    exercise: with it, a day-range predicate becomes a PartitionFilter
    resolved from the directory listing (zero data touched for pruned
    days) instead of a row filter over the full scan. q97 asserts the
    pruning in-plan; at the lake this is the difference between
    reading 3 days and reading 3 years."""
    import os

    from pyspark.sql import functions as F

    src = os.path.join(sf_dir, "events.parquet")

    def build(s: SparkSession) -> DataFrame:
        ev = s.read.parquet(src)
        return ev.withColumn(
            "event_day", F.date_format("ts", "yyyy-MM-dd")
        )

    schema = _with_event_day(cached_parquet(spark, src).schema)
    return _staged_artifact(
        spark,
        _EVENTS_BY_DAY_NAME,
        src,
        _EVENTS_BY_DAY_PARAMS,
        build,
        partition_by=["event_day"],
        read_schema=schema,
    )


def _with_event_day(schema: StructType) -> StructType:
    """A NEW schema: ``schema``'s fields plus the event_day partition
    column (StructType.add would mutate the caller's object)."""
    from pyspark.sql.types import StringType, StructField

    return StructType([*schema.fields, StructField("event_day", StringType())])


def partitioned_events_path(
    spark: SparkSession,
    sf_dir: str,
) -> tuple[str, "StructType"]:
    """(path, read schema) of the committed day-partitioned events
    artifact — for callers that must re-open it through a DIFFERENT
    reader than the artifact helper's default (q125 reads it through
    the DS v2 path to exercise GROUP-BY-partition-column pushdown).
    Ensures the artifact exists first."""
    import os

    partitioned_events_artifact(spark, sf_dir)
    src = os.path.join(sf_dir, "events.parquet")
    schema = _with_event_day(cached_parquet(spark, src).schema)
    return (
        _artifact_dest(_EVENTS_BY_DAY_NAME, src, _EVENTS_BY_DAY_PARAMS),
        schema,
    )


def minhash_pairs_artifact(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Build-once / read-many MinHash-LSH verified-pairs artifact —
    the knn_graph_artifact pattern applied to the TEXT dedup lane: the
    signature groupBy + band self-join + Jaccard verify (the expensive
    stages of d03's pipeline) run ONCE per corpus snapshot, and every
    pair consumer (d06 components, d15 quality keeper — and any
    downstream canonical-selection pass) reads the committed parquet.
    d03 itself stays the inline machinery demonstration (and is the
    builder whenever it runs first)."""
    import os

    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        N_BANDS,
        N_MINHASH,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    # Banding constants are part of the artifact identity: changing
    # N_MINHASH/N_BANDS must miss the cache, not serve a stale index
    # (the bucketed_join_tables v=2 lesson applied here).
    return _staged_artifact(
        spark,
        "minhash_pairs",
        src,
        f"t={threshold}|n={n}|mh={N_MINHASH}x{N_BANDS}|v=1",
        lambda s: minhash_lsh_pairs(
            s.read.parquet(src), "doc_id", "text", n=n, threshold=threshold
        ),
    )


def minhash_index_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged LSH BAND INDEX (doc, band_id, band_hash) of the BASE
    corpus (documents with doc_id % 10 != 7 — the already-ingested
    side of the incremental-dedup split): the expensive
    shingle→sign→band pipeline runs ONCE per corpus snapshot, and
    every delta batch screens against the committed parquet (d22).
    The same build-once contract as minhash_pairs_artifact, holding
    the INDEX instead of the verified pairs — pairs answer batch
    dedup inside a snapshot; the index answers ingestion dedup
    against it."""
    import os

    src = os.path.join(sf_dir, "documents.parquet")

    def build(s: SparkSession) -> DataFrame:
        from etl_sql_and_pyspark_developement__spark.operators.dedup import (
            minhash_bands,
            minhash_signed,
            shingle_sets,
        )

        base = s.read.parquet(src).filter("doc_id % 10 != 7")
        return minhash_bands(minhash_signed(shingle_sets(base, "doc_id", "text", 3)))

    from etl_sql_and_pyspark_developement__spark.operators.dedup import (
        N_BANDS,
        N_MINHASH,
    )

    return _staged_artifact(
        spark,
        "minhash_index",
        src,
        f"v=1|split=mod10ne7|n=3|mh={N_MINHASH}x{N_BANDS}",
        build,
    )


def day_dim_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged per-day calendar/dim table over events: (event_day,
    n_users, n_events, max_users) — the small dimension a lake keeps
    beside a day-partitioned fact so queries can select days by
    ATTRIBUTE ("busy days", "release days") instead of by literal
    ranges. max_users is denormalized onto every row at build time so
    a scale-free selectivity filter (10*n_users >= 8*max_users) is a
    plain column COMPARISON over one scan — the shape Spark's
    dynamic-partition-pruning rule recognizes as a selective
    predicate (a bare boolean column or a cross-relation comparison
    is not "likely selective" and DPP declines — measured)."""
    import os

    from pyspark.sql import functions as F

    src = os.path.join(sf_dir, "events.parquet")

    def build(s: SparkSession) -> DataFrame:
        ev = s.read.parquet(src)
        per_day = ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("event_day")
        ).agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        mx = per_day.agg(F.max("n_users").alias("max_users"))
        return per_day.crossJoin(F.broadcast(mx))

    return _staged_artifact(spark, "day_dim", src, "v=1", build)


def bucketed_join_tables(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 16,
) -> tuple[str, str]:
    """Ensure BUCKETED catalog twins of orders and customer exist
    (bucketBy(custkey) + sortBy, external parquet under the artifact
    root) and return their table names — the co-location strategy the
    100 TB playbook names for repeatedly-joined fact tables: both
    sides pre-hashed into the same bucket count on the join key, so
    the join reads bucket i against bucket i with ZERO Exchange
    (plan-asserted by q100's test). saveAsTable is the commit here;
    each twin is keyed on its OWN source, so a regenerated
    customer.parquet misses the cache even when orders.parquet is
    unchanged.

    At the lake this is table-format clustering (Iceberg bucket
    partition transforms / Delta liquid clustering); here the same
    contract through Spark's native bucketed tables."""
    import os

    names = []
    for tbl, col in (("orders", "o_custkey"), ("customer", "c_custkey")):
        src = os.path.join(sf_dir, f"{tbl}.parquet")
        dest = _artifact_dest(f"{tbl}_bkt", src, f"b={n_buckets}|v=2")
        name = os.path.basename(dest)
        if not spark.catalog.tableExists(name):
            (
                spark.read.parquet(src)
                .write.mode("overwrite")
                .bucketBy(n_buckets, col)
                .sortBy(col)
                .option("path", dest)
                .saveAsTable(name)
            )
        names.append(name)
    return tuple(names)


def analyzed_part_table(spark: SparkSession, sf_dir: str) -> str:
    """Catalog twin of `part` with COMPUTED STATISTICS — the input the
    cost-based optimizer needs to see THROUGH a filter: `ANALYZE TABLE
    ... COMPUTE STATISTICS` (totalSize + rowCount) plus `FOR COLUMNS`
    min/max/ndv on the filter and join keys. Without these, a filtered
    dim's size estimate stays the FULL relation size (the default
    stats visitor passes Filter through unchanged), so the planner
    can't see that `p_size <= 3` leaves a broadcastable sliver — the
    q106 demonstration.

    The catalog entry (and, per session, the ANALYZE — the in-memory
    catalog forgets stats on restart) is re-created when absent. The
    dim-sized ANALYZE scan is
    the cheap part; at the lake this is the nightly stats job every
    warehouse already runs.
    """
    import os

    src = os.path.join(sf_dir, "part.parquet")
    dest = _artifact_dest("part_stats", src, "cbo|v=1")
    name = os.path.basename(dest)
    if not spark.catalog.tableExists(name):
        (
            spark.read.parquet(src)
            .write.mode("overwrite")
            .option("path", dest)
            .saveAsTable(name)
        )
    # Self-healing stats commit (see analyzed_star_tables): a crash
    # between saveAsTable and ANALYZE must not leave a permanently
    # stats-less table; the heal check is metadata-only.
    if not _star_stats_complete(spark, name, "p_brand"):
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS"
            " p_partkey, p_size, p_brand"
        )
    return name


def _star_stats_complete(spark: SparkSession, name: str, last_col: str) -> bool:
    """True iff `name` carries table-level row-count stats AND column
    stats on `last_col` — both reads are catalog metadata (DESCRIBE,
    no data scan). analyzed_star_tables writes table stats first and
    column stats second, so the LAST column's distinct_count being
    present implies the whole stats pass committed."""
    tbl = {
        r[0]: r[1]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    }
    if "rows" not in (tbl.get("Statistics") or ""):
        return False
    col = {
        r[0]: r[1]
        for r in spark.sql(
            f"DESCRIBE TABLE EXTENDED {name} {last_col}"
        ).collect()
    }
    return col.get("distinct_count") not in (None, "NULL")


def analyzed_star_tables(
    spark: SparkSession,
    sf_dir: str,
) -> tuple[str, str, str]:
    """Catalog twins of (lineitem, orders, customer) with table AND
    column statistics — the input the CBO join REORDERER needs:
    q106's analyzed_part_table proves stats drive the broadcast
    decision on one join; reordering a 3+-table chain additionally
    needs rowCount + join-key ndv on EVERY relation in the chain
    (JoinReorderDP prices each left-deep order from cardinality
    estimates; a single stats-less relation poisons the whole
    search). Columns analyzed: the join keys (l_orderkey, o_orderkey,
    o_custkey, c_custkey) and the filter column (c_mktsegment) whose
    selectivity makes reordering worthwhile.

    Same build-once contract as analyzed_part_table; returns
    (lineitem_name, orders_name, customer_name).
    """
    import os

    specs = (
        ("lineitem", "l_orderkey, l_quantity, l_extendedprice"),
        ("orders", "o_orderkey, o_custkey, o_orderpriority"),
        ("customer", "c_custkey, c_mktsegment"),
    )
    names = []
    for tbl, cols in specs:
        src = os.path.join(sf_dir, f"{tbl}.parquet")
        dest = _artifact_dest(f"{tbl}_stats", src, "star|v=1")
        name = os.path.basename(dest)
        if not spark.catalog.tableExists(name):
            (
                spark.read.parquet(src)
                .write.mode("overwrite")
                .option("path", dest)
                .saveAsTable(name)
            )
        # Self-healing stats commit: tableExists alone left a crash /
        # concurrent-session window between saveAsTable and the two
        # ANALYZE statements that produced a permanently stats-less
        # table every future call accepted — silently disabling the
        # CBO reorder q119's plan test asserts on. The heal check is
        # metadata-only (DESCRIBE, no scan): ANALYZE reruns only when
        # table rowCount or the LAST column's ndv (written by the
        # final statement, so its presence implies the whole stats
        # pass completed) is absent.
        if not _star_stats_complete(spark, name, cols.split(", ")[-1]):
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
            spark.sql(
                f"ANALYZE TABLE {name} COMPUTE STATISTICS"
                f" FOR COLUMNS {cols}"
            )
        names.append(name)
    return tuple(names)


def analyzed_docs_hist_tables(
    spark: SparkSession,
    sf_dir: str,
) -> tuple[str, str]:
    """HISTOGRAM-STATS twins of documents — the q133 fixture that
    completes the stats story q106 (min/max/ndv broadcast) and q119
    (join reorder) began: equi-height histograms are the only stats
    that see through SKEW. Both twins add `lang_code` (the dense
    alphabetical rank of lang — histograms only build on
    numeric/date columns, so the categorical skew is dictionary-coded
    first, the standard warehouse move) and both are ANALYZE'd with
    table + column stats; the `_hist` twin additionally runs ANALYZE
    under spark.sql.statistics.histogram.enabled=true, giving
    FilterEstimation per-value bin heights instead of the uniform
    rowCount/ndv assumption. documents.lang is genuinely skewed
    (en ~44% vs ~13% per tail lang), so the two twins estimate
    `lang_code = <en>` at ~2.2x apart — the gap the q133 plan test
    turns into a broadcast-decision flip.

    Same build-once + self-healing-stats contract as
    analyzed_star_tables; the histogram heal check looks for the
    `histogram` row in DESCRIBE (metadata-only). Returns
    (hist_name, nohist_name).
    """
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    src = os.path.join(sf_dir, "documents.parquet")
    names = []
    for hist in (True, False):
        tag = "hist" if hist else "nohist"
        dest = _artifact_dest(f"docs_{tag}_stats", src, "histstats|v=1")
        name = os.path.basename(dest)
        if not spark.catalog.tableExists(name):
            docs = spark.read.parquet(src)
            # dense alphabetical lang code: the window runs over the
            # DISTINCT langs only (ndv rows), then broadcasts back —
            # no global window over the corpus
            codes = (
                docs.select("lang")
                .distinct()
                .withColumn(
                    "lang_code", F.row_number().over(Window.orderBy("lang"))
                )
            )
            (
                docs.join(F.broadcast(codes), "lang")
                .write.mode("overwrite")
                .option("path", dest)
                .saveAsTable(name)
            )
        if not _docs_hist_stats_complete(spark, name, hist):
            with conf_scope(
                spark,
                {"spark.sql.statistics.histogram.enabled": str(hist).lower()},
            ):
                spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
                spark.sql(
                    f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS"
                    " lang_code, doc_id, n_chars"
                )
        names.append(name)
    return tuple(names)


def _docs_hist_stats_complete(
    spark: SparkSession, name: str, hist: bool
) -> bool:
    """Metadata-only heal check (analyzed_star_tables' discipline,
    plus the histogram row): table rowCount present, lang_code ndv
    present, and — for the hist twin — the equi-height histogram
    actually recorded (a crash between the two ANALYZE statements, or
    an ANALYZE run under the wrong conf, must rerun)."""
    if not _star_stats_complete(spark, name, "lang_code"):
        return False
    if not hist:
        return True
    rows = {
        r[0]
        for r in spark.sql(
            f"DESCRIBE TABLE EXTENDED {name} lang_code"
        ).collect()
    }
    return "histogram" in rows


def orders_layout_twins(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 16,
) -> tuple[str, str]:
    """Build-once CLUSTERED vs UNCLUSTERED parquet twins of orders —
    the zone-map measurement fixture (q108): the clustered twin is
    range-partitioned + sorted on o_totalprice (compact_parquet's
    order_by discipline: repartitionByRange packs each FILE with a
    tight min/max span; sortWithinPartitions alone would sort rows
    but scatter ranges across files), the unclustered twin is the
    same rows round-robined so every file spans the full value range.
    A pushed range predicate then skips whole row groups on the
    clustered twin (parquet reads footers, compares min/max, never
    decodes the pages) while the unclustered twin decodes everything
    — asserted on the scan's numOutputRows metric in
    tests/test_plans.py. Returns (clustered_path, unclustered_path).

    At 100 TB this is the table's CLUSTER BY / Z-ORDER maintenance
    job (q70 measures layout tightness; this measures the payoff).
    Each twin commits independently, so a crash between the two
    leaves at most one published and the next call builds the other.
    """
    import os

    src = os.path.join(sf_dir, "orders.parquet")
    params = f"f={n_files}|v=2"
    clustered = _artifact_dest("orders_clustered", src, params)
    unclustered = _artifact_dest("orders_unclustered", src, params)

    def build_clustered(tmp: str) -> None:
        # DETERMINISTIC clustered layout (r12, replaces
        # repartitionByRange): range sampling draws boundaries
        # from the input partitions, so the committed file spans —
        # and the q108 zone-map fingerprint — depended on the
        # BUILDING session's parallelism (one forced re-baseline
        # per artifact rebuild, r11's inherited-state note). Now:
        # one global (o_totalprice, o_orderkey) total order —
        # unique because o_orderkey is — streamed through a single
        # writer task, rolled into n_files files of exactly
        # ceil(N/n_files) rows by maxRecordsPerFile. File k holds
        # global rank range [k*M, (k+1)*M): contiguous, tight
        # min/max spans, byte-identical on ANY build parallelism.
        # The single-task sort is a build-once fixture cost at
        # local scale; the 100 TB equivalent of this maintenance
        # job is the distributed zorder/compact_parquet path.
        df = spark.read.parquet(src)
        per_file = max(1, -(-df.count() // n_files))
        (
            df.orderBy("o_totalprice", "o_orderkey")
            .coalesce(1)
            .write.option("maxRecordsPerFile", str(per_file))
            .mode("overwrite")
            .parquet(tmp)
        )

    _atomic_dir_commit(clustered, build_clustered)
    _atomic_dir_commit(
        unclustered,
        lambda tmp: spark.read.parquet(src)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return clustered, unclustered


def _daily_rollup(ev: DataFrame) -> DataFrame:
    """Per-(day, event_type) event count and integer cents — the
    rollup both maintained_daily_table (q114) and retention_swept_path
    (q128) keep partitioned by day."""
    from pyspark.sql import functions as F

    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)"
        ).alias("cents"),
    )


def maintained_daily_table(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """The maintained-table fixture behind q114's SQL INSERT OVERWRITE
    refresh: a catalog table of per-(day, event_type) rollups,
    PARTITIONED BY day — the canonical nightly-ETL output layout.
    Built ONCE per corpus snapshot (full history); the q114 lane then
    refreshes only the trailing days through dynamic partition
    overwrite, the way a production job reruns "yesterday and the
    late-data window" without truncating years of history.

    Returns (table_name, cutoff_day): cutoff = max(day) - 6, the
    data-derived start of the 7-day refresh window (never
    current_date — determinism discipline).
    """
    import os

    from pyspark.sql import functions as F

    # catalog.table, not a raw read: events.parquet has shipped in
    # three ts layouts across driver data generations (nanos-as-long /
    # micros / ntz) and only the catalog reader normalizes them — a
    # raw read would build day partitions from a different ts than the
    # q114 refresh side uses (local import: catalog has no io dep)
    from etl_sql_and_pyspark_developement__spark.sources.catalog import (
        table as _table,
    )

    path = _artifact_dest(
        "daily_rollup", os.path.join(sf_dir, "events.parquet"), "v=1"
    )
    name = os.path.basename(path)
    ev = _table(spark, sf_dir, "events")
    rollup = _daily_rollup(ev)
    # data commits first, then the external table is registered over
    # it — a crash between the two just re-registers on the next call.
    _atomic_dir_commit(
        path,
        lambda tmp: rollup.write.mode("overwrite")
        .partitionBy("day")
        .parquet(tmp),
    )
    if not spark.catalog.tableExists(name):
        # DDL DERIVED from rollup.schema (not hardcoded): a drifted
        # rollup schema must fail at build time, never silently
        # register a mismatched table definition over the parquet data
        types = {
            f.name: f.dataType.simpleString().upper()
            for f in rollup.schema.fields
        }
        cols = ", ".join(
            f"{n} {t}" for n, t in types.items() if n != "day"
        )
        spark.sql(
            f"CREATE TABLE {name} ({cols}, day {types['day']})"
            f" USING parquet PARTITIONED BY (day) LOCATION '{path}'"
        )
        spark.catalog.recoverPartitions(name)
    cutoff = ev.agg(
        F.date_format(
            F.date_sub(F.max(F.to_date("ts")), 6), "yyyy-MM-dd"
        ).alias("c")
    ).collect()[0]["c"]
    return name, cutoff


def retention_swept_path(
    spark: SparkSession,
    sf_dir: str,
    keep_days: int = 14,
) -> tuple[str, str]:
    """Day-partitioned daily rollup with RETENTION APPLIED — the
    q128 fixture, the DELETE side of the write/maintenance family
    (q114 overwrites trailing partitions, q117 compacts files; this
    ages out whole partitions — the TTL/GDPR pass every lake runs
    nightly). Two-stage protocol, each stage idempotent:

    1. Full-history build: the per-(day, event_type) rollup written
       partitionBy(day) and committed once.
    2. Retention sweep: every partition with day < cutoff (cutoff =
       max(day) - keep_days + 1, data-derived, never current_date) is
       dropped ATOMICALLY — the partition dir is renamed aside first
       (readers see each partition either whole or gone, never
       half-deleted), then removed; the `_retention_<cutoff>` marker
       commits the sweep LAST, so a crash mid-sweep re-runs it on the
       next call (dropping a missing partition is a no-op). The
       cutoff is derived from directory names (metadata-only — no
       scan), and survivors' files are never rewritten, so the sweep
       costs O(dropped partitions), not O(table).

    Returns (path, cutoff). At 100 TB: partition drop is the only
    affordable delete — row-level deletes rewrite files; aging out a
    day removes a directory, and every scan afterwards prunes it for
    free because it no longer exists to list.
    """
    import datetime
    import os
    import shutil

    from etl_sql_and_pyspark_developement__spark.sources.catalog import (
        table as _table,
    )

    dest = _artifact_dest(
        "events_retention",
        os.path.join(sf_dir, "events.parquet"),
        f"keep={keep_days}|v=1",
    )
    _atomic_dir_commit(
        dest,
        lambda tmp: _daily_rollup(_table(spark, sf_dir, "events"))
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(tmp),
    )
    days = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(dest)
        if d.startswith("day=")
    )
    if not days:
        # empty corpus (cold start / fully filtered ingest): nothing
        # to sweep; the epoch cutoff keeps the return contract and the
        # committed-but-empty table reads as zero rows
        return dest, "1970-01-01"
    # cutoff from max(day): survivors' max is the corpus max (the
    # sweep only removes OLD days), so re-deriving after a sweep —
    # or after a crash mid-sweep — lands on the SAME cutoff.
    cutoff = (
        datetime.date.fromisoformat(days[-1])
        - datetime.timedelta(days=keep_days - 1)
    ).isoformat()
    marker = os.path.join(dest, f"_retention_{cutoff}")
    if not os.path.exists(marker):
        # heal crash orphans first: an underscore-prefixed trash dir
        # is invisible to partition discovery AND to the day= listing
        # above, so a leftover can never resurrect rows — but it does
        # hold disk, so each sweep clears any predecessor's corpses.
        for d in os.listdir(dest):
            if d.startswith("_trash_day_"):
                shutil.rmtree(
                    os.path.join(dest, d), ignore_errors=True
                )
        for day in days:
            if day >= cutoff:
                continue
            pdir = os.path.join(dest, f"day={day}")
            # underscore prefix: Hive/Spark partition discovery skips
            # _-prefixed paths, so between rename and rmtree (or after
            # a crash mid-window) readers see the partition GONE —
            # never resurrected under a mangled day value.
            trash = os.path.join(
                dest, f"_trash_day_{day}.{os.getpid()}"
            )
            try:
                os.rename(pdir, trash)  # atomic: whole or gone
            except OSError:
                continue  # a concurrent sweeper already dropped it
            shutil.rmtree(trash, ignore_errors=True)
        with open(marker, "w"):
            pass
    return dest, cutoff


def bucketed_files_path(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 4,
) -> str:
    """ONE-FILE-PER-BUCKET orders layout — q129's fixture: rows are
    bucketed by o_orderkey % n_buckets, repartitioned BY the bucket
    column (co-locating each bucket in exactly one task) and written
    partitionBy(bucket), so every bucket directory holds exactly one
    data file whose CONTENTS are a pure function of the data. That
    determinism is what lets the _metadata file-lineage lane be
    value-verified: per-file stats == per-bucket stats, replayable
    from the flat truth by any engine."""
    import os

    from pyspark.sql import functions as F

    src = os.path.join(sf_dir, "orders.parquet")
    dest = _artifact_dest("orders_bucket_files", src, f"b={n_buckets}|v=1")

    def build(tmp: str) -> None:
        df = spark.read.parquet(src).withColumn(
            "bucket", F.pmod(F.col("o_orderkey"), F.lit(n_buckets))
        )
        (
            df.repartition(n_buckets, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(tmp)
        )

    _atomic_dir_commit(dest, build)
    return dest


def two_generation_docs_path(spark: SparkSession, sf_dir: str) -> str:
    """TWO-GENERATION parquet directory — q130's schema-drift fixture:
    generation 1 (even doc_id) was written BEFORE the pipeline added
    source/n_chars columns; generation 2 (odd doc_id) carries them.
    Same directory, two file schemas — the layout every long-lived
    lake table actually has after a schema change, which only a
    mergeSchema (schema-union) read handles correctly. Membership is
    a pure function of doc_id, so the oracle replays the NULL-fill
    from the flat truth."""
    import os

    src = os.path.join(sf_dir, "documents.parquet")
    dest = _artifact_dest("docs_two_gen", src, "gen2|v=1")

    def build(tmp: str) -> None:
        docs = spark.read.parquet(src)
        os.makedirs(tmp, exist_ok=True)
        (
            docs.filter("doc_id % 2 = 0")
            .select("doc_id", "text", "lang")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "gen=1"))
        )
        (
            docs.filter("doc_id % 2 = 1")
            .select("doc_id", "text", "lang", "source", "n_chars")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "gen=2"))
        )
        # the commit protocol's completeness marker (the per-gen
        # writes leave their own _SUCCESS inside each subdir)
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass

    _atomic_dir_commit(dest, build)
    return dest


def jsonl_feed_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build-once JSONL feed with DETERMINISTIC planted corruption —
    the q115 ingest fixture: every event becomes one JSON line
    (event_id, event_type, value), except rows with event_id % 97 == 0
    carry "value": "oops" — a type violation PERMISSIVE parsing must
    quarantine whole-line. The corruption rule is a pure function of
    event_id, so the DuckDB oracle replays clean/quarantine membership
    exactly from the events table without reading the files.
    """
    import os

    from pyspark.sql import functions as F

    path = _artifact_dest(
        "jsonl_feed", os.path.join(sf_dir, "events.parquet"), "jsonl|v=1"
    )

    def build(tmp: str) -> None:
        # catalog reader: a raw read REJECTS the nanos-generation file
        # outright (schema conversion fails before column pruning)
        from etl_sql_and_pyspark_developement__spark.sources.catalog import (
            table as _table,
        )

        line = F.when(
            F.pmod(F.col("event_id"), F.lit(97)) == 0,
            F.concat(
                F.lit('{"event_id": '),
                F.col("event_id").cast("string"),
                F.lit(', "event_type": "'),
                F.col("event_type"),
                F.lit('", "value": "oops"}'),
            ),
        ).otherwise(F.to_json(F.struct("event_id", "event_type", "value")))
        ev = _table(spark, sf_dir, "events")
        ev.select(line.alias("value")).coalesce(4).write.mode(
            "overwrite"
        ).text(tmp)

    _atomic_dir_commit(path, build)
    return path


def orc_orders_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build-once ORC twin of orders (q116's fixture): the same rows
    re-staged through write_orc, so the ORC read path — including its
    pushed predicates — is exercised against data whose truth the
    parquet-backed oracle already knows."""
    import os

    src = os.path.join(sf_dir, "orders.parquet")
    path = _artifact_dest("orders_orc", src, "orc|v=1")
    _atomic_dir_commit(
        path, lambda tmp: write_orc(spark.read.parquet(src), tmp)
    )
    return path


def compacted_events_fixture(
    spark: SparkSession,
    sf_dir: str,
    n_fragments: int = 64,
) -> tuple[str, str]:
    """q117's fixture: events deliberately FRAGMENTED into
    n_fragments small files (the state a per-batch streaming sink
    leaves behind), then compacted once via compact_parquet with
    range clustering on ts. Returns (fragmented_path, compacted_path)
    — each committed on its own, the compacted twin from the
    committed fragments; the file-count collapse is asserted in
    tests, the VALUES are layout-invariant by definition.
    """
    import os

    # catalog reader normalizes the ts layout, so the fragmented twin
    # (and everything compacted from it) carries a real TIMESTAMP
    # q117's range literals can compare against
    from etl_sql_and_pyspark_developement__spark.sources.catalog import (
        table as _table,
    )

    src = os.path.join(sf_dir, "events.parquet")
    params = f"frag={n_fragments}|v=1"
    frag = _artifact_dest("events_fragmented", src, params)
    comp = _artifact_dest("events_compacted", src, params)
    _atomic_dir_commit(
        frag,
        lambda tmp: _table(spark, sf_dir, "events")
        .repartition(n_fragments)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    _atomic_dir_commit(
        comp,
        lambda tmp: compact_parquet(
            spark, frag, tmp, target_rows_per_file=10_000_000, order_by=["ts"]
        ),
    )
    return frag, comp


def fanout_rollups(base: DataFrame) -> dict[str, DataFrame]:
    """The q134 fan-out's rollup set over one projected lineitem
    frame, factored PURE (DataFrame -> DataFrames) so the builder and
    the scan-count contract test (tests/test_plans.py) run the SAME
    logic — the test proves each rollup's executed plan reads the
    cached base (zero parquet scans), not a re-scan. Integer-exact
    measures throughout (the repo's rounding discipline)."""
    from pyspark.sql import functions as F

    return {
        "by_flag": (
            base.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.expr("CAST(count(*) AS BIGINT)").alias("n"),
                F.expr("CAST(sum(l_quantity) AS BIGINT)").alias("sum_qty"),
            )
        ),
        "by_month": (
            base.groupBy(
                F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
            )
            .agg(
                F.expr("CAST(count(*) AS BIGINT)").alias("n"),
                F.expr(
                    "CAST(sum(CAST(round(l_extendedprice * 100, 0)"
                    " AS BIGINT)) AS BIGINT)"
                ).alias("rev_cents"),
            )
        ),
        "by_suppband": (
            base.groupBy(F.pmod("l_suppkey", F.lit(10)).alias("supp_band"))
            .agg(
                F.expr("CAST(count(*) AS BIGINT)").alias("n"),
                F.expr("CAST(sum(l_quantity) AS BIGINT)").alias("sum_qty"),
            )
        ),
    }


def multi_output_etl_path(spark: SparkSession, sf_dir: str) -> str:
    """ONE FACT SCAN -> N OUTPUT TABLES — the production ETL topology
    the reference's scripts each run one-at-a-time (every reference
    workload reads a fact and writes ONE rollup; a real nightly job
    writes all of them, and re-scanning 100 TB once per output is the
    naive shape this lane exists to kill). q112 proved Catalyst
    reuses an exchange INSIDE one query but NOT across separate
    writes — each .write is its own query execution, so the fan-out
    must materialize the shared base explicitly:

    - PROJECT FIRST: only the columns any rollup needs leave the
      scan (the cache holds the narrow projection, not the table);
    - persist(MEMORY_AND_DISK) + count() materializes ONE parquet
      scan; every subsequent rollup plans an InMemoryTableScan
      (asserted in tests/test_plans.py: zero parquet scans per
      output, vs one EACH for the naive re-read shape);
    - persist over localCheckpoint: same scan-once effect, but the
      cache keeps lineage (an executor loss recomputes the lost
      partitions; a lost localCheckpoint partition kills the job);
    - the three outputs commit ATOMICALLY AS A UNIT (one tmp dir,
      one rename): a consumer never sees by_flag updated while
      by_month is stale — the cross-table consistency a nightly
      fan-out needs;
    - unpersist in finally: the cache is scoped to the build, never
      leaked into later queries' memory budget.

    At 100 TB: if the projected base outgrows cluster memory+disk,
    MEMORY_AND_DISK spills per-partition (still one decode of the
    parquet); the break-even is N outputs * scan cost vs one cached
    materialization — at N=3 and a 5-column projection of a 16-column
    fact, caching wins ~5x on IO before compression even counts.
    Returns the committed artifact root with one subdir per output.
    """
    import os

    from pyspark import StorageLevel

    src = os.path.join(sf_dir, "lineitem.parquet")
    dest = _artifact_dest("etl_fanout", src, "fanout|v=1")

    def build(tmp: str) -> None:
        base = (
            spark.read.parquet(src)
            .select(
                "l_returnflag",
                "l_linestatus",
                "l_quantity",
                "l_extendedprice",
                "l_shipdate",
                "l_suppkey",
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            base.count()  # the ONE parquet scan
            for name, rollup in fanout_rollups(base).items():
                rollup.write.mode("overwrite").parquet(
                    os.path.join(tmp, name)
                )
            with open(os.path.join(tmp, "_SUCCESS"), "w"):
                pass
        finally:
            base.unpersist()

    _atomic_dir_commit(dest, build)
    return dest


def defaults_evolved_table(spark: SparkSession, sf_dir: str) -> str:
    """CATALOG-DEFAULT COLUMN EVOLUTION fixture (q135) — the
    catalog-side half of the schema-drift story whose read-side half
    is q130's mergeSchema: `ALTER TABLE ... ADD COLUMNS (c T DEFAULT
    v)` widens the table WITHOUT touching a single data file (the
    EXISTS_DEFAULT rides in column metadata; existing rows surface it
    at scan time), and subsequent INSERTs fill omitted columns from
    the CURRENT_DEFAULT. The build is deterministic end-to-end:

    1. snapshot documents into a managed table (overwrite);
    2. ALTER ADD (quality_tier STRING DEFAULT 'unreviewed',
       review_pass INT DEFAULT 0) — zero rewrite, asserted on file
       mtimes in tests/test_io.py;
    3. plant two fixed out-of-domain rows (doc_id -1/-2): one with
       explicit values, one exercising the INSERT-side default path.

    Torn-state heal: the in-memory catalog forgets tables per
    session; within a session a crash mid-build leaves either the
    evolved columns or the planted rows missing — both checks rerun
    the whole build (overwrite), landing on the same end state.

    At 100 TB: ADD COLUMNS DEFAULT is the ONLY free schema change —
    no backfill job, no file rewrite, no mergeSchema footer tax at
    plan time (the default is catalog metadata, not per-file
    schema) — which is why warehouses evolve via defaults and reserve
    q130's mergeSchema for directories that drifted without a
    catalog.
    """
    import os

    src = os.path.join(sf_dir, "documents.parquet")
    dest = _artifact_dest("docs_defaults", src, "defaults|v=1")
    name = os.path.basename(dest)

    from pyspark.sql import functions as F

    def _complete() -> bool:
        if not spark.catalog.tableExists(name):
            return False
        cols = {f.name for f in spark.table(name).schema.fields}
        if not {"quality_tier", "review_pass"} <= cols:
            return False
        return (
            spark.table(name).filter(F.col("doc_id") < 0).count() == 2
        )

    if not _complete():
        (
            spark.read.parquet(src)
            .write.mode("overwrite")
            .option("path", dest)
            .saveAsTable(name)
        )
        spark.sql(
            f"ALTER TABLE {name} ADD COLUMNS ("
            " quality_tier STRING DEFAULT 'unreviewed',"
            " review_pass INT DEFAULT 0)"
        )
        # one row with explicit values, one riding the INSERT defaults
        spark.sql(
            f"INSERT INTO {name} VALUES"
            " (-1, 'planted expedited doc', 'en', 'src_manual', 11,"
            "  'expedited', 2)"
        )
        spark.sql(
            f"INSERT INTO {name} (doc_id, text, lang, source, n_chars)"
            " VALUES (-2, 'planted default doc', 'en', 'src_manual', 12)"
        )
    return name
