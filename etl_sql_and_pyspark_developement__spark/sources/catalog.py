"""Parquet table catalog for the engine's star schema.

Mirrors the reference's schema surface (see /root/reference/SQL/
database_schema.txt) onto the TPC-H-ish testdata: dims (region, nation,
customer, supplier, part) + facts (orders, lineitem, events) + pipeline
tables (documents, embeddings).

Scans stay fully declarative (``spark.read.parquet``) so Catalyst gets
predicate pushdown and column pruning for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins. At TPC-H
# proportions region/nation are O(10..100) rows even at 100 TB; supplier
# stays in the tens of MB.
BROADCAST_DIMS = ("region", "nation", "supplier")

# Per-path parquet schema cache (r12): a bare spark.read.parquet pays
# SCHEMA INFERENCE on every call — one footer-reading Spark job plus
# ~100ms of driver work (measured warm, single local file). The engine
# re-reads the same immutable inputs constantly (every query
# construction calls table(); register_views loads all ten), so one
# bench pass paid ~700 inference jobs for at most a dozen distinct
# schemas. Caching the INFERRED schema per path and re-reading with
# spark.read.schema(...) skips the job entirely: same StructType,
# same scan plan, same pushdown — values and plans are unchanged, the
# planning-time job disappears. At 100 TB the analogous fix is an
# explicit catalog/metastore schema, which production tables have
# anyway. Keyed on the path string: valid because the engine's inputs
# are immutable per path (sf testdata never changes within a process;
# fixture artifacts are content-keyed — a rebuilt fixture gets a NEW
# path). Do not route mutable/overwritten paths through this helper.
# The cache holds a PRIVATE copy of each schema: StructType.add mutates
# in place, and df.schema of the first reader is the very object a
# caller may extend — caching it would leak that caller's extra column
# into every later reader of the path (the session-order bug the
# regression test in tests/test_io.py pins).
_SCHEMA_CACHE: dict[str, StructType] = {}


def cached_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path) with the per-path schema cache above —
    use for every IMMUTABLE parquet input read at query-construction
    time (catalog tables, committed fixture artifacts)."""
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = StructType.fromJson(df.schema.jsonValue())
        return df
    # the reader serializes the schema, so the cached copy never leaks
    return spark.read.schema(schema).parquet(path)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Give a raw events frame (batch or stream) the TIMESTAMP `ts`
    every operator expects. events.parquet has shipped `ts` in three
    physical layouts across data generations; the session reads INT64
    TIMESTAMP(NANOS) as a long (spark.sql.legacy.parquet.nanosAsLong,
    set by get_spark / configure_existing):

    - bigint nanos: truncated to micros by integer `div`, not `/`
      (nano epochs ~1.7e18 exceed double's 2^53 integer range). That
      is what DuckDB does loading timestamp[ns] into its µs TIMESTAMP,
      so oracle parity holds exactly.
    - timestamp_ntz (TIMESTAMP(MICROS) not adjusted to UTC): the
      session TZ is pinned to UTC, so reinterpreting the naive value
      as UTC is value-preserving.
    - timestamp (adjusted to UTC): already the type; unchanged."""
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = cached_parquet(spark, f"{sf_dir}/{name}.parquet")
    return normalize_events_ts(df) if name == "events" else df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so plans can use spark.sql."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
