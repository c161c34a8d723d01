"""Source/sink round-trips: CSV/JSON explicit-schema readers and the
partitioned parquet writer (partition pruning must reach the scan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_sql_and_pyspark_developement__spark.session import conf_scope


def test_csv_json_roundtrip(spark, tmp_path):
    from etl_sql_and_pyspark_developement__spark.sources.io import (
        read_csv,
        read_json,
        write_parquet,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], ["id", "name", "score"]
    )
    csv_path = str(tmp_path / "csv")
    json_path = str(tmp_path / "json")
    df.write.mode("overwrite").option("header", True).csv(csv_path)
    df.write.mode("overwrite").json(json_path)

    schema = "id bigint, name string, score double"
    got_csv = read_csv(spark, csv_path, schema)
    got_json = read_json(spark, json_path, schema)
    assert sorted(got_csv.collect()) == sorted(df.collect())
    assert sorted(got_json.collect()) == sorted(df.collect())


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table
    from etl_sql_and_pyspark_developement__spark.sources.io import write_parquet

    orders = table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    write_parquet(orders, out, partition_by=["o_year"])

    back = spark.read.parquet(out).filter(F.col("o_year") == 1997)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == orders.filter(F.col("o_year") == 1997).count()
    # partition filter must prune at planning time, not post-scan
    assert "PartitionFilters: [isnotnull(o_year" in plan or "o_year=1997" in plan


def test_delta_stub_raises(spark, tmp_path):
    import pytest

    from etl_sql_and_pyspark_developement__spark.sources.io import read_delta

    with pytest.raises((NotImplementedError, Exception)):
        read_delta(spark, str(tmp_path / "nope"))


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    """The 100 TB co-location strategy: two tables bucketed on the join
    key must join with ZERO Exchange operators in the plan."""
    from pyspark.sql import functions as F

    from etl_sql_and_pyspark_developement__spark.sources.catalog import table
    from etl_sql_and_pyspark_developement__spark.sources.io import (
        write_bucketed_table,
    )

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed_table(orders, "orders_b", "o_orderkey", n_buckets=8)
    write_bucketed_table(li, "lineitem_b", "o_orderkey", n_buckets=8)
    joined = (
        spark.table("orders_b")
        .join(spark.table("lineitem_b"), "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(o_orderkey" not in plan, (
        "bucketed join must not shuffle on the join key"
    )
    # result must still be correct
    expected = {
        r.o_orderpriority: r.n
        for r in orders.join(li, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {r.o_orderpriority: r.n for r in joined.collect()}
    assert got == expected


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    from etl_sql_and_pyspark_developement__spark.sources.catalog import table
    from etl_sql_and_pyspark_developement__spark.sources.io import (
        read_orc,
        write_orc,
    )

    nation = table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_orc")
    write_orc(nation, out)
    back = read_orc(spark, out).filter(F.col("n_regionkey") == 1).select(
        "n_name", "n_regionkey"
    )
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in nation.filter("n_regionkey = 1").collect()
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    # predicate + projection must reach the ORC scan
    assert "PushedFilters: [" in plan and "n_regionkey" in plan


def test_compact_parquet_file_count_and_zone_maps(spark, sf_dir, tmp_path):
    """Compaction must preserve content, hit the target file count, and
    (with order_by) produce range-disjoint files so min/max zone maps
    prune downstream range scans."""
    import glob

    from etl_sql_and_pyspark_developement__spark.sources.catalog import table
    from etl_sql_and_pyspark_developement__spark.sources.io import compact_parquet

    orders = table(spark, sf_dir, "orders")
    frag = str(tmp_path / "fragmented")
    orders.repartition(64).write.parquet(frag)
    assert len(glob.glob(f"{frag}/*.parquet")) == 64, "fixture must be fragmented"

    out = str(tmp_path / "compacted")
    n_rows = orders.count()
    target = -(-n_rows // 4)  # 4 files
    got = compact_parquet(spark, frag, out, target_rows_per_file=target,
                          order_by=["o_orderdate"])
    assert got == n_rows
    files = sorted(glob.glob(f"{out}/*.parquet"))
    # range partitioner samples, so partitions are uneven and
    # maxRecordsPerFile splits oversized ones: guaranteed bounds are
    # [ideal, 2*ideal), far below the 64 fragments
    assert 4 <= len(files) <= 8
    back = spark.read.parquet(out)
    assert back.count() == n_rows
    assert sorted(back.columns) == sorted(orders.columns)

    # zone-map property: per-file [min,max] of the cluster key must not
    # interleave (ranges may touch at the boundary date)
    ranges = []
    for f in files:
        r = spark.read.parquet(f).agg(
            F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
        ).collect()[0]
        ranges.append((r.lo, r.hi))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ranges interleave: {(lo1, hi1)} vs {(lo2, hi2)}"


def test_dynamic_partition_overwrite_preserves_siblings(spark, tmp_path):
    """Overwriting one partition's data must not delete sibling
    partitions (the idempotent single-day backfill)."""
    from etl_sql_and_pyspark_developement__spark.sources.io import (
        overwrite_partitions,
        read_parquet,
    )

    path = str(tmp_path / "dyn")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], ["id", "day"]
    )
    overwrite_partitions(v1, path, ["day"])
    # re-run day b only, with corrected rows
    fix = spark.createDataFrame([(30, "b"), (31, "b")], ["id", "day"])
    overwrite_partitions(fix, path, ["day"])
    rows = {(r.id, r.day) for r in read_parquet(spark, path).collect()}
    assert rows == {(1, "a"), (2, "a"), (30, "b"), (31, "b")}


def test_merge_schema_read_unions_evolved_columns(spark, tmp_path):
    """A column added by a newer writer must surface (null for old
    files) under read_parquet_evolving, and the plain read must still
    work on the mixed directory."""
    from etl_sql_and_pyspark_developement__spark.sources.io import (
        read_parquet_evolving,
    )

    path = str(tmp_path / "evolve")
    spark.createDataFrame([(1, "x")], ["id", "name"]).write.parquet(
        path, mode="append"
    )
    spark.createDataFrame(
        [(2, "y", 9.5)], ["id", "name", "score"]
    ).write.parquet(path, mode="append")
    merged = read_parquet_evolving(spark, path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[2] == 9.5 and rows[1] is None


def test_read_jsonl_quarantine_routes_bad_lines(spark, tmp_path):
    """Malformed JSON and schema-violating lines land in the
    quarantine frame with their raw text; clean lines parse fully;
    nothing is dropped or nulled silently."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        read_jsonl_quarantine,
    )

    p = tmp_path / "ingest.jsonl"
    lines = [
        '{"doc_id": 1, "text": "alpha"}',          # clean
        '{"doc_id": 2, "text": "beta"}',           # clean
        '{"doc_id": "not-a-number", "text": "x"}', # schema violation
        '{broken json',                            # malformed
        '{"doc_id": 5, "text": "gamma"}',          # clean
    ]
    p.write_text("\n".join(lines) + "\n")
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
        ]
    )
    clean, quarantine = read_jsonl_quarantine(spark, str(p), schema)
    got = {(r.doc_id, r.text) for r in clean.collect()}
    assert got == {(1, "alpha"), (2, "beta"), (5, "gamma")}
    assert "_corrupt_record" not in clean.columns
    bad = quarantine.collect()
    assert len(bad) == 2
    raws = {r.raw_line for r in bad}
    assert '{broken json' in raws
    assert any('not-a-number' in r for r in raws)


def test_read_jsonl_quarantine_count_is_legal(spark, tmp_path):
    """Regression (round-3 ADVICE): .count() on either returned frame
    used to throw UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN
    when column pruning left only the corrupt column — the most common
    first use of a quarantine frame is counting it. The parsed frame
    is now localCheckpoint()'d before the split, so both counts are
    legal — and stay legal even after spark.catalog.clearCache()."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        read_jsonl_quarantine,
    )

    p = tmp_path / "ingest2.jsonl"
    p.write_text('{"doc_id": 1, "text": "a"}\n{nope\n')
    schema = StructType(
        [StructField("doc_id", LongType(), True),
         StructField("text", StringType(), True)]
    )
    clean, quarantine = read_jsonl_quarantine(spark, str(p), schema)
    assert quarantine.count() == 1
    assert clean.count() == 1
    # round-7 ADVICE: the split must survive cache loss — clearCache
    # used to re-expose the corrupt-column-only analysis error.
    spark.catalog.clearCache()
    assert quarantine.count() == 1
    assert clean.count() == 1


def test_knn_graph_artifact_builds_once_and_shares(spark, sf_dir, tmp_path, monkeypatch):
    """The graph artifact must be built EXACTLY once per corpus
    snapshot: the first consumer constructs + commits it (_SUCCESS),
    and q68/q71/p12 thereafter read the parquet — proven by poisoning
    the builder after the first call and running all three queries."""
    from etl_sql_and_pyspark_developement__spark.operators import similarity
    from etl_sql_and_pyspark_developement__spark.plans import QUERIES
    from etl_sql_and_pyspark_developement__spark.sources.io import (
        knn_graph_artifact,
    )

    adir = str(tmp_path / "artifacts")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", adir)
    first = knn_graph_artifact(spark, sf_dir)
    n = first.count()
    assert n > 0
    import os

    committed = [
        d for d in os.listdir(adir) if d.startswith("knn_graph_")
    ]
    assert len(committed) == 1
    assert os.path.exists(os.path.join(adir, committed[0], "_SUCCESS"))

    def _boom(*a, **k):
        raise AssertionError("knn_graph rebuilt despite committed artifact")

    monkeypatch.setattr(similarity, "knn_graph", _boom)
    # Reading the artifact again must not rebuild...
    assert knn_graph_artifact(spark, sf_dir).count() == n
    # ...and every graph consumer runs off the shared artifact.
    for key in ("q68_pagerank_centrality", "q71_triangle_count",
                "p12_density_prune"):
        assert QUERIES[key](spark, sf_dir).count() > 0


def test_artifact_cache_key_tracks_source_identity(spark, sf_dir, tmp_path, monkeypatch):
    """The content key must miss (and rebuild) when the source file's
    identity changes — a regenerated corpus can never be served a
    stale graph."""
    import os
    import shutil

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        knn_graph_artifact,
    )

    adir = str(tmp_path / "artifacts2")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", adir)
    src = tmp_path / "corpus"
    src.mkdir()
    shutil.copy(f"{sf_dir}/embeddings.parquet", src / "embeddings.parquet")
    knn_graph_artifact(spark, str(src))
    assert len(os.listdir(adir)) == 1
    # same bytes, new mtime -> new identity -> second artifact
    os.utime(src / "embeddings.parquet", ns=(1, 1))
    knn_graph_artifact(spark, str(src))
    assert len(os.listdir(adir)) == 2, "changed source identity must rebuild"


def test_bucketed_tables_key_covers_every_source(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The bucketed-twin cache key must carry EACH table's own source
    identity: regenerating customer.parquet while orders.parquet is
    unchanged must produce NEW table names (a key derived from orders
    alone would serve stale customer rows through the catalog hit)."""
    import os
    import shutil

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        bucketed_join_tables,
    )

    adir = str(tmp_path / "bkt_artifacts")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", adir)
    src = tmp_path / "corpus_bkt"
    src.mkdir()
    shutil.copy(f"{sf_dir}/orders.parquet", src / "orders.parquet")
    shutil.copy(f"{sf_dir}/customer.parquet", src / "customer.parquet")
    first = bucketed_join_tables(spark, str(src))
    # Same bytes, new customer mtime -> new identity -> new twins.
    os.utime(src / "customer.parquet", ns=(1, 1))
    second = bucketed_join_tables(spark, str(src))
    assert first != second, (
        "regenerated customer.parquet must miss the bucketed-table cache"
    )
    for name in (*first, *second):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_minhash_pairs_artifact_builds_once_and_shares(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The verified-pairs artifact is built EXACTLY once per corpus
    snapshot; d06 and d15 thereafter read the committed parquet —
    proven by poisoning the builder after the first call (the
    knn_graph_artifact contract applied to the text dedup lane)."""
    import os

    from etl_sql_and_pyspark_developement__spark.operators import dedup
    from etl_sql_and_pyspark_developement__spark.plans import QUERIES
    from etl_sql_and_pyspark_developement__spark.sources.io import (
        minhash_pairs_artifact,
    )

    adir = str(tmp_path / "artifacts")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", adir)
    first = minhash_pairs_artifact(spark, sf_dir)
    n = first.count()
    assert n > 0
    committed = [
        d for d in os.listdir(adir) if d.startswith("minhash_pairs_")
    ]
    assert len(committed) == 1
    assert os.path.exists(os.path.join(adir, committed[0], "_SUCCESS"))

    def _boom(*a, **k):
        raise AssertionError(
            "minhash pairs rebuilt despite committed artifact"
        )

    monkeypatch.setattr(dedup, "minhash_lsh_pairs", _boom)
    assert minhash_pairs_artifact(spark, sf_dir).count() == n
    for key in ("d06_dedup_components", "d15_quality_keeper"):
        assert QUERIES[key](spark, sf_dir).count() > 0


def test_python_datasource_partitions_and_determinism(spark):
    """The Python Data Source must (1) schedule its declared generator
    slices as real scan partitions (parallelism, not a driver loop),
    (2) generate identically across reads, and (3) match the
    importable row kernel bit-for-bit."""
    from etl_sql_and_pyspark_developement__spark.sources.pyds import (
        register_python_sources,
        synth_doc_row,
    )

    register_python_sources(spark)
    df = (
        spark.read.format("graft_synth_docs")
        .option("n", "100")
        .option("parts", "5")
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [synth_doc_row(i) for i in range(100)]
    again = sorted(tuple(r) for r in df.collect())
    assert rows == again, "generator must be deterministic"


def test_minhash_index_artifact_builds_once(spark, sf_dir, tmp_path, monkeypatch):
    """The base band index is built EXACTLY once per corpus snapshot;
    d22 thereafter screens deltas against the committed parquet —
    proven by poisoning the banding machinery after the first call
    (the minhash_pairs_artifact contract, applied to the index)."""
    import os

    from etl_sql_and_pyspark_developement__spark.plans import QUERIES
    from etl_sql_and_pyspark_developement__spark.sources import io as io_mod

    adir = str(tmp_path / "idx_artifacts")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", adir)
    first = io_mod.minhash_index_artifact(spark, sf_dir)
    n = first.count()
    assert n > 0
    committed = [d for d in os.listdir(adir) if d.startswith("minhash_index_")]
    assert len(committed) == 1
    assert os.path.exists(os.path.join(adir, committed[0], "_SUCCESS"))

    # Cache hit must not rewrite the committed artifact (d22's delta
    # side shares the banding machinery, so poisoning it would break
    # the consumer too — the unchanged commit dir IS the evidence).
    stamp = os.stat(os.path.join(adir, committed[0])).st_mtime_ns
    assert io_mod.minhash_index_artifact(spark, sf_dir).count() == n
    assert [
        d for d in os.listdir(adir) if d.startswith("minhash_index_")
    ] == committed
    assert os.stat(os.path.join(adir, committed[0])).st_mtime_ns == stamp
    assert QUERIES["d22_incremental_dedup"](spark, sf_dir).count() > 0


def test_python_ds_pushdown_prunes_partitions_and_rows(spark):
    """q113's pushdown contract: (1) consumed filters land in the
    scan's PushedFilters; (2) doc_id range filters prune generator
    partitions (4 of 8 slices scheduled); (3) the pushed result
    equals the baseline source filtered by Spark row-for-row —
    pushdown changes where rows die, never which survive."""
    from pyspark.sql import functions as F

    from etl_sql_and_pyspark_developement__spark.sources.pyds import (
        register_python_sources,
    )

    register_python_sources(spark)
    with conf_scope(spark, {"spark.sql.python.filterPushdown.enabled": "true"}):
        pred = (
            (F.col("lang") == "de")
            & (F.col("doc_id") >= 250)
            & (F.col("doc_id") < 750)
        )
        pushed = (
            spark.read.format("graft_synth_docs_push")
            .option("n", "1000")
            .option("parts", "8")
            .load()
            .filter(pred)
        )
        plan = pushed._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        pushed_line = [
            ln for ln in plan.splitlines() if "PushedFilters" in ln
        ]
        assert pushed_line, "scan must report PushedFilters"
        line = pushed_line[0]
        assert "EqualTo(lang,de)" in line
        assert "GreaterThanOrEqual(doc_id,250)" in line
        assert "LessThan(doc_id,750)" in line
        # range pushdown prunes slices [0,125)x2 and [750,1000)x2
        assert pushed.rdd.getNumPartitions() == 4
        baseline = (
            spark.read.format("graft_synth_docs")
            .option("n", "1000")
            .option("parts", "8")
            .load()
            .filter(pred)
        )
        assert sorted(map(tuple, pushed.collect())) == sorted(
            map(tuple, baseline.collect())
        )


def test_python_ds_pushdown_conf_gate_raises_clearly(spark):
    """Spark refuses to plan a pushFilters-implementing reader while
    the filterPushdown conf is off — pin the clear error so the
    baseline source must never grow the method (q105/st33 must stay
    plannable under default confs)."""
    import pytest as _pytest

    from etl_sql_and_pyspark_developement__spark.sources.pyds import (
        register_python_sources,
    )

    register_python_sources(spark)
    with conf_scope(spark, {"spark.sql.python.filterPushdown.enabled": "false"}):
        df = (
            spark.read.format("graft_synth_docs_push")
            .option("n", "10")
            .load()
        )
        with _pytest.raises(Exception, match="PUSHDOWN_DISABLED|pushFilters"):
            df.collect()
        # the baseline (no pushFilters) source must still plan fine
        base = (
            spark.read.format("graft_synth_docs").option("n", "10").load()
        )
        assert base.count() == 10


def test_q114_dynamic_overwrite_scoping_and_repair(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The INSERT OVERWRITE refresh must (1) leave out-of-window
    partitions' files untouched, (2) rewrite the trailing window
    idempotently, and (3) repair a corrupted trailing partition on
    the next run — the maintenance contract of q114."""
    import os

    from etl_sql_and_pyspark_developement__spark.plans import QUERIES
    from etl_sql_and_pyspark_developement__spark.sources.io import (
        maintained_daily_table,
    )

    adir = str(tmp_path / "q114_artifacts")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", adir)
    name, cutoff = maintained_daily_table(spark, sf_dir)
    base = os.path.join(adir, name)
    parts = sorted(d for d in os.listdir(base) if d.startswith("day="))
    early = [d for d in parts if d.split("=")[1] < cutoff]
    late = [d for d in parts if d.split("=")[1] >= cutoff]
    assert early and late

    def files_state(dirs):
        out = {}
        for d in dirs:
            p = os.path.join(base, d)
            out[d] = sorted(
                (f, os.stat(os.path.join(p, f)).st_mtime_ns)
                for f in os.listdir(p)
                if f.endswith(".parquet")
            )
        return out

    before_early = files_state(early)
    before_late = files_state(late)
    rows1 = QUERIES["q114_insert_overwrite_dynamic"](
        spark, sf_dir
    ).collect()
    assert files_state(early) == before_early, (
        "out-of-window partitions must not be rewritten"
    )
    assert files_state(late) != before_late, (
        "trailing-window partitions must be rewritten"
    )
    # idempotent rerun
    rows2 = QUERIES["q114_insert_overwrite_dynamic"](
        spark, sf_dir
    ).collect()
    assert rows1 == rows2
    # corrupt a trailing partition; the next refresh repairs it
    victim = os.path.join(base, late[-1])
    for f in os.listdir(victim):
        if f.endswith(".parquet"):
            os.remove(os.path.join(victim, f))
    spark.sql(f"REFRESH TABLE {name}")
    rows3 = QUERIES["q114_insert_overwrite_dynamic"](
        spark, sf_dir
    ).collect()
    assert rows3 == rows1, "refresh must repair the corrupted partition"


def test_q114_static_overwrite_would_truncate(spark, sf_dir, tmp_path, monkeypatch):
    """Pin the foot-gun the lane's dynamic mode exists to avoid: a
    STATIC INSERT OVERWRITE of the 7-day window deletes the whole
    table first — history outside the window is gone."""
    import os

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        maintained_daily_table,
    )
    from pyspark.sql import functions as F

    adir = str(tmp_path / "q114_static")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", adir)
    name, cutoff = maintained_daily_table(spark, sf_dir)
    n_full = spark.table(name).count()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    (
        ev.filter(F.date_format("ts", "yyyy-MM-dd") >= F.lit(cutoff))
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "CAST(sum(CAST(round(value * 100, 0) AS BIGINT))"
                " AS BIGINT)"
            ).alias("cents"),
        )
        .createOrReplaceTempView("q114_static_window")
    )
    cols = ", ".join(spark.table(name).columns)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"
    spark.sql(
        f"INSERT OVERWRITE TABLE {name}"
        f" SELECT {cols} FROM q114_static_window"
    )
    n_after = spark.table(name).count()
    assert n_after < n_full, (
        "static overwrite truncates history — the documented hazard"
    )
    base = os.path.join(adir, name)
    remaining = {d.split("=")[1] for d in os.listdir(base) if d.startswith("day=")}
    assert all(d >= cutoff for d in remaining)


def test_q115_quarantine_preserves_raw_lines(spark, sf_dir):
    """Every planted corruption (event_id % 97 == 0) must land in the
    quarantine with its RAW line intact (replayable), and no corrupt
    line may leak into the clean side."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        jsonl_feed_fixture,
        read_jsonl_quarantine,
    )

    path = jsonl_feed_fixture(spark, sf_dir)
    schema = StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
        ]
    )
    clean, quarantine = read_jsonl_quarantine(spark, path, schema)
    n_bad = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter("pmod(event_id, 97) = 0")
        .count()
    )
    quar = quarantine.collect()
    assert len(quar) == n_bad > 0
    assert all('"value": "oops"' in r.raw_line for r in quar)
    assert clean.filter("pmod(event_id, 97) = 0").count() == 0


def test_q117_compaction_collapses_files_and_skips(spark, sf_dir):
    """The compaction rewrite must (1) collapse the 64 fragment files
    to a handful, (2) preserve rows exactly, and (3) make the pushed
    ts-range predicate decode fewer rows on the clustered output than
    on the fragmented input (every fragment spans the full ts range,
    so nothing is skippable before compaction)."""
    from etl_sql_and_pyspark_developement__spark.sources.io import (
        compacted_events_fixture,
    )

    frag, comp = compacted_events_fixture(spark, sf_dir)

    def parquet_files(p):
        import os

        return [f for f in os.listdir(p) if f.endswith(".parquet")]

    assert len(parquet_files(frag)) == 64
    assert len(parquet_files(comp)) <= 4
    n_frag = spark.read.parquet(frag).count()
    n_comp = spark.read.parquet(comp).count()
    assert n_frag == n_comp > 0
    # row-identity, not just counts
    a = spark.read.parquet(frag).select("event_id")
    b = spark.read.parquet(comp).select("event_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_xml_round_trip_preserves_rows_and_nulls(spark, tmp_path):
    """write_xml/read_xml must round-trip rows exactly under an
    explicit schema, including NULLs (a null field's element is
    simply absent from the document — the reader must restore it as
    NULL, not skip the row)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        read_xml,
        write_xml,
    )

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("note", StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", None), (3, None, "z")], schema
    )
    out = str(tmp_path / "xml_rt")
    write_xml(df, out, row_tag="rec", root_tag="recs")
    back = read_xml(spark, out, "rec", schema)
    assert sorted(back.collect()) == sorted(df.collect())


def test_atomic_dir_commit_self_heals_torn_dest(spark, tmp_path):
    """A destination left half-written by a crashed PRE-atomic writer
    (dir exists, no _SUCCESS) must be cleared and rebuilt — not block
    every subsequent commit with ENOTEMPTY (round-8 review fix)."""
    import os

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        _atomic_dir_commit,
    )

    dest = str(tmp_path / "artifact")
    os.makedirs(dest)
    with open(os.path.join(dest, "junk.parquet"), "w") as f:
        f.write("torn")
    _atomic_dir_commit(dest, lambda tmp: spark.range(3).write.parquet(tmp))
    assert os.path.exists(os.path.join(dest, "_SUCCESS"))
    assert not os.path.exists(os.path.join(dest, "junk.parquet"))
    assert spark.read.parquet(dest).count() == 3


def test_catalog_fixtures_follow_the_artifact_root(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Catalog-registered fixtures are keyed on the artifact root: after
    the root changes within one session, each call returns a table whose
    data lives under the NEW root, not the table the first root
    registered under the same name."""
    import os

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        analyzed_part_table,
        defaults_evolved_table,
    )

    names = []
    for root in (tmp_path / "root_a", tmp_path / "root_b"):
        monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(root))
        for fixture in (analyzed_part_table, defaults_evolved_table):
            name = fixture(spark, sf_dir)
            names.append(name)
            location = {
                r[0]: r[1]
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
            }["Location"]
            assert location.removeprefix("file:").startswith(
                f"{root}{os.sep}"
            ), (fixture.__name__, root, location)
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


@pytest.mark.parametrize(
    "fixture, fmt",
    [
        ("jsonl_feed_fixture", "text"),
        ("orc_orders_fixture", "orc"),
        ("compacted_events_fixture", "parquet"),
    ],
)
def test_failed_fixture_build_leaves_nothing(
    spark, sf_dir, tmp_path, monkeypatch, fixture, fmt
):
    """A build that dies after writing part of its output publishes
    nothing: the artifact root holds no directory afterwards, and the
    next call builds the fixture and returns the same rows as a clean
    build."""
    import os
    from collections import Counter

    from pyspark.sql.readwriter import DataFrameWriter

    from etl_sql_and_pyspark_developement__spark.sources import io as io_mod

    build = getattr(io_mod, fixture)

    def rows(out):
        paths = out if isinstance(out, tuple) else (out,)
        return [
            Counter(map(tuple, spark.read.format(fmt).load(p).collect()))
            for p in paths
        ]

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "clean"))
    want = rows(build(spark, sf_dir))

    write = getattr(DataFrameWriter, fmt)

    def crash_mid_write(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        # leave a torn directory: one data file and the marker missing
        parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
        os.remove(os.path.join(path, parts[0]))
        os.remove(os.path.join(path, "_SUCCESS"))
        raise OSError("simulated crash mid-write")

    root = tmp_path / "crashed"
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(root))
    monkeypatch.setattr(DataFrameWriter, fmt, crash_mid_write)
    with pytest.raises(OSError, match="simulated crash"):
        build(spark, sf_dir)
    assert not root.exists() or os.listdir(root) == [], os.listdir(root)

    monkeypatch.setattr(DataFrameWriter, fmt, write)
    assert rows(build(spark, sf_dir)) == want


def test_retention_sweep_commit_protocol(spark, sf_dir, tmp_path, monkeypatch):
    """q128's fixture contract: (1) aged partitions are physically
    gone and the marker commits the sweep; (2) a crash mid-sweep
    (marker absent, some aged partitions still present) HEALS on the
    next call — the re-derived cutoff is identical and the re-sweep
    is idempotent; (3) survivor files are never rewritten (mtimes
    stable across calls)."""
    import os
    import shutil

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        retention_swept_path,
    )

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "artifacts"))
    path, cutoff = retention_swept_path(spark, sf_dir, keep_days=7)
    days = sorted(
        d for d in os.listdir(path) if d.startswith("day=")
    )
    assert days and min(days).split("=", 1)[1] >= cutoff
    marker = os.path.join(path, f"_retention_{cutoff}")
    assert os.path.exists(marker)

    survivor_mtimes = {}
    for d in days:
        for f in os.listdir(os.path.join(path, d)):
            p = os.path.join(path, d, f)
            survivor_mtimes[p] = os.stat(p).st_mtime_ns

    # simulate a crash mid-sweep: marker gone, one aged partition back
    os.remove(marker)
    import datetime

    aged_day = (
        datetime.date.fromisoformat(cutoff) - datetime.timedelta(days=3)
    ).isoformat()
    shutil.copytree(
        os.path.join(path, days[0]), os.path.join(path, f"day={aged_day}")
    )
    path2, cutoff2 = retention_swept_path(spark, sf_dir, keep_days=7)
    assert (path2, cutoff2) == (path, cutoff), "heal must re-derive the same cutoff"
    assert not os.path.exists(os.path.join(path, f"day={aged_day}"))
    assert os.path.exists(marker)
    for p, m in survivor_mtimes.items():
        assert os.stat(p).st_mtime_ns == m, "survivors must not be rewritten"

    # crash BETWEEN rename and rmtree: the underscore-prefixed trash
    # dir must be invisible to partition discovery (no resurrected
    # rows under a mangled day value) and swept by the next heal.
    n_committed = spark.read.parquet(path).count()
    orphan = os.path.join(path, f"_trash_day_{aged_day}.99999")
    shutil.copytree(os.path.join(path, days[0]), orphan)
    assert spark.read.parquet(path).count() == n_committed, (
        "a trash orphan must never be readable as live rows"
    )
    os.remove(marker)
    path3, cutoff3 = retention_swept_path(spark, sf_dir, keep_days=7)
    assert (path3, cutoff3) == (path, cutoff)
    assert not os.path.exists(orphan), "heal must clear trash orphans"


def test_q129_metadata_column_sanity(spark, sf_dir):
    """The engine-generated _metadata values no oracle can know:
    file_size is the real on-disk size, row_index is dense per file
    (0..n-1), file_path points inside the committed artifact."""
    import os

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        bucketed_files_path,
    )

    path = bucketed_files_path(spark, sf_dir, n_buckets=4)
    rows = (
        spark.read.parquet(path)
        .groupBy(F.col("_metadata.file_path").alias("fpath"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_metadata.row_index").alias("first_idx"),
            F.max("_metadata.row_index").alias("last_idx"),
            F.first("_metadata.file_size").alias("fsize"),
        )
        .collect()
    )
    assert len(rows) == 4, "one data file per bucket"
    for r in rows:
        local = r["fpath"].replace("file:", "")
        assert local.startswith(os.path.realpath(path) + "/")
        assert os.path.getsize(local) == r["fsize"]
        assert (r["first_idx"], r["last_idx"]) == (0, r["n"] - 1), (
            "row_index must be dense per file"
        )


def test_q130_default_read_cannot_see_evolved_columns(spark, sf_dir):
    """The motivating failure q130 exists for: WITHOUT mergeSchema the
    reader plans whichever single footer it samples — the evolved
    columns are either absent from the schema or the query fails to
    resolve them. Either way the two-generation directory is
    unreadable-as-a-whole by a default read, and readable exactly
    under mergeSchema (the lane's driver row proves the values)."""
    from etl_sql_and_pyspark_developement__spark.sources.io import (
        two_generation_docs_path,
    )

    path = two_generation_docs_path(spark, sf_dir)
    default_cols = set(spark.read.parquet(path).columns)
    merged_cols = set(
        spark.read.option("mergeSchema", "true").parquet(path).columns
    )
    assert {"doc_id", "text", "lang", "gen"} <= merged_cols
    assert {"source", "n_chars"} <= merged_cols
    # the default read's schema comes from ONE sampled footer —
    # measured on 4.1.2: the gen-1 footer wins and the evolved
    # columns VANISH from the schema (no error, no warning — the
    # silent-data-loss shape that makes mergeSchema non-optional on
    # evolved directories)
    assert default_cols == {"doc_id", "text", "lang", "gen"}
    assert merged_cols - default_cols == {"source", "n_chars"}


def test_q135_default_columns_evolve_without_rewrite(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The q135 fixture's zero-IO contract: ALTER TABLE ADD COLUMNS
    DEFAULT must not touch a single pre-evolution data file (mtimes
    byte-stable across the evolution), legacy rows surface the
    exists-default at scan time, and the insert-side current-default
    fills omitted columns. Torn-state heal: dropping the planted rows
    makes the next call rebuild to the same end state."""
    import os

    from etl_sql_and_pyspark_developement__spark.sources.io import (
        _artifact_dest,
        defaults_evolved_table,
    )

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "artifacts"))
    src = os.path.join(sf_dir, "documents.parquet")

    # replicate the build's first step to capture pre-ALTER mtimes
    dest = _artifact_dest("docs_defaults", src, "defaults|v=1")
    name = defaults_evolved_table(spark, sf_dir)
    assert name == os.path.basename(dest)

    snap_files = {
        f: os.stat(os.path.join(dest, f)).st_mtime_ns
        for f in os.listdir(dest)
        if f.endswith(".parquet")
    }
    assert snap_files, "the snapshot must hold parquet files"

    t = spark.table(name)
    legacy = t.filter(F.col("doc_id") >= 0)
    n_docs = spark.read.parquet(src).count()
    assert legacy.count() == n_docs
    assert (
        legacy.filter(
            (F.col("quality_tier") == "unreviewed")
            & (F.col("review_pass") == 0)
        ).count()
        == n_docs
    ), "every legacy row must surface the exists-default"
    planted = {
        (r.doc_id, r.quality_tier, r.review_pass)
        for r in t.filter(F.col("doc_id") < 0)
        .select("doc_id", "quality_tier", "review_pass")
        .collect()
    }
    assert planted == {(-1, "expedited", 2), (-2, "unreviewed", 0)}

    # idempotent re-entry: no rebuild, snapshot files untouched
    defaults_evolved_table(spark, sf_dir)
    for f, m in snap_files.items():
        assert os.stat(os.path.join(dest, f)).st_mtime_ns == m, (
            "ALTER/INSERT evolution must never rewrite snapshot files"
        )

    # torn state — a crash right after the snapshot step (table
    # exists, evolution columns absent) — heals by full rebuild
    spark.sql(f"DROP TABLE {name}")
    spark.read.parquet(src).write.mode("overwrite").option(
        "path", dest
    ).saveAsTable(name)
    assert "quality_tier" not in spark.table(name).columns
    name2 = defaults_evolved_table(spark, sf_dir)
    assert name2 == name
    t2 = spark.table(name)
    assert {"quality_tier", "review_pass"} <= set(t2.columns)
    assert t2.filter(F.col("doc_id") < 0).count() == 2


def test_schema_cache_not_poisoned_by_caller_mutation(spark, sf_dir, monkeypatch):
    """A caller extending the schema of the FIRST cached read of a path
    (StructType.add mutates in place) must not leak that column into
    later readers of the same path: the cache keeps a private copy."""
    import os

    from pyspark.sql.types import IntegerType

    from etl_sql_and_pyspark_developement__spark.sources import catalog

    monkeypatch.setattr(catalog, "_SCHEMA_CACHE", {})
    path = os.path.join(sf_dir, "orders.parquet")
    want = spark.read.parquet(path).columns
    catalog.cached_parquet(spark, path).schema.add("bucket", IntegerType())
    assert catalog.table(spark, sf_dir, "orders").columns == want
    assert catalog.cached_parquet(spark, path).columns == want
