"""Empty-input robustness: every registered query must run (and return
zero or aggregate-only rows, not crash) when every table is empty —
the situation a pipeline hits on an empty ingest partition, a
filtered-out date range, or a cold-start corpus."""

from __future__ import annotations

import duckdb
import pytest

from etl_sql_and_pyspark_developement__spark.plans import QUERIES
from etl_sql_and_pyspark_developement__spark.sources.catalog import TABLES


@pytest.fixture(scope="module")
def empty_sf_dir(sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_empty")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{sf_dir}/{t}.parquet') "
            f"WHERE 1=0) TO '{d}/{t}.parquet' (FORMAT PARQUET)"
        )
    return str(d)


def test_every_query_tolerates_empty_tables(spark, empty_sf_dir):
    failures = []
    for key in sorted(QUERIES):
        try:
            QUERIES[key](spark, empty_sf_dir).count()
        except Exception as ex:  # noqa: BLE001 — collecting the full list
            failures.append(f"{key}: {type(ex).__name__}: {str(ex).splitlines()[0][:100]}")
    assert not failures, "queries crashed on empty inputs:\n" + "\n".join(failures)


@pytest.fixture(scope="module")
def nulled_sf_dir(sf_dir, tmp_path_factory):
    """sf0.001 with 10% NULLs injected into the nullable value columns
    (document text/lang, event value/props, embedding vectors)."""
    d = tmp_path_factory.mktemp("sf_nulls")
    mods = {
        "documents": (
            "SELECT doc_id, CASE WHEN doc_id % 10 = 3 THEN NULL ELSE text END AS text, "
            "CASE WHEN doc_id % 10 = 4 THEN NULL ELSE lang END AS lang, source, n_chars FROM t"
        ),
        "events": (
            "SELECT event_id, ts, user_id, event_type, "
            "CASE WHEN event_id % 10 = 3 THEN NULL ELSE value END AS value, "
            "CASE WHEN event_id % 10 = 4 THEN NULL ELSE props END AS props FROM t"
        ),
        "embeddings": (
            "SELECT vec_id, CASE WHEN vec_id % 10 = 3 THEN NULL ELSE embedding END AS embedding, "
            "label FROM t"
        ),
    }
    con = duckdb.connect()
    for t in TABLES:
        sel = mods.get(t, "SELECT * FROM t").replace(
            " FROM t", f" FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
        con.execute(f"COPY ({sel}) TO '{d}/{t}.parquet' (FORMAT PARQUET)")
    return str(d)


def test_every_query_tolerates_null_values(spark, nulled_sf_dir):
    """A real corpus has missing fields; no query may crash on NULL
    text / lang / value / props / embedding rows."""
    failures = []
    for key in sorted(QUERIES):
        try:
            QUERIES[key](spark, nulled_sf_dir).count()
        except Exception as ex:  # noqa: BLE001
            failures.append(f"{key}: {type(ex).__name__}: {str(ex).splitlines()[0][:100]}")
    assert not failures, "queries crashed on NULL inputs:\n" + "\n".join(failures)


@pytest.fixture(scope="module")
def adversarial_sf_dir(sf_dir, tmp_path_factory):
    """documents with adversarial text: empty strings, whitespace-only,
    emoji/CJK/RTL unicode, embedded tabs/newlines, 5000-char tokens;
    and all-zero embeddings (every 25th vec_id, vec_id 0 among them),
    the zero-norm vectors a cosine must not divide by."""
    d = tmp_path_factory.mktemp("sf_adversarial")
    adv = """SELECT doc_id,
     CASE doc_id % 7
       WHEN 0 THEN ''
       WHEN 1 THEN '🚀🔥 émojis and ünïcode 北京 مرحبا текст'
       WHEN 2 THEN repeat('x', 5000)
       WHEN 3 THEN concat('tabs\tand\nnewlines  ', text)
       WHEN 4 THEN ' '
       ELSE text END AS text,
     lang, source, n_chars
     FROM read_parquet('{src}/documents.parquet')"""
    zero = """SELECT vec_id,
     CASE WHEN vec_id % 25 = 0
       THEN list_transform(embedding, x -> 0.0::FLOAT)
       ELSE embedding END AS embedding,
     label
     FROM read_parquet('{src}/embeddings.parquet')"""
    con = duckdb.connect()
    for t, sql in (("documents", adv), ("embeddings", zero)):
        con.execute(
            f"COPY ({sql.format(src=sf_dir)}) TO '{d}/{t}.parquet' (FORMAT PARQUET)"
        )
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')) "
                f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
    return str(d)


def test_every_query_tolerates_adversarial_text(spark, adversarial_sf_dir):
    """Empty / whitespace-only / unicode / giant-token documents and
    all-zero embeddings must not crash any query (ANSI mode turns
    division-by-zero on degenerate docs or zero-norm vectors into task
    failures — guarded in textstats and by similarity's zero-norm
    rule)."""
    failures = []
    for key in sorted(QUERIES):
        try:
            QUERIES[key](spark, adversarial_sf_dir).count()
        except Exception as ex:  # noqa: BLE001
            failures.append(f"{key}: {type(ex).__name__}: {str(ex).splitlines()[0][:100]}")
    assert not failures, "queries crashed on adversarial text:\n" + "\n".join(failures)


def test_ann_lanes_drop_null_vector_queries(spark, nulled_sf_dir):
    """s03, s06 and s10 agree on a query with no defined distance: the
    nulled fixture's query 3 has a NULL vector, so it returns no row,
    while every other query still returns its k = 5 neighbours."""
    for key in ("s03_ann_ivf", "s06_pq_ann", "s10_ivf_pq_ann"):
        per_query = {
            r.query_id: r.n
            for r in QUERIES[key](spark, nulled_sf_dir)
            .groupBy("query_id")
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        }
        assert 3 not in per_query, (key, per_query)
        assert per_query and set(per_query.values()) == {5}, (key, per_query)
