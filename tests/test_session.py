"""Session factories read one runtime config, checked without starting
a session: a stand-in SparkSession records what each factory sets."""

from __future__ import annotations

from etl_sql_and_pyspark_developement__spark import session


class _Builder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def config(self, key, value):
        self.conf[key] = value
        return self

    def appName(self, name):
        return self.config("spark.app.name", name)

    def master(self, master):
        return self.config("spark.master", master)

    def getOrCreate(self):
        return self.conf


class _Session:
    @property
    def builder(self):
        return _Builder()


class _Conf:
    def __init__(self):
        self.set_keys: dict[str, str] = {}

    def set(self, key, value):
        self.set_keys[key] = value


def test_factories_share_runtime_conf(monkeypatch):
    """get_spark and get_cluster_spark both set every RUNTIME_CONF key
    (the cluster factory lays CLUSTER_PRESET on top), and
    configure_existing sets exactly its six handover keys, so a lane
    called inside a conf_scope re-arms nothing else."""
    monkeypatch.setattr(session, "SparkSession", _Session())
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    local = session.get_spark()
    cluster = session.get_cluster_spark()
    want = {**session.RUNTIME_CONF, **session.CLUSTER_PRESET}
    assert {k: cluster[k] for k in want} == want
    assert {k: local[k] for k in session.RUNTIME_CONF} == session.RUNTIME_CONF
    assert local["spark.sql.shuffle.partitions"] == "32"
    for key in (
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "spark.sql.python.filterPushdown.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
    ):
        assert cluster[key] == "true", key

    class _Existing:
        conf = _Conf()

    existing = _Existing()
    assert session.configure_existing(existing) is existing
    assert existing.conf.set_keys == {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
