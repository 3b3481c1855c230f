"""Session defaults: the 32 MB scan split is a local-master setting, and
``master=None`` keeps a master that spark-submit supplied.  Checked on
the conf ``get_spark`` would build, without starting a second session."""

from __future__ import annotations

from contextlib import contextmanager

from srag_spark import session

SPLIT = "spark.sql.files.maxPartitionBytes"


def test_split_size_default_applies_to_local_masters_only(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MAX_PARTITION_BYTES", raising=False)
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert session._conf(master, 4)[SPLIT] == "32m", master
    for master in ("spark://h:7077", "yarn", "k8s://https://h:443", "local-cluster[2,1,1024]"):
        assert SPLIT not in session._conf(master, 4), master
    # an explicit split size applies on any master
    monkeypatch.setenv("SPARK_GRAFT_MAX_PARTITION_BYTES", "256m")
    assert session._conf("yarn", 4)[SPLIT] == "256m"
    assert session._conf("local[4]", 4)[SPLIT] == "256m"


def test_local_conf_sets_master_and_engine_defaults(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MAX_PARTITION_BYTES", raising=False)
    conf = session._conf("local[4]", 4)
    assert conf["spark.master"] == "local[4]"
    assert conf["spark.sql.shuffle.partitions"] == "4"
    assert conf["spark.sql.mapKeyDedupPolicy"] == "LAST_WIN"


@contextmanager
def _master_property(spark, value):
    """The JVM's ``spark.master`` system property set to ``value`` (None:
    unset) for the block, then restored."""
    system = spark._jvm.java.lang.System
    before = system.getProperty("spark.master")

    def put(v):
        if v is None:
            system.clearProperty("spark.master")
        else:
            system.setProperty("spark.master", v)

    put(value)
    try:
        yield
    finally:
        put(before)


def test_master_none_keeps_a_supplied_master(spark, monkeypatch):
    """spark-submit hands its ``--master`` to the driver as the
    ``spark.master`` system property; ``master=None`` keeps it rather
    than forcing ``local[...]``, and only without one falls back."""
    monkeypatch.delenv("SPARK_GRAFT_MAX_PARTITION_BYTES", raising=False)
    with _master_property(spark, "spark://h:7077"):
        assert session._default_master() == "spark://h:7077"
        assert SPLIT not in session._conf(session._default_master(), None)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    with _master_property(spark, None):
        assert session._default_master() == "local[3]"
