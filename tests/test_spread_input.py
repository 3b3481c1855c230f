"""spread_input decides by analyzed-plan node class: only scan-shaped
inputs are probed and spread.  A composed input must run no Spark job
(the ``.rdd`` partition probe would execute its shuffle) and come back
untouched; a column name is never mistaken for a plan node."""

from __future__ import annotations

import logging

import pytest

from srag_spark.functions.planning import spread_input


@pytest.fixture(scope="module")
def one_file_scan(spark, tmp_path_factory):
    """read(key_col): a 1-file, 1-partition scan of (id, <key_col>)."""
    root = tmp_path_factory.mktemp("spread")

    def read(key_col):
        path = str(root / key_col)
        spark.range(200).selectExpr("id", f"id % 7 AS {key_col}").coalesce(1) \
            .write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() == 1
        return df

    return read


@pytest.mark.parametrize("compose", ["distinct", "dropDuplicates"])
def test_composed_input_runs_no_job(one_file_scan, jobs_run_by, compose):
    composed = getattr(one_file_scan("k").select("id"), compose)()
    out, jobs = jobs_run_by(lambda: spread_input(composed))
    assert jobs == []
    assert out is composed


def test_scan_with_join_named_column_is_spread(spark, one_file_scan, jobs_run_by):
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert target > 1
    src = one_file_scan("JoinKey").filter("JoinKey >= 0").select("id", "JoinKey")
    out, jobs = jobs_run_by(lambda: spread_input(src))
    assert jobs == []
    assert out.rdd.getNumPartitions() == target
    assert sorted(r.id for r in out.collect()) == list(range(200))


def test_failed_probe_is_logged(spark, caplog):
    class Broken:
        sparkSession = spark

        @property
        def _jdf(self):
            raise RuntimeError("no plan")

    broken = Broken()
    with caplog.at_level(logging.WARNING, logger="srag_spark.functions.planning"):
        assert spread_input(broken) is broken
    assert "no plan" in caplog.text
