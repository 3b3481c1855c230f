"""SparkSession factory with scale-oriented defaults.

The session settings here are the ones that matter at 100 TB just as much
as at test scale: AQE on (runtime shuffle-partition coalescing + skew-join
splitting), Arrow transport for every pandas UDF, LAST_WIN map-key dedup
(the reference's right-biased ``metadata ++ extra`` merge semantics,
srag-domain Transcript.scala:17-21), and a bounded broadcast threshold so
small dimension/query-side relations broadcast instead of shuffling.
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "srag-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master=None`` keeps the master spark-submit supplied (or that of
    the session already running), and only without one falls back to
    ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).  On a real cluster this
    function is still correct: pass master=None and let spark-submit
    supply the master; every other conf is cluster-safe.
    """
    conf = _conf(master or _default_master(), shuffle_partitions)
    builder = SparkSession.builder.appName(app_name)
    for k, v in {**conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _default_master() -> str:
    """The master already supplied to this driver (spark-submit's
    ``--master`` or a running session's), else the local default."""
    supplied = SparkConf().get("spark.master", None)
    return supplied or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"


def _conf(master: str, shuffle_partitions: int | None) -> dict[str, str]:
    """The settings :func:`get_spark` gives a session on ``master``."""
    cpus_s = os.environ.get("SPARK_GRAFT_CPUS", "")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus_s) if cpus_s.isdigit() else 32
    # driver memory: in local mode the driver JVM IS the executor, so
    # heap must scale with concurrent tasks — same 0.75 GiB/core formula
    # bench.py's scaling children use (r5's sf1 run crashed Python
    # workers under an 8g heap at 32 cores).  SPARK_GRAFT_DRIVER_MEM
    # overrides; on a real cluster executor memory is provisioned by
    # spark-submit and this value only sizes the (thin) driver.
    cores_guess = int(cpus_s) if cpus_s.isdigit() else (os.cpu_count() or 8)
    default_mem = f"{max(8, (cores_guess * 3) // 4)}g"
    conf = {
        "spark.master": master,
        # --- shuffle sizing ------------------------------------------------
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- pandas/Arrow UDF path -----------------------------------------
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # 2000-doc Arrow batches: big enough to amortize the JVM↔Python
        # round-trip, small enough to pipeline and stay cache-resident
        # (10k-doc batches measurably increase kernel/page-fault time)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
        # --- semantics ------------------------------------------------------
        # right-biased map merge: reference Transcript.addMetadatas (`++`)
        "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
        "spark.sql.session.timeZone": "UTC",
        # --- broadcast small sides ------------------------------------------
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # quieter local runs
        "spark.python.worker.reuse": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_mem),
    }
    # scan split size: on a local master 32 MB keeps a handful-of-files
    # dataset from serializing its scans (128 MB splits put a 6 M-row
    # table on 1-2 tasks) while staying far above per-task overhead; a
    # cluster keeps Spark's default unless SPARK_GRAFT_MAX_PARTITION_BYTES
    # sets one (guide §6)
    split = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if split or master.split("[")[0] == "local":
        conf["spark.sql.files.maxPartitionBytes"] = split or "32m"
    return conf
