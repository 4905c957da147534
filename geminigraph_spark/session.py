"""SparkSession construction with scale-appropriate defaults.

Local mode is a stand-in for a multi-executor cluster; every knob set here
is chosen so the same code runs unchanged under ``spark-submit --py-files``
on a real cluster (shuffle partitions sized to parallelism, AQE on for
runtime re-planning and skew-join mitigation, Arrow for all pandas-UDF
exchange).

On a local master the Python workers also run from
``geminigraph_spark.worker_daemon``, which stops every task from re-reading
the unchanged pyspark/py4j/spark-core archives (~0.2 s of CPU per task on
CPython 3.11); see ``worker_conf``. ``is_local_master`` is the one
deployment predicate: the engine's state transport and the single-scan
graph build gate on it too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the Python worker daemon of local sessions (spark.python.daemon.module)
DAEMON_MODULE = "geminigraph_spark.worker_daemon"
#: the directory holding this package, put on the workers' PYTHONPATH:
#: the daemon imports before any task can ship py-files
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def is_local_master(master: str) -> bool:
    """True when the driver, the executors and their Python workers share
    one host and its filesystem (``local``, ``local[n]``, ``local-cluster``
    masters). Paths that pass files between them outside Spark take this
    as their deployment gate."""
    return master.startswith("local")


def worker_conf(master: str, pythonpath: str | None = None) -> dict[str, str]:
    """Confs that start the Python workers of a session with ``master``
    from the worker daemon: its module, and ``pythonpath`` (the session's
    own ``spark.executorEnv.PYTHONPATH``, if any) with the package root in
    front. Empty for a cluster master, where the package reaches workers
    only as a py-file shipped with each task, after the daemon started."""
    if not is_local_master(master):
        return {}
    rest = [p for p in (pythonpath or "").split(os.pathsep) if p and p != PACKAGE_ROOT]
    return {
        "spark.python.daemon.module": DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": os.pathsep.join([PACKAGE_ROOT, *rest]),
    }


def get_spark(
    app_name: str = "geminigraph_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local[] parallelism; defaults to $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: defaults to cores (never the 200 default, which
    at local scale just multiplies task-launch overhead).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cores
    master = f"local[{cores}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    conf = dict(extra_conf or {})
    conf.update(worker_conf(master, conf.get("spark.executorEnv.PYTHONPATH")))
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_submitted_spark(app_name: str) -> SparkSession:
    """Build (or reuse) the session ``spark-submit`` describes (a plain
    ``python`` launch submits ``local[*]``), adding ``worker_conf`` when its
    master is local. Nothing else is overridden: the submitted master,
    parallelism and confs stand."""
    from pyspark import SparkConf, SparkContext

    # the gateway JVM holds the submitted conf; SparkConf() reads it from there
    SparkContext._ensure_initialized()
    submitted = SparkConf()
    b = SparkSession.builder.appName(app_name)
    extra = worker_conf(
        submitted.get("spark.master", "local[*]"),
        submitted.get("spark.executorEnv.PYTHONPATH"),
    )
    for k, v in extra.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
