"""Spark session construction + plan-inspection helpers.

Scale posture (tuned for the 100 TB / 1000-executor target, tested on
local[N]): AQE on (runtime re-plan + skew-join splitting), Arrow transfer for
all pandas UDFs with bounded batch size (the reference processes 100k-line
batches, /root/reference/src/cli/identify.rs:190; we bound Arrow batches to
10k rows so per-batch score matrices stay small), broadcast threshold sized
for dimension tables.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 10_000


# One BLAS/OMP thread per Python worker: N workers × M spinning BLAS threads
# destroys scaling of the vectorized-UDF stage (threads busy-wait on 242-wide
# ops that numpy executes single-threaded anyway).
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
             "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS")

WORKER_DAEMON = "heliport_spark.worker_daemon"


def session_conf(master: "str | None",
                 shuffle_partitions: int) -> "dict[str, str]":
    """The engine's session posture as one conf table; ``get_spark``
    applies exactly this table."""
    conf = {
        # host-independent timestamp semantics: unix_millis on NTZ timestamps
        # is session-timezone-dependent; the DuckDB oracle treats them as UTC
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # audio rows carry ~0.1-2 MB binary PCM: the default 4096-row
        # vectorized-reader batch would buffer gigabytes per column
        "spark.sql.parquet.columnarReaderBatchSize": "1024",
        # HotSpot refuses to JIT-compile methods over 8,000 bytecode bytes
        # (DontCompileHugeMethods): a whole-stage-codegen'd projection
        # holding the full scrub/rule expression stack generated one such
        # method and the ENTIRE stage ran interpreted (2.4× the per-row
        # cost — measured on the flagship pipeline's scrub projection:
        # 2.17 s vs 0.92 s at sf1.0). Capping at the JIT limit makes Spark
        # fall back to per-operator codegen for oversized stages, which
        # JIT-compiles. JVM-property-derived, not a cluster-size tunable.
        "spark.sql.codegen.hugeMethodLimit": "8000",
        "spark.python.worker.reuse": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        # the env-var pinning in get_spark only reaches THIS process; on a
        # real cluster executor Python workers need the same pinning
        **{f"spark.executorEnv.{v}": "1" for v in BLAS_VARS},
    }
    if master == "local" or (master or "").startswith("local["):
        # fork workers from a daemon that has already imported the engine
        # and built its tables. Only on a local master, whose workers
        # inherit the driver's cwd and PYTHONPATH: elsewhere (a cluster, or
        # spark-submit's own master) --py-files may reach a worker's path
        # only at task time, and a daemon that cannot start runs no Python
        # task at all
        conf["spark.python.daemon.module"] = WORKER_DAEMON
    return conf


def get_spark(
    app_name: str = "heliport_spark",
    master: "str | None" = None,
    shuffle_partitions: "int | None" = None,
    extra_conf: "dict | None" = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's scale posture
    (:func:`session_conf`)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    for v in BLAS_VARS:
        os.environ.setdefault(v, "1")
    if master is None:
        # Under spark-submit the driver talks to a pre-launched gateway JVM
        # (PYSPARK_GATEWAY_PORT set) whose --master yarn/k8s/local[N] the
        # bare builder resolves — NEVER override it with a hardcoded
        # local[N] (that would silently run the whole '1000-executor' job
        # single-node in the driver container; verified: SparkConf() does
        # NOT surface spark.master there, the gateway env var is the
        # reliable signal). Only a bare `python` run falls back to
        # local[N], keeping SPARK_GRAFT_CPUS as the core cap for the
        # bench/scaling ladder.
        if "PYSPARK_GATEWAY_PORT" not in os.environ:
            master = f"local[{cpus}]"
    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)
    conf = {**session_conf(master, shuffle_partitions), **(extra_conf or {})}
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def explain_str(df) -> str:
    """Formatted physical plan as a string (for plan assertions in tests)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )
