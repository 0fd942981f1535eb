"""The worker daemon (heliport_spark/worker_daemon.py): Python workers fork
from a process that has already loaded the engine, and a failed preload
leaves the daemon serving."""

import os
import subprocess
import sys

import pandas as pd
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_preload_failure_is_one_stderr_line(tmp_path):
    env = dict(os.environ, HELIPORT_MODEL_DIR=str(tmp_path / "missing"))
    r = subprocess.run(
        [sys.executable, "-c",
         "from heliport_spark.worker_daemon import preload; preload()"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr
    # the daemon's stdout carries its port to the JVM
    assert r.stdout == ""
    lines = r.stderr.splitlines()
    assert len(lines) == 1, r.stderr
    assert lines[0].startswith("heliport_spark.worker_daemon: preload failed")
    assert "missing" in lines[0]


def test_workers_fork_from_preloaded_daemon(spark):
    @F.pandas_udf("string")
    def worker_state(ids: pd.Series) -> pd.Series:
        # read before anything in this body touches the engine
        import gc

        from heliport_spark import textstats
        from heliport_spark.operators import identify

        key = (identify.resolve_model_dir(None), None)
        state = (f"class_table={textstats._CLASS_TABLE is not None} "
                 f"frozen={gc.get_freeze_count() > 0} "
                 f"scorer={key in identify._WORKER_SCORERS}")
        return pd.Series([state] * len(ids))

    n = spark.sparkContext.defaultParallelism
    rows = (spark.range(0, n, numPartitions=n)
            .select(worker_state("id").alias("s"))
            .distinct().collect())
    assert [r.s for r in rows] == ["class_table=True frozen=True scorer=True"]


def test_session_conf_names_daemon_only_for_local_masters():
    """The preloaded daemon is named only where it can import the engine
    when it starts; every other master, spark-submit's own (None) included,
    keeps the stock daemon. The rest of the table is master-independent."""
    from heliport_spark.plans import WORKER_DAEMON, session_conf

    key = "spark.python.daemon.module"
    for master in ("local", "local[4]", "local[*]"):
        assert session_conf(master, 8)[key] == WORKER_DAEMON
    for master in (None, "local-cluster[2,1,1024]", "yarn",
                   "spark://host:7077", "k8s://https://host:443"):
        assert key not in session_conf(master, 8)
    local = session_conf("local[4]", 8)
    del local[key]
    assert local == session_conf(None, 8)


def test_get_spark_applies_the_conf_table(spark):
    """The test session (get_spark on local[8]) was launched with every
    entry of the table."""
    from heliport_spark.plans import session_conf

    conf = dict(spark.sparkContext.getConf().getAll())
    for k, v in session_conf("local[8]", 8).items():
        assert conf.get(k) == v, k
