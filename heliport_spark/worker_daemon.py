"""Python worker daemon that loads the engine once, before it forks workers.

Spark forks every Python worker of an executor from one daemon process
(``spark.python.daemon.module``; ``plans.get_spark`` names this module on
local masters). A worker forked from the stock ``pyspark.daemon`` imports pandas, pyarrow and
``heliport_spark``, builds the textstats tables (a Python loop over 1.1M
codepoints) and maps the model before it scores its first batch, so every
fresh worker of a job pays ~1 s (4-core host) before its first row. Here the
daemon runs those same calls once and the workers inherit the result
copy-on-write:

* the imports every pandas-UDF worker makes;
* ``textstats.class_table()`` and ``fold_table()``;
* the default-model ``Scorer`` under the key ``identify_df`` captures, so
  ``_get_worker_scorer`` finds it in ``_WORKER_SCORERS``.

The daemon holds imports and static tables only, never state keyed on batch
contents: a worker's word memos start empty, as they do without it. Then
``gc.freeze()`` moves the inherited heap out of the collector's reach, so a
worker's collections do not touch (and copy) those pages.

If the preload fails (say, ``HELIPORT_MODEL_DIR`` names a missing
directory), the daemon writes one line to stderr and serves as
``pyspark.daemon`` does: workers then load what they need lazily.

Run by Spark as ``python -m heliport_spark.worker_daemon <worker module>``.
"""

from __future__ import annotations

import contextlib
import gc
import sys


def preload() -> None:
    """Load the engine into this process and freeze the heap. Never raises
    an ``Exception``: a failure is reported as one stderr line."""
    try:
        # the daemon reports its port to the JVM on stdout: nothing else
        # may be written there
        with contextlib.redirect_stdout(sys.stderr):
            import pandas  # noqa: F401
            import pyarrow  # noqa: F401
            import pyarrow.pandas_compat  # noqa: F401
            import pyspark.sql.pandas.serializers  # noqa: F401

            from heliport_spark import textstats
            from heliport_spark.operators import identify

            textstats.class_table()
            textstats.fold_table()
            identify._get_worker_scorer(identify.resolve_model_dir(None), None)
    except Exception as e:
        msg = " ".join(f"{type(e).__name__}: {e}".split())
        print(f"heliport_spark.worker_daemon: preload failed, workers load "
              f"lazily ({msg})", file=sys.stderr, flush=True)
    gc.collect()
    gc.freeze()


def main() -> None:
    from pyspark.daemon import manager

    preload()
    manager()


if __name__ == "__main__":
    main()
