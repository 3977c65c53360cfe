"""SparkSession factory tuned for this engine.

The reference's entire control plane (manager/worker scheduling, heartbeats,
fault tolerance — SURVEY §2A rows A11–A18) is subsumed by Spark itself; the
only thing we own is configuration. Defaults here are chosen for the test
environment (local[N], single JVM) but the knobs are the ones that matter on a
real cluster too: AQE for runtime re-planning (skew joins, partition
coalescing), Arrow for any Python-side exchange, and a shuffle-partition count
sized to the parallelism rather than Spark's legacy 200 default.

Python tasks fork from :mod:`map_reduce_group_spark.pyworker_daemon`
(``spark.python.daemon.module``) rather than the stock ``pyspark.daemon``.
Every task's ``setup_spark_files`` ends in ``importlib.invalidate_caches()``
(pyspark/worker_util.py:124-144), which on Python 3.11 re-reads the central
directory of pyspark.zip, py4j and the spark-core jar once per cached zip
importer: about 0.12 s of CPU per task, paid by every ``mr`` stage and
every Arrow/pandas stage before user code runs. The daemon module reads
those archives once. It takes the daemon-module route because
``spark.python.worker.module`` only accepts names starting with ``pyspark``
(pyspark/daemon.py:34-40). Workers import it, and the rest of this
package, from the package's parent directory, which the builder adds to
the workers' PYTHONPATH (``spark.executorEnv.PYTHONPATH``; Spark appends
it to its own archives), so a driver started from any directory works.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding this package, put on the Python workers' path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


# Runtime-settable confs we also (re)apply to externally-created sessions so
# query results are deterministic regardless of who built the session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # loud-overflow determinism (ADVICE r9): several operators narrow types
    # on a proven bound (e.g. suffix-array vocabulary ids LONG→INT) with the
    # justification that an out-of-range cast ERRORS rather than silently
    # wrapping. That guarantee is ANSI semantics — the Spark 4 default, but
    # rule 6 says queries must not depend on who built the session, so pin it.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # sized to local parallelism, not Spark's legacy 200 — matters most for
    # streaming state-store partitioning, where AQE cannot coalesce
    "spark.sql.shuffle.partitions": str(max(default_parallelism(), 8)),
}


def session_builder(app_name: str) -> SparkSession.Builder:
    """The engine's session builder, every conf set, not yet created.

    Tools that need one conf changed (e.g. the UI on) chain ``.config`` on
    it, so they run the same workers and plans as :func:`get_session`."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{default_parallelism()}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "map_reduce_group_spark.pyworker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder


def get_session(app_name: str = "map-reduce-group-spark") -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    local[N] here; on a real cluster the same confs apply — AQE handles skew
    and post-shuffle coalescing, shuffle partitions start at a multiple of the
    core count and AQE coalesces down.
    """
    spark = session_builder(app_name).getOrCreate()
    apply_runtime_confs(spark)
    return spark


def apply_runtime_confs(spark: SparkSession) -> None:
    """Apply runtime-settable determinism confs to any session.

    Called at the top of every registered query so results do not depend on
    how the harness built its session (notably the session time zone, which
    changes ``date_trunc``/``window`` results).
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not runtime-settable in this build — defaults are fine
