"""SparkSession factory tuned for the dfsql-spark engine.

The reference engine (mindsdb/dfsql) is a single-process pandas
interpreter; its "session" is a ``DataSource`` object. Here the session
is a real SparkSession configured so that Spark's SQL dialect matches
the reference's observable semantics (SURVEY.md §2.8):

* ``spark.sql.ansi.enabled=false`` — double-quoted strings are string
  literals (not identifiers), casts are lenient, arithmetic does not
  raise.  This matches dfsql/mindsdb_sql behavior
  (reference: tests/test_data_sources/test_file_data_source.py:238).
* ``spark.sql.session.timeZone=UTC`` — test parquet timestamps are
  naive; pin the session zone so formatting is deterministic and
  matches DuckDB's naive-timestamp oracle output.
* AQE on (skew joins, dynamic coalescing) — this is the 100 TB story:
  at scale the same plans re-partition at runtime instead of needing
  hand-tuned shuffle counts.

Scale knobs are environment-driven so the identical code runs on
``local[32]`` in tests and on a 1000-executor cluster unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_CONFS"]

# Confs that define the engine's dialect + scale posture. Anything the
# caller already set on an active session is left untouched.
DEFAULT_CONFS: dict[str, str] = {
    # dialect parity with the reference (SURVEY.md §2.8.5)
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # scale posture
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for pandas interchange (sql_query / .sql accessor path)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet: keep naive timestamps naive (match DuckDB oracle)
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
}


def get_spark(app_name: str = "dfsql-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's dialect confs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    is configured; on a real deployment spark-submit supplies it.
    Scale knobs resolve through :class:`dfsql_spark.config.Configuration`
    (environment-backed, class-attribute overridable — the Spark
    analogue of the reference's ``dfsql.config.Configuration``).
    """
    from .config import Configuration

    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = Configuration.MASTER
    if master is None:
        master = f"local[{Configuration.CPUS}]"
    if master:
        builder = builder.master(master)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(Configuration.SHUFFLE_PARTITIONS)
    )
    builder = builder.config("spark.ui.showConsoleProgress", "false")
    builder = builder.config("spark.ui.enabled", "false")
    # local mode = one JVM for driver+executors; default 1g OOMs on
    # shuffle-heavy operators. Sized for the 128 GiB test box; a real
    # cluster overrides via spark-submit.
    builder = builder.config("spark.driver.memory", Configuration.DRIVER_MEMORY)
    # Shuffle/spill scratch override, LOCAL masters only and only when
    # the caller opted in via SPARK_GRAFT_LOCAL_DIR: shuffle stages
    # write maps×reducers small block files, and on virtualized disks
    # their create/write cost measured 15× slower than tmpfs — this
    # repo's bench/test harnesses (known-small shuffle volumes) point
    # it at /dev/shm.  It is deliberately NOT a library default:
    # tmpfs is capped (~50% RAM) and spills there consume memory, so
    # blindly redirecting a user's large local shuffle would trade a
    # slow job for a failing one — and it must never clobber a
    # spark-defaults.conf spark.local.dir the user already set.
    if master and master.startswith("local"):
        local_dir = Configuration.LOCAL_DIR
        if local_dir:
            os.makedirs(local_dir, exist_ok=True)
            builder = builder.config("spark.local.dir", local_dir)
    for key, value in DEFAULT_CONFS.items():
        builder = builder.config(key, value)
    builder = builder.config(
        "spark.sql.adaptive.enabled", str(Configuration.ADAPTIVE_ENABLED).lower()
    )
    builder = builder.config(
        "spark.sql.execution.arrow.pyspark.enabled",
        str(Configuration.ARROW_ENABLED).lower(),
    )
    spark = builder.getOrCreate()
    return spark
