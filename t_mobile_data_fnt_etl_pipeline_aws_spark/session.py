"""SparkSession construction and the runtime configuration contract.

Two entry modes:
  * ``get_spark()``      — our own session (tests, bench): local[N], AQE on,
    shuffle width = the session's cores.
  * ``configure(spark)`` — applied to ANY session (including the driver's)
    before reading fixture tables; sets only runtime-settable SQL confs and
    never the caller's shuffle width.

Shuffle width: ``spark.sql.shuffle.partitions`` equals the session's cores
(``defaultParallelism``, i.e. the N of ``local[N]``). Batch queries may let
AQE coalesce it further, but stateful streaming queries run without AQE, so
this is the number of state stores, their commit tasks and the
``transformWithStateInPandas`` Python workers per micro-batch. A streaming
query fixes that width into its checkpoint when the checkpoint is created;
a restart from an existing checkpoint keeps the width it was created with.
``configure()`` leaves a caller's width alone: it runs on other people's
sessions, and its value would be baked into their checkpoints.

Config rationale (SURVEY.md §0.2, §4):
  * ``spark.sql.legacy.parquet.nanosAsLong`` — events.ts is parquet
    TIMESTAMP(NANOS); Spark 4.x has no nanosecond timestamp type and refuses
    the file otherwise. We read the raw int64 nanos and truncate to µs at
    load time (sources/tables.py), matching DuckDB's ns→µs read behavior.
  * ``spark.sql.session.timeZone=UTC`` — all fixture timestamps are naive;
    keeping the session in UTC makes TIMESTAMP↔TIMESTAMP_NTZ casts identity
    and keeps epoch arithmetic aligned with the DuckDB oracle.
  * Arrow enabled — vectorized Python interchange (SNIPPETS.md:21 pattern).
  * AQE on (default in 4.x) — runtime join-strategy demotion, skew split,
    partition coalescing; we rely on it instead of hand-tuned plans.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs applied to every session that touches fixtures.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the runtime config contract to an existing session (idempotent).

    Safe to call on the driver's session: every key here is a runtime SQL
    conf, not a static one.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A locked-down session may refuse some confs; reads still work
            # for all tables except events (which needs nanosAsLong).
            pass
    return spark


def get_spark(app_name: str = "spark-graft-engine") -> SparkSession:
    """Build the engine's own local session.

    Parallelism comes from ``SPARK_GRAFT_CPUS`` (bench contract) or ``*``.
    Shuffle partitions are set to the session's cores
    (``sparkContext.defaultParallelism``): one task per core in every
    shuffle stage and one state store per core in every streaming query
    whose checkpoint this session creates. At 100 TB this would be sized to
    ~128 MB per post-shuffle partition instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip() or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    return configure(spark)
