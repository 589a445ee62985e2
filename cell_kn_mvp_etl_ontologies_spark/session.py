"""SparkSession construction and engine-level SQL configuration.

Every entry point (tests, bench.py, __spark_entry__.py) funnels through
``configure``/``get_session`` so the engine always runs with the same
posture:

- AQE on: runtime re-planning, skew-join splitting, dynamic coalescing of
  shuffle partitions — required at 100 TB and harmless locally.
- ``InferFiltersFromConstraints`` excluded: the graph pipeline joins fact
  tables against small parsed-URI dimensions whose derivation chains are
  large expression trees.  Constraint propagation copies those derivations
  through join equivalences onto the fact side, inflating scan filters past
  the JVM's 64 KB codegen method limit (whole stages then silently fall back
  to interpreted execution).  The rule only ever adds redundant predicates
  for this workload — every semantic filter is already explicit in the plans.
- Parquet is written with zstd, not Spark's default snappy: smaller files
  for a few percent more peak memory (SCALE.md, "Graph landing is
  compact").
"""

from __future__ import annotations

from pyspark.sql import SparkSession

ENGINE_SQL_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints"
    ),
    "spark.sql.parquet.compression.codec": "zstd",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply engine SQL conf to an existing session (all keys are runtime-
    settable, so this also works on a session the caller owns)."""
    for key, value in ENGINE_SQL_CONF.items():
        spark.conf.set(key, value)
    return spark


def get_session(
    app_name: str = "cell-kn-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for key, value in ENGINE_SQL_CONF.items():
        builder = builder.config(key, value)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return configure(builder.getOrCreate())
