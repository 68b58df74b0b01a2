"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every default here is chosen to
also make sense on a large cluster: AQE for runtime re-planning and
skew-join handling, Arrow for the Python boundary, UTC session time so
results are oracle-comparable, and shuffle partitions sized by env
rather than Spark's default 200.

PySpark's DataFrame debugging is off. With
``spark.python.sql.dataFrameDebugging.enabled`` at its default (true)
every ``F.*``/Column call captures its Python call site over py4j,
which Spark's own conf doc says "has a non-trivial performance overhead
because of the stack trace collection". A CDC microbatch builds its
plans anew each time, so that cost is paid per microbatch: one warm
16-file ``stream_merge`` microbatch of perfbench (engine, then
``ParquetStateSink``) made 6067 py4j round trips with it on and 2385
with it off. Errors keep their class and message (an
``AnalysisException`` still names the missing column); only the Python
call-site context is lost. A caller who wants it back passes it in
``extra_conf``. PySpark reads the conf once per process, at the first
Column call made with an active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "walex_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict:
    """Load driver parquet tables and register them as temp views."""
    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
