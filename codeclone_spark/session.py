"""SparkSession factory and driver-literal frames.

One place to set every config that matters for correctness (UTC timestamps
so DuckDB oracles compare cleanly; Arrow for vectorized UDFs) and for scale
(AQE with skew-join handling, shuffle partitions sized to cores locally —
on a real cluster these come from spark-submit conf, not code).

``local_frame`` builds a small frame from driver-side rows as an Arrow
``LocalRelation``: it is scanned (and broadcast) inside the JVM, so an
action over it never starts a Python worker, unlike ``createDataFrame``
over a list, which is a Python RDD.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "codeclone_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` -> ``local[$SPARK_GRAFT_CPUS or *]``.  On a real cluster
    the master/conf come from spark-submit; this factory only applies
    session-level SQL conf in that case.
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cores_env}]"
        n_cores = os.cpu_count() or 8 if cores_env == "*" else int(cores_env)
    else:
        master = f"local[{cores}]"
        n_cores = cores

    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Correctness-critical: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Vectorized Python UDFs (the only allowed Python path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Runtime re-planning: coalesce small shuffles, split skewed ones.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # finer input splits: decode tasks pack onto cores without a
        # one-straggler tail wave (default 128MB -> few huge tasks locally)
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # Local testing QoL; harmless on cluster (overridden by submit conf).
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence[object]],
    schema: str | StructType,
) -> DataFrame:
    """Frame of driver-side *rows* typed by *schema* (DDL string or
    ``StructType``), planned as a JVM ``LocalRelation``.

    Arrow input below ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MB) becomes a ``LocalRelation``; every caller passes bounded,
    driver-sized row sets (rule ids, ledger counts, accepted keys capped
    at ``accepted_inline_max``) far below it."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
