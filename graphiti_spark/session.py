"""SparkSession factory, and the one way driver-side rows become a
DataFrame (``local_frame``).

Defaults tuned for the sandbox (local[N], single JVM) but every knob is
what we would set on a 1000-executor cluster too: UTC session timezone
(reference normalizes all datetimes to UTC,
graphiti_core/utils/datetime_utils.py:20-42), Arrow transport for the
pandas-UDF extraction stage, AQE for runtime coalescing + skew-join
splitting.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_driver_memory() -> str:
    """Half of the machine's RAM in whole GB (at least 1g), leaving the
    other half to the Python workers and the OS; ``4g`` when
    ``/proc/meminfo`` is unreadable."""
    try:
        with open("/proc/meminfo") as f:
            meminfo = f.read()
    except OSError:
        return "4g"
    kb = int(meminfo.split("MemTotal:", 1)[1].split()[0])
    return f"{max(1, kb // 2 // 1024**2)}g"


def get_spark(
    app_name: str = "graphiti_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` controls local parallelism (``local[cpus]``); defaults to
    ``$SPARK_GRAFT_CPUS`` or ``*``. Shuffle partitions default to the
    same number — on a real cluster you size this to cores×executors,
    and AQE coalesces small post-shuffle partitions either way. The
    driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` or half of the RAM.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_shuffle = int(env) if env else DEFAULT_SHUFFLE_PARTITIONS
    else:
        master = f"local[{cpus}]"
        n_shuffle = cpus
    if shuffle_partitions is not None:
        n_shuffle = shuffle_partitions

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``'s
    column order; ``schema`` is a StructType or a DDL string). The rows
    reach the JVM as one Arrow table, so no Python worker starts to
    unpickle them as it does for ``createDataFrame(list)``. Empty
    ``rows`` keep the schema, column types and nullability included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table)
