"""SparkSession factory with the engine's scale-oriented defaults.

Local testing runs ``local[N]`` single-JVM; the same config block is what we
would ship to a 1000-executor cluster via spark-submit --py-files: AQE for
runtime re-planning (skew joins, partition coalescing), Arrow for all
pandas-UDF kernel hops, and a shuffle-partition count sized to the core count
rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "s2-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # one local core per CPU given: SPARK_GRAFT_CPUS, else the affinity mask
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; on a real cluster this would be 2-3x total cores.
        shuffle_partitions = cpus if master.startswith("local") else 2 * cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size: big enough to amortize the Python hop, small
        # enough that a (batch x 3 float64) kernel working set stays in cache.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # ...but a 65536-row batch of ~17 KB binary image rows is >1 GB
        # materialized per Python worker (x32 workers = machine-killing).
        # The byte cap wins whenever rows are wide: batches close at 32 MB
        # OR 65536 rows, whichever comes first, so narrow kernel hops keep
        # their big batches while binary decode stays memory-bounded.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(32 * 1024 * 1024))
        # Narrow-schema fact tables compress to a few bytes/row, so default
        # 128MB splits under-parallelize small-node benches; 16MB keeps every
        # core fed while still amortizing per-task overhead.  A production
        # cluster reading wide image rows would raise this back up.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # The cell-id bit math relies on two's-complement wraparound being a
        # non-error (Java long semantics, S2CellId.java:302-338).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """Driver rows (tuples in schema order) -> a DataFrame planned as a
    ``LocalRelation``; ``schema`` is a StructType or a DDL string.

    ``createDataFrame(<list>)`` plans a pickled Python RDD that every job
    over the frame runs again in Python workers, before any broadcast of
    it.  An Arrow table typed from ``schema`` executes as a driver-local
    ``LocalTableScan`` instead, and the planner knows its exact size.  A
    value outside its column's Arrow type (an int32 ``int``, say) raises
    instead of wrapping, and so does a null in a non-nullable field."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    if any(len(r) != len(arrow) for r in rows):
        raise ValueError(f"every row needs {len(arrow)} fields: {schema.simpleString()}")
    arrays = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    for a, f in zip(arrays, arrow):
        if a.null_count and not f.nullable:
            raise ValueError(f"field {f.name}: not nullable, but got None")
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)
