"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB deployment shape:

- AQE on (runtime coalescing, skew-join splitting) so static
  ``spark.sql.shuffle.partitions`` only needs to be an upper bound.
- Arrow enabled for the few Pandas-UDF operators (LSH hashing, multimodal
  decode) so Python exchange is columnar-batched, never per-row.
- Broadcast threshold left at default 10 MB — our dimension tables
  (libraries/documents/region/nation/...) are far below it, so star joins
  compile to BroadcastHashJoin with zero shuffle of the fact table.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import TimestampType


def get_spark(app_name: str = "vector_db_mvp_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract); on a real
    cluster the master URL comes from the environment instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        # At 100 TB this is set to ~2-3x total executor cores; AQE coalesces
        # down at runtime, so an upper bound is cheap. Locally match cores.
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Whole-stage-codegen source cache (static conf, default 100
        # entries). A workload of ~100+ distinct plans evicts every
        # compiled class between repeat invocations, so each re-run pays
        # javac + fresh JIT again (~2-6 s on the expression-heavy
        # rank/CDF plans — measured: price_mad_by_flag 11.1 s crowded vs
        # 4.7 s isolated, ks_test 4.1 vs 1.9, purely cache-eviction).
        # 5000 entries is a few hundred MB of class metadata at worst and
        # lets a many-query session compile each plan exactly once.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-built rows as a Spark frame, shipped as one Arrow table.

    ``spark.createDataFrame(list, schema)`` parallelizes pickled rows into
    a ``PythonRDD`` (4 partitions even for one row), so every plan that
    reads the frame runs Python-worker tasks to unpickle them. An Arrow
    table becomes a JVM-only local relation instead: no Python worker is
    ever started for it.

    ``schema`` is a StructType or a DDL string; the frame's schema is
    exactly that (types, nullability), also for empty ``rows``. Rows are
    tuples (or Rows) in field order. A naive ``datetime`` in a top-level
    ``timestamp`` field is read as system-local time, as the row path
    does; ``timestamp_ntz`` takes it as is. A NULL in a non-nullable
    top-level field raises ``ValueError``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    rows = list(rows)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for values, field, arrow_field in zip(columns, schema.fields, arrow_schema):
        if isinstance(field.dataType, TimestampType):
            # pyarrow takes a datetime's wall clock and drops its tzinfo,
            # so hand it UTC (a naive value is system-local, as before).
            values = [
                v.astimezone(_dt.timezone.utc) if isinstance(v, _dt.datetime) else v
                for v in values
            ]
        arr = pa.array(values, type=arrow_field.type)
        if arr.null_count and not field.nullable:
            raise ValueError(f"field {field.name!r} is not nullable but got NULL")
        arrays.append(arr)
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
