"""SparkSession factory.

The reference opens one DuckDB connection per process
(database/duckdb_source.py:10-17); here the analog is one SparkSession
configured for columnar scale: AQE (runtime re-planning + skew-join
handling), Arrow-based pandas interop, and a UTC session timezone so
time-bucket boundaries are reproducible across deployments.
"""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, TimestampType

from .config import EngineConfig


def build_session(config: EngineConfig | None = None) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    Scale notes: ``spark.sql.adaptive.enabled`` lets AQE coalesce
    post-shuffle partitions and split skewed ones at 100 TB;
    ``autoBroadcastJoinThreshold`` keeps dimension joins shuffle-free;
    shuffle partitions default to 32 for local[32] and should be raised to
    ~2-3x total executor cores on a real cluster.
    """
    cfg = config or EngineConfig()
    builder = (
        SparkSession.builder.appName(cfg.app_name)
        .master(cfg.master)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", str(cfg.adaptive_enabled).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce to the advisory partition size, not the cluster
        # parallelism: tiny shuffles collapse to few tasks (cuts the
        # per-query scheduling floor) while 100 TB shuffles still split
        # by size — the production-recommended setting
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", cfg.broadcast_threshold)
        .config("spark.sql.files.maxPartitionBytes", cfg.max_partition_bytes)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", cfg.session_timezone)
        .config("spark.sql.parquet.compression.codec", "snappy")
        # cost-based optimizer: inert until a table carries statistics
        # (Catalog.analyze), then join trees over analyzed tables reorder
        # by estimated cardinality — the fix for ad-hoc user queries that
        # don't hand-tune their join order the way the registry plans do
        .config("spark.sql.cbo.enabled", str(cfg.cbo_enabled).lower())
        .config("spark.sql.cbo.joinReorder.enabled", str(cfg.cbo_enabled).lower())
    )
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: StructType | str
) -> DataFrame:
    """A DataFrame over ``rows`` the driver already holds (tuples in the
    field order of ``schema``, a StructType or DDL string).

    The rows enter Spark as one Arrow table with the schema's Arrow
    form, so the JVM builds the local relation itself. Handing Python
    rows to ``createDataFrame`` instead pickles them through a Python
    ``map``: the first action forks a Python worker and pickles every
    row. A naive top-level TIMESTAMP value is read in the driver's
    local time, as that path reads it; an empty ``rows`` gives an empty
    relation of the same schema.
    """
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    arrays = [
        pa.array(
            [field.dataType.toInternal(v) for v in values]
            if isinstance(field.dataType, TimestampType)
            else values,
            type=arrow_field.type,
        )
        for field, arrow_field, values in zip(schema.fields, arrow, columns)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)
