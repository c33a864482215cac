"""SparkSession factory with scale-aware defaults."""

from __future__ import annotations

import os
from typing import Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(app: str = "neo4j_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Python workers deserialize our UDF closures by importing neo4j_spark —
    # make the repo importable regardless of the launch cwd
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else ""))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # low-cardinality join keys (e.g. 25-value nationkey) skew at
        # scale: let AQE split oversized post-shuffle partitions instead
        # of requiring manual salting on every such join
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "3")
        # Cypher arithmetic error semantics (long overflow and integer
        # division by zero THROW, CypherMath.java/ValueMath.java) ride on
        # ANSI evaluation — pin it rather than inherit the default
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata stores events.ts as TIMESTAMP(NANOS): read as long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def local_frame(spark: SparkSession, rows: Sequence[tuple],
                schema: Union[str, StructType]) -> DataFrame:
    """A small driver-side row list as a JVM ``LocalRelation``.

    ``spark.createDataFrame(<python list>, schema)`` is a PythonRDD: every
    read of it schedules a job whose tasks start Python workers to
    unpickle the rows.  Collecting a one-row frame built that way costs
    1.0-1.4 s of CPU (0.8 s of it in Python workers) and about 300 ms of
    wall time on a 4-core ``local[4]`` session, and an empty one on one
    side of a full outer join costs about 2 s of CPU.  Built from an
    Arrow table the same rows are a ``LocalRelation``: collecting it runs
    no Spark job (16 ms wall, 30-50 ms CPU), the optimizer sees its exact
    size, and joins broadcast it.  ``schema`` is a DDL string or a
    ``StructType``; ``rows`` are tuples in its field order."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)
