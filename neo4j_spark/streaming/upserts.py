"""Streaming upserts into the graph's node/rel tables (SURVEY §2.9).

The reference applies writes transactionally through the kernel; the
Spark-native rendering is a Structured Streaming sink that MERGEs each
micro-batch into the parquet-backed node/rel tables via ``foreachBatch``
(the Delta ``MERGE INTO`` idiom, expressed against plain parquet as a
full-outer batch merge + atomic directory swap).

Scale design: the merge is a single hash join per micro-batch keyed on the
entity id (partition-pruned at cluster scale by id-range partitioning of
the store); state never lives on the driver.  The swap-directory commit is
what Delta/Iceberg do with a manifest — at 100 TB the store would be a
Delta table and ``_merge_frames`` becomes ``MERGE INTO`` verbatim.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import local_frame


def node_updates_from_events(events: DataFrame) -> DataFrame:
    """Events -> User node upserts: one row per user carrying the batch's
    event count / value total (the aggregation is per-micro-batch; the
    merge accumulates it into the stored node)."""
    return (events.groupBy(F.col("user_id").alias("id"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("total_value")))


def _merge_frames(existing: DataFrame, updates: DataFrame) -> DataFrame:
    """MERGE semantics on ``id``: matched rows accumulate counters, new ids
    are inserted (ON MATCH SET n.x = n.x + u.x / ON CREATE SET ...)."""
    e = existing.select("id", F.col("n_events").alias("_en"),
                        F.col("total_value").alias("_et"))
    u = updates.select("id", F.col("n_events").alias("_un"),
                       F.col("total_value").alias("_ut"))
    return (e.join(u, "id", "full_outer")
            .select("id",
                    (F.coalesce("_en", F.lit(0))
                     + F.coalesce("_un", F.lit(0))).alias("n_events"),
                    (F.coalesce("_et", F.lit(0.0))
                     + F.coalesce("_ut", F.lit(0.0))).alias("total_value")))


class ParquetGraphSink:
    """Parquet-backed node store with micro-batch MERGE + atomic swap."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.table = os.path.join(path, "nodes_user")

    def read(self) -> DataFrame:
        if not os.path.exists(self.table):
            return local_frame(
                self.spark, [], "id long, n_events long, total_value double")
        return self.spark.read.parquet(self.table)

    def merge_batch(self, updates: DataFrame, batch_id: int = 0) -> None:
        merged = _merge_frames(self.read(), updates)
        tmp = os.path.join(self.path, f"_staging_{batch_id}_{uuid.uuid4().hex}")
        merged.write.mode("overwrite").parquet(tmp)
        old = self.table + ".old"
        if os.path.exists(self.table):
            os.rename(self.table, old)
        os.rename(tmp, self.table)
        shutil.rmtree(old, ignore_errors=True)


def stream_graph_upserts(events_stream: DataFrame, sink: ParquetGraphSink,
                         checkpoint: str):
    """Wire an events stream into the sink: updates per micro-batch are
    merged transactionally (foreachBatch gives exactly-once per batch with
    the checkpoint)."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sink.merge_batch(node_updates_from_events(batch_df), batch_id)

    return (events_stream.writeStream
            .foreachBatch(handle)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
