"""Replication as Structured Streaming.

The reference's only stream is replication: a replica connects with
``replica (start-id: N ...)`` and receives ``replica-write`` batches
of primitives in id order, ``txstart`` marking transaction boundaries;
**datelines** are the offset tokens that let clients demand
read-your-writes (ref doc/gr-replication.txt, doc/gr-protocol.txt:
1376-1439, graphd/graphd-replica.c).

Spark mapping: the primitive store's Parquet directory is an
append-only log, so a file-based ``readStream`` over it IS the replica
stream — each micro-batch is a batch of primitives; ``id`` ordering
and the ``txstart`` flag survive verbatim; the dateline of a batch is
``max(id) + 1`` (the next unwritten id, exactly the reference's
"compound odometer reading").  Checkpointing makes the offset durable
the way a replica's start-id is.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphd_spark.model import PRIMITIVES_SCHEMA, guid_compose


def replica_stream(
    spark: SparkSession,
    log_dir: str,
    start_id: int = 0,
) -> DataFrame:
    """The replica's view: a stream of primitives with id >= start_id.

    ``log_dir`` is a Parquet directory the primary appends to
    (``PrimitiveStore.append_parquet`` writes one file per call).  A
    ``ParquetLogStore``'s commits reach the stream when its tail
    rolls into a parquet part (every 4,096 rows, or at ``compact``):
    the stream skips the hidden tail file.  The id predicate prunes
    whole files via Parquet min/max statistics, so resuming from a
    high start-id never rescans history.
    """
    return (
        spark.readStream.schema(PRIMITIVES_SCHEMA)
        .parquet(log_dir)
        .filter(F.col("id") >= start_id)
    )


def with_transaction_marker(batch: DataFrame) -> DataFrame:
    """Tag each primitive of a replicated batch with a transaction id.

    The reference marks the first primitive of each write with
    ``txstart``; a running count of the flags over the id order turns
    that into a join-able transaction id.  Use inside foreachBatch —
    a running sum needs a bounded frame, which a micro-batch is.
    """
    from pyspark.sql.window import Window

    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    return batch.withColumn(
        "tx_seq", F.sum(F.col("txstart").cast("long")).over(w)
    )


def dateline_of(df: DataFrame, db_id: int) -> Optional[str]:
    """The dateline ("odometer") after a replicated batch: the GUID of
    the next unwritten id (ref graph-dateline.c; matches the
    dateline=\"\" echo of the write path)."""
    row = df.agg(F.max("id").alias("m")).collect()[0]
    if row["m"] is None:
        return None
    return guid_compose(db_id, row["m"] + 1)


def run_replica(
    spark: SparkSession,
    log_dir: str,
    checkpoint_dir: str,
    sink_dir: str,
    start_id: int = 0,
    available_now: bool = True,
):
    """Materialize the replica: stream the log into a follower table.

    ``available_now`` drains everything currently in the log and stops
    (the batch-test mode); without it the query runs continuously,
    picking up each parquet file the primary adds.  The checkpoint directory
    holds the stream offset — the durable equivalent of the
    reference replica's start-id handshake.
    """
    stream = replica_stream(spark, log_dir, start_id)
    writer = (
        stream.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
