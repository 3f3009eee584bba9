"""Structured Streaming front-end for the extraction pipeline.

The reference is a batch distiller (no streaming analogue; SURVEY.md
§2.7), and the north rule's 10^12-turn posture is Iceberg
snapshot-driven incremental batch (streaming/checkpoint.py).  This
module covers the genuinely streaming shape for transcript feeds that
arrive as files: the same Arrow UDF runs unchanged under
``readStream`` because the pipeline is stateless per turn, and late
data is handled with an event-time watermark on ``ts`` for the
watermarked dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, StringType, StructField, StructType, TimestampType,
)

TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("role", StringType()),
    StructField("text", StringType()),
    StructField("tool", StringType()),
    StructField("ts", TimestampType()),
])


def stream_transcripts(spark: SparkSession, input_dir: str,
                       max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream of transcript turns (one parquet per feed
    drop).  maxFilesPerTrigger bounds micro-batch size so executor
    memory is independent of backlog length."""
    return (spark.readStream
            .schema(TRANSCRIPT_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_dir))


def extract_stream(transcripts: DataFrame) -> DataFrame:
    """Streaming triples: identical logical plan to the batch pipeline —
    stateless mapInArrow needs no state store."""
    from pyrdfa3_spark.plans.extract import extract_tagged, split_outputs

    triples, _ = split_outputs(extract_tagged(transcripts))
    return triples


def dedup_stream(transcripts: DataFrame,
                 watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact-dedup: one row per normalized-text fingerprint
    within the event-time watermark (``dropDuplicatesWithinWatermark``
    keeps the dedup state bounded — fingerprints older than the
    watermark are evicted, so state size tracks the duplicate horizon,
    not the stream's lifetime).  The streaming twin of
    ``dedup.exact_duplicates``'s keep-side."""
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")),
                                       r"\s+", " ")))
    return (transcripts
            .withWatermark("ts", watermark)
            .withColumn("fp", fp)
            .dropDuplicatesWithinWatermark(["fp"]))


def run_to_completion(stream_df: DataFrame, out_dir: str,
                      checkpoint_dir: str, mode: str = "append"):
    """Drain the available backlog (Trigger.AvailableNow) into parquet
    with an exactly-once checkpoint; returns after the sink commits."""
    q = (stream_df.writeStream
         .format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode(mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def run_bucketed_materialize(stream_df: DataFrame, out_dir: str,
                             checkpoint_dir: str, buckets: int = 16,
                             entity_hll_col: str | None = None,
                             entity_hll_p: int = 8):
    """Streaming graph materialize into a bucket(conv_id) physical
    layout via ``foreachBatch``, **idempotent per micro-batch**: rows
    land under ``batch_id=N/conv_bucket=B`` with dynamic partition
    overwrite, so a batch replayed after a crash between the write and
    the checkpoint commit rewrites exactly its own ``batch_id``
    partitions instead of appending duplicates — exactly-once table
    contents on top of Structured Streaming's at-least-once foreachBatch
    contract.  (In production the body is one Iceberg ``append`` whose
    snapshot log already gives idempotent commit-by-batch-id.)  Rows
    are hash-distributed by bucket as in the batch sink, so each batch
    lands one file per bucket.

    ``entity_hll_col``: also land a per-batch HyperLogLog register
    sidecar over that column under ``<out_dir>/_entity_hll`` — the
    mergeable distinct-count state (``operators/sketch.py``), written
    with the same overwrite-by-batch_id idempotency.  Register max is
    idempotent too, so a replayed batch cannot move the estimate;
    :func:`distinct_entity_estimate` folds every sidecar WITHOUT
    rescanning the table — per-commit telemetry the manifest pattern
    of ``streaming/checkpoint.py`` wants at 10^12 turns."""
    from pyrdfa3_spark.plans.extract import distribute_by_bucket

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (distribute_by_bucket(batch_df.withColumn("batch_id",
                                                  F.lit(batch_id)),
                              buckets)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id", "conv_bucket")
         .parquet(out_dir))
        if entity_hll_col is not None:
            from pyrdfa3_spark.operators.sketch import hll_registers
            (hll_registers(
                batch_df.select(F.col(entity_hll_col).alias("key")),
                group_cols=[], key_col="key", p=entity_hll_p)
             .withColumn("batch_id", F.lit(batch_id))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("batch_id")
             .parquet(out_dir + "/_entity_hll"))

    q = (stream_df.writeStream
         .foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def distinct_entity_estimate(spark: SparkSession, out_dir: str,
                             p: int = 8) -> float:
    """Fold every per-batch HLL sidecar of
    :func:`run_bucketed_materialize` into one distinct-count estimate
    — reads only the tiny register tables (<= 2^p rows per batch),
    never the data.  Equals the single-pass sketch over the whole
    table exactly (register max is associative + idempotent)."""
    from pyrdfa3_spark.operators.sketch import hll_estimate

    regs = (spark.read.parquet(out_dir + "/_entity_hll")
            .groupBy("bucket").agg(F.max("reg").alias("reg")))
    row = hll_estimate(regs, group_cols=[], p=p).collect()
    return row[0]["est"] if row else 0.0
