"""Lake-table maintenance planning: the small-file compaction pass
every long-running partitioned sink needs (the extraction pipeline's
``write_triples`` lays out conversation-bucketed parquet; a streaming
or incremental writer fragments it into many small files over time).

``compaction_plan`` is the *planning* half of an Iceberg-style
``rewrite_data_files`` binpack: lay the files out in path order
(deterministic under any partitioning) and cut the running byte total
into ``target_bytes`` groups — every group rewrites into roughly one
target-sized file, oversized files keep a group to themselves.  The
rewrite itself is then an ordinary per-group read->write.

Scale shape: the running sum is the TWO-PHASE distributed prefix sum
from ``curation.pack_sequences`` (range-partition by path, per-slice
totals as a broadcast dim, partition-local running sums) — a file
listing at 100 TB is tens of millions of rows, so no global window,
no single-task sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyrdfa3_spark.operators.graphops import slice_offsets


def compaction_plan(files: DataFrame, target_bytes: int = 134217728,
                    path_col: str = "path", size_col: str = "bytes",
                    prefix_partitions: int | None = None) -> DataFrame:
    """``(path, bytes)`` listing -> ``(path, bytes, start_byte, bin)``
    where ``bin = floor(running_start / target_bytes)`` over the
    path-ordered cumulative size — consecutive small files share a bin
    until the target fills; a file larger than the target spans its
    own bin boundary exactly once (binpack approximation)."""
    base = files.select(F.col(path_col).alias("path"),
                        F.col(size_col).cast("bigint").alias("bytes"))
    if prefix_partitions is None:
        prefix_partitions = int(files.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"))
    # eager checkpoint pins ONE partition assignment: both the
    # per-slice-totals branch and the final join read the same
    # materialized slices (repartitionByRange samples its bounds and
    # spark_partition_id is execution-dependent — without this,
    # correctness would hinge on Catalyst exchange reuse deduplicating
    # the two reads of this subtree).
    sliced = (base.repartitionByRange(prefix_partitions, "path")
              .withColumn("slice", F.spark_partition_id())
              .localCheckpoint(eager=True))
    slice_tot = sliced.groupBy("slice").agg(F.sum("bytes").alias("tot"))
    offsets = (slice_offsets(slice_tot, "tot")
               .withColumnRenamed("off", "base_off"))
    w_local = Window.partitionBy("slice").orderBy("path")
    start = (F.col("base_off")
             + F.sum("bytes").over(w_local) - F.col("bytes"))
    return (sliced
            .join(F.broadcast(offsets), "slice")
            .select("path", "bytes",
                    start.cast("bigint").alias("start_byte"),
                    F.floor(start / target_bytes).cast("bigint")
                    .alias("bin")))
