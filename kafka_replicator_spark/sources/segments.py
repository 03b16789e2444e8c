"""Segment listing (S3 metadata scan) and segment reading (S2).

Listing mirrors the reference's prefix-scoped ``ListObjectsV2`` scan
(pkg/stores/s3_segment_store.go:183-221): it is *metadata-scale* work —
thousands of path strings, not data — so it runs on the driver (exactly as
the reference's single LIST loop does) and becomes a small DataFrame that
joins broadcast against everything else.  Reading is a plain
``spark.read.parquet`` over the selected files with segment identity
recovered from ``input_file_name()`` — fully distributed, with Catalyst
pushdown into the scan.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_replicator_spark.core.codec import (
    footer_message_count,
    parse_segment_path_cols,
    walk_segments,
)
from kafka_replicator_spark.core.schema import SEGMENT_DATA_DDL, SEGMENT_SCHEMA


def list_segments(
    spark: SparkSession,
    root: str,
    region: str | None = None,
    topic: str | None = None,
    partition_id: int | None = None,
    read_footers: bool = False,
) -> DataFrame:
    """List segment files under ``root`` → SEGMENT_SCHEMA DataFrame.

    Each filter given scopes the listing like the reference's scoped LIST
    (s3_segment_store.go:212-215) — partition pruning at the listing layer.
    ``read_footers=True`` also loads messageCount from each parquet footer
    (an extra HEAD-scale read per file; off by default).
    """
    rows = []
    for path, seg in walk_segments(root, region, topic, partition_id):
        st = os.stat(path)
        rows.append(
            (
                seg.region,
                seg.topic,
                seg.partition_id,
                seg.level,
                seg.start_offset,
                seg.end_offset,
                footer_message_count(path) if read_footers else None,
                int(st.st_size),
                datetime.fromtimestamp(st.st_mtime, tz=timezone.utc).replace(tzinfo=None),
                path,
            )
        )
    # ONE partition: the listing is metadata-scale (path strings, not
    # data), and the default 32-slice parallelize makes every downstream
    # metadata job a 32-task job of empty partitions — measured ~35% of
    # each tiny plan/collect's cost at bench scale.  Anything data-scale
    # downstream (the merge fan-out, segment reads) repartitions by its
    # own keys anyway.
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema=SEGMENT_SCHEMA
    )


def heap_order(segments: DataFrame) -> DataFrame:
    """The reference's segment processing order: start_offset asc, and on a
    tie the *longer* segment first (min-heap comparator,
    pkg/utils/heap.go:71-91).  Adds ``heap_rank`` per (topic, partition).
    """
    w = Window.partitionBy("topic", "partition_id").orderBy(
        F.asc("start_offset"), F.desc("end_offset")
    )
    return segments.withColumn("heap_rank", F.row_number().over(w))


def read_segment_files(
    spark: SparkSession,
    paths: list[str],
    from_offset: int | None = None,
    dedup_overlaps: bool = True,
) -> DataFrame:
    """Read segment parquet files back into the message stream.

    * segment identity columns are recovered from the file path (P4 codec
      over ``input_file_name()``) — no sidecar lookup;
    * ``from_offset`` applies the resume trim F1 (``msg_offset >= next``)
      as a pushed-down parquet filter (reference pkg/ingress/worker.go:390-396);
    * overlapping segments are deduplicated per (topic, partition, offset)
      keeping the segment that the reference's heap order would deliver
      first (start asc, end desc — pkg/utils/heap.go:71-91), via one
      window row_number (T13).
    """
    if not paths:
        raise ValueError("no segment paths to read")
    df = (
        spark.read.schema(SEGMENT_DATA_DDL)
        .parquet(*paths)
        .select("*", *parse_segment_path_cols())
    )
    if from_offset is not None:
        df = df.filter(F.col("msg_offset") >= F.lit(from_offset))
    if dedup_overlaps:
        w = Window.partitionBy("topic", "partition_id", "msg_offset").orderBy(
            F.asc("start_offset"), F.desc("end_offset"), F.asc("level")
        )
        df = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    return df
