"""Egress: message stream → parquet segments (reference pkg/egress/).

The reference's egress worker is a per-partition state machine that appends
messages to an open segment and closes it when full (size/count threshold —
worker.go:51-56) or old (age timer — worker.go:139-141).  Re-expressed
declaratively:

  1. *segment assignment* — a column computation tagging each message with
     the segment it belongs to (two flavors below);
  2. *segment write* — one writer task per segment group
     (``applyInArrow``), producing exactly one parquet object through the
     segment format's publish (``core.codec.publish_segment``: footer
     metadata, temp-file → atomic-rename two-phase commit, reference
     pkg/stores/s3_segment_store.go:275-298).

Scale notes: assignment is pure column math (codegen); the shuffle that
feeds the writer is partitioned by (partition_id, segment_seq) so segment
files are written fully in parallel, one task each, no driver involvement.
At 100 TB the only knob is segment size (default 100 MiB / 1M messages,
reference pkg/egress/config.go:28-34) which bounds task memory.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_replicator_spark.core.codec import (
    SEGMENT_DATA_COLS,
    WRITE_RESULT_SCHEMA,
    publish_segment,
    segment_table,
)
from kafka_replicator_spark.core.schema import message_size_col

#: reference defaults, pkg/egress/config.go:28-34
DEFAULT_MAX_SEGMENT_BYTES = 100 * 1024 * 1024
DEFAULT_MAX_SEGMENT_MESSAGES = 1_000_000


def assign_segments_by_count(df: DataFrame, max_messages: int) -> DataFrame:
    """Tag each message with ``segment_seq = msg_offset // max_messages``.

    Count-only rollover over a dense offset stream — one integer division,
    no window, no shuffle; the SQL-oracle-checkable flavor.
    """
    from kafka_replicator_spark.core.validation import validate_segment_limits

    validate_segment_limits(1, max_messages)
    return df.withColumn(
        "segment_seq", (F.col("msg_offset") / F.lit(max_messages)).cast("long")
    )


def _greedy_start_indices(csum, max_bytes: int, max_messages: int) -> list[int]:
    """Row indices at which greedy rollover opens a new segment, given the
    cumulative byte sizes of an offset-sorted partition slice.  A segment
    closes at the first row where post-append size >= max_bytes, or after
    max_messages rows, whichever comes first (reference
    pkg/egress/worker.go:51-56).  Factored out as the single source for the
    walk.  NOTE (r14): a fused walk+write variant (one applyInArrow task per
    partition doing this walk and writing that partition's segments
    sequentially) was built on this helper and measured: it wins at 2M msgs
    (uniform 3.5→2.3 s — pure task-overhead savings) but LOSES 2× at 20M
    (uniform 27→51 s, hot 90→194 s) because it forfeits the per-SEGMENT
    write fan-out that bounds a hot partition's critical path.  The two-pass
    shape (metadata walk job + per-segment writer tasks) is the
    scale-correct design; see OPTIMIZATION_r14.md.
    """
    n = len(csum)
    idx: list[int] = []
    start = 0
    base = 0
    while start < n:
        cut_size = int(np.searchsorted(csum, base + max_bytes, side="left"))
        cut = min(cut_size, start + max_messages - 1, n - 1)
        idx.append(start)
        base = int(csum[cut])
        start = cut + 1
    return idx


def assign_segments_greedy(
    df: DataFrame,
    max_bytes: int = DEFAULT_MAX_SEGMENT_BYTES,
    max_messages: int = DEFAULT_MAX_SEGMENT_MESSAGES,
) -> DataFrame:
    """Exact reference rollover semantics: a segment closes when, after an
    append, ``size >= max_bytes`` OR ``count == max_messages``
    (reference pkg/egress/worker.go:51-56).

    Greedy reset-on-threshold is inherently sequential per partition, but
    only the *boundaries* need the sequential walk — so the pandas stage
    sees just (msg_offset, msg_size) per partition and returns the
    segment-start offsets (metadata-scale), and the data-scale assignment
    is a broadcast join + array scan that never leaves the JVM.  Moving the
    full rows through Arrow (the naive applyInPandas shape) costs 2× the
    message bytes in serialization; this shape costs ~16 bytes/row.
    Inside the walk it is O(#segments · log n) numpy (cumsum +
    searchsorted), not a Python row loop.
    """
    from kafka_replicator_spark.core.validation import validate_segment_limits

    validate_segment_limits(max_bytes, max_messages)
    if "msg_size" not in df.columns:
        df = df.withColumn(
            "msg_size",
            message_size_col(headers="headers" if "headers" in df.columns else None),
        )

    def boundaries(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("msg_offset", kind="mergesort").reset_index(drop=True)
        offs = pdf["msg_offset"].to_numpy(dtype=np.int64)
        csum = np.cumsum(pdf["msg_size"].to_numpy(dtype=np.int64))
        starts = [int(offs[i]) for i in _greedy_start_indices(csum, max_bytes, max_messages)]
        return pd.DataFrame(
            [
                {
                    "topic": pdf["topic"].iloc[0],
                    "partition_id": pdf["partition_id"].iloc[0],
                    "seg_starts": starts,
                }
            ]
        )

    bounds = (
        df.select("topic", "partition_id", "msg_offset", "msg_size")
        .groupBy("topic", "partition_id")
        .applyInPandas(
            boundaries,
            schema="topic string, partition_id int, seg_starts array<long>",
        )
    )
    tagged = df.join(F.broadcast(bounds), ["topic", "partition_id"]).withColumn(
        "segment_seq", _segment_seq_expr()
    )
    return tagged.drop("seg_starts")


#: fixed binary-search depth — covers 2^21 segment boundaries per
#: partition-batch, far above any real plan (the plan itself is bounded by
#: max_count), at 21 codegen steps per row
_BSEARCH_STEPS = 21

#: below this boundary count a straight scan beats the fold's constant
#: factor (measured ~3× at K=2 on 2M rows); above it the fold's O(log K)
#: wins and caps the worst case
_LINEAR_SCAN_MAX = 32


def _segment_seq_expr() -> "F.Column":
    """Greatest ``seg_starts`` entry ≤ ``msg_offset``: linear scan for small
    boundary arrays (the steady-state case — a partition-batch rolls over a
    handful of segments), fixed-depth binary search beyond
    ``_LINEAR_SCAN_MAX`` so a pathological batch with thousands of
    boundaries stays O(log K) per row instead of O(K)."""
    linear = (
        F.size(F.filter("seg_starts", lambda b: b <= F.col("msg_offset"))) - 1
    ).cast("long")
    return F.when(
        F.size("seg_starts") <= _LINEAR_SCAN_MAX, linear
    ).otherwise(_bsearch_segment_seq())


def _bsearch_segment_seq() -> "F.Column":
    """Index of the greatest ``seg_starts`` entry ≤ ``msg_offset`` via a
    fixed-depth binary-search fold over the sorted boundary array.

    Pure column expression (whole-stage codegen): O(log K) comparisons per
    row instead of the O(K) per-row array scan a higher-order ``filter``
    would cost — at a 100× batch with thousands of boundaries, the linear
    scan degrades quadratically while this stays flat.  ``seg_starts`` is
    sorted ascending by construction and every offset is ≥ its partition's
    first boundary, so the greatest-≤ entry always exists.
    """
    half = "CAST((acc.lo + acc.hi + 1) div 2 AS INT)"
    return F.expr(
        f"""
        aggregate(
          sequence(1, {_BSEARCH_STEPS}),
          struct(CAST(1 AS INT) AS lo, CAST(size(seg_starts) AS INT) AS hi),
          (acc, step) -> IF(acc.lo >= acc.hi, acc,
            IF(element_at(seg_starts, {half}) <= msg_offset,
               struct({half} AS lo, acc.hi AS hi),
               struct(acc.lo AS lo, CAST({half} - 1 AS INT) AS hi))),
          acc -> CAST(acc.lo - 1 AS BIGINT))
        """
    )


def segment_bounds(tagged: DataFrame, region: str, level: int = 0) -> DataFrame:
    """Per-segment metadata from a segment-tagged message DataFrame — the
    reference's running (count, size, startOffset, endOffset) accumulation
    (A1/A5, pkg/egress/worker.go:174-180) as one partial-aggregable groupBy.
    """
    return (
        tagged.groupBy("topic", "partition_id", "segment_seq")
        .agg(
            F.min("msg_offset").alias("start_offset"),
            F.max("msg_offset").alias("end_offset"),
            F.count(F.lit(1)).alias("message_count"),
            F.sum("msg_size").alias("size_bytes"),
        )
        .select(
            F.lit(region).alias("region"),
            "topic",
            "partition_id",
            F.lit(level).cast("int").alias("level"),
            "segment_seq",
            "start_offset",
            "end_offset",
            "message_count",
            "size_bytes",
        )
    )


def _write_segment_group(table, root: str, region: str, level: int, data_cols: list[str]):
    """Write one segment group to its final key (executor side,
    ``applyInArrow``): the group arrives as a ``pyarrow.Table`` and is
    published without ever materializing pandas objects — for binary
    payloads and the repeated-headers column a pandas round-trip would be
    pure conversion overhead.
    """
    # r13 opt: the group usually arrives offset-sorted (shuffle readers
    # drain map outputs in map order, and upstream data is offset-ordered
    # per partition), making the full-table sort gather a wasted copy —
    # one vectorized strictly-increasing check (~0.2 ms per 250k rows vs
    # ~56 ms CPU for the sort) skips it; any tie or inversion falls back.
    po = table.column("msg_offset").to_numpy()
    if len(po) > 1 and not (po[1:] > po[:-1]).all():
        table = table.sort_by([("msg_offset", "ascending")])
    return publish_segment(
        segment_table(table, data_cols), root=root, region=region,
        topic=str(table.column("topic")[0].as_py()),
        partition_id=int(table.column("partition_id")[0].as_py()), level=level,
    )


def write_segments(tagged: DataFrame, root: str, region: str, level: int = 0) -> DataFrame:
    """Write one parquet segment per (topic, partition_id, segment_seq)
    group at ``level``; returns the written-segment metadata DataFrame (K1).

    The groupBy shuffles each segment's rows to one task — segments write
    concurrently across the cluster.  Returned metadata comes back from the
    executors, so nothing is listed or re-read.
    """
    data = tagged.withColumn("msg_key", F.col("msg_key").cast("binary")).withColumn(
        "payload", F.col("payload").cast("binary")
    )
    cols = [c for c in SEGMENT_DATA_COLS if c in data.columns]

    def afn(table):
        return _write_segment_group(table, root=root, region=region, level=level, data_cols=cols)

    return (
        data.select("topic", "partition_id", "segment_seq", *cols)
        .groupBy("topic", "partition_id", "segment_seq")
        .applyInArrow(afn, schema=WRITE_RESULT_SCHEMA)
    )
