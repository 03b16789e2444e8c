"""Segment object format — the one place that decides what a segment is on
disk: its key, its at-rest columns and their Arrow types, its footer KV
metadata, how it is published and how the store is walked (the reference's
``SegmentFormat``/``SegmentStore`` pair, pkg/core/core.go:56-87,
pkg/formats/s3_parquet.go).  Egress, compaction and both readers call here.

Key layout (reference pkg/stores/s3_segment_store.go:36-37, README.md:199-215):

    {prefix}/{region}/{topic}/{partition}/{level}/{start:020d}-{end:020d}

Offsets are zero-padded to 20 digits so lexicographic order == numeric order
— that property is what lets an object-store LIST return segments in offset
order, and we preserve it.  Provided both as pure-Python functions (driver
metadata work, property-tested round-trip) and as column expressions
(distributed: derive segment identity from ``input_file_name()`` on a read,
reference parse at s3_segment_store.go:320-371).
"""

from __future__ import annotations

import os
import re
import time
import uuid
from collections.abc import Iterator
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.column import Column
from pyspark.sql.pandas.types import to_arrow_schema

#: filename suffix for the parquet objects this engine writes (the reference
#: writes bare `start-end` keys; an extension keeps Spark/pyarrow happy).
SEGMENT_SUFFIX = ".parquet"

_PATH_RE = re.compile(
    r"(?P<prefix>.*?)/?"
    r"(?P<region>[^/]+)/(?P<topic>[^/]+)/(?P<partition>\d+)/(?P<level>\d+)/"
    r"(?P<start>\d{20})-(?P<end>\d{20})(?:\.parquet)?$"
)

#: regexp used Spark-side over input_file_name(); group numbers match
#: parse_segment_path_cols below.
PATH_COL_RE = r"^.*?([^/]+)/([^/]+)/(\d+)/(\d+)/(\d{20})-(\d{20})(?:\.parquet)?$"


@dataclass(frozen=True)
class SegmentId:
    """Identity tuple of a segment (reference messages.proto:28-35)."""

    region: str
    topic: str
    partition_id: int
    level: int
    start_offset: int
    end_offset: int


def format_segment_path(prefix: str, seg: SegmentId, suffix: str = SEGMENT_SUFFIX) -> str:
    """Format a segment path (reference s3_segment_store.go:244-258)."""
    return (
        f"{prefix.rstrip('/')}/{seg.region}/{seg.topic}/{seg.partition_id}/"
        f"{seg.level}/{seg.start_offset:020d}-{seg.end_offset:020d}{suffix}"
    )


def parse_segment_path(path: str) -> SegmentId:
    """Parse a segment path back to its identity
    (reference s3_segment_store.go:320-371).  Raises ValueError on mismatch.
    """
    m = _PATH_RE.match(path)
    if m is None:
        raise ValueError(f"not a segment path: {path!r}")
    return SegmentId(
        region=m.group("region"),
        topic=m.group("topic"),
        partition_id=int(m.group("partition")),
        level=int(m.group("level")),
        start_offset=int(m.group("start")),
        end_offset=int(m.group("end")),
    )


def segment_path_col(
    prefix: str | Column,
    region: str | Column = "region",
    topic: str | Column = "topic",
    partition_id: str | Column = "partition_id",
    level: str | Column = "level",
    start_offset: str | Column = "start_offset",
    end_offset: str | Column = "end_offset",
    suffix: str = SEGMENT_SUFFIX,
) -> Column:
    """Column-expression form of :func:`format_segment_path` — JVM-side
    ``format_string`` so path derivation runs inside codegen at scale.
    """
    as_col = lambda c: F.col(c) if isinstance(c, str) else c  # noqa: E731
    prefix_col = F.lit(prefix.rstrip("/")) if isinstance(prefix, str) else prefix
    return F.format_string(
        "%s/%s/%s/%d/%d/%020d-%020d" + suffix,
        prefix_col,
        as_col(region),
        as_col(topic),
        as_col(partition_id).cast("long"),
        as_col(level).cast("long"),
        as_col(start_offset),
        as_col(end_offset),
    )


def parse_segment_path_cols(path: Column | str = None) -> list[Column]:
    """Derive segment-identity columns from a path column (default:
    ``input_file_name()``) — the distributed parse used when reading many
    segment files at once.  Returns columns aliased to SEGMENT_SCHEMA names.
    """
    if path is None:
        path = F.input_file_name()
    elif isinstance(path, str):
        path = F.col(path)
    return [
        F.regexp_extract(path, PATH_COL_RE, 1).alias("region"),
        F.regexp_extract(path, PATH_COL_RE, 2).alias("topic"),
        F.regexp_extract(path, PATH_COL_RE, 3).cast("int").alias("partition_id"),
        F.regexp_extract(path, PATH_COL_RE, 4).cast("int").alias("level"),
        F.regexp_extract(path, PATH_COL_RE, 5).cast("long").alias("start_offset"),
        F.regexp_extract(path, PATH_COL_RE, 6).cast("long").alias("end_offset"),
    ]


# ------------------------------------------------------------- object format

#: columns persisted inside a segment file (at-rest message schema; binary
#: key/payload + repeated headers per reference s3_parquet.go:99-116)
SEGMENT_DATA_COLS = ["msg_offset", "msg_key", "payload", "ts_ns", "headers"]

#: explicit Arrow types of the at-rest columns — inference over object
#: columns (binary, list of header structs) is unstable on empty/all-null
#: groups
SEGMENT_ARROW_TYPES = {
    "msg_offset": pa.int64(),
    "msg_key": pa.binary(),
    "payload": pa.binary(),
    "ts_ns": pa.int64(),
    "headers": pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())])),
}

#: parquet footer KV metadata keys (reference stamps SegmentMetadata into the
#: footer — pkg/formats/s3_parquet.go:379-397, messages.proto:57-66)
FOOTER_KEYS = (
    "region",
    "topic",
    "partition",
    "level",
    "startOffset",
    "endOffset",
    "messageCount",
    "createdTimestamp",
)

#: one row per segment write; a NULL ``path`` marks a merge that found an
#: offset gap and published nothing (see :func:`raise_on_gap`)
WRITE_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("region", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("start_offset", T.LongType()),
        T.StructField("end_offset", T.LongType()),
        T.StructField("message_count", T.LongType()),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("path", T.StringType()),
    ]
)
_WRITE_RESULT_ARROW = to_arrow_schema(WRITE_RESULT_SCHEMA)


class SegmentGapError(ValueError):
    """A merge's input range misses offsets (reference compactor.go:219-221,
    ``missing message range``)."""


def segment_table(table: pa.Table, cols: list[str] = SEGMENT_DATA_COLS) -> pa.Table:
    """The at-rest columns ``cols`` of ``table`` in their canonical Arrow
    types: Spark may hand over large_binary etc., and columns an older file
    lacks are filled with NULLs."""
    arrays = []
    for c in cols:
        typ = SEGMENT_ARROW_TYPES[c]
        if c not in table.column_names:
            arrays.append(pa.nulls(table.num_rows, typ))
        else:
            col = table.column(c)
            arrays.append(col if col.type == typ else col.cast(typ))
    return pa.Table.from_arrays(
        arrays, schema=pa.schema([(c, SEGMENT_ARROW_TYPES[c]) for c in cols])
    )


def publish_segment(
    table: pa.Table,
    root: str,
    region: str,
    topic: str,
    partition_id: int,
    level: int,
    dense: bool = False,
) -> pa.Table:
    """Publish an offset-sorted :func:`segment_table` as one segment object
    and return its write result as a 1-row Arrow table.

    Two-phase publish: write to ``{root}/temp/{uuid}`` with the footer KV,
    then atomically rename to the final key (reference
    s3_segment_store.go:135-149,275-298).  On object stores without rename,
    swap for a conditional CopyObject — the call-site contract (temp key,
    final key, footer) is the same.

    ``dense=True`` is compaction's gap check (count == end-start+1,
    reference compactor.go:219-221), made on data already in hand: a gapped
    table publishes nothing and its row comes back with a NULL ``path``.
    """
    offs = table.column("msg_offset")
    start = int(offs[0].as_py())
    end = int(offs[-1].as_py())
    count = table.num_rows
    seg = SegmentId(region, topic, int(partition_id), int(level), start, end)
    path = size = None
    if not dense or count == end - start + 1:
        path = format_segment_path(root, seg)
        values = (region, topic, seg.partition_id, seg.level, start, end, count, time.time_ns())
        footer = {k.encode(): str(v).encode() for k, v in zip(FOOTER_KEYS, values)}
        table = table.replace_schema_metadata({**(table.schema.metadata or {}), **footer})
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp_dir = os.path.join(root, "temp")
        os.makedirs(tmp_dir, exist_ok=True)
        tmp_path = os.path.join(tmp_dir, uuid.uuid4().hex)
        pq.write_table(table, tmp_path, compression="snappy")
        os.replace(tmp_path, path)  # atomic publish
        size = os.path.getsize(path)
    return pa.Table.from_pylist(
        [
            {
                "region": region,
                "topic": topic,
                "partition_id": seg.partition_id,
                "level": seg.level,
                "start_offset": start,
                "end_offset": end,
                "message_count": count,
                "size_bytes": size,
                "path": path,
            }
        ],
        schema=_WRITE_RESULT_ARROW,
    )


def raise_on_gap(rows) -> None:
    """Raise :class:`SegmentGapError` for the first write-result row whose
    merge found an offset gap (NULL ``path``)."""
    for r in rows:
        if r["path"] is None:
            raise SegmentGapError(
                f"missing message range (offset gap) in {r['topic']}/{r['partition_id']}"
                f"[{r['start_offset']}..{r['end_offset']}] n={r['message_count']}"
            )


def walk_segments(
    root: str,
    region: str | None = None,
    topic: str | None = None,
    partition_id: int | None = None,
) -> Iterator[tuple[str, SegmentId]]:
    """Yield ``(path, SegmentId)`` for every published segment under
    ``root`` that matches each scope field given.

    The walk starts at the deepest prefix the leading scope fields name, like
    the reference's scoped LIST (s3_segment_store.go:183-221, 212-215);
    fields after the first unset one are applied as filters.  ``temp/``
    holds uncommitted objects and is skipped (two-phase publish).
    """
    scope = (region, topic, None if partition_id is None else int(partition_id))
    base = root.rstrip("/")
    for part in scope:
        if part is None:
            break
        base = f"{base}/{part}"
    for dirpath, _dirnames, filenames in os.walk(base):
        if os.path.basename(os.path.normpath(dirpath)) == "temp":
            continue
        for fn in filenames:
            path = os.path.join(dirpath, fn)
            try:
                seg = parse_segment_path(path)
            except ValueError:
                continue
            if all(
                want is None or got == want
                for want, got in zip(scope, (seg.region, seg.topic, seg.partition_id))
            ):
                yield path, seg


def footer_message_count(path: str) -> int | None:
    """``messageCount`` from a segment's parquet footer (None if absent)."""
    raw = (pq.ParquetFile(path).metadata.metadata or {}).get(b"messageCount")
    return int(raw) if raw is not None else None
