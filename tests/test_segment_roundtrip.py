"""End-to-end slice (SURVEY.md §7 step 2): write segments from the events
message stream, list them, read them back, and verify the stream is
byte-identical and ordered — FIXTURES.md invariants 1, 4, 5, 6.
"""

import pytest
from pyspark.sql import functions as F

from kafka_replicator_spark.operators.egress import (
    assign_segments_by_count,
    assign_segments_greedy,
    segment_bounds,
    write_segments,
)
from kafka_replicator_spark.sources.segments import heap_order, list_segments, read_segment_files

REGION = "test-region"


@pytest.fixture(scope="module")
def seg_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("segments"))


@pytest.fixture(scope="module")
def written(spark, messages, seg_root):
    tagged = assign_segments_by_count(messages, max_messages=100)
    meta = write_segments(tagged, root=seg_root, region=REGION, level=0).collect()
    return meta


def test_write_produces_expected_segments(spark, messages, written):
    n_msgs = messages.count()
    assert sum(r["message_count"] for r in written) == n_msgs
    # dense offsets from 0 → every segment but the last per partition has 100 rows
    for r in written:
        assert r["end_offset"] - r["start_offset"] + 1 == r["message_count"]
        assert r["level"] == 0
        assert r["region"] == REGION


def test_listing_matches_write_metadata(spark, seg_root, written, tmp_path):
    listed = list_segments(spark, seg_root, read_footers=True).collect()
    assert len(listed) == len(written)
    by_path = {r["path"]: r for r in written}
    for seg in listed:
        w = by_path[seg["path"]]
        assert (seg["start_offset"], seg["end_offset"]) == (w["start_offset"], w["end_offset"])
        assert seg["message_count"] == w["message_count"]  # footer KV metadata
        assert seg["size_bytes"] > 0

    # a compacted level-1 file carries the same footer keys and column types
    # as the level-0 files it merges (compacted in a copy of one partition,
    # so the shared store stays intact)
    import os
    import shutil

    import pyarrow.parquet as pq

    from kafka_replicator_spark.core.codec import FOOTER_KEYS
    from kafka_replicator_spark.operators.compaction import compact

    part = min((r["topic"], r["partition_id"]) for r in written)
    l0 = sorted(r["path"] for r in written if (r["topic"], r["partition_id"]) == part)
    root = str(tmp_path)
    for p in l0:
        dst = os.path.join(root, os.path.relpath(p, seg_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(p, dst)
    out = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    assert [r["level"] for r in out] == [1]
    s0, s1 = pq.read_schema(l0[0]), pq.read_schema(out[0]["path"])
    footer = lambda s: {k.decode() for k in s.metadata} - {"ARROW:schema"}  # noqa: E731
    assert footer(s0) == footer(s1) == set(FOOTER_KEYS)
    for name in s0.names:
        assert s1.field(name).type == s0.field(name).type


def test_roundtrip_stream_identical(spark, messages, seg_root, written):
    paths = [r["path"] for r in written]
    back = read_segment_files(spark, paths)
    orig = messages.select(
        "topic", "partition_id", "msg_offset",
        F.col("msg_key").cast("binary").alias("msg_key"),
        F.col("payload").cast("binary").alias("payload"),
        "ts_ns",
    )
    got = back.select("topic", "partition_id", "msg_offset", "msg_key", "payload", "ts_ns")
    assert got.count() == orig.count()
    assert got.exceptAll(orig).count() == 0
    assert orig.exceptAll(got).count() == 0


def test_per_partition_order_preserved(spark, seg_root, written):
    """Invariant 1: reading in heap order yields strictly increasing offsets."""
    paths = [r["path"] for r in written]
    back = read_segment_files(spark, paths)
    from pyspark.sql import Window

    w = Window.partitionBy("topic", "partition_id").orderBy("msg_offset")
    gaps = (
        back.withColumn("prev", F.lag("msg_offset").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("msg_offset") != F.col("prev") + 1))
        .count()
    )
    assert gaps == 0


def test_resume_trim(spark, seg_root, written):
    paths = [r["path"] for r in written]
    back = read_segment_files(spark, paths, from_offset=150)
    assert back.agg(F.min("msg_offset")).collect()[0][0] == 150


def test_greedy_size_rollover(spark, messages, tmp_path):
    """Reference semantics: segment closes at the row where size crosses the
    threshold (pkg/egress/worker.go:51-56)."""
    tagged = assign_segments_greedy(messages, max_bytes=2000, max_messages=50)
    bounds = segment_bounds(tagged, region=REGION).collect()
    for r in bounds:
        assert r["message_count"] <= 50
    # every non-final segment must have crossed one of the thresholds
    import collections

    per_part = collections.defaultdict(list)
    for r in bounds:
        per_part[(r["topic"], r["partition_id"])].append(r)
    for segs in per_part.values():
        segs.sort(key=lambda r: r["start_offset"])
        for r in segs[:-1]:
            assert r["size_bytes"] >= 2000 or r["message_count"] == 50
        # contiguity across segments
        for a, b in zip(segs, segs[1:]):
            assert b["start_offset"] == a["end_offset"] + 1


def test_heap_order_prefers_longer_on_tie(spark):
    rows = [
        ("r", "t", 0, 0, 0, 9, 10, 100, None, "a"),
        ("r", "t", 0, 0, 0, 99, 100, 1000, None, "b"),
        ("r", "t", 0, 0, 100, 199, 100, 1000, None, "c"),
    ]
    from kafka_replicator_spark.core.schema import SEGMENT_SCHEMA

    df = spark.createDataFrame(rows, schema=SEGMENT_SCHEMA)
    ordered = heap_order(df).orderBy("heap_rank").select("path").collect()
    assert [r["path"] for r in ordered] == ["b", "a", "c"]


def test_headers_survive_lifecycle(spark, messages, tmp_path):
    """K1 headers: messages carrying Kafka headers keep them byte-identical
    through egress → compact → replay (reference parquet struct
    pkg/formats/s3_parquet.go:99-116; every reference egress scenario carries
    a header, tests/utils.go:124-149)."""
    from kafka_replicator_spark.operators.compaction import compact

    root = str(tmp_path / "segs")
    with_headers = messages.withColumn(
        "headers",
        F.array(
            F.struct(
                F.lit("source").alias("key"),
                F.col("msg_key").cast("binary").alias("value"),
            ),
            F.struct(
                F.lit("seq").alias("key"),
                F.col("msg_offset").cast("string").cast("binary").alias("value"),
            ),
        ),
    )
    tagged = assign_segments_greedy(with_headers, max_bytes=4096, max_messages=100)
    write_segments(tagged, root=root, region=REGION, level=0).collect()
    out = compact(spark, root, region=REGION, min_count=2, min_bytes=1).collect()
    back = read_segment_files(spark, [r["path"] for r in out])
    orig = with_headers.select("topic", "partition_id", "msg_offset", "headers")
    got = back.select("topic", "partition_id", "msg_offset", "headers")
    assert got.count() == orig.count()
    assert got.exceptAll(orig).count() == 0
    assert orig.exceptAll(got).count() == 0


def test_headerless_segments_read_as_null_headers(spark, seg_root, written):
    """Pre-headers segment files stay readable: explicit reader schema
    surfaces NULL headers instead of failing or dropping the column."""
    back = read_segment_files(spark, [r["path"] for r in written])
    assert "headers" in back.columns
    assert back.filter(F.col("headers").isNotNull()).count() == 0


def test_message_size_includes_headers(spark):
    """X6 size accounting: 16 + len(key) + len(value) + Σ(len(hk)+len(hv))
    (reference pkg/core/core.go:136-147)."""
    from kafka_replicator_spark.core.schema import message_size_col

    df = spark.createDataFrame(
        [("k", b"pay", [("h1", b"v1"), ("hdr2", b"vv22")])],
        schema="msg_key string, payload binary, "
        "headers array<struct<key:string,value:binary>>",
    )
    got = df.select(message_size_col().alias("sz")).collect()[0]["sz"]
    assert got == 16 + 1 + 3 + (2 + 2) + (4 + 4)

