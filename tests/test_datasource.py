"""Custom kafka_segments DataSource: format-registry read path equals the
library read path; option-based pruning works."""

from pyspark.sql import functions as F

from kafka_replicator_spark.operators.egress import assign_segments_by_count, write_segments
from kafka_replicator_spark.sources import datasource
from kafka_replicator_spark.sources.segments import read_segment_files, list_segments


def test_format_read_matches_library_read(spark, messages, tmp_path):
    root = str(tmp_path)
    tagged = assign_segments_by_count(messages, max_messages=100)
    written = write_segments(tagged, root=root, region="dsrc", level=0).collect()

    datasource.register(spark)
    via_format = (
        spark.read.format("kafka_segments").option("root", root).load()
    )
    via_lib = read_segment_files(spark, [r["path"] for r in written])
    cols = ["topic", "partition_id", "msg_offset", "msg_key", "payload", "ts_ns"]
    assert via_format.count() == via_lib.count() == messages.count()
    assert via_format.select(cols).exceptAll(via_lib.select(cols)).count() == 0
    # identity columns attached per partition
    ident = via_format.select("region", "level").distinct().collect()
    assert [(r["region"], r["level"]) for r in ident] == [("dsrc", 0)]


def test_format_from_offset_prunes_segments(spark, messages, tmp_path):
    root = str(tmp_path)
    tagged = assign_segments_by_count(messages, max_messages=100)
    write_segments(tagged, root=root, region="dsrc", level=0).collect()
    datasource.register(spark)
    df = (
        spark.read.format("kafka_segments")
        .option("root", root)
        .option("from_offset", "150")
        .load()
    )
    assert df.agg(F.min("msg_offset")).collect()[0][0] == 150
    # segments entirely below the offset never become input partitions
    assert df.select("start_offset").distinct().filter(F.col("start_offset") < 100).count() == 0


def test_streaming_source_discovers_incrementally(spark, messages, tmp_path):
    """readStream.format('kafka_segments'): files consumed exactly once
    across microbatches; late-arriving segments picked up by later offsets."""
    root = str(tmp_path)
    tagged = assign_segments_by_count(messages, max_messages=100)
    all_meta = write_segments(tagged, root=root, region="dsrc", level=0).collect()

    datasource.register(spark)
    stream = spark.readStream.format("kafka_segments").option("root", root).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("seg_stream_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT count(*) c FROM seg_stream_out").collect()[0]["c"]
        assert n1 == messages.count()
        # a newly compacted segment arrives -> only the new file is read
        from kafka_replicator_spark.operators.compaction import compact

        compact(spark, root, region="dsrc", min_count=2, min_bytes=1, delete_inputs=False)
        q.processAllAvailable()
        n2 = spark.sql("SELECT count(*) c FROM seg_stream_out").collect()[0]["c"]
        assert n2 == 2 * messages.count()  # level-1 copies arrived exactly once
        levels = spark.sql(
            "SELECT level, count(*) n FROM seg_stream_out GROUP BY level ORDER BY level"
        ).collect()
        assert [(r["level"], r["n"]) for r in levels] == [
            (0, messages.count()), (1, messages.count()),
        ]
    finally:
        q.stop()


def test_scoped_listing_filters_every_field(spark, tmp_path):
    """A scope field after an unset one still filters: ``topic`` without
    ``region`` and ``partition_id`` without ``topic`` list only their own
    segments, in both ``list_segments`` and the ``kafka_segments`` options."""
    root = str(tmp_path)
    rows = [
        (topic, pid, o, b"k", b"v", 1_553_000_000_000 + o, o // 10)
        for topic in ("a", "b")
        for pid in (0, 5)
        for o in range(20)
    ]
    df = spark.createDataFrame(
        rows, schema="topic string, partition_id int, msg_offset long, "
        "msg_key binary, payload binary, ts_ns long, segment_seq long"
    )
    write_segments(df, root=root, region="dsrc", level=0).collect()

    def listed(**scope):
        return sorted(
            (r["topic"], r["partition_id"], r["start_offset"])
            for r in list_segments(spark, root, **scope).collect()
        )

    assert listed(topic="a") == [("a", 0, 0), ("a", 0, 10), ("a", 5, 0), ("a", 5, 10)]
    assert listed(partition_id=5) == [("a", 5, 0), ("a", 5, 10), ("b", 5, 0), ("b", 5, 10)]
    assert listed(region="dsrc", partition_id=0) == [
        ("a", 0, 0), ("a", 0, 10), ("b", 0, 0), ("b", 0, 10)
    ]
    assert listed(region="dsrc", topic="b", partition_id=5) == [("b", 5, 0), ("b", 5, 10)]

    datasource.register(spark)

    def via_format(**options):
        reader = spark.read.format("kafka_segments").option("root", root)
        for k, v in options.items():
            reader = reader.option(k, v)
        return sorted(
            (r["topic"], r["partition_id"], r["n"])
            for r in reader.load().groupBy("topic", "partition_id").agg(F.count("*").alias("n")).collect()
        )

    assert via_format(topic="a") == [("a", 0, 20), ("a", 5, 20)]
    assert via_format(partition="5") == [("a", 5, 20), ("b", 5, 20)]
