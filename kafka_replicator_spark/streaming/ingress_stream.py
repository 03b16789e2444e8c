"""Streaming ingress: parquet segments → ordered delivery (reference
pkg/ingress/ as a Structured Streaming job).

The segment root is consumed as a file stream (S2/S4: new segment files are
the discovery events; with notification infra, swap in that source).  Each
microbatch:

  1. recovers segment identity from file paths (P4 codec),
  2. trims rows at-or-below the delivery checkpoint (F1/T9) and drops
     duplicate offsets from overlapping segments (T13),
  3. delivers per partition in offset order (O3: repartition by the stream
     partition + ``sortWithinPartitions`` — per-task order is what a Kafka
     producer sink preserves),
  4. advances the checkpoint store (T8), persisted atomically driver-side —
     the same metadata scale as the reference's in-memory map backed by a
     compacted topic (S5/K3).

Late/lost policy (T6/T7): offset continuity is checked before delivery; a
gap holds the partition back (late) for up to ``max_gap_retries`` batches,
then is skipped with a ``messages_lost`` count — exactly the reference's
escalation (pkg/ingress/worker.go:110-154), minus the wall-clock backoff
(batch cadence plays that role here).
"""

from __future__ import annotations

import dataclasses
import json
import os
from dataclasses import dataclass, field
from datetime import timedelta  # noqa: F401  (signature annotations)

from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_replicator_spark.core.codec import parse_segment_path_cols
from kafka_replicator_spark.core.schema import SEGMENT_DATA_DDL


def _local_path(p: str) -> str:
    """Normalize ``input_file_name()`` output (``file:///...`` URI) to a plain
    local path so held-back segment paths survive the store → ``os.path.exists``
    → re-read roundtrip (the reference re-lists by object key, worker.go:110-154)."""
    if p.startswith("file:"):
        return unquote(urlparse(p).path)
    return p


@dataclass
class IngressState:
    """Driver-side delivery state: checkpoint offsets + late/lost tracking.

    Persisted as JSON with atomic replace; the reference keeps the same
    state in a goroutine-local map mirrored to a compacted Kafka topic.
    """

    path: str
    checkpoints: dict[str, int] = field(default_factory=dict)  # "topic/part" -> last offset
    late_counts: dict[str, int] = field(default_factory=dict)
    first_seen_batch: dict[str, int] = field(default_factory=dict)  # T5 gate
    #: wall-clock twins of the batch-cadence gates (reference
    #: pkg/ingress/config.go:32-40 measures both in durations)
    first_seen_ts: dict[str, float] = field(default_factory=dict)  # T5 (seconds)
    gap_since_ts: dict[str, float] = field(default_factory=dict)  # T6→T7 (seconds)
    #: held-back segment files per partition (late/gated) — the file source
    #: surfaces each file exactly once, so anything not delivered in its
    #: arrival batch must be re-read explicitly in later batches (the
    #: reference's late-segment re-list, worker.go:110-154)
    pending_paths: dict[str, list[str]] = field(default_factory=dict)
    batches_run: int = 0
    messages_lost: int = 0
    #: §2.11 per-partition meters (reference pkg/ingress/metrics.go:25-98):
    #: messagesProduced + replication lag (now - min event ts of the batch)
    messages_produced: dict[str, int] = field(default_factory=dict)
    last_lag_ns: dict[str, int] = field(default_factory=dict)
    #: per-partition sink failure counts (reference pkg/core/breaker.go —
    #: the error-rate signal the breaker consumes)
    errors: dict[str, int] = field(default_factory=dict)

    @classmethod
    def _persisted(cls) -> list[str]:
        """Every field but ``path``, in declaration order (the JSON layout)."""
        return [f.name for f in dataclasses.fields(cls) if f.name != "path"]

    @classmethod
    def load(cls, path: str) -> "IngressState":
        if os.path.exists(path):
            raw = json.load(open(path))
            return cls(path=path, **{k: raw[k] for k in cls._persisted() if k in raw})
        return cls(path=path)

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({k: getattr(self, k) for k in self._persisted()}, f)
        os.replace(tmp, self.path)

    def snapshot(self) -> dict:
        """Meter snapshot (§2.11): produced / lag / late / lost / errors —
        the same counter families the reference exports via go-metrics."""
        return {
            "messages_produced": dict(self.messages_produced),
            "last_lag_ns": dict(self.last_lag_ns),
            "late_counts": dict(self.late_counts),
            "messages_lost": self.messages_lost,
            "errors": dict(self.errors),
            "batches_run": self.batches_run,
        }


def run_ingress_stream(
    spark: SparkSession,
    seg_root: str,
    sink_dir: str,
    checkpoint_dir: str,
    state_path: str,
    max_gap_retries: int = 3,
    first_segment_delay_batches: int = 0,
    first_segment_delay: "timedelta | None" = None,
    lost_segment_timeout: "timedelta | None" = None,
    await_termination: bool = True,
    breaker=None,
    clock=None,
):
    """Replay segments to an ordered per-partition sink until no new files
    remain.  Restart-safe via (engine checkpoint ∧ delivery state): replayed
    epochs re-trim against the delivery checkpoint, so nothing is delivered
    twice at-or-below it.

    ``first_segment_delay_batches`` is T5 (FirstSegmentDelay, reference
    pkg/ingress/worker.go:98-108): a partition first seen at batch b is not
    delivered before batch b + delay — the reference's 30-minute guard
    against listing lag on eventually-consistent stores, measured in batch
    cadence here.

    ``first_segment_delay`` / ``lost_segment_timeout`` are the wall-clock
    twins matching the reference's operating envelope exactly
    (pkg/ingress/config.go:32-40 — durations, defaults 30 min / 24 h):
    a partition first seen at wall time t delivers no earlier than
    t + first_segment_delay, and a partition held back on an offset gap
    since wall time g escalates late → lost once now - g exceeds
    lost_segment_timeout (overriding the batch-count escalation).  Both
    compose with a processing-time trigger; under availableNow replays the
    batch-cadence knobs are usually the better fit.  ``clock`` (defaults to
    ``time.time``) is injectable for deterministic tests.

    ``breaker`` (a :class:`~kafka_replicator_spark.core.breaker.ThresholdBreaker`)
    is marked once per partition on a sink failure — the reference's
    error-rate signal (pkg/core/breaker.go:34-64).
    """
    import time as _time_mod

    from kafka_replicator_spark.core.validation import validate_ingress_config

    validate_ingress_config(
        max_gap_retries,
        first_segment_delay_batches,
        first_segment_delay,
        lost_segment_timeout,
    )
    if clock is None:
        clock = _time_mod.time
    delay_s = first_segment_delay.total_seconds() if first_segment_delay else 0.0
    lost_timeout_s = (
        lost_segment_timeout.total_seconds() if lost_segment_timeout else None
    )
    stream = (
        spark.readStream.schema(SEGMENT_DATA_DDL)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(seg_root)
    )

    def deliver(batch_df: DataFrame, epoch_id: int) -> None:
        state = IngressState.load(state_path)
        df = batch_df.select("*", *parse_segment_path_cols(), F.input_file_name().alias("src_path"))
        # re-read files held back in earlier batches (late/gated) — the file
        # source will never surface them again
        held = sorted(
            {_local_path(p) for ps in state.pending_paths.values() for p in ps}
        )
        held = [p for p in held if os.path.exists(p)]
        if held:
            df = df.unionByName(
                spark.read.schema(SEGMENT_DATA_DDL)
                .parquet(*held)
                .select("*", *parse_segment_path_cols(), F.input_file_name().alias("src_path"))
            )
        # F1/T9 trim vs delivery checkpoints (broadcast metadata join) —
        # BEFORE the dedup exchange (guide §2.3, filter before the shuffle):
        # a replayed epoch re-surfaces everything below the checkpoint, so
        # trimming first can empty the dedup shuffle outright.  Order is
        # output-identical: the trim predicate depends only on the dedup key
        # (topic, partition, offset), so the surviving KEY set is the same
        # either way and the kept instance is arbitrary in both orders.
        if state.checkpoints:
            cps = spark.createDataFrame(
                [
                    (k.rsplit("/", 1)[0], int(k.rsplit("/", 1)[1]), v)
                    for k, v in state.checkpoints.items()
                ],
                schema="topic string, partition_id int, cp_offset long",
            )
            df = (
                df.join(F.broadcast(cps), ["topic", "partition_id"], "left")
                .filter(F.col("cp_offset").isNull() | (F.col("msg_offset") > F.col("cp_offset")))
                .drop("cp_offset")
            )

        # T13 overlap dedup within the batch; cached — the ranges collect
        # and the delivery write both read this frame, and the dedup shuffle
        # must not run twice per batch.  r14 (guide §2.4, subset rule): the
        # batch is hash-partitioned by (topic, partition_id) FIRST — that
        # one exchange then satisfies the dedup's (topic, partition,
        # offset) clustering, the ranges groupBy, AND the O3 delivery
        # layout, so the write below needs no second exchange.
        df = (
            df.repartition("topic", "partition_id")
            .dropDuplicates(["topic", "partition_id", "msg_offset"])
            .cache()
        )

        # per-partition file ranges (metadata-scale): the continuity walk
        # runs over segment extents, not rows, so an *internal* gap inside a
        # batch holds back exactly the files above the gap (O1 heap order,
        # reference worker.go:110-154)
        # per-file row count + min event ts ride the same aggregate: the
        # §2.11 meters can then be derived driver-side (below) instead of a
        # separate per-batch collect job over the delivered frame
        ranges = (
            df.groupBy("topic", "partition_id", "src_path")
            .agg(
                F.min("msg_offset").alias("lo"),
                F.max("msg_offset").alias("hi"),
                F.count(F.lit(1)).alias("n_rows"),
                F.min("ts_ns").alias("min_ts"),
            )
            .collect()
        )
        by_part: dict[str, list] = {}
        for r in ranges:
            by_part.setdefault(f"{r['topic']}/{r['partition_id']}", []).append(r)

        state.batches_run += 1
        now_s = clock()
        frontiers: dict[str, int] = {}
        pending: dict[str, list[str]] = {}
        for key, rs in by_part.items():
            # T5 first-segment delay gate (batch cadence AND/OR wall clock)
            if key not in state.first_seen_batch:
                state.first_seen_batch[key] = state.batches_run
            if key not in state.first_seen_ts:
                state.first_seen_ts[key] = now_s
            gated = (
                state.batches_run - state.first_seen_batch[key]
                < first_segment_delay_batches
            ) or (now_s - state.first_seen_ts[key] < delay_s)
            if gated:
                pending[key] = [_local_path(r["src_path"]) for r in rs]
                continue
            rs.sort(key=lambda r: (r["lo"], -r["hi"]))
            next_needed = state.checkpoints.get(key, -1) + 1
            frontier = next_needed - 1
            held_paths: list[str] = []
            lost_skip_used = False
            bumped = False  # one late-retry tick per partition per batch
            for r in rs:
                if r["lo"] <= frontier + 1:
                    frontier = max(frontier, r["hi"])
                    continue
                # gap before this file: late → hold, or lost → skip once
                if not bumped:
                    state.late_counts[key] = state.late_counts.get(key, 0) + 1
                    state.gap_since_ts.setdefault(key, now_s)
                    bumped = True
                escalate = (
                    now_s - state.gap_since_ts.get(key, now_s) > lost_timeout_s
                    if lost_timeout_s is not None
                    else state.late_counts[key] > max_gap_retries
                )
                if escalate and not lost_skip_used:
                    state.messages_lost += r["lo"] - (frontier + 1)  # T7
                    state.late_counts.pop(key, None)
                    state.gap_since_ts.pop(key, None)
                    lost_skip_used = True
                    frontier = r["hi"]
                    continue
                held_paths.append(_local_path(r["src_path"]))  # T6: retry next batch
            if held_paths:
                pending[key] = held_paths
            else:
                state.late_counts.pop(key, None)
                state.gap_since_ts.pop(key, None)
            if frontier >= next_needed:
                frontiers[key] = frontier
                state.checkpoints[key] = int(frontier)

        state.pending_paths = pending
        if frontiers:
            fr = spark.createDataFrame(
                [
                    (k.rsplit("/", 1)[0], int(k.rsplit("/", 1)[1]), v)
                    for k, v in frontiers.items()
                ],
                schema="topic string, partition_id int, frontier long",
            )
            out = df.join(F.broadcast(fr), ["topic", "partition_id"]).filter(
                F.col("msg_offset") <= F.col("frontier")
            )
            # O3: per-partition offset order into the sink (K2 analog) —
            # the batch frame is already hash-partitioned by
            # (topic, partition_id) above, and the broadcast join + filter
            # preserve that layout, so only the in-partition sort remains
            try:
                (
                    out.sortWithinPartitions("msg_offset")
                    .withColumn("epoch_id", F.lit(int(epoch_id)))
                    .drop("frontier", "src_path")
                    .write.mode("append")
                    .partitionBy("topic", "partition_id")
                    .parquet(sink_dir)
                )
            except Exception:
                # error meters + breaker marks, persisted WITHOUT the advanced
                # checkpoints (a failed delivery must replay, not skip) — the
                # reference marks its Kafka breaker per produce error
                # (pkg/core/breaker.go) and leaves the checkpoint untouched.
                err_state = IngressState.load(state_path)
                for key in frontiers:
                    err_state.errors[key] = err_state.errors.get(key, 0) + 1
                    if breaker is not None:
                        breaker.mark()
                err_state.save()
                df.unpersist()
                raise
            # §2.11 meters: produced count + replication lag per partition
            # (A3 min-ts over the produced batch, reference worker.go:438-448).
            # Derived driver-side from the per-file aggregates already in
            # ``ranges`` whenever that is provably exact: with pairwise
            # disjoint per-partition file extents and no file straddling the
            # frontier, every row of a file with hi <= frontier — and no
            # other row — satisfies the delivery filter, so the per-file sums
            # equal the delivered-frame aggregate.  Extents here are
            # post-dedup/post-trim DATA extents (min/max over actual rows),
            # so the equivalence needs no trust in filenames.  Any overlap or
            # straddle falls back to the aggregate-over-``out`` collect.
            import time as _time

            now_ns = _time.time_ns()
            fast_meters: dict[str, tuple[int, int | None]] = {}
            for key in frontiers:
                rs = sorted(by_part.get(key, []), key=lambda r: r["lo"])
                frontier = frontiers[key]
                if any(b["lo"] <= a["hi"] for a, b in zip(rs, rs[1:])) or any(
                    r["lo"] <= frontier < r["hi"] for r in rs
                ):
                    fast_meters = {}
                    break
                delivered = [r for r in rs if r["hi"] <= frontier]
                n = sum(int(r["n_rows"]) for r in delivered)
                ts = [int(r["min_ts"]) for r in delivered if r["min_ts"] is not None]
                fast_meters[key] = (n, min(ts) if ts else None)
            if fast_meters:
                for key, (n, min_ts) in fast_meters.items():
                    if n == 0:
                        continue
                    state.messages_produced[key] = (
                        state.messages_produced.get(key, 0) + n
                    )
                    if min_ts is not None:
                        state.last_lag_ns[key] = now_ns - min_ts
            else:
                for m in (
                    out.groupBy("topic", "partition_id")
                    .agg(F.count(F.lit(1)).alias("n"), F.min("ts_ns").alias("min_ts"))
                    .collect()
                ):
                    key = f"{m['topic']}/{m['partition_id']}"
                    state.messages_produced[key] = state.messages_produced.get(key, 0) + m["n"]
                    if m["min_ts"] is not None:
                        state.last_lag_ns[key] = now_ns - int(m["min_ts"])
        df.unpersist()
        state.save()  # T8 checkpoint-per-batch

    q = (
        stream.writeStream.foreachBatch(deliver)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def kafka_sink_frame(delivered: DataFrame) -> DataFrame:
    """K2 projection contract (reference pkg/kafka/producer.go:156-218):

    * ``partition`` — the explicit stream partition (the reference produces
      to the exact source partition, never the default partitioner);
    * ``timestamp`` — restored only when the source timestamp is non-zero
      (producer.go's restore-if-nonzero; zero/NULL lets the broker assign);
    * key/payload pass through as Kafka ``key``/``value`` bytes;
    * ``headers`` forwarded when present (producer.go:185-193; the Spark
      Kafka sink picks up the optional headers column natively).

    Pure projection — no exchange — so the caller's per-task order (the O3
    ``sortWithinPartitions`` contract) reaches the producer intact.
    """
    cols = [
        F.col("msg_key").alias("key"),
        F.col("payload").alias("value"),
        F.col("partition_id").cast("int").alias("partition"),
        F.when(
            F.col("ts_ns") > 0, F.timestamp_micros(F.expr("ts_ns div 1000"))
        ).alias("timestamp"),
    ]
    if "headers" in delivered.columns:
        cols.append(F.col("headers"))
    return delivered.select(*cols)


def kafka_sink_options(brokers: str, topic: str) -> dict[str, str]:
    """The full DataFrameWriter option set for the producer sink; idempotent
    produce mirrors the reference's ``enable.idempotence=true``
    (producer.go:107-111)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "kafka.enable.idempotence": "true",
        # the Java client requires acks=all with idempotence (librdkafka
        # implies it; Spark's producer passthrough does not)
        "kafka.acks": "all",
    }


def kafka_producer_sink(delivered: DataFrame, brokers: str, topic: str):
    """K2: produce the ordered per-partition stream to Kafka, preserving
    key/value/partition/timestamp (reference pkg/kafka/producer.go:156-218).

    The frame must already be repartitioned by the stream partition and
    sorted within partitions (as run_ingress_stream's delivery path does) —
    the Kafka sink preserves per-task row order, which is then per-partition
    order.

    Requires the spark-sql-kafka connector jar; this container has no
    broker, so the projection + option contract is pinned by tests instead.
    """
    writer = kafka_sink_frame(delivered).write.format("kafka")
    for k, v in kafka_sink_options(brokers, topic).items():
        writer = writer.option(k, v)
    return writer
