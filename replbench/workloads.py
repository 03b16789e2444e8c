"""The workloads.

Each workload is driven only through the package's public functions and
exposes the same life cycle to ``run.py``:

* ``prepare()`` — make the seeded inputs (timed as set-up, repeated);
* ``warm_up()`` — untimed operations so caches and lazy set-up are filled
  before timing (timed as set-up, once);
* ``op()`` — one timed operation; returns its samples in seconds and
  leaves whatever ``check()`` needs; ``ops_per_op`` says how many program
  calls, ticks or queries it made;
* ``check()`` — verification outside the timed window; returns problems.

``counters`` accumulates per-layer counts that need no event log.
"""

from __future__ import annotations

import os
import shutil
from statistics import median

import pyarrow as pa
import pyarrow.parquet as pq

from replbench import gen, verify
from replbench.suite import TIMED_QUERIES
from replbench.trace import Tracer

REGION = "bench"


class Workload:
    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.counters: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def count(self, key: str, value: float = 1) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    def record(self, problems: list[str], ops: int = 1) -> None:
        """``ops`` attempted operations (program calls, ticks or queries);
        one of them counts as failed if any check found a problem."""
        self.attempted += ops
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    def count_delete_failed(self) -> None:
        """Count inputs a traced compaction asked to delete that are still on
        disk; each delete span is counted once."""
        for s in self.tracer.named("compaction.delete"):
            if "args" in s.attrs:
                paths = s.attrs.pop("args")[0]
                self.count("compaction.delete_failed", sum(os.path.exists(p) for p in paths))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _stream_progress(q, wall: float, counters: dict, prefix: str) -> None:
    """Fold a finished availableNow query's progress reports into counters:
    the five ``durationMs`` parts, the batch count and the start-up (wall
    time not covered by any trigger)."""
    parts = {
        "latestOffset": "latest_offset_ms",
        "getBatch": "get_batch_ms",
        "queryPlanning": "query_planning_ms",
        "addBatch": "add_batch_ms",
        "walCommit": "wal_commit_ms",
    }
    triggers = 0.0
    for p in q.recentProgress:
        d = p["durationMs"]
        for k, name in parts.items():
            counters[f"{prefix}.{name}"] = counters.get(f"{prefix}.{name}", 0) + d.get(k, 0)
        triggers += d.get("triggerExecution", 0)
        counters[f"{prefix}.batches"] = counters.get(f"{prefix}.batches", 0) + 1
    counters[f"{prefix}.startup_ms"] = counters.get(f"{prefix}.startup_ms", 0) + max(
        wall * 1000 - triggers, 0.0
    )


def _delivered(state_path: str) -> int:
    from kafka_replicator_spark.streaming.ingress_stream import IngressState

    return sum(IngressState.load(state_path).messages_produced.values())


def _rows(paths) -> int:
    return sum(pq.read_metadata(p).num_rows for p in paths)


class Replicate(Workload):
    """Full egress → compaction → ingress cycle over one seeded stream,
    restored into a parquet sink.  Every cycle starts from an empty store."""

    n_msgs = 60_000
    n_partitions = 8
    ops_per_op = 3  # egress, compaction and ingress calls

    def __init__(self, *a, hot: bool, **kw):
        super().__init__(*a, **kw)
        self.hot = hot
        self.cycle = 0

    def prepare(self) -> None:
        hot = 0.9 if self.hot else None
        self.stream = gen.message_stream(self.seed, self.n_msgs, self.n_partitions, hot_share=hot)
        self.warm_stream = gen.message_stream(self.seed + 1, self.n_msgs // 10, self.n_partitions, hot_share=hot)
        self.src = gen.write_table(self.stream, self.path("input.parquet"))
        self.warm_src = gen.write_table(self.warm_stream, self.path("warm_input.parquet"))

    def warm_up(self) -> None:
        """One cycle over a stream a tenth the size, with segment sizes
        scaled to match: it takes every code path of a timed cycle and fills
        the JIT and Python-worker caches, which cost the same at any size."""
        self.op(self.warm_src, self.warm_stream.num_rows)
        self.record(self.check(self.warm_stream), self.ops_per_op)

    def op(self, src: str | None = None, n: int | None = None) -> list[float]:
        from kafka_replicator_spark.operators.compaction import compact
        from kafka_replicator_spark.operators.egress import assign_segments_greedy, write_segments
        from kafka_replicator_spark.streaming.ingress_stream import run_ingress_stream

        self.cycle += 1
        c = f"c{self.cycle}"
        store, sink = self.path(c, "store"), self.path(c, "sink")
        self.state = self.path(c, "state.json")
        self.store, self.sink = store, sink
        n = n or self.n_msgs
        msgs = self.spark.read.parquet(src or self.src)
        t = self.tracer
        with t.span("cycle") as cycle:
            with t.span("egress") as eg:
                tagged = assign_segments_greedy(msgs, max_bytes=64 << 20, max_messages=n // 64)
                published = write_segments(tagged, root=store, region=REGION, level=0).collect()
            with t.span("compaction") as co:
                merged = compact(
                    self.spark, store, region=REGION, min_count=2, min_bytes=1,
                    max_output_messages=n // 8,
                ).collect()
            with t.span("ingress") as ig:
                q = run_ingress_stream(self.spark, os.path.join(store, REGION), sink, self.path(c, "cp"), self.state)
        self.count("egress.msgs", sum(r["message_count"] for r in published))
        self.count("egress.s", eg.dur)
        self.count("egress.segments_published", len(published))
        self.count("egress.bytes_published", sum(r["size_bytes"] for r in published))
        self.count("compaction.msgs", sum(r["message_count"] for r in merged))
        self.count("compaction.s", co.dur)
        self.count("compaction.segments_out", len(merged))
        self.count("compaction.bytes_out", sum(r["size_bytes"] for r in merged))
        self.count("ingress.s", ig.dur)
        _stream_progress(q, ig.dur, self.counters, "ingress_stream")
        self.published = published
        self.merged = merged
        return [cycle.dur]

    def check(self, expected: pa.Table | None = None) -> list[str]:
        expected = self.stream if expected is None else expected
        self.count_delete_failed()
        self.count("segments.list_files", len(self.published))
        live = verify.list_store(self.store)
        gone = [r for r in self.published if r["path"] not in live]
        self.count("compaction.segments_in", len(gone))
        self.count("compaction.bytes_in", sum(r["size_bytes"] for r in gone))
        self.count("store.bytes_live", sum(live.values()))
        self.count("store.bytes_published", sum(r["size_bytes"] for r in self.published + self.merged))
        delivered = _delivered(self.state)
        self.count("ingress.msgs", delivered)
        self.count("ingress.rows_read", _rows(live))
        problems = verify.audit_store(self.store) + verify.check_restore(self.sink, expected)
        if delivered != expected.num_rows:
            problems.append(f"ingress meters report {delivered} delivered, expected {expected.num_rows}")
        shutil.rmtree(self.path(f"c{self.cycle}"), ignore_errors=True)
        return problems


class MirrorTicks(Workload):
    """Closed loop of small drops: each tick lands one file and runs
    ``run_egress_stream`` then ``run_ingress_stream`` on the same
    checkpoints; ``compact`` runs after every ``ticks_per_compaction``-th
    tick.  One op is one round of ``ticks_per_compaction`` ticks and the
    compaction that ends it; its samples are the ticks' lags.  The first
    tick of a round re-reads the files the previous compaction wrote and is
    slower, so timing whole rounds keeps that share of the samples fixed
    and their median steady."""

    drop_msgs = 4_000
    n_partitions = 8
    ticks_per_compaction = 4
    warm_ticks = 2
    max_ticks = 40

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.tick = 0
        self.seen: set[str] = set()
        self.compacted: set[str] = set()
        self.published_bytes = 0  # egress + compaction output, warm-up included
        self.ops_per_op = self.ticks_per_compaction + 1
        for d in ("drops", "store", "sink"):
            os.makedirs(self.path(d), exist_ok=True)

    def prepare(self) -> None:
        self.stream = gen.message_stream(self.seed, self.drop_msgs * self.max_ticks, self.n_partitions)

    def warm_up(self) -> None:
        """Two ticks and one compaction, so the first timed tick re-reads
        freshly compacted files."""
        for _ in range(self.warm_ticks):
            self._tick()
        self._compact()
        self.record(self.check(), self.warm_ticks + 1)
        self.warm_delivered = _delivered(self.path("state.json"))

    def op(self) -> list[float]:
        lags = [self._tick() for _ in range(self.ticks_per_compaction)]
        self._compact()
        return lags

    def _tick(self) -> float:
        from kafka_replicator_spark.streaming.egress_stream import run_egress_stream
        from kafka_replicator_spark.streaming.ingress_stream import run_ingress_stream

        if self.tick >= self.max_ticks:
            raise RuntimeError(f"mirror_ticks: generated stream holds only {self.max_ticks} drops")
        drop = self.stream.slice(self.tick * self.drop_msgs, self.drop_msgs)
        gen.write_table(drop, self.path("drops", f"drop-{self.tick:05d}.parquet"))
        self.tick += 1
        t = self.tracer
        with t.span("tick") as tick:
            with t.span("egress_stream") as eg:
                qe = run_egress_stream(
                    self.spark, self.path("drops"), self.path("store"), self.path("egress_cp"),
                    REGION, max_bytes=64 << 20, max_messages=self.drop_msgs,
                )
            with t.span("ingress_stream") as ig:
                qi = run_ingress_stream(
                    self.spark, self.path("store", REGION), self.path("sink"),
                    self.path("ingress_cp"), self.path("state.json"),
                )
        _stream_progress(qe, eg.dur, self.counters, "egress_stream")
        _stream_progress(qi, ig.dur, self.counters, "ingress_stream")
        written = sum(v["messagesWritten"] for v in qe.egress_stats.values())
        self.count("egress.msgs", written)
        self.count("egress.s", eg.dur)
        self.count("egress.segments_published", sum(v["segmentsWritten"] for v in qe.egress_stats.values()))
        self.count("ingress.s", ig.dur)
        # files the ingress source consumed this tick: live now, unseen before;
        # all of them except the previous round's compaction outputs are
        # this tick's egress segments
        live = verify.list_store(self.path("store"))
        new = [p for p in live if p not in self.seen]
        self.seen |= set(live)
        egress_bytes = sum(live[p] for p in new if p not in self.compacted)
        self.published_bytes += egress_bytes
        self.count("egress.bytes_published", egress_bytes)
        self.count("ingress.rows_read", _rows(new))
        return tick.dur

    def _compact(self) -> None:
        from kafka_replicator_spark.operators.compaction import compact

        before = verify.list_store(self.path("store"))
        with self.tracer.span("compaction") as co:
            merged = compact(self.spark, self.path("store"), region=REGION, min_count=2, min_bytes=1).collect()
        self.count_delete_failed()
        self.count("segments.list_files", len(before))
        after = verify.list_store(self.path("store"))
        gone = [p for p in before if p not in after]
        self.count("compaction.msgs", sum(r["message_count"] for r in merged))
        self.count("compaction.s", co.dur)
        self.count("compaction.segments_out", len(merged))
        self.count("compaction.bytes_out", sum(r["size_bytes"] for r in merged))
        self.published_bytes += sum(r["size_bytes"] for r in merged)
        self.count("compaction.segments_in", len(gone))
        self.count("compaction.bytes_in", sum(before[p] for p in gone))
        self.compacted = {r["path"] for r in merged}

    def check(self) -> list[str]:
        return verify.audit_store(self.path("store"))

    def final_check(self) -> list[str]:
        """The sink must hold exactly every message dropped so far."""
        delivered = _delivered(self.path("state.json"))
        self.count("ingress.msgs", delivered - self.warm_delivered)  # timed ticks only, as rows_read
        live = verify.list_store(self.path("store"))
        self.count("store.bytes_live", sum(live.values()))
        self.count("store.bytes_published", self.published_bytes)
        expected = self.stream.slice(0, self.tick * self.drop_msgs)
        problems = verify.check_restore(self.path("sink"), expected)
        if delivered != expected.num_rows:
            problems.append(f"ingress meters report {delivered} delivered, expected {expected.num_rows}")
        return problems


class QuerySuite(Workload):
    """The pinned query set at a generated sf0.01 corpus through the noop
    sink.  One op is one pass over the set; each query's output is checked
    once per invocation against its DuckDB oracle."""

    sf = 0.01
    ops_per_op = 0  # op() records each query itself

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from kafka_replicator_spark.queries import all_queries

        self.registry = all_queries()
        self.sf_dir = self.path("corpus")
        self.query_s: dict[str, list[float]] = {n: [] for n in TIMED_QUERIES}

    def prepare(self) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        gen.table_corpus(self.seed, self.sf_dir, self.sf)

    def warm_up(self) -> None:
        """Two untimed passes, so the timed passes run warm plans."""
        for _ in range(2):
            for name in TIMED_QUERIES:
                q = self.registry[name]
                q.fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                self.spark.catalog.clearCache()

    def verify_outputs(self) -> None:
        for name, problem in verify.check_queries(self.spark, self.registry, TIMED_QUERIES, self.sf_dir).items():
            self.record([f"{name}: {problem}"] if problem else [])

    def run_query(self, name: str) -> float:
        """Construct, (traced only) plan, and materialize one query."""
        t = self.tracer
        q = self.registry[name]
        with t.span("query", query=name) as qs:
            with t.span("construct"):
                df = q.fn(self.spark, self.sf_dir)
            if t.enabled:
                with t.span("catalyst"):
                    df._jdf.queryExecution().executedPlan()
            with t.span("action"):
                df.write.format("noop").mode("overwrite").save()
        self.spark.catalog.clearCache()
        self.query_s[name].append(qs.dur)
        return qs.dur

    def op(self) -> list[float]:
        total = 0.0
        for name in TIMED_QUERIES:
            try:
                total += self.run_query(name)
                self.record([])
            except Exception as ex:  # a failing query is counted, not fatal
                self.record([f"{name}: {type(ex).__name__}: {ex}"[:300]])
        return [total]

    def check(self) -> list[str]:
        return []

    def query_ms(self) -> dict[str, float]:
        return {n: median(v) * 1000 if v else 0.0 for n, v in self.query_s.items()}


def make(name: str, spark, work: str, seed: int, tracer: Tracer) -> Workload:
    if name == "replicate_uniform":
        return Replicate(spark, work, seed, tracer, hot=False)
    if name == "replicate_hot":
        return Replicate(spark, work, seed, tracer, hot=True)
    if name == "mirror_ticks":
        return MirrorTicks(spark, work, seed, tracer)
    if name == "query_suite":
        return QuerySuite(spark, work, seed, tracer)
    raise ValueError(f"unknown workload {name!r}")


#: workloads run.py accepts; BENCHMARK.json lists all but ``replicate_hot``
WORKLOADS = ("replicate_uniform", "replicate_hot", "mirror_ticks", "query_suite")
