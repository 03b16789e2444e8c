#!/usr/bin/env python3
"""Replicator benchmark: runs one workload and prints one JSON result line.

    python3 replbench/run.py --workload mirror_ticks --seed 1 --seconds 24 --trace 0

Run from the root of a checkout.  Spark runs as ``local[nproc]`` in this
process.  All scratch files (inputs, segment stores, sinks, checkpoints,
Spark local dirs, the event log) live under ``.replbench_work/`` in the
checkout and are removed before exit.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` enables the Spark event log and the
benchmark's spans and reports the per-layer metrics instead.  The line
before the result records the seed, ``nproc``, the Spark version and any
verification problems.  See NOTES.md for what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from replbench import trace  # noqa: E402

#: end-to-end metrics (``--trace 0``): name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}

#: set-up is repeated this many times per run; its median is reported
SETUP_REPS = 3

REDUNDANT_CACHE = "Asked to cache already cached data"

#: spans whose self time (duration minus what their child spans cover) the
#: traced run reports
SELF_TIME_SPANS = (
    "op", "cycle", "egress", "compaction", "ingress", "tick", "egress_stream",
    "ingress_stream", "query", "construct", "catalyst", "action",
    "segments.list", "compaction.merge", "compaction.delete",
)


def per_layer_names() -> dict[str, str]:
    """Per-layer metrics (``--trace 1``): name -> unit."""
    from replbench.suite import TIMED_QUERIES

    names = {"session.get_spark_ms": "ms", "segments.list_ms": "ms", "segments.list_files": "count"}
    for k, u in [
        ("assign_task_ms", "ms"), ("write_task_ms", "ms"), ("shuffle_write_bytes", "bytes"),
        ("write_max_task_ms", "ms"), ("jobs", "count"), ("driver_gap_ms", "ms"),
        ("segments_published", "count"), ("bytes_published", "bytes"), ("msgs_per_s", "1/s"),
    ]:
        names[f"egress.{k}"] = u
    for k, u in [
        ("plan_ms", "ms"), ("delete_ms", "ms"), ("merge_task_ms", "ms"), ("merge_max_task_ms", "ms"),
        ("segments_in", "count"), ("segments_out", "count"), ("bytes_in", "bytes"),
        ("bytes_out", "bytes"), ("delete_failed", "count"), ("jobs", "count"), ("msgs_per_s", "1/s"),
    ]:
        names[f"compaction.{k}"] = u
    parts = ["startup_ms", "latest_offset_ms", "get_batch_ms", "query_planning_ms", "add_batch_ms", "wal_commit_ms"]
    for k in parts:
        names[f"egress_stream.{k}"] = "ms"
    names["egress_stream.batches"] = "count"
    for k in parts:
        names[f"ingress_stream.{k}"] = "ms"
    for k, u in [
        ("scan_dedup_ms", "ms"), ("sink_write_ms", "ms"), ("max_task_ms", "ms"),
        ("shuffle_write_bytes", "bytes"), ("rows_read", "count"), ("useful_read_ratio", "ratio"),
        ("msgs_per_s", "1/s"),
    ]:
        names[f"ingress_stream.{k}"] = u
    for k, u in [
        ("construct_ms", "ms"), ("catalyst_ms", "ms"), ("action_ms", "ms"), ("jobs", "count"),
        ("stages", "count"), ("tasks", "count"), ("task_ms", "ms"), ("shuffle_write_bytes", "bytes"),
        ("driver_gap_ms", "ms"), ("redundant_cache", "count"),
    ]:
        names[f"queries.{k}"] = u
    for q in TIMED_QUERIES:
        names[f"queries.{q}.ms"] = "ms"
    for k, u in [
        ("jobs", "count"), ("tasks", "count"), ("task_ms", "ms"), ("cpu_ms", "ms"),
        ("gc_ms", "ms"), ("core_busy_share", "ratio"),
    ]:
        names[f"spark.{k}"] = u
    for span in SELF_TIME_SPANS:
        names[f"self.{span}_ms"] = "ms"
    names["store.write_amp"] = "ratio"
    names["run.ops"] = "count"
    names["traced.op_p50_s"] = "s"
    return names


def _parse_args(argv=None) -> argparse.Namespace:
    from replbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for every child
    process (JVM, Python workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(trace.process_tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)


def _layer_metrics(wl, tracer, jobs, samples, nproc, jvm_log) -> dict[str, float]:
    """Per-layer values from spans, event-log jobs and workload counters.
    Only spans and jobs inside the timed ops count (the session span aside)."""
    c = wl.counters
    m = {k: 0.0 for k in per_layer_names()}
    by_id = {s.sid: s for s in tracer.spans}

    def chain(s):
        while s is not None:
            yield s
            s = by_id.get(s.parent)

    def timed(name: str) -> list:
        return [s for s in tracer.named(name) if any(a.name == "op" for a in chain(s))]

    def owned(span_names: set[str]) -> list:
        """Timed jobs whose innermost open span at submission is one of
        ``span_names`` or a descendant of one."""
        out = []
        for j in jobs:
            names = {a.name for a in chain(tracer.innermost(j.start))}
            if "op" in names and names & span_names:
                out.append(j)
        return out

    def ms(name: str) -> float:
        return sum(s.dur for s in timed(name)) * 1000

    m["session.get_spark_ms"] = sum(s.dur for s in tracer.named("session")) * 1000
    m["segments.list_ms"] = ms("segments.list")
    m["segments.list_files"] = c.get("segments.list_files", 0)

    eg_spans = timed("egress") + timed("egress_stream")
    eg_jobs = owned({"egress", "egress_stream"})
    writer = trace.stages_with(eg_jobs, "FlatMapGroupsInArrow")
    st = trace.job_stats(eg_jobs)
    m["egress.assign_task_ms"] = sum(s.run_ms for s in trace.stages_with(eg_jobs, "FlatMapGroupsInArrow", False))
    m["egress.write_task_ms"] = sum(s.run_ms for s in writer)
    m["egress.write_max_task_ms"] = max((max(s.task_ms) for s in writer if s.task_ms), default=0.0)
    m["egress.shuffle_write_bytes"] = st["shuffle_write_bytes"]
    m["egress.jobs"] = st["jobs"]
    m["egress.driver_gap_ms"] = trace.driver_gap(eg_spans, eg_jobs) * 1000
    for k in ("segments_published", "bytes_published"):
        m[f"egress.{k}"] = c.get(f"egress.{k}", 0)
    if c.get("egress.s"):
        m["egress.msgs_per_s"] = c["egress.msgs"] / c["egress.s"]

    co_jobs = owned({"compaction"})
    merge = trace.stages_with(co_jobs, "FlatMapGroupsInArrow")
    lists = {s.parent: s for s in timed("segments.list")}
    m["compaction.plan_ms"] = sum(
        (s.start - lists[s.parent].end) * 1000 for s in timed("compaction.merge") if s.parent in lists
    )
    m["compaction.delete_ms"] = ms("compaction.delete")
    m["compaction.merge_task_ms"] = sum(s.run_ms for s in merge)
    m["compaction.merge_max_task_ms"] = max((max(s.task_ms) for s in merge if s.task_ms), default=0.0)
    m["compaction.jobs"] = len(co_jobs)
    for k in ("segments_in", "segments_out", "bytes_in", "bytes_out", "delete_failed"):
        m[f"compaction.{k}"] = c.get(f"compaction.{k}", 0)
    if c.get("compaction.s"):
        m["compaction.msgs_per_s"] = c["compaction.msgs"] / c["compaction.s"]

    for prefix in ("egress_stream", "ingress_stream"):
        for k in ("startup_ms", "latest_offset_ms", "get_batch_ms", "query_planning_ms", "add_batch_ms", "wal_commit_ms"):
            m[f"{prefix}.{k}"] = c.get(f"{prefix}.{k}", 0)
    m["egress_stream.batches"] = c.get("egress_stream.batches", 0)
    ig_jobs = owned({"ingress", "ingress_stream"})
    st = trace.job_stats(ig_jobs)
    m["ingress_stream.scan_dedup_ms"] = sum(s.run_ms for s in trace.stages_with(ig_jobs, "WriteFiles", False))
    m["ingress_stream.sink_write_ms"] = sum(s.run_ms for s in trace.stages_with(ig_jobs, "WriteFiles"))
    m["ingress_stream.max_task_ms"] = st["max_task_ms"]
    m["ingress_stream.shuffle_write_bytes"] = st["shuffle_write_bytes"]
    m["ingress_stream.rows_read"] = c.get("ingress.rows_read", 0)
    if c.get("ingress.rows_read"):
        m["ingress_stream.useful_read_ratio"] = c["ingress.msgs"] / c["ingress.rows_read"]
    if c.get("ingress.s"):
        m["ingress_stream.msgs_per_s"] = c["ingress.msgs"] / c["ingress.s"]

    q_spans = timed("query")
    if q_spans:
        passes = len(timed("op"))
        q_jobs = owned({"query"})
        st = trace.job_stats(q_jobs)
        for part in ("construct", "catalyst", "action"):
            m[f"queries.{part}_ms"] = ms(part) / passes
        for k in ("jobs", "stages", "tasks", "task_ms", "shuffle_write_bytes"):
            m[f"queries.{k}"] = st[k] / passes
        m["queries.driver_gap_ms"] = trace.driver_gap(q_spans, q_jobs) * 1000 / passes
        m["queries.redundant_cache"] = jvm_log.count(REDUNDANT_CACHE)
        for name, v in wl.query_ms().items():
            m[f"queries.{name}.ms"] = v

    st = trace.job_stats(owned({"op"}))
    for k in ("jobs", "tasks", "task_ms", "cpu_ms", "gc_ms"):
        m[f"spark.{k}"] = st[k]
    wall = ms("op") / 1000
    if wall:
        m["spark.core_busy_share"] = st["task_ms"] / 1000 / (wall * nproc)
    if c.get("store.bytes_live"):
        m["store.write_amp"] = c["store.bytes_published"] / c["store.bytes_live"]
    own = trace.self_times(tracer.spans)
    for span in SELF_TIME_SPANS:
        m[f"self.{span}_ms"] = sum(own[s.sid] for s in timed(span)) * 1000
    m["run.ops"] = len(samples)
    m["traced.op_p50_s"] = median(samples) if samples else 0.0
    return m


def run(args, work: str) -> tuple[dict, dict]:
    t_start = time.time()
    import pyspark

    from kafka_replicator_spark import get_spark
    from kafka_replicator_spark.operators import compaction as compaction_mod
    from kafka_replicator_spark.sources import segments as segments_mod
    from replbench import workloads

    nproc = len(os.sched_getaffinity(0))
    tracer = trace.Tracer(bool(args.trace))
    event_dir = os.path.join(work, "events")
    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # the heap is committed up front so that peak_rss_mb does not depend
        # on when G1 decides to grow it
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms2g -XX:+AlwaysPreTouch"
        ),
    }
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    samples: list[float] = []
    cpu_samples: list[float] = []
    with trace.RssSampler() as rss:
        with tracer.span("session") as s_session:
            spark = get_spark(
                app_name=f"replbench_{args.workload}", master=f"local[{nproc}]",
                shuffle_partitions=nproc, extra_conf=extra,
            )
        get_spark_s = s_session.dur
        try:
            wl = workloads.make(args.workload, spark, work, args.seed, tracer)
            prep = []
            for _ in range(SETUP_REPS):
                with tracer.span("prepare") as s:
                    wl.prepare()
                prep.append(s.dur)
            with tracer.span("warm_up") as s:
                wl.warm_up()
            warm_s = s.dur
            setup_s = get_spark_s + median(prep) + warm_s
            t_verify = time.time()
            if hasattr(wl, "verify_outputs"):
                wl.verify_outputs()
            verify_s = time.time() - t_verify

            targets = [
                (segments_mod, "list_segments", "segments.list"),
                (compaction_mod, "merge_segments", "compaction.merge"),
                (compaction_mod, "delete_segment_files", "compaction.delete"),
            ]
            elapsed = 0.0
            t_ops = time.time()
            wl.counters.clear()  # per-layer counts cover the timed ops only
            with trace.wrapped(tracer, targets):
                while elapsed < args.seconds:
                    c0 = trace.tree_cpu_seconds(trace.process_tree())
                    try:
                        with tracer.span("op") as s:
                            out = wl.op()
                    except Exception as ex:  # a failed op is counted; the run reports it
                        wl.record([f"{type(ex).__name__}: {ex}"[:300]], max(wl.ops_per_op, 1))
                        break
                    cpu_samples.append(trace.tree_cpu_seconds(trace.process_tree()) - c0)
                    elapsed += s.dur
                    samples.extend(out)
                    wl.record(wl.check(), wl.ops_per_op)
            if hasattr(wl, "final_check"):
                wl.record(wl.final_check(), 0)
            t_stop = time.time()
        finally:
            _stop_spark(spark)
    jvm_log = ""
    if os.path.exists(os.path.join(work, "stderr.log")):
        with open(os.path.join(work, "stderr.log"), errors="replace") as fh:
            jvm_log = fh.read()
    info = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc,
        "spark_version": pyspark.__version__, "samples_s": [round(x, 3) for x in samples],
        "cpu_s": [round(x, 2) for x in cpu_samples],
        "attempted": wl.attempted, "failed": wl.failed, "problems": wl.problems[:20],
        "peak_rss_mb_per_process": rss.peak_mb,
        "phase_s": {
            "import": round(s_session.start - t_start, 2), "session": round(get_spark_s, 2),
            "prepare": [round(x, 2) for x in prep], "warm_up": round(warm_s, 2),
            "verify": round(verify_s, 2),
            "setup": round(t_ops - s_session.start, 2),
            "ops_and_checks": round(t_stop - t_ops, 2), "stop": round(time.time() - t_stop, 2),
        },
    }
    if args.trace:
        jobs = trace.read_event_log(event_dir)
        metrics = _layer_metrics(wl, tracer, jobs, samples, nproc, jvm_log)
        units = per_layer_names()
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": median(samples) if samples else 0.0,
            "cpu_s_per_op": sum(cpu_samples) / len(samples) if samples else 0.0,
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        units = END_TO_END
    result = {
        "correct": wl.failed == 0 and bool(samples),
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return info, result


def main(argv=None) -> int:
    args = _parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".replbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    # keep every file Spark, Python workers and the JVM write inside the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    # the JVM inherits fd 2: capture its log (counted for redundant-cache
    # warnings, shown when the run fails) and restore stderr afterwards
    real_err = os.dup(2)
    log_fd = os.open(os.path.join(work, "stderr.log"), os.O_WRONLY | os.O_CREAT, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    try:
        info, result = run(args, work)
    except BaseException:
        os.dup2(real_err, 2)
        with open(os.path.join(work, "stderr.log"), errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise
    finally:
        os.dup2(real_err, 2)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
