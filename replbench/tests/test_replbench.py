"""The benchmark's own tests.

    python3 -m pytest replbench/tests -q

The last test runs the benchmark for real (query_suite, both modes), so the
file takes about a minute and a half.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from replbench import gen, run, trace, verify  # noqa: E402


def _files(stream: pa.Table, partition: int, n_files: int = 3) -> list[pa.Table]:
    part = stream.filter(pc.equal(stream.column("partition_id"), partition)).sort_by("msg_offset")
    step = -(-part.num_rows // n_files)
    return [part.slice(i, step) for i in range(0, part.num_rows, step)]


@pytest.fixture(scope="module")
def stream():
    return gen.message_stream(seed=5, n=600, n_partitions=2)


def test_generator_is_seeded_and_dense(stream):
    again = gen.message_stream(seed=5, n=600, n_partitions=2)
    assert stream.equals(again)
    assert not stream.equals(gen.message_stream(seed=6, n=600, n_partitions=2))
    for p in (0, 1):
        offs = sorted(stream.filter(pc.equal(stream.column("partition_id"), p)).column("msg_offset").to_pylist())
        assert offs == list(range(len(offs)))
    assert pc.sum(pc.list_value_length(stream.column("headers"))).as_py() > 0


def test_verifier_accepts_exact_restore(stream):
    expected = stream.filter(pc.equal(stream.column("partition_id"), 0))
    assert verify.check_partition(_files(stream, 0), expected, "p0") == []


def test_verifier_rejects_dropped_message(stream):
    expected = stream.filter(pc.equal(stream.column("partition_id"), 0))
    files = _files(stream, 0)
    files[1] = pa.concat_tables([files[1].slice(0, 5), files[1].slice(6)])
    problems = verify.check_partition(files, expected, "p0")
    assert problems and "1 missing" in problems[0]


def test_verifier_rejects_duplicated_message(stream):
    expected = stream.filter(pc.equal(stream.column("partition_id"), 0))
    files = _files(stream, 0)
    files.append(files[0].slice(3, 1))
    problems = verify.check_partition(files, expected, "p0")
    assert problems and "1 duplicated" in problems[0]


def test_verifier_rejects_reordered_message(stream):
    expected = stream.filter(pc.equal(stream.column("partition_id"), 0))
    files = _files(stream, 0)
    f = files[2]
    files[2] = pa.concat_tables([f.slice(1, 1), f.slice(0, 1), f.slice(2)])
    problems = verify.check_partition(files, expected, "p0")
    assert problems == ["p0: file 2 is not in strictly increasing offset order"]


def test_verifier_rejects_changed_payload(stream):
    expected = stream.filter(pc.equal(stream.column("partition_id"), 0))
    files = _files(stream, 0)
    other = gen.message_stream(seed=9, n=600, n_partitions=2)
    files[0] = files[0].set_column(4, "payload", other.column("payload").slice(0, files[0].num_rows))
    assert verify.check_partition(files, expected, "p0") == ["p0: checksum of keys/payloads/headers differs"]


def test_audit_flags_overlap_count_and_temp(tmp_path, stream):
    part = tmp_path / "bench" / gen.TOPIC / "0" / "1"
    part.mkdir(parents=True)
    rows = stream.slice(0, 10).select(["msg_offset", "payload"])

    def put(start, end, count):
        meta = {b"messageCount": str(count).encode(), b"startOffset": str(start).encode(), b"endOffset": str(end).encode()}
        pq.write_table(rows.replace_schema_metadata(meta), part / f"{start:020d}-{end:020d}.parquet")

    put(0, 9, 10)
    assert verify.audit_store(str(tmp_path)) == []
    put(5, 14, 9)
    (tmp_path / "temp").mkdir()
    (tmp_path / "temp" / "orphan").write_bytes(b"x")
    problems = verify.audit_store(str(tmp_path))
    assert len(problems) == 3
    assert any("messageCount 9 != 10" in p for p in problems)
    assert any("overlap" in p for p in problems)
    assert any("temp/" in p for p in problems)


def test_self_time_on_synthetic_span_tree():
    S = trace.Span
    spans = [
        S(0, "op", None, 0.0, 10.0),
        S(1, "egress", 0, 1.0, 4.0),
        S(2, "compaction", 0, 3.0, 6.0),  # overlaps egress: counted once
        S(3, "ingress", 0, 9.0, 12.0),  # runs past its parent: clipped
        S(4, "list", 2, 3.5, 4.0),
        S(5, "delete", 2, 5.0, 5.5),
    ]
    own = trace.self_times(spans)
    assert own[0] == pytest.approx(10.0 - (5.0 + 1.0))
    assert own[1] == pytest.approx(3.0)
    assert own[2] == pytest.approx(3.0 - 1.0)
    assert own[3] == pytest.approx(3.0)
    assert own[4] == pytest.approx(0.5)
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_driver_gap_counts_uncovered_span_time():
    sp = [trace.Span(0, "egress", None, 0.0, 10.0)]
    jobs = [trace.Job(0, 1.0, 3.0, []), trace.Job(1, 2.0, 4.0, []), trace.Job(2, 9.0, 11.0, [])]
    assert trace.driver_gap(sp, jobs) == pytest.approx(10.0 - 3.0 - 1.0)


def test_benchmark_json_names_match_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_names()
    from replbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("mode", [0, 1])
def test_a_run_emits_every_benchmark_name(mode):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {m["name"] for m in bench["per_layer" if mode else "end_to_end"]}
    p = subprocess.run(
        [sys.executable, "replbench/run.py", "--workload", "query_suite", "--seed", "3", "--seconds", "1", "--trace", str(mode)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == want
