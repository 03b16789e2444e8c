"""Output checks, run outside the timed window.

* :func:`check_restore` — the ingress sink must equal the generated stream:
  per partition dense offsets with no gap or duplicate, offset order inside
  every sink file, and a per-partition checksum of keys, payloads and
  headers in offset order.
* :func:`audit_store` — the segment store after compaction: footer
  ``messageCount`` equals the row count, footer extents match the object
  name, live extents of one partition never overlap, and no ``temp/``
  object is left behind.
* :func:`check_queries` — each query-suite output against its DuckDB
  oracle through the repository's own comparator (``tests/oracle_utils.py``,
  imported read-only).
"""

from __future__ import annotations

import importlib.util
import os
import re
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_SINK_PART = re.compile(r"partition_id=(\d+)")
_SEGMENT = re.compile(r"(\d{20})-(\d{20})\.parquet$")


def _checksum(t: pa.Table) -> int:
    """CRC over keys, payloads and headers of ``t`` in row order."""
    crc = 0
    for col in ("msg_key", "payload"):
        arr = t.column(col).combine_chunks()
        lengths = pc.fill_null(pc.binary_length(arr), -1).to_numpy(zero_copy_only=False)
        crc = zlib.crc32(np.ascontiguousarray(lengths, dtype=np.int64).tobytes(), crc)
        crc = zlib.crc32(b"".join(v for v in arr.to_pylist() if v is not None), crc)
    hdrs = t.column("headers").combine_chunks()
    counts = pc.fill_null(pc.list_value_length(hdrs), -1).to_numpy(zero_copy_only=False)
    crc = zlib.crc32(np.ascontiguousarray(counts, dtype=np.int64).tobytes(), crc)
    flat = pc.list_flatten(hdrs)
    if len(flat):
        crc = zlib.crc32("\x00".join(flat.field("key").to_pylist()).encode(), crc)
        crc = zlib.crc32(b"\x00".join(flat.field("value").to_pylist()), crc)
    return crc


def check_partition(files: list[pa.Table], expected: pa.Table, label: str) -> list[str]:
    """Problems found in one partition's sink files against the expected
    messages (``expected`` holds that partition's rows, any order)."""
    problems = []
    for i, f in enumerate(files):
        offs = f.column("msg_offset").to_numpy()
        if len(offs) > 1 and not (offs[1:] > offs[:-1]).all():
            problems.append(f"{label}: file {i} is not in strictly increasing offset order")
    got = pa.concat_tables([f.select(["msg_offset", "msg_key", "payload", "headers"]) for f in files]) if files else None
    exp = expected.sort_by("msg_offset")
    exp_offs = exp.column("msg_offset").to_numpy()
    if got is None:
        return problems + [f"{label}: nothing delivered, expected {len(exp_offs)}"]
    got = got.sort_by("msg_offset")
    offs = got.column("msg_offset").to_numpy()
    if len(offs) != len(exp_offs) or not np.array_equal(offs, exp_offs):
        dup = int(np.sum(offs[1:] == offs[:-1])) if len(offs) > 1 else 0
        missing = len(np.setdiff1d(exp_offs, offs))
        problems.append(
            f"{label}: offsets differ: {len(offs)} delivered, {len(exp_offs)} expected, "
            f"{dup} duplicated, {missing} missing"
        )
        return problems
    if _checksum(got) != _checksum(exp):
        problems.append(f"{label}: checksum of keys/payloads/headers differs")
    return problems


def check_restore(sink_dir: str, expected: pa.Table) -> list[str]:
    """Compare the ingress sink under ``sink_dir`` with ``expected``."""
    files: dict[int, list[pa.Table]] = {}
    for dirpath, _dirs, names in os.walk(sink_dir):
        m = _SINK_PART.search(dirpath)
        for name in sorted(names):
            if name.endswith(".parquet") and m:
                files.setdefault(int(m.group(1)), []).append(
                    pq.read_table(os.path.join(dirpath, name), partitioning=None)
                )
    problems = []
    parts = pc.unique(expected.column("partition_id")).to_pylist()
    for p in sorted(set(parts) | set(files)):
        exp = expected.filter(pc.equal(expected.column("partition_id"), p))
        problems += check_partition(files.get(p, []), exp, f"partition {p}")
    return problems


def list_store(store_root: str) -> dict[str, int]:
    """Live segment objects under ``store_root`` → size in bytes."""
    out = {}
    for dirpath, _dirs, names in os.walk(store_root):
        if os.path.basename(dirpath) == "temp":
            continue
        for name in names:
            if _SEGMENT.search(name):
                path = os.path.join(dirpath, name)
                out[path] = os.path.getsize(path)
    return out


def audit_store(store_root: str) -> list[str]:
    """Read-only audit of a segment store (see module docstring)."""
    problems = []
    temp = os.path.join(store_root, "temp")
    if os.path.isdir(temp) and os.listdir(temp):
        problems.append(f"{len(os.listdir(temp))} objects left under temp/")
    extents: dict[str, list[tuple[int, int, str]]] = {}
    for path in list_store(store_root):
        start, end = (int(x) for x in _SEGMENT.search(path).groups())
        meta = pq.read_metadata(path)
        kv = {k.decode(): v.decode() for k, v in (meta.metadata or {}).items()}
        if int(kv.get("messageCount", -1)) != meta.num_rows:
            problems.append(f"{path}: footer messageCount {kv.get('messageCount')} != {meta.num_rows} rows")
        if (int(kv.get("startOffset", -1)), int(kv.get("endOffset", -1))) != (start, end):
            problems.append(f"{path}: footer extent differs from the object name")
        extents.setdefault(os.path.dirname(os.path.dirname(path)), []).append((start, end, path))
    for part, ext in extents.items():
        ext.sort()
        for (s0, e0, p0), (s1, e1, p1) in zip(ext, ext[1:]):
            if s1 <= e0:
                problems.append(f"{part}: live extents overlap: [{s0},{e0}] and [{s1},{e1}]")
    return problems


def _comparator():
    """``assert_frames_match`` from the repository's oracle helpers, loaded
    from its file without importing the test package."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("replbench_oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(spark, registry, names: list[str], sf_dir: str) -> dict[str, str | None]:
    """Run each named query once, collect it and compare with its DuckDB
    oracle (row count only when the query has no oracle SQL).  Returns
    name → problem, or None when the output matched."""
    oracle = _comparator()
    con = oracle.duck_connection(sf_dir)
    out: dict[str, str | None] = {}
    try:
        for name in names:
            q = registry[name]
            try:
                got = q.fn(spark, sf_dir).toPandas()
                if q.oracle is None:
                    n = q.fn(spark, sf_dir).count()
                    out[name] = None if n == len(got) else f"row count {len(got)} vs {n}"
                else:
                    exp = con.execute(q.oracle).fetchdf()
                    oracle.assert_frames_match(got, exp, name)
                    out[name] = None
            except Exception as ex:  # one broken query must not stop the check
                out[name] = f"{type(ex).__name__}: {ex}"[:300]
            finally:
                spark.catalog.clearCache()
    finally:
        con.close()
    return out
