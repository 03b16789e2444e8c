"""Seeded input generators.

Everything the program under test receives is made here from one integer
seed, so the same seed gives byte-identical inputs:

* :func:`message_stream` — an arrival-ordered Kafka-like message stream
  (dense per-partition offsets, seeded key/payload lengths, a share of
  messages carrying repeated headers);
* :func:`table_corpus` — the ten query-suite tables (TPC-H-like star schema
  plus ``events``, ``documents`` and ``embeddings``) with the column names
  and types the query registry reads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "bench-topic"

HEADER_TYPE = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))

MESSAGE_ARROW_SCHEMA = pa.schema(
    [
        pa.field("topic", pa.string(), nullable=False),
        pa.field("partition_id", pa.int32(), nullable=False),
        pa.field("msg_offset", pa.int64(), nullable=False),
        pa.field("msg_key", pa.binary()),
        pa.field("payload", pa.binary()),
        pa.field("ts_ns", pa.int64()),
        pa.field("headers", HEADER_TYPE),
    ]
)


def _binary(rng: np.random.Generator, lengths: np.ndarray) -> pa.Array:
    """Printable random bytes, one value per entry of ``lengths``."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    data = rng.integers(32, 127, size=int(offsets[-1]), dtype=np.uint8)
    return pa.Array.from_buffers(
        pa.binary(), len(lengths), [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


def message_stream(
    seed: int,
    n: int,
    n_partitions: int = 8,
    hot_share: float | None = None,
    header_share: float = 0.2,
) -> pa.Table:
    """``n`` messages in arrival order over ``n_partitions`` partitions.

    ``hot_share`` sends that share of messages to partition 0 and spreads
    the rest uniformly over the others; ``None`` spreads all uniformly.
    Offsets are dense per partition and increase in arrival order.  Key
    lengths are uniform on [8, 40] bytes, payload lengths log-normal around
    200 bytes (clipped to [16, 4096]); ``header_share`` of the messages
    carry one to three headers.
    """
    rng = np.random.default_rng(seed)
    if hot_share is None:
        part = rng.integers(0, n_partitions, size=n)
    else:
        cold = rng.integers(1, n_partitions, size=n)
        part = np.where(rng.random(n) < hot_share, 0, cold)
    part = part.astype(np.int32)
    # dense per-partition offsets in arrival order: rank within partition
    order = np.argsort(part, kind="stable")
    counts = np.bincount(part, minlength=n_partitions)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    offsets = np.empty(n, dtype=np.int64)
    offsets[order] = np.arange(n, dtype=np.int64) - np.repeat(starts, counts)

    key_len = rng.integers(8, 41, size=n)
    payload_len = np.clip(rng.lognormal(np.log(200.0), 0.6, size=n), 16, 4096).astype(np.int64)
    ts = 1_700_000_000_000_000_000 + np.cumsum(rng.integers(1_000, 2_000_000, size=n))

    n_headers = np.where(rng.random(n) < header_share, rng.integers(1, 4, size=n), 0)
    n_hdr_total = int(n_headers.sum())
    hdr_keys = pa.array([f"h{i}" for i in rng.integers(0, 4, size=n_hdr_total)], pa.string())
    hdr_vals = _binary(rng, rng.integers(8, 33, size=n_hdr_total))
    hdr_offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_headers, out=hdr_offsets[1:])
    headers = pa.ListArray.from_arrays(
        pa.array(hdr_offsets),
        pa.StructArray.from_arrays([hdr_keys, hdr_vals], names=["key", "value"]),
        type=HEADER_TYPE,
    )
    return pa.table(
        [
            pa.array(np.full(n, TOPIC, dtype=object), pa.string()),
            pa.array(part),
            pa.array(offsets),
            _binary(rng, key_len),
            _binary(rng, payload_len),
            pa.array(ts, pa.int64()),
            headers,
        ],
        schema=MESSAGE_ARROW_SCHEMA,
    )


def write_table(table: pa.Table, path: str) -> str:
    """Write ``table`` to ``path`` atomically: a hidden temp name in the same
    directory, then a rename, so a file-stream source never lists a
    half-written file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)
    return path


# --------------------------------------------------------------------------
# query-suite corpus

_WORDS = (
    "a the data spark stream batch row column table key value join hash sort "
    "merge scan filter group agg window order line part customer query vector "
    "small big fast slow"
).split()


def _ts_us(days_from: str, n_days: int, rng: np.random.Generator, n: int) -> pa.Array:
    base = np.datetime64(days_from, "D")
    days = base + rng.integers(0, n_days, size=n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def table_corpus(seed: int, out_dir: str, sf: float = 0.01) -> dict[str, int]:
    """Write the ten query-suite tables for scale factor ``sf`` under
    ``out_dir`` as ``{name}.parquet``; returns the row count per table.
    Row counts follow the TPC-H ratios (lineitem = 6M x sf)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 10)
    n_emb = max(int(50_000 * sf), 10)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, size=n), 2)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)]),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
        }
    )
    adjectives = np.array(["small", "large", "red", "blue", "hot", "cold", "old", "new"])
    nouns = np.array(["ring", "bolt", "widget", "gear", "plate", "rod", "anvil", "gizmo"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
                    nouns[rng.integers(0, 8, n_part)],
                )
            ),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }
    )
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(money(1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts_us("1995-01-01", 2400, rng, n_ord),
            "o_orderpriority": pa.array(priorities[rng.integers(0, 5, n_ord)]),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts_us("1995-01-02", 2500, rng, n_line),
        }
    )
    ev_gap_us = rng.integers(1, 2 * 30 * 86_400_000_000 // n_ev, n_ev)
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(ev_gap_us).astype("timedelta64[us]")
    event_types = np.array(["click", "error", "purchase", "signup", "view"])
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n_ev // 66, 2), n_ev).astype(np.int64)),
            "event_type": pa.array(event_types[rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.exponential(49.6, n_ev) + 0.01, 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]) for _ in range(n_doc)]
    # ~5% near-duplicates: an earlier document with one word appended
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": texts,
            "lang": pa.array(langs[rng.integers(0, len(langs), n_doc)]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
