"""Seeded input generators. The same seed gives byte-identical inputs.

The program under test only ever sees what these functions write:

- ``write_tables``: the ten base tables (TESTDATA.md schema) as
  single-row-group parquet files, shaped like the sf0.01 test data;
- ``log_lines``: FIXTURES F1 ``LogRecord`` JSON lines with a fixed share
  of malformed rows (non-JSON, or no ``created``);
- ``doc_batch`` / ``vec_batch``: append batches with fresh ids, part of
  them near or exact duplicates of base rows;
- ``plan_order``: the seeded order of a query pass.
"""

from __future__ import annotations

import json
import os
import uuid
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the generated base tables (sf0.01 shape).
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
VOCAB = (
    "the a join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DIM = 64
# Per 100 log lines: non-JSON lines and records without ``created``.
BAD_NONJSON_PER_100 = 2
BAD_NOCREATED_PER_100 = 2


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start: str, days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, days, n).astype("timedelta64[D]")


def _doc_text(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def _near_copy(rng, text: str) -> str:
    words = text.split()
    words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(words) + " dup"


def unit_vectors(rng, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def write_tables(out_dir: str, seed: int, tables=None) -> dict[str, int]:
    """Write the base tables named in ``tables`` (default: all ten)
    under ``out_dir``; return their row counts. Every table is drawn
    from the one seeded stream, so a table's bytes do not depend on
    which others are written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = SIZES
    counts = {"region": 5, "nation": 25, **n}
    wanted = set(counts if tables is None else tables)

    def _write(name: str, cols: dict) -> None:
        if name in wanted:
            pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                           row_group_size=1 << 30)

    _write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write("customer", {
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n["customer"]),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n["customer"]),
    })
    _write("supplier", {
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n["supplier"]),
    })
    adj = ("cold", "small", "large", "red", "blue", "shiny", "old")
    noun = ("widget", "gadget", "bolt", "gear", "panel")
    prices = np.round(900 + np.arange(n["part"]) * 0.1 % 1100, 2)
    _write("part", {
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, len(adj), n["part"]),
            rng.integers(0, len(noun), n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": prices,
    })
    o_dates = _dates(rng, "1995-01-01", 2404, n["orders"])
    _write("orders", {
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000, 400000, n["orders"]),
        "o_orderdate": pa.array(o_dates, pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n["orders"]),
    })
    li_order = np.sort(rng.integers(0, n["orders"], n["lineitem"]))
    _, first = np.unique(li_order, return_index=True)
    linenumber = np.arange(n["lineitem"]) - np.repeat(first, np.diff(np.append(first, n["lineitem"]))) + 1
    qty = rng.integers(1, 51, n["lineitem"]).astype(float)
    partkey = rng.integers(0, n["part"], n["lineitem"])
    ship = o_dates[li_order] + rng.integers(1, 122, n["lineitem"]).astype("timedelta64[D]")
    _write("lineitem", {
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * prices[partkey], 2),
        "l_discount": np.round(rng.integers(0, 11, n["lineitem"]) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n["lineitem"]) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
        "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    ne = n["events"]
    gaps = rng.exponential(30 * 86400e6 / ne, ne).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write("events", {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    texts: list[str] = []
    for i in range(n["documents"]):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(_near_copy(rng, texts[int(rng.integers(0, i))]))
        else:
            texts.append(_doc_text(rng, int(rng.integers(10, 100))))
    _write("documents", {
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n["documents"]),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = unit_vectors(rng, n["embeddings"])
    _write("embeddings", {
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
    })
    return {t: c for t, c in counts.items() if t in wanted}


def plan_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The seeded order of one pass over ``names``."""
    rng = np.random.default_rng([seed, pass_no])
    return [names[i] for i in rng.permutation(len(names))]


# ---------------------------------------------------------------------------
# F1 log records
# ---------------------------------------------------------------------------

_EPOCH = datetime(2024, 3, 1, tzinfo=timezone.utc)


def log_lines(seed: int, file_no: int, rows: int) -> tuple[list[str], int, int]:
    """One landing file of F1 records: ``(lines, n_good, n_bad)``.

    Each good record's ``message`` is ``f<file_no>-r<row>``, so a sink
    row names the file it came from. Exactly ``rows * 4 / 100`` rows
    are bad, at seeded positions."""
    rng = np.random.default_rng([seed, 7, file_no])
    n_nonjson = rows * BAD_NONJSON_PER_100 // 100
    n_nocreated = rows * BAD_NOCREATED_PER_100 // 100
    bad = rng.permutation(rows)[: n_nonjson + n_nocreated]
    nonjson, nocreated = set(bad[:n_nonjson].tolist()), set(bad[n_nonjson:].tolist())
    lines = []
    for r in range(rows):
        if r in nonjson:
            lines.append(f"<<garbled frame f{file_no}-r{r}>>")
            continue
        created = _EPOCH + timedelta(seconds=file_no * 60 + r * 0.01)
        rec = {
            "name": "perfbench", "msg": "payload %s", "args": [r],
            "levelname": "INFO", "levelno": 20,
            "pathname": "perfbench/gen.py", "filename": "gen.py",
            "module": "gen", "exc_text": None, "stack_info": None,
            "lineno": int(rng.integers(1, 500)), "funcName": "log_lines",
            "created": created.timestamp(), "msecs": 0.0,
            "relativeCreated": float(r), "thread": 1,
            "threadName": "MainThread", "processName": "MainProcess",
            "process": 1,
            "correlation_id": str(uuid.UUID(bytes=rng.bytes(16), version=4)),
            "message": f"f{file_no}-r{r}",
            "created_iso": created.isoformat(),
            "random_timing_data": round(float(rng.random()), 6),
        }
        if r in nocreated:
            del rec["created"]
        lines.append(json.dumps(rec))
    return lines, rows - len(bad), len(bad)


# ---------------------------------------------------------------------------
# Append batches for the prepared indexes
# ---------------------------------------------------------------------------

FRESH_ID_BASE = 10_000_000


def doc_batch(seed: int, batch_no: int, base_texts: list[str], n: int):
    """``(rows, exact_dup_pairs)`` for one document append batch. A
    quarter of the rows copy a base document's text verbatim (the
    pairs are ``(base_id, new_id)``), a quarter are near copies."""
    rng = np.random.default_rng([seed, 11, batch_no])
    rows, dups = [], []
    for i in range(n):
        doc_id = FRESH_ID_BASE + batch_no * 1000 + i
        kind = i % 4
        if kind < 2:
            src = int(rng.integers(0, len(base_texts)))
            text = base_texts[src] if kind == 0 else _near_copy(rng, base_texts[src])
            if kind == 0:
                dups.append((src, doc_id))
        else:
            text = _doc_text(rng, int(rng.integers(10, 100)))
        rows.append((doc_id, text, LANGS[int(rng.integers(0, len(LANGS)))],
                     f"src{doc_id % 20}", len(text)))
    return rows, dups


def vec_batch(seed: int, batch_no: int, base_vecs: np.ndarray, base_labels, n: int):
    """Rows ``(vec_id, embedding, label)``: perturbed base vectors,
    renormalized, keeping the base vector's label."""
    rng = np.random.default_rng([seed, 13, batch_no])
    src = rng.integers(0, len(base_vecs), n)
    v = base_vecs[src] + 0.05 * unit_vectors(rng, n)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return [
        (FRESH_ID_BASE + batch_no * 1000 + i, [float(x) for x in v[i]],
         int(base_labels[src[i]]))
        for i in range(n)
    ]
