"""Property tests for the commit-receipt content digest (VERDICT r9
#1, hardened across review passes 1-5): the digest is the identity of
a batch partition's row MULTISET, so it must be

- INVARIANT under everything a legitimate checkpoint replay can
  change: row order within files, how rows are split across files,
  file names, column order;
- SENSITIVE to everything a phantom rewrite changes: any single row's
  content, a row added/removed, and — the pass-2 finding that forced
  the SUM fold over XOR — a change in row MULTIPLICITY that preserves
  the row set ([X, X, Y] vs [Z, Z, Y] style even-count swaps).

Driven by Hypothesis over generated row tables; pure pyarrow, no
Spark session.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from venus_spark.streaming import _partition_content_digest

# rows: (kv-ish string, id, double) — the sink tables' type classes
_ROW = st.tuples(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=8
    ),
    st.integers(min_value=-(2**40), max_value=2**40),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
)


def _write_partition(root: str, rows: list[tuple], splits: list[int]) -> list[str]:
    """Write ``rows`` into files of sizes ``splits`` under a
    ``_batch_id=0`` partition dir; returns the sorted file names."""
    part = os.path.join(root, "t", "_batch_id=0")
    os.makedirs(part, exist_ok=True)
    for f in os.listdir(part):
        os.remove(os.path.join(part, f))
    names = []
    i = 0
    for k, n in enumerate(splits):
        chunk = rows[i : i + n]
        i += n
        tbl = pa.table(
            {
                "kv": [r[0] for r in chunk],
                "event_id": [r[1] for r in chunk],
                "value": [r[2] for r in chunk],
            }
        )
        name = f"part-{k}.parquet"
        pq.write_table(tbl, os.path.join(part, name))
        names.append(name)
    assert i == len(rows)
    return sorted(names)


def _digest(root: str, rows, splits):
    files = _write_partition(root, rows, splits)
    return _partition_content_digest(root, "t", 0, files)


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(_ROW, min_size=1, max_size=24),
    data=st.data(),
)
def test_digest_invariant_under_replay_shapes(tmp_path_factory, rows, data):
    """Same multiset, any order / file split / file names -> same
    digest (a replay's rewrite must digest-equal)."""
    root = str(tmp_path_factory.mktemp("dig"))
    base = _digest(root, rows, [len(rows)])

    perm = data.draw(st.permutations(rows))
    # a random file split covering all rows
    splits = []
    left = len(perm)
    while left:
        n = data.draw(st.integers(min_value=1, max_value=left))
        splits.append(n)
        left -= n
    again = _digest(root, list(perm), splits)
    assert again == base
    assert again["rows"] == len(rows)

    # column-ORDER invariance (review r10 pass-6 #3): a rewrite that
    # stores columns in a different physical order digests equal —
    # the canonicalization sorts by column name
    part = os.path.join(root, "t", "_batch_id=0")
    for f in os.listdir(part):
        os.remove(os.path.join(part, f))
    tbl = pa.table(
        {
            "value": [r[2] for r in rows],
            "kv": [r[0] for r in rows],
            "event_id": [r[1] for r in rows],
        }
    )
    pq.write_table(tbl, os.path.join(part, "permuted.parquet"))
    assert (
        _partition_content_digest(root, "t", 0, ["permuted.parquet"]) == base
    )


@settings(max_examples=40, deadline=None)
@given(rows=st.lists(_ROW, min_size=1, max_size=16), data=st.data())
def test_digest_sensitive_to_content_and_multiplicity(
    tmp_path_factory, rows, data
):
    """Phantom shapes digest-differ: a mutated row, a dropped row, and
    the even-multiplicity swap XOR could not see."""
    root = str(tmp_path_factory.mktemp("dig"))
    base = _digest(root, rows, [len(rows)])

    # mutate one row's id (keeps count identical)
    i = data.draw(st.integers(min_value=0, max_value=len(rows) - 1))
    mutated = list(rows)
    r = mutated[i]
    mutated[i] = (r[0], r[1] + 1, r[2])
    assert _digest(root, mutated, [len(mutated)]) != base

    # drop one row (footer row-count gate also catches this; the
    # digest must too, independently)
    dropped = rows[:i] + rows[i + 1 :]
    if dropped:
        assert _digest(root, dropped, [len(dropped)]) != base

    # the XOR-blind spot: replace a duplicated pair [X, X] with a
    # different duplicated pair [Z, Z] — row count unchanged, XOR of
    # per-row hashes unchanged (h^h = 0 either way), SUM must differ
    x = rows[i]
    z = (x[0] + "!", x[1] ^ 1, x[2])
    with_xx = rows + [x, x]
    with_zz = rows + [z, z]
    dx = _digest(root, with_xx, [len(with_xx)])
    dz = _digest(root, with_zz, [len(with_zz)])
    assert dx["rows"] == dz["rows"]
    assert dx != dz


def _mixed_type_partition(root: str) -> list[str]:
    """A partition exercising the sink tables' type classes plus the
    canonicalization-sensitive ones (timestamps, NULLs, unicode), split
    across files AND row groups."""
    import datetime as dt

    part = os.path.join(root, "t", "_batch_id=0")
    os.makedirs(part, exist_ok=True)
    rows = [
        ("k=1", 1, 1.5, dt.datetime(2024, 1, 1, 10, 0, 0), "α"),
        ("?k", 2, None, dt.datetime(2024, 6, 1, 0, 0, 1), None),
        ("k=😀", 3, -0.0, None, "mixed"),
        ("", 4, float("1e300"), dt.datetime(1999, 12, 31, 23, 59), "x" * 40),
    ] * 7
    names = []
    for k, chunk in enumerate((rows[:10], rows[10:])):
        tbl = pa.table(
            {
                "kv": [r[0] for r in chunk],
                "event_id": [r[1] for r in chunk],
                "value": [r[2] for r in chunk],
                "ts": [r[3] for r in chunk],
                "s": [r[4] for r in chunk],
            }
        )
        name = f"part-{k}.parquet"
        pq.write_table(tbl, os.path.join(part, name), row_group_size=4)
        names.append(name)
    return sorted(names)


def test_unreadable_partition_digest_is_no_claim(tmp_path):
    """The no-claim envelope: a partition holding a torn file digests
    to None (the caller treats the batch as stale), never raises into
    the receipt write, the query guard or the audit."""
    root = str(tmp_path)
    files = _mixed_type_partition(root)
    good = _partition_content_digest(root, "t", 0, files)
    assert good is not None and good["rows"] == 28
    bad = os.path.join(root, "t", "_batch_id=0", "torn.parquet")
    with open(bad, "wb") as f:
        f.write(b"not parquet")
    assert _partition_content_digest(root, "t", 0, files + ["torn.parquet"]) is None
