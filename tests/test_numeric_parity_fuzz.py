"""Cross-engine parity fuzz for the NUMERIC primitives the similarity
and hashing plans are built on: token_hash31 (md5-prefix bucket hash)
and the dot/cosine left-folds must produce IDENTICAL values in Spark
and DuckDB — the folds bit-for-bit (same accumulation order), the hash
exactly — on seeded random input far denser than the curated corpus.

One Spark job per family (seeded numpy batch), not one per example:
the JVM round-trip dominates, and a deterministic batch gives the same
coverage as example-at-a-time property testing here.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

N_STRINGS = 300
N_VECTORS = 150
DIM = 64


@pytest.fixture(scope="module")
def rng():
    return np.random.RandomState(20260813)


def _random_strings(rng) -> list[str]:
    # Mixed alphabets, whitespace runs, metacharacters, empties — plus
    # fully random codepoints from the BMP (surrogates excluded).
    alphabet = list("abcXYZ019 \t\n\r\x0b.*|[]()^$\\éü東京… ")
    out = []
    for i in range(N_STRINGS):
        n = int(rng.randint(0, 40))
        out.append("".join(rng.choice(alphabet) for _ in range(n)))
    for i in range(50):
        cps = rng.randint(32, 0xD7FF, size=int(rng.randint(1, 20)))
        out.append("".join(chr(c) for c in cps))
    return out


def _random_vectors(rng) -> list[list[float]]:
    # float32-representable doubles (the embeddings column is float[]),
    # including subnormal-ish tiny values, exact zeros, and big spreads.
    vecs = rng.standard_normal((N_VECTORS, DIM)).astype(np.float32)
    vecs[0] = 0.0  # all-zero vector (cosine denominator edge)
    vecs[1, ::2] = 0.0
    vecs[2] *= 1e-30
    vecs[3] *= 1e30
    return [[float(x) for x in row] for row in vecs]


def test_token_hash31_agrees_on_random_strings(spark, rng):
    from venus_spark.functions import token_hash31
    from venus_spark.functions.sqlgen import token_hash31_sql

    strs = _random_strings(rng)
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "id long, s string"
    )
    sp = df.select("id", token_hash31(F.col("s")).alias("h")).orderBy("id").collect()
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"id": range(len(strs)), "s": strs}))
    du = con.sql(f"SELECT id, {token_hash31_sql('s')} AS h FROM t ORDER BY id").fetchall()
    for s, d in zip(sp, du):
        assert s["h"] == d[1], f"id {s['id']}: {strs[s['id']]!r}"


def test_dot_and_cosine_folds_agree_bitwise(spark, rng):
    """The Spark F.aggregate fold and DuckDB LIST_REDUCE fold must be
    the same double value BIT-FOR-BIT (no rounding allowance): both
    sides promise identical accumulation order."""
    from venus_spark.functions import cosine, dot
    from venus_spark.functions.sqlgen import cosine_sql, dot_sql, double_array_sql

    vecs = _random_vectors(rng)
    q = vecs[10]
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    qcol = F.array(*[F.lit(x).cast("double") for x in q])
    sp = (
        df.select(
            "id",
            dot(F.col("v"), qcol).alias("d"),
            cosine(F.col("v"), qcol).alias("c"),
        )
        .orderBy("id")
        .collect()
    )
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"id": range(len(vecs)), "v": vecs}))
    # NOT bare repr() literals: DuckDB parses those as DECIMAL and its
    # decimal->double conversion can be 1 ulp off strtod.
    qsql = double_array_sql(q)
    du = con.sql(
        f"SELECT id, {dot_sql('v', qsql)} AS d, {cosine_sql('v', qsql)} AS c "
        "FROM t ORDER BY id"
    ).fetchall()
    for s, d in zip(sp, du):
        assert _bits(s["d"]) == _bits(d[1]), f"dot id {s['id']}: {s['d']!r} vs {d[1]!r}"
        assert _bits(s["c"]) == _bits(d[2]), f"cos id {s['id']}: {s['c']!r} vs {d[2]!r}"


def _bits(x) -> int | None:
    """NaN-safe bit pattern of a double (None for NULL; all NaNs equal)."""
    if x is None:
        return None
    if x != x:
        return -1
    import struct

    return struct.unpack("<Q", struct.pack("<d", float(x)))[0]


def test_trend_and_drift_plans_agree_on_seeded_random_events(spark, rng, tmp_path):
    """Plan-level numeric fuzz: value_trend_per_type and
    distribution_drift_tv must hash-match their oracles on a seeded
    random events table far wilder than the curated corpus — NEGATIVE
    values (ROUND/FLOOR at negative half-boundaries are where engines
    diverge first), near-zero magnitudes, duplicate timestamps, and
    microsecond-resolution times."""
    import datetime as dt

    from venus_spark.oracle import compare, duckdb_connect
    from venus_spark.plans import all_plans

    n = 600
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        us = int(rng.randint(0, 30 * 86400)) * 1_000_000 + int(
            rng.randint(0, 1_000_000)
        )
        ts = base + dt.timedelta(microseconds=us)
        if i % 97 == 0:
            ts = base + dt.timedelta(days=5)  # duplicate-timestamp cluster
        v = float(rng.standard_normal() * 300.0)
        if i % 53 == 0:
            v = float(rng.standard_normal() * 1e-6)  # near-zero
        rows.append(
            (i, ts, int(rng.randint(0, 40)), f"t{i % 3}", v, "{}")
        )
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(2).write.parquet(f"{sf_dir}/events.parquet")

    con = duckdb_connect(sf_dir)
    for name in ("value_trend_per_type", "distribution_drift_tv"):
        p = all_plans()[name]
        res = compare(name, p.fn(spark, sf_dir), con, p.oracle)
        assert res.ok, (name, res.detail)


def test_lit_doubles_bit_identical_to_per_element_form(spark):
    """r15 lit_doubles builds the array literal JVM-side in one call;
    the contract is BIT-identity with the per-element F.lit form for
    every finite double (repr -> Double.parseDouble round-trip), and a
    per-element fallback for non-finite values."""
    import math
    import struct

    from venus_spark.functions import lit_doubles

    rng = np.random.default_rng(20260817)
    tricky = [
        0.1,
        1.0 / 3.0,
        -0.0,
        0.0,
        1e-300,
        -1e300,
        2.2250738585072014e-308,  # smallest normal
        5e-324,  # smallest subnormal
        1.7976931348623157e308,  # largest finite
        math.pi,
        -math.e,
    ] + [float(x) for x in rng.standard_normal(64) * 10.0**rng.integers(-30, 30, 64)]
    df = spark.range(1)
    row = df.select(
        lit_doubles(tricky).alias("one_call"),
        F.array(*[F.lit(v).cast("double") for v in tricky]).alias("per_elem"),
    ).first()
    bits = lambda xs: [struct.pack("<d", v) for v in xs]
    assert bits(row["one_call"]) == bits(row["per_elem"])

    # non-finite values take the per-element fallback and round-trip
    nf = [float("nan"), float("inf"), float("-inf"), 1.5]
    got = df.select(lit_doubles(nf).alias("a")).first()["a"]
    assert math.isnan(got[0]) and got[1:] == nf[1:]


def test_q17_window_davg_equals_grouped_davg_join(spark):
    """r15 q17 decorrelates the per-part average into a window over the
    broadcast-join survivors; pin the operator-level identity on a
    crafted frame (fractional averages, single-line parts, ties)
    against the aggregate-then-join form the oracle uses."""
    from venus_spark.functions import DECIMAL_ACC, davg, dround
    from pyspark.sql import Window

    rows = [
        (1, 1.0), (1, 2.0), (1, 2.5),   # avg 11/6 (repeating decimal)
        (2, 7.0),                        # single line
        (3, 0.1), (3, 0.2),             # binary-unrepresentable
        (4, 1e8), (4, 1.0), (4, 3.0),   # large/small mix
    ]
    df = spark.createDataFrame(rows, "k long, q double")
    w = Window.partitionBy("k")
    windowed = df.select(
        "k",
        "q",
        dround(
            F.sum(F.col("q").cast(DECIMAL_ACC)).over(w).cast("double")
            / F.count("q").over(w)
        ).alias("part_avg"),
    )
    grouped = df.groupBy("k").agg(davg("q").alias("part_avg_g"))
    joined = windowed.join(grouped, "k")
    import struct

    for r in joined.collect():
        assert struct.pack("<d", r["part_avg"]) == struct.pack(
            "<d", r["part_avg_g"]
        ), r


def _ragged_rows(vecs: list[list[float]]) -> list[list[float] | None]:
    """``vecs`` with one NULL vector, one 63-dim vector and one vector
    holding a NULL element appended — the rows the kernels must answer
    with NULL."""
    return vecs + [None, vecs[5][:-1], vecs[6][:-1] + [None]]


def test_pq_encoder_agrees_with_oracle_argmin_and_nulls_bad_rows(spark, rng):
    """The Arrow PQ encoder's codes equal the oracle's per-subspace
    ``ROW_NUMBER() OVER (ORDER BY d, cb_id)`` argmin on random vectors
    (a duplicated codeword makes ties real), and NULL, short and
    NULL-element vectors get NULL codes instead of a failed task."""
    from venus_spark.functions.sqlgen import l2sq_sql
    from venus_spark.operators import similarity as sim
    from venus_spark.prepared import _pq_code_rows

    vecs = _random_vectors(rng)
    codebook = [vecs[i] for i in range(20, 20 + sim.PQ_KS)]
    codebook[6] = codebook[5]  # identical codewords: the lower id wins
    rows = _ragged_rows(vecs)
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(rows)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {r["vec_id"]: r["codes"] for r in _pq_code_rows(df, codebook).collect()}
    assert [got[i] for i in range(len(vecs), len(rows))] == [None, None, None]

    con = duckdb.connect()
    con.register("v", pd.DataFrame({"vec_id": range(len(vecs)), "v": vecs}))
    con.register("cb", pd.DataFrame({"cb_id": range(len(codebook)), "cv": codebook}))
    d = sim.PQ_DSUB
    sub = "{0}[(CAST(j AS INT) * %d + 1):(CAST(j AS INT) * %d + %d)]" % (d, d, d)
    want = {}
    for vec_id, j, cb_id in con.sql(f"""
        SELECT vec_id, j, cb_id FROM (
          SELECT vec_id, j, cb_id,
                 {l2sq_sql(sub.format('v'), sub.format('cv'))} AS d
          FROM v CROSS JOIN RANGE({sim.PQ_M}) t(j) CROSS JOIN cb)
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, cb_id) = 1
    """).fetchall():
        want.setdefault(vec_id, [0] * sim.PQ_M)[j] = cb_id
    assert {i: got[i] for i in range(len(vecs))} == want
    assert not any(6 in c for c in want.values())


def test_cosine_pair_kernel_agrees_bitwise_and_nulls_bad_rows(spark, rng):
    """The Arrow pair-cosine kernel is bit-identical to the oracle's
    cosine fold, and a pair with a NULL, short or NULL-element vector
    gets a NULL similarity instead of a failed task."""
    from venus_spark.functions.sqlgen import cosine_sql
    from venus_spark.operators import vector_kernels

    vecs = _random_vectors(rng)
    rows = _ragged_rows(vecs)
    pairs = [(i, i + 1, rows[i], rows[i + 1]) for i in range(len(rows) - 1)]
    pairs.append((len(rows), len(rows) + 1, rows[-3], rows[-3]))  # NULL, NULL
    df = spark.createDataFrame(
        pairs, "id_a long, id_b long, va array<double>, vb array<double>"
    )
    got = {
        r["id_a"]: r["sim_raw"]
        for r in df.mapInArrow(
            vector_kernels.cosine_pairs(), "id_a long, id_b long, sim_raw double"
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "p",
        pd.DataFrame({
            "id_a": range(len(vecs) - 1),
            "va": vecs[:-1],
            "vb": vecs[1:],
        }),
    )
    want = dict(con.sql(f"SELECT id_a, {cosine_sql('va', 'vb')} FROM p").fetchall())
    for i, w in want.items():
        assert _bits(got[i]) == _bits(w), f"pair {i}: {got[i]!r} vs {w!r}"
    bad = set(got) - set(want)
    assert len(bad) == len(pairs) - len(want) == 4
    assert all(got[i] is None for i in bad)
