"""The Arrow vector kernels (:mod:`venus_spark.operators.vector_kernels`):
one PQ encoder for every write path, NULL answers for NULL or ragged
vectors, and workers that need no package on their path."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BAD_IDS = (1, 2, 4)  # not multiples of PQ_CB_MOD: the codebook sample keeps its rows


def _formatted(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_identical_codewords_encode_to_the_lower_id(spark):
    """Two identical codewords tie on every distance; the oracle's
    ``ORDER BY (d, cb_id)`` picks the lower id, and so must the kernel."""
    from venus_spark.operators import similarity as sim
    from venus_spark.prepared import _pq_code_rows

    dim = sim.PQ_M * sim.PQ_DSUB
    far = [[float(k + 10)] * dim for k in range(sim.PQ_KS)]
    v = [0.25] * dim
    for lo, hi in ((3, 9), (0, 1)):
        codebook = list(far)
        codebook[lo] = codebook[hi] = v
        df = spark.createDataFrame(
            [(1, v, 0)], "vec_id long, embedding array<float>, label int"
        )
        (row,) = _pq_code_rows(df, codebook).collect()
        assert row["codes"] == [lo] * sim.PQ_M


def test_pq_encode_is_one_map_in_arrow_over_three_columns(spark, tmp_path):
    """The encode reads only ``vec_id, label, embedding`` and runs as
    one MapInArrow — no literal expression forest, no codegen
    fallback."""
    from venus_spark.operators import similarity as sim
    from venus_spark.prepared import _pq_code_rows

    path = str(tmp_path / "wide.parquet")
    spark.createDataFrame(
        [(i, [float(i)] * 64, i % 3, "x" * 50) for i in range(40)],
        "vec_id long, embedding array<float>, label int, note string",
    ).write.parquet(path)
    wide = spark.read.parquet(path)
    codebook = [[float(k)] * 64 for k in range(sim.PQ_KS)]
    plan = _formatted(_pq_code_rows(wide, codebook))
    assert plan.count("MapInArrow") == 1, plan
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>,label:int>" in plan, plan
    assert "note" not in plan and "element_at" not in plan, plan


def _write_bad_embeddings(src_sf: str, sf: str, with_bad: bool) -> None:
    """``src_sf``'s embeddings, with a NULL, a 63-dim and a
    NULL-element vector at ``BAD_IDS`` (or those rows dropped)."""
    t = pq.read_table(os.path.join(src_sf, "embeddings.parquet"))
    rows = t.to_pylist()
    bad = {1: None, 2: rows[2]["embedding"][:-1], 4: rows[4]["embedding"][:-1] + [None]}
    out = []
    for r in rows:
        if r["vec_id"] in bad:
            if not with_bad:
                continue
            r = {**r, "embedding": bad[r["vec_id"]]}
        out.append(r)
    os.makedirs(sf)
    pq.write_table(
        pa.Table.from_pylist(out, schema=t.schema),
        os.path.join(sf, "embeddings.parquet"),
    )


def test_null_and_ragged_vectors_are_never_ranked(spark, sf_dir, tmp_path, monkeypatch):
    """NULL or ragged embeddings get NULL codes, and every ADC top-k and
    the cosine pairs answer exactly as if those rows were absent (NULL
    distances would otherwise sort first)."""
    from venus_spark import prepared
    from venus_spark.plans import all_plans

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    bad_sf, clean_sf = str(tmp_path / "bad"), str(tmp_path / "clean")
    _write_bad_embeddings(sf_dir, bad_sf, True)
    _write_bad_embeddings(sf_dir, clean_sf, False)

    codes, _ = prepared.embeddings_pq(spark, bad_sf)
    got = {r["vec_id"]: r["codes"] for r in codes.filter(F.col("vec_id").isin(*BAD_IDS)).collect()}
    assert got == dict.fromkeys(BAD_IDS)
    plans = all_plans()
    for name in ("sim_pq_adc_topk", "sim_pq_adc_prepared", "sim_ivfpq_topk", "sim_cosine_pairs"):
        bad = sorted(map(tuple, plans[name].fn(spark, bad_sf).collect()))
        assert bad == sorted(map(tuple, plans[name].fn(spark, clean_sf).collect())), name


def test_vector_kernels_run_from_a_foreign_cwd(sf_dir, tmp_path):
    """A driver started outside the repository, with no PYTHONPATH, runs
    the Python-worker kernels: the PQ build, a vector append, the PQ
    audit scan, the pair cosine and the multimodal decode and resize.
    Workers get the kernels pickled by value."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from venus_spark.session import get_spark
        import venus_spark.prepared as prepared
        from venus_spark.plans import all_plans
        from venus_spark.sources import load_table

        sf = sys.argv[1]
        spark = get_spark(cpus=2)
        codes, _ = prepared.embeddings_pq(spark, sf)
        print("codes", codes.count())
        new = load_table(spark, sf, "embeddings").limit(3).selectExpr(
            "vec_id + 9000000 AS vec_id", "embedding", "label")
        prepared.append_embeddings_batch(spark, sf, new, batch_id=1)
        print("appended", prepared.embeddings_pq(spark, sf)[0].count())
        plans = all_plans()
        for name in ("sim_pq_adc_topk", "sim_cosine_pairs", "mm_decode_meta", "mm_resize"):
            print(name, len(plans[name].fn(spark, sf).collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_PREPARED_DIR"] = str(tmp_path / "prep")
    work = tmp_path / "cwd"
    work.mkdir()
    p = subprocess.run(
        [sys.executable, str(script), sf_dir],
        cwd=work, env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = dict(line.rsplit(" ", 1) for line in p.stdout.strip().splitlines())
    assert int(out["appended"]) == int(out["codes"]) + 3
    assert int(out["sim_pq_adc_topk"]) == 10 and int(out["sim_cosine_pairs"]) > 0
    assert int(out["mm_decode_meta"]) == int(out["mm_resize"]) > 0
