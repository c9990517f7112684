"""End-to-end tests for the LIVE vector-search plans (VERDICT r10 #1):
``sim_ivf_topk_live`` / ``sim_pq_adc_live`` must serve (a) streamed
vectors the write-time index maintenance has absorbed — via the
prepared layouts, like their prepared twins — AND (b) the
sink-landed-but-not-yet-appended crash window, via the pending-batch
union, which the prepared twins provably cannot see. The union must
dedup a batch torn mid-append (rows in BOTH relations) and collapse
back to the prepared path once the replay heals the window.

Reference analog: every index serves freshly-INSERTed rows identically
(alembic migration 37716151a213 :35-37); the crash-window union is the
Spark expression of reading through the WAL tail.
"""

from __future__ import annotations

import json as _json
import os

import pyspark.sql.functions as F

from venus_spark import prepared

SRC = "/root/testdata/sf0.001"


def _setup_base(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    vecs = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    sf = str(tmp_path / "sf")
    base = vecs.filter(F.col("vec_id") < 48)  # saturates the PQ codebook
    base.write.parquet(os.path.join(sf, "embeddings.parquet"))
    prepared.embeddings_ivf(spark, sf)
    prepared.embeddings_pq(spark, sf)
    return sf, base


def _probed_labels(spark, sf):
    """The live/prepared plans' frozen-centroid probe set — via the
    SHARED helper the plans themselves run."""
    from venus_spark.plans.pipeline_ann import frozen_ivf_probe

    labels, qvec, _unprobed = frozen_ivf_probe(spark, sf)
    return labels, qvec


def _needle(qvec, vec_id, label, eps):
    """A streamed vector cosine-close to the query (rank-guaranteed in
    both the IVF top-k and the ADC top-k), assigned to a PROBED
    cluster so the frozen-centroid probe reaches it."""
    return {
        "vec_id": vec_id,
        "embedding": [float(x) + eps * (i % 2) for i, x in enumerate(qvec)],
        "label": int(label),
    }


def _ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_live_vector_plans_cover_append_pending_and_heal(
    spark, tmp_path, monkeypatch
):
    from venus_spark.plans import all_plans
    from venus_spark.streaming import (
        _write_idempotent,
        embeddings_stream_sink_dir,
        pending_vector_batches,
        start_embeddings_ingest,
    )

    sf, base = _setup_base(spark, tmp_path, monkeypatch)
    plans = all_plans()
    labels, qvec = _probed_labels(spark, sf)

    def run(name):
        return plans[name].fn(spark, sf)

    # quiescent: live degrades to exactly the prepared twin
    cold_ivf = _ids(run("sim_ivf_topk_prepared"))
    cold_pq = _ids(run("sim_pq_adc_prepared"))
    assert _ids(run("sim_ivf_topk_live")) == cold_ivf
    assert _ids(run("sim_pq_adc_live")) == cold_pq
    sink = embeddings_stream_sink_dir(sf)
    assert pending_vector_batches(sf, "embeddings_ivf.parquet") == (sink, [])

    # ---- leg 1: streamed batch, fully absorbed by the maintenance ----
    n1 = _needle(qvec, 9_000_001, labels[0], eps=1e-3)
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b0.json").write_text(_json.dumps(n1) + "\n")
    vecs_schema = spark.read.parquet(os.path.join(SRC, "embeddings.parquet")).schema
    q = start_embeddings_ingest(
        spark.readStream.schema(vecs_schema).json(str(landing)),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ck"),
        index_sf_dir=sf,
        trigger_seconds=None,
    )
    q.awaitTermination()
    assert pending_vector_batches(sf, "embeddings_ivf.parquet") == (sink, [])
    for name in ("sim_ivf_topk_prepared", "sim_ivf_topk_live"):
        got = _ids(run(name))
        assert 9_000_001 in got, name
    for name in ("sim_pq_adc_prepared", "sim_pq_adc_live"):
        assert 9_000_001 in _ids(run(name)), name
    assert 9_000_001 not in cold_ivf and 9_000_001 not in cold_pq

    # ---- leg 2: the crash window — sink landed, index append never ran
    n2 = _needle(qvec, 9_000_002, labels[0], eps=2e-3)
    batch2 = spark.createDataFrame([n2], vecs_schema)
    _write_idempotent(batch2, os.path.join(sink, "embeddings"), 7)
    assert pending_vector_batches(sf, "embeddings_ivf.parquet") == (sink, [7])
    assert pending_vector_batches(sf, "embeddings_pq_codes.parquet") == (
        sink,
        [7],
    )
    # live serves the pending vector; prepared cannot see it
    assert 9_000_002 in _ids(run("sim_ivf_topk_live"))
    assert 9_000_002 not in _ids(run("sim_ivf_topk_prepared"))
    assert 9_000_002 in _ids(run("sim_pq_adc_live"))
    assert 9_000_002 not in _ids(run("sim_pq_adc_prepared"))

    # ---- leg 3: torn mid-append (rows in layout AND still pending):
    # the union dedups — no vec_id twice in the top-k
    prepared.append_embeddings_batch(spark, sf, batch2, batch_id=7)
    ivf_path = prepared.prepared_path(sf, "embeddings_ivf.parquet")
    manifest = prepared._read_abatch_manifest(ivf_path)
    prepared._write_abatch_manifest(ivf_path, manifest - {7})
    assert pending_vector_batches(sf, "embeddings_ivf.parquet") == (sink, [7])
    got = _ids(run("sim_ivf_topk_live"))
    assert 9_000_002 in got and len(got) == len(set(got))
    prepared._write_abatch_manifest(ivf_path, manifest)

    # ---- leg 4: healed (the checkpoint replay's append) — pending
    # empties, live collapses to prepared, both serve the vector
    assert pending_vector_batches(sf, "embeddings_ivf.parquet") == (sink, [])
    assert pending_vector_batches(sf, "embeddings_pq_codes.parquet") == (
        sink,
        [],
    )
    assert _ids(run("sim_ivf_topk_live")) == _ids(run("sim_ivf_topk_prepared"))
    assert _ids(run("sim_pq_adc_live")) == _ids(run("sim_pq_adc_prepared"))
    assert 9_000_002 in _ids(run("sim_ivf_topk_prepared"))
    assert 9_000_002 in _ids(run("sim_pq_adc_prepared"))


def test_pending_vectors_respect_tombstones_and_pointer(
    spark, tmp_path, monkeypatch
):
    """A pending (crash-window) vector that has been tombstoned must
    not be served by the live union — same delete semantics as the
    layout path; and the pending detection follows the recorded sink
    pointer when a deployment streams to a custom sink."""
    from venus_spark.plans import all_plans
    from venus_spark.streaming import (
        _EMB_SINK_POINTER,
        _record_sink_pointer,
        _write_idempotent,
        pending_vector_batches,
    )

    sf, base = _setup_base(spark, tmp_path, monkeypatch)
    plans = all_plans()
    labels, qvec = _probed_labels(spark, sf)
    vecs_schema = spark.read.parquet(os.path.join(SRC, "embeddings.parquet")).schema

    # a CUSTOM sink, recorded the way start_embeddings_ingest does
    custom = str(tmp_path / "custom_sink")
    _record_sink_pointer(sf, _EMB_SINK_POINTER, custom)
    n = _needle(qvec, 9_000_005, labels[0], eps=1e-3)
    _write_idempotent(
        spark.createDataFrame([n], vecs_schema),
        os.path.join(custom, "embeddings"),
        0,
    )
    got_sink, pending = pending_vector_batches(sf, "embeddings_ivf.parquet")
    assert os.path.abspath(got_sink) == os.path.abspath(custom)
    assert pending == [0]
    assert 9_000_005 in [
        r["vec_id"] for r in plans["sim_ivf_topk_live"].fn(spark, sf).collect()
    ]

    # tombstone the pending vector: gone from the live result
    prepared.tombstone_embeddings(spark, sf, [9_000_005], batch_id=0)
    assert 9_000_005 not in [
        r["vec_id"] for r in plans["sim_ivf_topk_live"].fn(spark, sf).collect()
    ]


def test_pending_cap_overflow_falls_back_to_dedup_shuffle(
    spark, tmp_path, monkeypatch
):
    """Review r11 pass-1 #7: the _PENDING_ID_CAP overflow branch
    (unionByName + dropDuplicates instead of the inline anti-filter)
    must produce the same answer — it is the degraded-crash-backlog
    path, exactly where a silent regression would hurt most. Cap
    monkeypatched to -1 so ANY pending id overflows."""
    from venus_spark.plans import all_plans
    from venus_spark.plans import pipeline_ann as po2
    from venus_spark.streaming import (
        _write_idempotent,
        embeddings_stream_sink_dir,
        pending_vector_batches,
    )

    sf, base = _setup_base(spark, tmp_path, monkeypatch)
    plans = all_plans()
    labels, qvec = _probed_labels(spark, sf)
    vecs_schema = spark.read.parquet(
        os.path.join(SRC, "embeddings.parquet")
    ).schema
    sink = embeddings_stream_sink_dir(sf)
    n = _needle(qvec, 9_000_008, labels[0], eps=1e-3)
    batch = spark.createDataFrame([n], vecs_schema)
    _write_idempotent(batch, os.path.join(sink, "embeddings"), 3)
    # torn mid-append: the row is in BOTH relations
    prepared.append_embeddings_batch(spark, sf, batch, batch_id=3)
    ivf_path = prepared.prepared_path(sf, "embeddings_ivf.parquet")
    manifest = prepared._read_abatch_manifest(ivf_path)
    prepared._write_abatch_manifest(ivf_path, manifest - {3})
    assert pending_vector_batches(sf, "embeddings_ivf.parquet") == (sink, [3])

    fast = [r["vec_id"] for r in plans["sim_ivf_topk_live"].fn(spark, sf).collect()]
    monkeypatch.setattr(po2, "_PENDING_ID_CAP", -1)
    slow = [r["vec_id"] for r in plans["sim_ivf_topk_live"].fn(spark, sf).collect()]
    assert slow == fast
    assert 9_000_008 in slow and len(slow) == len(set(slow))
    # PQ twin through the same fallback (codes layout also un-manifested)
    pq_path = prepared.prepared_path(sf, "embeddings_pq_codes.parquet")
    pq_manifest = prepared._read_abatch_manifest(pq_path)
    prepared._write_abatch_manifest(pq_path, pq_manifest - {3})
    got = [r["vec_id"] for r in plans["sim_pq_adc_live"].fn(spark, sf).collect()]
    assert 9_000_008 in got and len(got) == len(set(got))
