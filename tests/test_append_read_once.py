"""Appends read their input batch once and run their independent index
writes side by side: every index a document or vector append writes
derives from one cached copy of the batch, a batch the caller cached
stays cached, the branches overlap in time, every job they start stays
in the caller's job group (a streaming query's run id included), the
appends and live-plan builds keep their structural job counts, and
``prepared.core.side_by_side`` is the one place ``venus_spark`` starts a
thread. A failing branch and its retry:
``test_prepared.py::test_incremental_append_equals_full_rebuild``."""

from __future__ import annotations

import ast
import glob
import json
import os
import random
import threading

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from venus_spark import prepared
from venus_spark.prepared import docs as docs_mod
from venus_spark.prepared import trgm as trgm_mod
from venus_spark.prepared import vectors as vectors_mod

TIMEOUT = 20  # seconds a branch waits at the barrier for the others
FRESH = 1_000_000  # appended ids start here, above every base id


@pytest.fixture(scope="module")
def sf(spark, sf_dir, tmp_path_factory):
    """``sf_dir`` with the document and vector indexes built into a
    private prepared root."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(prepared, "PREPARED_ROOT", str(tmp_path_factory.mktemp("prep")))
        for build in (
            prepared.documents_trgm,
            prepared.documents_trgm_postings,
            prepared.documents_minhash,
            prepared.documents_postings,
            prepared.embeddings_ivf,
            prepared.embeddings_pq,
        ):
            build(spark, sf_dir)
        yield sf_dir


def _doc_batch(spark, sf, first_id: int, n: int = 40):
    from venus_spark.functions import tokens
    from venus_spark.sources import load_table

    return (
        load_table(spark, sf, "documents")
        .filter(F.size(tokens("text")) > 0)
        .orderBy("doc_id")
        .limit(n)
        .withColumn("doc_id", F.col("doc_id") + first_id)
    )


def _vec_batch(spark, sf, first_id: int, n: int = 20):
    from venus_spark.sources import load_table

    return (
        load_table(spark, sf, "embeddings")
        .orderBy("vec_id")
        .limit(n)
        .withColumn("vec_id", F.col("vec_id") + first_id)
    )


def test_every_document_index_holds_the_same_batch(spark, sf):
    """The batch is a random half of 40 documents, drawn again on every
    evaluation: the indexes agree only if the append reads it once."""
    coin = F.udf(lambda _: random.random() < 0.5, "boolean").asNondeterministic()
    first = FRESH
    batch = _doc_batch(spark, sf, first).filter(coin("doc_id"))
    prepared.append_documents_batch(spark, sf, batch, batch_id=1)

    def ids(df):
        return {
            r[0]
            for r in df.filter(F.col("doc_id") >= first).select("doc_id").collect()
        }

    counters = prepared.read_layout(
        spark,
        "documents_stats_counters.parquet",
        prepared.prepared_path(sf, "documents_stats_counters.parquet"),
    ).filter(F.col("_batch_id") == 1)
    got = {
        "trgm": ids(prepared.documents_trgm(spark, sf)),
        "trgm_postings": ids(prepared.documents_trgm_postings_live(spark, sf)),
        "minhash": ids(prepared.documents_minhash_live(spark, sf)),
        "postings": ids(prepared.documents_postings_live(spark, sf)[0]),
        "counters": ids(counters),
    }
    assert 0 < len(got["trgm"]) < 40
    assert all(v == got["trgm"] for v in got.values()), {
        k: sorted(v) for k, v in got.items()
    }


def test_a_batch_the_caller_cached_stays_cached(spark, sf):
    batch = _vec_batch(spark, sf, FRESH).persist()
    try:
        batch.count()
        prepared.append_embeddings_batch(spark, sf, batch, batch_id=1)
        assert batch.storageLevel != StorageLevel.NONE
    finally:
        batch.unpersist()
    # a batch the append cached itself is released
    own = _vec_batch(spark, sf, 2 * FRESH)
    prepared.append_embeddings_batch(spark, sf, own, batch_id=2)
    assert own.storageLevel == StorageLevel.NONE


def test_appends_and_live_builds_keep_their_job_counts(spark, sf, jobs_in_group):
    """Structural counts, deterministic where wall time is not: a new
    job on these paths (an extra count, a re-read of the batch, a
    global sort) fails here."""
    from venus_spark.plans import all_plans

    docs = _doc_batch(spark, sf, 3 * FRESH)
    vecs = _vec_batch(spark, sf, 3 * FRESH)
    assert jobs_in_group(
        "append-docs",
        lambda: prepared.append_documents_batch(spark, sf, docs, batch_id=3),
    ) <= 8
    assert jobs_in_group(
        "append-vecs",
        lambda: prepared.append_embeddings_batch(spark, sf, vecs, batch_id=3),
    ) <= 3
    plans = all_plans()
    for name in ("sim_ivf_topk_live", "sim_pq_adc_live"):
        assert jobs_in_group(name, lambda: plans[name].fn(spark, sf)) <= 2, name


def _meet_at(monkeypatch, barrier, *targets):
    """Make each ``(module, name)`` function wait at ``barrier`` before it
    runs. Branches that run one after another break the barrier."""
    for module, name in targets:
        real = getattr(module, name)

        def met(*args, _real=real, **kwargs):
            barrier.wait()
            return _real(*args, **kwargs)

        monkeypatch.setattr(module, name, met)


def test_document_branches_overlap(spark, sf, monkeypatch):
    """The trigram, trigram-postings and MinHash writes start together
    (the postings write follows the trigram write in its thread)."""
    barrier = threading.Barrier(3, timeout=TIMEOUT)
    _meet_at(
        monkeypatch,
        barrier,
        (trgm_mod, "documents_trgm"),
        (trgm_mod, "documents_trgm_postings"),
        (docs_mod, "write_minhash_pending"),
    )
    prepared.append_documents_batch(
        spark, sf, _doc_batch(spark, sf, 5 * FRESH), batch_id=11
    )
    assert not barrier.broken


def test_vector_branches_overlap(spark, sf, monkeypatch):
    barrier = threading.Barrier(2, timeout=TIMEOUT)
    _meet_at(
        monkeypatch,
        barrier,
        (vectors_mod, "embeddings_ivf"),
        (vectors_mod, "_pq_saturated_codebook"),
    )
    prepared.append_embeddings_batch(
        spark, sf, _vec_batch(spark, sf, 5 * FRESH), batch_id=11
    )
    assert not barrier.broken


def _marker(spark, name: str) -> int:
    """Id of one job run under its own group ``name``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    (job,) = sc.statusTracker().getJobIdsForGroup(name)
    return job


def test_every_job_of_an_append_is_in_the_callers_group(spark, sf):
    """A branch thread that dropped the caller's job group would start
    jobs outside it; the ``<= 8`` / ``<= 3`` pins would still pass."""
    sc = spark.sparkContext
    calls = {
        "docs": lambda: prepared.append_documents_batch(
            spark, sf, _doc_batch(spark, sf, 6 * FRESH), batch_id=12
        ),
        "vecs": lambda: prepared.append_embeddings_batch(
            spark, sf, _vec_batch(spark, sf, 6 * FRESH), batch_id=12
        ),
    }
    for what, call in calls.items():
        group = f"attribution-{what}"
        before = _marker(spark, f"{group}-before")
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc._jsc.clearJobGroup()
        after = _marker(spark, f"{group}-after")
        started = set(range(before + 1, after))
        assert started, what
        assert set(sc.statusTracker().getJobIdsForGroup(group)) == started, what


def test_stream_appends_run_under_the_query_run_id(spark, sf, tmp_path, monkeypatch):
    """``start_embeddings_ingest``'s micro-batch runs the IVF and PQ
    writes on branch threads; both keep the query's run id as their job
    group, so ``query.stop()`` and per-query job accounting cover them."""
    from venus_spark.prepared import core
    from venus_spark.streaming import start_embeddings_ingest

    sc = spark.sparkContext
    seen: dict[str, str | None] = {}
    real = core._append_batch_files

    def recording(df, dest, *args, **kwargs):
        seen[os.path.basename(dest)] = sc.getLocalProperty("spark.jobGroup.id")
        return real(df, dest, *args, **kwargs)

    monkeypatch.setattr(core, "_append_batch_files", recording)
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = _vec_batch(spark, sf, 4 * FRESH, n=5).collect()
    (landing / "b0.json").write_text(
        "".join(json.dumps(r.asDict()) + "\n" for r in rows)
    )
    schema = spark.read.parquet(os.path.join(sf, "embeddings.parquet")).schema
    q = start_embeddings_ingest(
        spark.readStream.schema(schema).json(str(landing)),
        sink_dir=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ck"),
        index_sf_dir=sf,
        trigger_seconds=None,
    )
    before = _marker(spark, "stream-before")
    q.awaitTermination()
    after = _marker(spark, "stream-after")
    run_id = str(q.runId)
    assert seen == {
        "embeddings_ivf.parquet": run_id,
        "embeddings_pq_codes.parquet": run_id,
    }
    in_group = set(sc.statusTracker().getJobIdsForGroup(run_id))
    # the sink write, the IVF write and the PQ write, at least
    assert len(in_group) >= 3, in_group
    assert set(range(before + 1, after)) <= in_group


def test_threads_start_only_in_side_by_side():
    """AST-level pin: no ``venus_spark`` module builds a
    ``ThreadPoolExecutor`` or a ``Thread`` outside
    ``prepared/core.py:side_by_side``, whose threads inherit the
    caller's local properties — a bare thread's jobs would leave the
    caller's job group and a streaming query's run id."""
    root = os.path.join(os.path.dirname(__file__), "..", "venus_spark")
    core = os.path.join("prepared", "core.py")
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        tree = ast.parse(open(path).read())
        funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name not in ("Thread", "ThreadPoolExecutor"):
                continue
            owners = {
                fn.name for fn in funcs if fn.lineno <= node.lineno <= fn.end_lineno
            }
            if rel == core and "side_by_side" in owners:
                continue
            offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders
