"""Appends read their input batch once: every index a document or vector
append writes derives from one cached copy of the batch, a batch the
caller cached stays cached, and the appends and live-plan builds keep
their structural job counts."""

from __future__ import annotations

import random

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from venus_spark import prepared

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
