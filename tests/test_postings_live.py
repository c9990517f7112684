"""Streaming maintenance of the POSITIONAL inverted index — the
postings twin of the MinHash pending-list suite (ADVICE r5: this
machinery previously had no coverage at all).

Contract under test, end to end:

- a documents micro-batch lands its postings + per-document length
  counters exactly-once under ``_batch_id`` pending partitions;
- ``documents_postings_live`` (base ∪ unmerged pending) equals a full
  rebuild over backfill + streamed docs — postings rows, vocabulary df,
  AND the (n_docs, dl_sum, avgdl) stats row;
- ``merge_postings_pending`` folds pending into the base idempotently,
  after which the BASE read path (``documents_postings``) serves the
  merged rows with stats that still match the rebuild (the r5 ADVICE
  high finding: merged postings without merged counters silently skew
  BM25 idf/avgdl);
- compaction carries the merged-batch manifest, so a crash-replayed
  pending write after OPTIMIZE cannot double-count;
- tombstoned streamed documents vanish from the live view and its
  stats immediately, and the merge scrubs their rows instead of
  resurrecting them into the filterless base.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from venus_spark import prepared

SRC = "/root/testdata/sf0.001"


def _split_docs(spark, tmp_path, n_base=30, n_new=16):
    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    sf = str(tmp_path / "sf")
    docs.filter(F.col("doc_id") < n_base).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    new = (
        docs.filter(
            (F.col("doc_id") >= n_base) & (F.col("doc_id") < n_base + n_new)
        )
        .withColumn("doc_id", F.col("doc_id") + 970)
    )
    return docs, sf, new


def _rebuild_sf(spark, tmp_path, base_docs, extra_docs):
    full_sf = str(tmp_path / "full_sf")
    base_docs.unionByName(extra_docs).write.parquet(
        os.path.join(full_sf, "documents.parquet")
    )
    return full_sf


def _collect_index(post, dfreq, stats):
    return (
        [r.asDict() for r in post.orderBy("term", "doc_id").collect()],
        [r.asDict() for r in dfreq.orderBy("term").collect()],
        stats.first().asDict(),
    )


def test_postings_stream_maintenance_matches_rebuild_and_merge(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    docs, sf, new = _split_docs(spark, tmp_path)
    prepared.documents_postings(spark, sf)  # base over the backfill

    from venus_spark.streaming import start_documents_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    new_rows = [r.asDict() for r in new.collect()]
    for i, chunk in enumerate((new_rows[:8], new_rows[8:])):
        (landing / f"batch{i}.json").write_text(
            "\n".join(json.dumps(r) for r in chunk) + "\n"
        )

    def run():
        q = start_documents_ingest(
            spark.readStream.schema(docs.schema).json(str(landing)),
            sink_dir=str(tmp_path / "sink"),
            checkpoint_dir=str(tmp_path / "ck"),
            index_sf_dir=sf,
            trigger_seconds=None,
        )
        q.awaitTermination()

    run()

    full_sf = _rebuild_sf(
        spark,
        tmp_path,
        docs.filter(F.col("doc_id") < 30),
        spark.createDataFrame(new_rows, docs.schema),
    )
    expect = _collect_index(*prepared.documents_postings(spark, full_sf))

    live = _collect_index(*prepared.documents_postings_live(spark, sf))
    assert live == expect

    # checkpoint replay: rerun the whole stream — no duplicates anywhere
    run()
    assert _collect_index(*prepared.documents_postings_live(spark, sf)) == expect

    # capture a real batch's membership for the replay below (replay
    # carries the SAME rows — the same-id-same-rows contract)
    counters = spark.read.parquet(
        prepared.prepared_path(sf, "documents_stats_counters.parquet")
    )
    replay_bid = int(counters.agg(F.min("_batch_id")).first()[0])
    replay_ids = [
        int(r["doc_id"])
        for r in counters.filter(F.col("_batch_id") == replay_bid).collect()
    ]

    # VACUUM: the BASE read path now serves the merged rows AND their
    # counters (merge-then-stats parity — the ADVICE r5 high finding)
    assert prepared.merge_postings_pending(spark, sf) > 0
    assert _collect_index(*prepared.documents_postings(spark, sf)) == expect
    # live == base once nothing is pending
    assert _collect_index(*prepared.documents_postings_live(spark, sf)) == expect
    # merge retry is a no-op
    assert prepared.merge_postings_pending(spark, sf) == 0

    # OPTIMIZE carries the merged manifest: a crash-replayed pending
    # write after compaction must stay excluded (no double count)
    prepared.compact_documents_postings(spark, sf)
    post_path = prepared.prepared_path(sf, "documents_postings.parquet")
    assert prepared._read_merged(post_path)
    b0 = spark.createDataFrame(
        [r for r in new_rows if r["doc_id"] in set(replay_ids)], docs.schema
    )
    prepared.write_postings_pending(sf, b0, replay_bid)
    assert _collect_index(*prepared.documents_postings_live(spark, sf)) == expect
    assert _collect_index(*prepared.documents_postings(spark, sf)) == expect
    # and the next merge drops (not re-moves) the replayed partition
    prepared.merge_postings_pending(spark, sf)
    assert _collect_index(*prepared.documents_postings(spark, sf)) == expect


def test_tombstoned_streamed_doc_excluded_from_live_and_scrubbed_on_merge(
    spark, tmp_path, monkeypatch
):
    """A streamed-but-unmerged document that is deleted must vanish from
    live postings AND live stats at once (ADVICE r5: it previously kept
    surfacing and its counters inflated n_docs/dl_sum forever), and the
    merge must scrub — not resurrect — its rows, because the base
    postings serve with no read-side tombstone filter."""
    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    docs, sf, new = _split_docs(spark, tmp_path)
    prepared.documents_postings(spark, sf)

    # pending batch: real docs plus one zero-token doc (counter-row-only)
    zero = spark.createDataFrame(
        [(9999, "", "en", "web", 0)], docs.schema
    )
    batch = new.unionByName(zero)
    prepared.write_postings_pending(sf, batch, 0)

    dead = [int(new.first()["doc_id"]), 9999, 3]  # streamed, zero-token, base
    prepared.tombstone_documents(spark, sf, dead, batch_id=0)

    surviving_new = new.filter(~F.col("doc_id").isin(dead))
    full_sf = _rebuild_sf(
        spark,
        tmp_path,
        docs.filter((F.col("doc_id") < 30) & ~F.col("doc_id").isin(dead)),
        surviving_new,
    )
    expect = _collect_index(*prepared.documents_postings(spark, full_sf))

    assert _collect_index(*prepared.documents_postings_live(spark, sf)) == expect

    # merge scrubs the tombstoned rows; base == rebuild, stats exact
    assert prepared.merge_postings_pending(spark, sf) > 0
    got = _collect_index(*prepared.documents_postings(spark, sf))
    assert got == expect
    base_ids = {
        r["doc_id"]
        for r in prepared.documents_postings(spark, sf)[0]
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert not base_ids & set(dead)  # no resurrection, ever

    # physical-delete maintenance converges too (vacuum calls the merge)
    assert prepared.merge_postings_pending(spark, sf) == 0
    assert _collect_index(*prepared.documents_postings_live(spark, sf)) == expect


def test_merge_scrub_crash_window_converges(spark, tmp_path, monkeypatch):
    """Crash between the scrub's two directory renames: the batch
    partition is displaced to ``.old`` and the filtered tmp is complete.
    Recovery must finish the swap (complete-tmp-wins) and the next merge
    must fold exactly the filtered rows — once."""
    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    docs, sf, new = _split_docs(spark, tmp_path)
    prepared.documents_postings(spark, sf)
    prepared.write_postings_pending(sf, new, 0)
    dead = [int(new.first()["doc_id"])]
    prepared.tombstone_documents(spark, sf, dead, batch_id=0)

    pend = prepared._pending_path(sf, "documents_postings.parquet")
    batch_dir = os.path.join(pend, "_batch_id=0")
    tmp, old = prepared._scrub_paths(pend, 0)
    # hand-build the mid-swap state the scrub would crash in
    tb = prepared.document_tombstones(spark, sf)
    rows = spark.read.parquet(batch_dir)
    rows.join(F.broadcast(tb), "doc_id", "left_anti").write.parquet(tmp)
    os.rename(batch_dir, old)
    assert not os.path.exists(batch_dir)

    assert prepared.merge_postings_pending(spark, sf) > 0
    full_sf = _rebuild_sf(
        spark,
        tmp_path,
        docs.filter((F.col("doc_id") < 30) & ~F.col("doc_id").isin(dead)),
        new.filter(~F.col("doc_id").isin(dead)),
    )
    expect = _collect_index(*prepared.documents_postings(spark, full_sf))
    assert _collect_index(*prepared.documents_postings(spark, sf)) == expect
    assert not os.path.exists(tmp) and not os.path.exists(old)


def test_merge_retry_after_moved_files_with_tombstones_converges(
    spark, tmp_path, monkeypatch
):
    """Review r6 #1: a merge that crashed between a batch's last
    file-move and its manifest write leaves an EMPTY pending partition;
    with tombstones outstanding the retry's scrub used to throw on the
    unreadable empty directory, wedging every later merge AND vacuum.
    The retry must instead fall through, manifest the batch, and
    converge."""
    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    docs, sf, new = _split_docs(spark, tmp_path)
    prepared.documents_postings(spark, sf)
    prepared.write_postings_pending(sf, new, 0)
    prepared.tombstone_documents(spark, sf, [3], batch_id=0)  # base doc only

    # hand-build the crash state: every data file already moved to base
    import uuid

    base = prepared.prepared_path(sf, "documents_postings.parquet")
    prepared.documents_postings(spark, sf)  # rebuild after tombstone drop
    pend = prepared._pending_path(sf, "documents_postings.parquet")
    batch_dir = os.path.join(pend, "_batch_id=0")
    for fn in sorted(os.listdir(batch_dir)):
        if fn.endswith(".parquet"):
            os.rename(
                os.path.join(batch_dir, fn),
                os.path.join(base, f"pending-{uuid.uuid4().hex}.parquet"),
            )

    prepared.merge_postings_pending(spark, sf)  # must not throw
    assert prepared._read_merged(base) == {0}
    full_sf = _rebuild_sf(
        spark,
        tmp_path,
        docs.filter((F.col("doc_id") < 30) & (F.col("doc_id") != 3)),
        new,
    )
    expect = _collect_index(*prepared.documents_postings(spark, full_sf))
    assert _collect_index(*prepared.documents_postings(spark, sf)) == expect
    # vacuum (which always has tombstones outstanding here) runs clean
    prepared.vacuum_document_tombstones(spark, sf)


def test_half_written_pending_batch_invisible_until_replay(
    spark, tmp_path, monkeypatch
):
    """Review r6 #2: the counters partition is the pending write's
    commit record (written last). A batch whose postings landed but
    whose counters did not (crash between the two writes) must be
    invisible to the live view AND skipped by the merge — folding it
    would serve rows the stats don't count. The stream's replay
    completes the write and everything appears at once."""
    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    docs, sf, new = _split_docs(spark, tmp_path)
    prepared.documents_postings(spark, sf)
    base_expect = _collect_index(*prepared.documents_postings(spark, sf))

    # half-written batch: postings partition only, no counter partition
    (
        prepared._postings_rows(new)
        .withColumn("_batch_id", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(prepared._pending_path(sf, "documents_postings.parquet"))
    )

    assert _collect_index(*prepared.documents_postings_live(spark, sf)) == base_expect
    assert prepared.merge_postings_pending(spark, sf) == 0
    base = prepared.prepared_path(sf, "documents_postings.parquet")
    assert prepared._read_merged(base) == set()

    # replay completes the write; the batch becomes visible and mergeable
    prepared.write_postings_pending(sf, new, 0)
    full_sf = _rebuild_sf(spark, tmp_path, docs.filter(F.col("doc_id") < 30), new)
    expect = _collect_index(*prepared.documents_postings(spark, full_sf))
    assert _collect_index(*prepared.documents_postings_live(spark, sf)) == expect
    assert prepared.merge_postings_pending(spark, sf) > 0
    assert _collect_index(*prepared.documents_postings(spark, sf)) == expect


def test_trgm_postings_stream_maintenance_and_in_service_merge(
    spark, tmp_path, monkeypatch
):
    """The trigram postings get the same streaming upkeep as the term
    postings: per-micro-batch pending partitions, live view == full
    rebuild, replay adds nothing, merge folds idempotently — and with
    ``merge_every=1`` the ingest folds its own pending lists in-service
    (the GIN autovacuum analog), leaving the batches manifested in the
    base."""
    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    docs, sf, new = _split_docs(spark, tmp_path)
    prepared.documents_trgm_postings(spark, sf)

    from venus_spark.streaming import start_documents_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    new_rows = [r.asDict() for r in new.collect()]
    for i, chunk in enumerate((new_rows[:8], new_rows[8:])):
        (landing / f"batch{i}.json").write_text(
            "\n".join(json.dumps(r) for r in chunk) + "\n"
        )

    def run(**kw):
        q = start_documents_ingest(
            spark.readStream.schema(docs.schema).json(str(landing)),
            sink_dir=str(tmp_path / "sink"),
            checkpoint_dir=str(tmp_path / "ck"),
            index_sf_dir=sf,
            trigger_seconds=None,
            **kw,
        )
        q.awaitTermination()

    run()

    full_sf = _rebuild_sf(
        spark,
        tmp_path,
        docs.filter(F.col("doc_id") < 30),
        spark.createDataFrame(new_rows, docs.schema),
    )

    def rows(fn, s):
        return sorted(tuple(r) for r in fn(spark, s).collect())

    expect = rows(prepared.documents_trgm_postings, full_sf)
    assert rows(prepared.documents_trgm_postings_live, sf) == expect

    # replay adds nothing; merge folds into the base idempotently
    run()
    assert rows(prepared.documents_trgm_postings_live, sf) == expect
    assert prepared.merge_trgm_postings_pending(spark, sf) > 0
    assert rows(prepared.documents_trgm_postings, sf) == expect
    assert prepared.merge_trgm_postings_pending(spark, sf) == 0

    # in-service merge: a fresh stream with merge_every=1 folds its own
    # pending lists — STRICTLY OLDER epochs end up manifested in the
    # base, while the CURRENT epoch stays pending until the next tick
    # (the ADVICE r6 gate: its checkpoint has not committed when the
    # in-service merge runs, so folding it would open a crash-replay
    # duplication window); live == base ∪ pending either way
    sf2 = str(tmp_path / "sf2")
    docs.filter(F.col("doc_id") < 30).write.parquet(
        os.path.join(sf2, "documents.parquet")
    )
    prepared.documents_trgm_postings(spark, sf2)
    q = start_documents_ingest(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)  # two files -> two epochs
        .json(str(landing)),
        sink_dir=str(tmp_path / "sink2"),
        checkpoint_dir=str(tmp_path / "ck2"),
        index_sf_dir=sf2,
        trigger_seconds=None,
        merge_every=1,
    )
    q.awaitTermination()
    base2 = prepared.prepared_path(sf2, "documents_trgm_postings.parquet")
    # epoch 1's tick folded epoch 0; epoch 1 itself (the then-current
    # epoch) remains pending — exactly the gate's contract
    assert prepared._read_merged(base2) == {0}
    pend2 = prepared._pending_path(sf2, "documents_trgm_postings.parquet")
    assert prepared._pending_bids_with_data(pend2) == {1}
    assert rows(prepared.documents_trgm_postings_live, sf2) == expect


def test_fuzzy_live_plan_returns_streamed_document_pre_merge(
    spark, tmp_path, monkeypatch
):
    """VERDICT r9 #2 follow-through: ``fuzzy_trgm_postings_live`` is
    the one live plan whose answer needs document TEXT — its exact
    ILIKE verify used to read only the BASE corpus, so a streamed
    document could become a candidate (its trigrams are in the live
    postings) yet silently vanish from the result. With the
    conventional streamed sink (``documents_stream_sink_dir``) and the
    ``live_documents`` union it must surface pre-merge; a dir with no
    sink degrades to exactly the base plan."""
    from venus_spark.plans import all_plans
    from venus_spark.streaming import (
        documents_stream_sink_dir,
        live_documents,
        start_documents_ingest,
    )

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    docs, sf, _new = _split_docs(spark, tmp_path)
    prepared.documents_trgm_postings(spark, sf)
    plans = all_plans()

    # quiescent dir: no sink -> live == prepared, corpus == base
    assert live_documents(spark, sf).count() == 30
    cold = {
        r["lang"]: r["n_docs"]
        for r in plans["fuzzy_trgm_postings_live"].fn(spark, sf).collect()
    }
    assert cold == {
        r["lang"]: r["n_docs"]
        for r in plans["fuzzy_trgm_postings"].fn(spark, sf).collect()
    }

    # stream one matching document into the CONVENTIONAL sink
    landing = tmp_path / "landing"
    landing.mkdir()
    needle = dict(
        doc_id=990_001,
        text="the planner picked a hash join for the probe side",
        lang="en",
        source="stream",
        n_chars=50,
    )
    (landing / "b0.json").write_text(json.dumps(needle) + "\n")
    q = start_documents_ingest(
        spark.readStream.schema(docs.schema).json(str(landing)),
        sink_dir=documents_stream_sink_dir(sf),
        checkpoint_dir=str(tmp_path / "ck"),
        index_sf_dir=sf,
        trigger_seconds=None,
    )
    q.awaitTermination()

    assert live_documents(spark, sf).count() == 31
    live = {
        r["lang"]: r["n_docs"]
        for r in plans["fuzzy_trgm_postings_live"].fn(spark, sf).collect()
    }
    assert live.get("en", 0) == cold.get("en", 0) + 1
    # the BASE plan remains blind to the sink until a re-land/merge
    assert cold == {
        r["lang"]: r["n_docs"]
        for r in plans["fuzzy_trgm_postings"].fn(spark, sf).collect()
    }
    # streamed-state shape: the candidate id set is BUILT ONCE and
    # scanned as an ExistingRDD by both union branches — without the
    # checkpoint, the semi-join pushed below the corpus union rebuilt
    # the whole candidate aggregation per branch (Catalyst does not
    # share subplans; observed as a doubled 20-scan plan)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plans["fuzzy_trgm_postings_live"].fn(spark, sf).explain("formatted")
    # count scan NODES in the (final) plan TREE — tree lines read
    # "Scan parquet  (N)". The detail headings "(N) Scan parquet"
    # print AFTER an AQE-finalized explain's "== Initial Plan =="
    # section (review r10 pass-6 #1: splitting and counting headings
    # would read 0 on an executed plan), so the tree before that
    # marker is the only section that counts nodes exactly once in
    # BOTH the unexecuted and the finalized layout.
    import re

    streamed_plan = buf.getvalue().split("== Initial Plan ==")[0]
    assert "Scan ExistingRDD" in streamed_plan
    n_scans = len(re.findall(r"Scan parquet\s+\(\d+\)", streamed_plan))
    assert n_scans == 2  # base corpus + sink corpus, nothing rebuilt


def test_streamed_docs_surface_in_live_bm25_before_any_merge(
    spark, tmp_path, monkeypatch
):
    """End-to-end streaming retrieval: documents landed by the ingest
    service are retrievable via BM25 the moment their micro-batch
    commits — through the LIVE view, before any merge — while the
    prepared (base-only) read path serves the pre-stream answer; after
    the VACUUM merge both paths agree. This is the with-pending half of
    bm25_topk_live's contract, driven through the real service."""
    from venus_spark.plans.pipeline_retrieval import _bm25_from_index
    from venus_spark.streaming import start_documents_ingest

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    docs, sf, _ = _split_docs(spark, tmp_path)
    prepared.documents_postings(spark, sf)

    # two streamed docs stuffed with the BM25 query terms — they MUST
    # outrank everything once visible
    hot = "vector stream merge " * 20
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "hot.json").write_text(
        "\n".join(
            json.dumps(
                {"doc_id": i, "text": hot, "lang": "en", "source": "web",
                 "n_chars": len(hot)}
            )
            for i in (2001, 2002)
        )
        + "\n"
    )
    q = start_documents_ingest(
        spark.readStream.schema(docs.schema).json(str(landing)),
        sink_dir=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ck"),
        index_sf_dir=sf,
        trigger_seconds=None,
    )
    q.awaitTermination()

    def topk(reader):
        return [int(r["doc_id"]) for r in _bm25_from_index(*reader).collect()]

    live = topk(prepared.documents_postings_live(spark, sf))
    assert live[0] in (2001, 2002) and live[1] in (2001, 2002)
    base = topk(prepared.documents_postings(spark, sf))
    assert 2001 not in base and 2002 not in base  # pre-merge base view

    prepared.merge_postings_pending(spark, sf)
    merged = topk(prepared.documents_postings(spark, sf))
    assert merged[:2] == live[:2]
    assert topk(prepared.documents_postings_live(spark, sf)) == merged


def test_trgm_postings_replay_after_merge_and_dataless_partition(
    spark, tmp_path, monkeypatch
):
    """Review r6 (third pass): (a) a batch REPLAYED into pending after
    its merge must be excluded from the live union (merged manifest) —
    no double-counted trigram rows in fuzzy/similarity results — and
    dropped, not re-moved, by the next merge; (b) a merge that crashed
    between its last file-move and the partition rmtree leaves a
    DATA-LESS partition directory that must not break the live view's
    schema inference, and the retry must converge."""
    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    docs, sf, new = _split_docs(spark, tmp_path)
    prepared.documents_trgm_postings(spark, sf)

    def rows(fn, s):
        return sorted(tuple(r) for r in fn(spark, s).collect())

    b0 = new.limit(8)
    prepared.write_trgm_postings_pending(sf, b0, 0)
    assert prepared.merge_trgm_postings_pending(spark, sf) > 0
    expect = rows(prepared.documents_trgm_postings, sf)

    # (a) checkpoint-replay rewrites batch 0 into pending post-merge
    prepared.write_trgm_postings_pending(sf, b0, 0)
    assert rows(prepared.documents_trgm_postings_live, sf) == expect
    assert prepared.merge_trgm_postings_pending(spark, sf) == 0  # dropped
    assert rows(prepared.documents_trgm_postings, sf) == expect

    # (b) crash state: moved-but-unmanifested batch = data-less partition
    pend = prepared._pending_path(sf, "documents_trgm_postings.parquet")
    os.makedirs(os.path.join(pend, "_batch_id=7"))
    assert rows(prepared.documents_trgm_postings_live, sf) == expect  # no throw
    prepared.merge_trgm_postings_pending(spark, sf)  # converges: manifests 7
    base = prepared.prepared_path(sf, "documents_trgm_postings.parquet")
    assert 7 in prepared._read_merged(base)
    assert not os.path.exists(os.path.join(pend, "_batch_id=7"))
    assert rows(prepared.documents_trgm_postings, sf) == expect


def test_append_documents_batch_idempotent_and_matches_rebuild(
    spark, tmp_path, monkeypatch
):
    """The manifested batch append (r5 round-6 queue): one call lands a
    batch in all three document indexes; the result equals a full
    rebuild row-for-row, and a crash-retry of the SAME batch id — at
    any point, including after full completion — converges to exactly
    one copy (the mode-append path's documented double-append hazard is
    what this API removes)."""
    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    docs, sf, new = _split_docs(spark, tmp_path)
    prepared.documents_trgm(spark, sf)
    prepared.documents_minhash(spark, sf)
    prepared.documents_postings(spark, sf)

    prepared.append_documents_batch(spark, sf, new, batch_id=7)
    # full-completion retry is a pure no-op
    prepared.append_documents_batch(spark, sf, new, batch_id=7)
    # partial retry: pending rewritten post-merge, then merged again
    prepared.write_postings_pending(sf, new, 7)
    prepared.write_minhash_pending(sf, new, 7)
    prepared.merge_postings_pending(spark, sf)
    prepared.merge_minhash_pending(spark, sf)

    full_sf = _rebuild_sf(spark, tmp_path, docs.filter(F.col("doc_id") < 30), new)
    assert _collect_index(*prepared.documents_postings(spark, sf)) == (
        _collect_index(*prepared.documents_postings(spark, full_sf))
    )
    for fn in (prepared.documents_minhash, prepared.documents_trgm):
        got = [r.asDict() for r in fn(spark, sf).orderBy("doc_id").collect()]
        want = [r.asDict() for r in fn(spark, full_sf).orderBy("doc_id").collect()]
        assert got == want


def test_trgm_constant_drift_rebuild_refused_after_append(
    spark, tmp_path, monkeypatch
):
    """ADVICE r5: documents_trgm's lazy rebuild lacked the
    refuse-rebuild guard the other four prepared layouts carry — a
    stamp drift after an append would silently rebuild from the base
    and drop the appended docs from fuzzy/trigram search. The batch
    manifest the append records arms the guard."""
    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    docs, sf, new = _split_docs(spark, tmp_path)
    prepared.documents_trgm(spark, sf)
    prepared.documents_minhash(spark, sf)
    prepared.documents_postings(spark, sf)
    prepared.append_documents_batch(spark, sf, new, batch_id=1)

    path = prepared.prepared_path(sf, "documents_trgm.parquet")
    stamp = os.path.join(path, "_prep_meta.json")
    meta = json.load(open(stamp))
    meta["gram"] = 99
    json.dump(meta, open(stamp, "w"))
    with pytest.raises(RuntimeError, match="appended/streamed"):
        prepared.documents_trgm(spark, sf)


def test_in_service_merge_gate_excludes_current_epoch(
    spark, tmp_path, monkeypatch
):
    """ADVICE r6 (medium): the in-service cadence merge runs inside
    foreachBatch BEFORE the current epoch's checkpoint commits. A crash
    mid-move of the CURRENT epoch's pending partition would replay the
    epoch, whose dynamic partition overwrite RE-POPULATES the
    partially-depleted partition — the retried merge then moves every
    file again while the pre-crash moves already sit in the base under
    uuid names: permanent duplicate postings (doubled df/tf skews BM25;
    dup rows would break count-equality candidate gates). The fix:
    ``below_bid`` merges only STRICTLY OLDER epochs (those are
    checkpoint-committed and can never be replayed), so the hazard
    window cannot open. This test pins the gate for all three pending
    indexes and that the full replay→later-merge sequence converges to
    exactly the rebuild row set."""
    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    docs, sf, new = _split_docs(spark, tmp_path)
    prepared.documents_postings(spark, sf)
    prepared.documents_trgm_postings(spark, sf)
    prepared.documents_minhash(spark, sf)

    b0, b1 = new.limit(8), new.subtract(new.limit(8))
    for b, bid in ((b0, 0), (b1, 1)):
        prepared.write_postings_pending(sf, b, bid)
        prepared.write_trgm_postings_pending(sf, b, bid)
        prepared.write_minhash_pending(sf, b, bid)

    def pend_files(index_name, bid):
        p = os.path.join(
            prepared._pending_path(sf, index_name), f"_batch_id={bid}"
        )
        return sorted(
            f for f in os.listdir(p) if f.endswith(".parquet")
        ) if os.path.isdir(p) else []

    before = {
        ix: pend_files(ix, 1)
        for ix in (
            "documents_postings.parquet",
            "documents_trgm_postings.parquet",
            "documents_minhash.parquet",
        )
    }
    # epoch-1 cadence tick: below_bid=1 folds ONLY batch 0; batch 1's
    # partition (the uncommitted current epoch) is untouched, so no
    # crash inside this call can strand moved files of a replayable batch
    assert prepared.merge_postings_pending(spark, sf, below_bid=1) > 0
    assert prepared.merge_trgm_postings_pending(spark, sf, below_bid=1) > 0
    assert prepared.merge_minhash_pending(spark, sf, below_bid=1) > 0
    for ix, files in before.items():
        base = prepared.prepared_path(sf, ix)
        assert prepared._read_merged(base) == {0}
        assert pend_files(ix, 1) == files, f"{ix}: current epoch touched"

    # the replay the gate is protecting against: epoch 1 re-lands its
    # full partition (dynamic overwrite), then the NEXT cadence tick
    # (below_bid=2) folds it — exactly once
    prepared.write_postings_pending(sf, b1, 1)
    prepared.write_trgm_postings_pending(sf, b1, 1)
    prepared.write_minhash_pending(sf, b1, 1)
    assert prepared.merge_postings_pending(spark, sf, below_bid=2) > 0
    assert prepared.merge_trgm_postings_pending(spark, sf, below_bid=2) > 0
    assert prepared.merge_minhash_pending(spark, sf, below_bid=2) > 0

    full_sf = _rebuild_sf(
        spark, tmp_path, docs.filter(F.col("doc_id") < 30), new
    )
    assert _collect_index(*prepared.documents_postings(spark, sf)) == (
        _collect_index(*prepared.documents_postings(spark, full_sf))
    )
    got = sorted(
        tuple(r)
        for r in prepared.documents_trgm_postings(spark, sf).collect()
    )
    want = sorted(
        tuple(r)
        for r in prepared.documents_trgm_postings(spark, full_sf).collect()
    )
    assert got == want
    got_mh = sorted(
        (int(r["doc_id"]),)
        for r in prepared.documents_minhash(spark, sf).collect()
    )
    want_mh = sorted(
        (int(r["doc_id"]),)
        for r in prepared.documents_minhash(spark, full_sf).collect()
    )
    assert got_mh == want_mh


def test_live_documents_schema_widened_base_null_fills(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10 #4: if the base documents table gains a column the
    already-landed sink batches lack, the live corpus union must
    NULL-fill the missing column on the streamed side (exactly what
    those rows hold for a post-landing column) instead of raising
    AnalysisException per query — the module's degrade-never-crash
    posture for the live path. Also pins ADVICE r10 #1's plumbing: an
    explicit ``sink_dir`` makes probe and read target one directory."""
    from venus_spark.streaming import (
        documents_stream_sink_dir,
        documents_stream_state,
        live_documents,
        start_documents_ingest,
    )

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    docs, sf, _new = _split_docs(spark, tmp_path)
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b0.json").write_text(
        json.dumps(
            dict(
                doc_id=990_001,
                text="streamed before the schema widened",
                lang="en",
                source="stream",
                n_chars=34,
            )
        )
        + "\n"
    )
    q = start_documents_ingest(
        spark.readStream.schema(docs.schema).json(str(landing)),
        sink_dir=documents_stream_sink_dir(sf),
        checkpoint_dir=str(tmp_path / "ck"),
        index_sf_dir=sf,
        trigger_seconds=None,
    )
    q.awaitTermination()
    assert live_documents(spark, sf).count() == 31

    # the base table EVOLVES: a promoted quality column appears
    base_path = os.path.join(sf, "documents.parquet")
    widened = (
        spark.read.parquet(base_path)
        .withColumn("quality", F.length("text").cast("double"))
    )
    tmp_out = os.path.join(sf, "documents_widened.parquet")
    widened.write.parquet(tmp_out)
    import shutil as _sh

    _sh.rmtree(base_path)
    os.rename(tmp_out, base_path)

    sink_dir, has = documents_stream_state(sf)
    assert has
    live = live_documents(spark, sf, has_data=has, sink_dir=sink_dir)
    assert live.columns == spark.read.parquet(base_path).columns
    assert live.count() == 31
    streamed_row = live.filter(F.col("doc_id") == 990_001).first()
    assert streamed_row["quality"] is None  # NULL-filled, not crashed
    assert (
        live.filter(F.col("doc_id") < 990_000)
        .filter(F.col("quality").isNull())
        .count()
        == 0
    )
