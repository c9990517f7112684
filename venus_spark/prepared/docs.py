"""Documents-table maintenance: the MinHash near-dup index, the
manifested batch append, document tombstones (RTBF), and the delete
scrub + vacuum paths that keep every document-side index consistent."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from venus_spark import retry as _retry
from venus_spark.sources import load_table
from venus_spark.prepared import buckets as _buckets, core as _core, postings as _postings, trgm as _trgm

def documents_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``doc_id`` + bucket keys (``lang``, ``source`` — covered like an
    index INCLUDE column, so bucket-scoped queries need no join back to
    the base table) + distinct shingle array (``_sh``) + MinHash
    signature columns (``mh_0..mh_{n}``) — the near-dup index, built
    once at ingest time like the reference's write-time GIN indexes.
    Query-time dedup then starts from stored signatures (band exprs +
    bucket join) instead of re-running the shingle→hash→MIN pass over
    the full corpus. One narrow scan to build (no shuffle, no join);
    incremental at 100 TB because a new document's signature depends
    only on its own text."""
    from venus_spark.operators import dedup as dd

    meta = {
        "n_perm": dd.N_PERM,
        "rows_per_band": dd.ROWS_PER_BAND,
        "perm_a": list(dd.PERM_A),
        "perm_b": list(dd.PERM_B),
        "shingle_n": 3,
        "covered": ["lang", "source"],
        "sh_hash": "hash31",
    }
    path = _core.prepared_path(sf_dir, "documents_minhash.parquet")
    _core._recover_prepared_swaps(sf_dir, path, ".vacuum")  # locked when pending
    if not _core._is_built(path, meta) and not _core._prepared_built_under_lock(
        sf_dir, ((path, ".vacuum"),), lambda: _core._is_built(path, meta)
    ):
        # merged streamed batches may exist only in this index + the
        # sink table, never in the base parquet — do not drop them
        _core._refuse_rebuild_with_absorbed_batches(path, "MinHash index")
        if os.path.exists(path):
            shutil.rmtree(path)
        docs = _anti_tombstones(
            spark, sf_dir, load_table(spark, sf_dir, "documents")
        )
        _core.layout_rows(_minhash_rows(docs), _MINHASH_INDEX).write.parquet(path)
        _core._stamp(path, meta)
    # outstanding (not yet vacuumed) deletes filter at read
    return _anti_tombstones(
        spark, sf_dir, _core.read_layout(spark, _MINHASH_INDEX, path)
    )

def _minhash_rows(docs: DataFrame) -> DataFrame:
    """Derived MinHash-index rows for a batch of documents — shared by
    the full build, the appends and the streaming near-dup screen. Each
    row is a projection of its own document, so the plan is one narrow
    scan with no shuffle or join, and maintenance is O(batch) at
    100 TB. A document with no shingle (NULL or token-less text) gets
    no row. ``doc_id`` must be a key of ``docs``."""
    from venus_spark.operators.dedup import minhash_index

    return minhash_index(docs, keep=("lang", "source"))

@_core.read_once
def append_documents_batch(
    spark: SparkSession, sf_dir: str, new_docs: DataFrame, batch_id: int
) -> None:
    """INSERT-time maintenance of all four document indexes — the Spark
    analog of the reference's GIN upkeep on every insert — and the one
    document append path. Every artifact absorbs the batch under its id
    exactly once, so a crash-retry of the same batch is a no-op:

    - trigram index and trigram postings: rows land via
      :func:`_append_batch_files` (per-file atomic renames, batch
      manifest committed last — a retry after commit is a pure no-op);
    - MinHash and postings indexes: the batch goes through the SAME
      pending-list + merge machinery the streaming path uses
      (``write_*_pending`` is a dynamic partition overwrite — a replay
      rewrites byte-identical rows — and the merge manifests the batch
      id), which also makes the postings stats arithmetic idempotent
      for free: there is no read-modify-write of the stats table, the
      batch's per-document counter rows ARE the stats update.

    The four index writes touch disjoint layouts, so they run side by
    side (:func:`_core.side_by_side`). Each keeps its own write order
    and its own crash and retry protocol: an error in one does not stop
    the others, and a retry of the batch lands it exactly once in every
    index, as before. The postings write starts after the trigram
    write: its shuffle would otherwise plan the not yet loaded batch
    cache as a query stage of its own, one more Spark job. The bucketed
    LSH band table cannot absorb rows in place, so it is dropped, after
    all four writes, and rebuilt on next use over the updated index.

    ``batch_id`` shares one id space with the streaming epoch ids for
    these indexes (same pending area); callers driving both must keep
    the ranges disjoint, exactly like :func:`append_events`. Same
    same-id-same-rows contract as every manifested append."""

    def trgm_then_postings() -> None:
        _trgm.documents_trgm(spark, sf_dir)
        _core._append_batch_files(
            _trgm._trgm_rows(new_docs),
            _core.prepared_path(sf_dir, "documents_trgm.parquet"),
            batch_id,
        )
        _postings.write_postings_pending(sf_dir, new_docs, batch_id)
        _postings.merge_postings_pending(spark, sf_dir)

    def trgm_postings() -> None:
        _trgm.documents_trgm_postings(spark, sf_dir)
        _core._append_batch_files(
            _trgm._trgm_postings_rows(new_docs),
            _core.prepared_path(sf_dir, "documents_trgm_postings.parquet"),
            batch_id,
        )

    def minhash() -> None:
        write_minhash_pending(sf_dir, new_docs, batch_id)
        merge_minhash_pending(spark, sf_dir)

    _core.side_by_side(spark, trgm_then_postings, trgm_postings, minhash)
    _buckets._drop_lsh_bands(spark, sf_dir)

_MINHASH_INDEX = "documents_minhash.parquet"

def write_minhash_pending(
    sf_dir: str,
    batch_docs: DataFrame,
    batch_id: int,
    index_rows: DataFrame | None = None,
) -> None:
    """Pending-list index maintenance for a streaming micro-batch — the
    analog of PostgreSQL GIN's ``fastupdate`` path, which is what
    actually services the reference's per-INSERT index upkeep: new
    entries accumulate in a pending list served alongside the main
    tree and are folded in by VACUUM. Here the batch's index rows land
    under a pending area partitioned by ``_batch_id`` with dynamic
    partition overwrite, so a replayed micro-batch rewrites exactly its
    own partition — the same exactly-once discipline as the streaming
    sinks. Readers use :func:`documents_minhash_live`; a periodic
    :func:`merge_minhash_pending` is the VACUUM. ``index_rows`` lets a
    caller that already derived the batch's index rows (e.g. the
    ingest-time near-dup screen) reuse them instead of paying the
    shingle/hash/MIN pass a second time."""
    rows = index_rows if index_rows is not None else _minhash_rows(batch_docs)
    _core._write_pending(sf_dir, _MINHASH_INDEX, rows, batch_id)

def documents_minhash_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup index INCLUDING not-yet-merged streaming inserts:
    base ∪ pending (the same union a GIN scan performs over tree +
    pending list). Pending batches already recorded in the merged-batch
    manifest are EXCLUDED: after a merge, a crash-replayed micro-batch
    re-writes its pending partition even though its (byte-identical,
    deterministically derived) rows already sit in the base — without
    the exclusion the union would double-count them.

    Returned as a :class:`venus_spark.retry.RetryingDataFrame`: a read
    that races a concurrent merge's file moves (the documented
    two-directory conflict window, :mod:`venus_spark.retry`) re-plans
    against refreshed listings and retries once inside the engine —
    callers no longer carry their own retry loop."""

    def _build() -> DataFrame:
        _core._refresh_on_external_change(spark, sf_dir, _MINHASH_INDEX)
        return _core._pending_union(
            spark, sf_dir, _MINHASH_INDEX, documents_minhash(spark, sf_dir)
        )

    return _retry.retryable(_build)

def documents_minhash_pending(
    spark: SparkSession, sf_dir: str
) -> DataFrame | None:
    """ONLY the not-yet-merged pending rows of the MinHash index (the
    GIN pending list alone, without the base tree) — ``None`` when the
    corpus is quiescent. Same exclusion rule (batches already in the
    merged manifest are skipped) and tombstone anti-join as
    :func:`documents_minhash_live`; exists so the bucketed-layout live
    read path can treat the pending slice as the O(batch) broadcast
    side of a cross join instead of re-deriving it with a corpus-sized
    anti-join (live − merged). The non-``None`` result carries the
    same engine-internal retry contract as the live view (a concurrent
    merge may move these exact files; the replan re-derives the — by
    then possibly empty — pending slice, whose union semantics remain
    a valid post-merge view)."""
    _core._refresh_on_external_change(spark, sf_dir, _MINHASH_INDEX)
    base = _core.prepared_path(sf_dir, _MINHASH_INDEX)
    pend = _core._pending_path(sf_dir, _MINHASH_INDEX)
    bids = _core._pending_bids_with_data(pend) - _core._read_merged(base)
    if not bids:
        return None

    def _build() -> DataFrame:
        _core._refresh_on_external_change(spark, sf_dir, _MINHASH_INDEX)
        cur = _core._pending_bids_with_data(pend) - _core._read_merged(base)
        if not cur:
            return spark.createDataFrame([], _core.layout_schema(_MINHASH_INDEX))
        pend_df = _core.read_layout(
            spark, _MINHASH_INDEX + ".pending", pend
        ).filter(F.col("_batch_id").isin(sorted(cur)))
        return _anti_tombstones(spark, sf_dir, pend_df.drop("_batch_id"))

    return _retry.retryable(_build)

def merge_minhash_pending(
    spark: SparkSession, sf_dir: str, below_bid: int | None = None
) -> int:
    """VACUUM-style pending merge, safe under crash/retry AND a
    concurrently running writer. ``below_bid`` is the in-service
    cadence's current-epoch gate (see :func:`_merge_pending`).

    Per pending batch directory: move each data file into the base
    index under a collision-free name (``os.rename`` — atomic), then
    record the batch id in the base's ``_merged_batches.json`` manifest
    (written via temp-file + atomic rename), then remove that batch's
    directory — never a blanket rmtree of the pending area, so a batch
    the stream lands AFTER this call's directory listing survives
    untouched for the next merge.

    Crash windows: mid-move → the batch is unmanifested, a rerun moves
    only the remaining files (moved ones are gone from pending); after
    manifest, before dir removal → the dir holds no data files, rerun
    just removes it; stream replays an already-merged batch → its id is
    manifested, so the replayed (byte-identical) partition is dropped
    here and excluded by documents_minhash_live — no duplicates, no
    loss, in any interleaving (the shared discipline lives in
    :func:`_merge_pending`). Returns the number of data files merged."""
    pend = _core._pending_path(sf_dir, _MINHASH_INDEX)
    if not os.path.exists(pend):
        return 0
    documents_minhash(spark, sf_dir)  # base must exist to receive files
    base = _core.prepared_path(sf_dir, _MINHASH_INDEX)
    # Band-key layout derives from the base index contents; a fold
    # changes the base, so the bucketed band table must be invalidated.
    # Two disciplines at once (review r7 #3 + pass-2 #2): gate on a
    # batch actually being ELIGIBLE to fold (a below_bid cadence tick
    # that can fold nothing leaves the base byte-identical — dropping
    # the bands would force a needless corpus-sized rebuild), and drop
    # BEFORE the fold, not after: a crash between the fold's manifest
    # commit and a post-fold drop would leave the band table
    # permanently stale (the retry folds nothing, so an after-the-fact
    # drop never fires), silently losing near-dup candidates. Dropping
    # first is merely a wasted rebuild if the fold then crashes.
    eligible = _core._pending_bids_with_data(pend) - _core._read_merged(base)
    if below_bid is not None:
        eligible = {b for b in eligible if b < below_bid}
    if eligible:
        _buckets._drop_lsh_bands(spark, sf_dir)
    n = _core._merge_pending(
        spark, sf_dir, _MINHASH_INDEX, mark_appended=False,
        below_bid=below_bid,
    )  # rebuild-refusal rides the merged manifest itself for this index
    if n > 0:
        # Drop AGAIN after a fold that moved files (review r7 pass-3
        # #2): a concurrent reader thread calling lsh_bands_bucketed in
        # the drop→fold window rebuilds the bands from the PRE-fold
        # base, and without this second drop nothing would ever
        # invalidate them. The before-drop covers the crash-stale
        # window; the after-drop covers the mid-window rebuild. (The
        # residual double race — crash before this line AND a reader in
        # the window — needs a crash and a concurrent read inside one
        # sub-second span; the next eligible fold heals it.)
        _buckets._drop_lsh_bands(spark, sf_dir)
    return n

# --------------------------------------------------------------------------
# Document deletion (right-to-be-forgotten): tombstones + vacuum
# --------------------------------------------------------------------------

_TOMBSTONES = "doc_tombstones.parquet"

def _tombstones_path(sf_dir: str) -> str:
    return _core.prepared_path(sf_dir, _TOMBSTONES)

def document_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """The current tombstone set (distinct ``doc_id``), or ``None`` when
    no deletes are outstanding. Tombstones are tiny relative to the
    corpus (deletes are the rare exception in an append-mostly corpus),
    so the read-side filter below is a broadcast anti-join."""
    p = _tombstones_path(sf_dir)
    if not os.path.isdir(p) or not any(
        f.endswith(".parquet") for f in os.listdir(p)
    ):
        return None
    return _core.read_layout(spark, _TOMBSTONES, p).select("doc_id").distinct()

def _anti_tombstones(
    spark: SparkSession, sf_dir: str, df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Filter tombstoned documents out of an index/table read — a
    broadcast LEFT ANTI join against the (small) tombstone set; a
    no-op when no deletes are outstanding."""
    tb = document_tombstones(spark, sf_dir)
    if tb is None:
        return df
    if id_col != "doc_id":
        tb = tb.withColumnRenamed("doc_id", id_col)
    return df.join(F.broadcast(tb), id_col, "left_anti")

_DELETE_ADJ_SIDECAR = "_delete_adj.json"

def _read_delete_adj_applied(stats_path: str) -> set[int]:
    """Delete batch ids whose stats adjustment is already baked into
    the stored stats row (see :func:`_scrub_postings_delete`)."""
    try:
        with open(os.path.join(stats_path, _DELETE_ADJ_SIDECAR)) as f:
            return set(json.load(f))
    except (OSError, ValueError):
        return set()

def _scrub_postings_delete(
    spark: SparkSession, sf_dir: str, new_ids: DataFrame, batch_id: int
) -> None:
    """Make a delete physical in the inverted index WITHOUT the
    from-base rebuild — the path that keeps right-to-be-forgotten
    available once the postings hold merged streamed batches (which the
    ``merge_every`` ingest cadence makes the steady state: a from-base
    rebuild would drop those rows, so the drop-for-lazy-rebuild delete
    must refuse; PostgreSQL's own answer is that DELETE maintains the
    GIN eagerly, and this is that shape).

    Four idempotent steps, each safe to re-run after a crash, ordered
    so every window converges under retry of the same (ids, batch_id):

    1. stats: subtract the tombstoned docs' exact (n, dl) contribution
       from the STORED stats row — only for docs with no per-batch
       counter row (counter-row docs are excluded at read by
       ``_batch_counters`` once the tombstones commit, so subtracting
       them here would double-count the delete). dl comes from the
       docs' own postings rows (sum of position-list sizes == token
       count); zero-token docs (no postings rows) resolve against the
       base table. The new stats land via a crash-safe ``.deladj``
       tmp/old swap whose sidecar records the applied delete batch ids
       — the marker that makes this step exactly-once: the adjustment
       is computed from the postings BEFORE step 2 destroys the
       evidence, and a retry that finds the marker skips straight to
       the scrub.
    2. postings: rewrite the base without the tombstoned docs' rows
       through :func:`_compact_sorted_swap` (stamp, both manifests and
       the append marker carried; re-run removes nothing).
    3. dfreq: re-derive from the rewritten postings (pure function of
       the postings — always idempotent).
    4. caller commits the tombstone batch manifest LAST.

    A crash mid-sequence leaves an UNCOMMITTED delete partially
    physical: reads in the window may already miss the being-deleted
    docs with at most a batch-sized stats/df skew — never a resurrected
    row, never a wrong surviving document — and the retry completes the
    remaining steps."""
    post_path = _core.prepared_path(sf_dir, _postings._POSTINGS_INDEX)
    dfreq_path = _core.prepared_path(sf_dir, "documents_dfreq.parquet")
    stats_path = _core.prepared_path(sf_dir, "documents_stats.parquet")
    # every swap family that can displace an artifact this path reads
    # (review r9 pass-7 #2: a heal's crashed stats .refresh swap
    # would otherwise leave the sidecar read below seeing a missing
    # dir — DELETE down until an unrelated query recovered it;
    # pass-9 #2 added the postings' own .compact family)
    _core._recover_prepared_swaps(sf_dir, post_path, ".compact")
    _core._recover_prepared_swaps(sf_dir, stats_path, ".deladj", ".refresh")
    _core._recover_prepared_swaps(sf_dir, dfreq_path, ".refresh")
    applied = _read_delete_adj_applied(stats_path)
    if batch_id not in applied:
        base_post = _core.read_layout(spark, _postings._POSTINGS_INDEX, post_path)
        counters_p = _core.prepared_path(sf_dir, _postings._POSTINGS_COUNTERS)
        adj_ids = new_ids
        if os.path.isdir(counters_p) and any(
            d.startswith("_batch_id=") for d in os.listdir(counters_p)
        ):
            adj_ids = adj_ids.join(
                _core.read_layout(
                    spark, _postings._POSTINGS_COUNTERS, counters_p
                ).select("doc_id"),
                "doc_id",
                "left_anti",
            )
        adj_ids = adj_ids.persist()
        hit = base_post.join(F.broadcast(adj_ids), "doc_id", "left_semi")
        row = hit.agg(
            F.countDistinct("doc_id").alias("n"),
            F.sum(F.size("pos")).cast("long").alias("s"),
        ).first()
        n1, dl1 = int(row["n"] or 0), int(row["s"] or 0)
        # Docs with no postings rows: zero-token documents counted at
        # build/append time — resolve against the base table (their dl
        # is recomputed defensively rather than assumed 0).
        rest = adj_ids.join(
            hit.select("doc_id").distinct(), "doc_id", "left_anti"
        )
        base_rest = load_table(spark, sf_dir, "documents").join(
            F.broadcast(rest), "doc_id", "left_semi"
        )
        n2, dl2 = _postings._doclen_counters(base_rest)
        adj_ids.unpersist()
        old = _core.read_layout(spark, "documents_stats.parquet", stats_path).first()

        def _adjusted_stats(target: str) -> None:
            _postings._write_stats(
                spark,
                target,
                int(old["n_docs"]) - n1 - n2,
                int(old["dl_sum"]) - dl1 - dl2,
            )
            _core._stamp(target, _postings._POSTINGS_META)
            with open(os.path.join(target, _DELETE_ADJ_SIDECAR), "w") as f:
                json.dump(sorted(applied | {batch_id}), f)

        _core._staged_refresh(
            sf_dir,
            stats_path,
            _adjusted_stats,
            tag=".deladj",
            recover_tags=(".deladj", ".refresh"),
        )
    # Scrub the postings rows (idempotent: a retry removes nothing) and
    # re-derive df from the survivors. The join moves its key column
    # first — re-select the stored column order so the rewritten layout
    # is schema-identical to a build.
    def survivors():
        # the listing pins at creation: created inside the factory,
        # AFTER the manifest snapshot
        cur = _core.read_layout(spark, _postings._POSTINGS_INDEX, post_path)
        return cur.join(F.broadcast(new_ids), "doc_id", "left_anti").select(
            *cur.columns
        )

    _core._compact_sorted_swap(
        sf_dir, survivors, post_path, _postings._POSTINGS_META, ("term", "doc_id")
    )

    def _refresh_dfreq(target: str) -> None:
        _postings._write_dfreq(spark, post_path, target)
        _core._stamp(target, _postings._POSTINGS_META)

    _core._staged_refresh(sf_dir, dfreq_path, _refresh_dfreq)

def tombstone_documents(
    spark: SparkSession, sf_dir: str, doc_ids, batch_id: int
) -> None:
    """DELETE for documents — the right-to-be-forgotten path of a
    training-data engine, mirroring how every lakehouse handles it:
    the delete is recorded LOGICALLY first (a tombstone set all
    document-index reads anti-join against, effective immediately),
    and made PHYSICAL later by :func:`vacuum_document_tombstones`.
    Queries are never wrong in between; they are only carrying a small
    extra filter.

    The row-local indexes (MinHash/signature, trigram bloom) absorb
    deletes through the read filter alone — a row's entries depend only
    on that row. The inverted index carries CORPUS-level aggregates
    (per-term df, n_docs/avgdl stats) that a row filter cannot fix; two
    eager strategies cover it, chosen by what the index holds:

    - base-only index: the artifacts are dropped for lazy rebuild over
      the filtered corpus (cheap to decide, well-trodden);
    - index holding appended/streamed batches (the ``merge_every``
      ingest cadence's steady state, where a from-base rebuild would
      LOSE the streamed rows): the delete is made physical in place by
      :func:`_scrub_postings_delete` — postings scrub + exact stats
      subtraction + df re-derivation, all before the tombstone commits
      — so DELETE stays available on a streaming deployment instead of
      refusing until rows are re-landed.

    ``batch_id`` makes retries idempotent, exactly like the append
    paths (same-id-same-ids contract)."""
    if batch_id in _core._read_abatch_manifest(_tombstones_path(sf_dir)):
        return  # delete batch fully committed earlier — retry is a no-op
    ids = doc_ids if isinstance(doc_ids, DataFrame) else spark.createDataFrame(
        [(int(i),) for i in doc_ids], "doc_id long"
    )
    ids = ids.select("doc_id").distinct()
    post_path = _core.prepared_path(sf_dir, _postings._POSTINGS_INDEX)
    # a compaction crashed in its aside window makes the postings look
    # absent — the probe below would then take the drop-branch and rm
    # dfreq/stats while the recovered postings still carry absorbed
    # batches, wedging the ensure forever (review r9 pass-9 #2)
    _core._recover_prepared_swaps(sf_dir, post_path, ".compact")
    absorbed = os.path.exists(post_path) and (
        _core._read_abatch_manifest(post_path)
        or _core._read_merged(post_path)
        or _core._has_append_marker(post_path)
    )
    if absorbed:
        # Ids already tombstoned by an earlier batch must contribute
        # nothing to this batch's stats subtraction (the earlier delete
        # already accounted for them, whichever path it took).
        prior = document_tombstones(spark, sf_dir)
        new_ids = (
            ids.join(F.broadcast(prior), "doc_id", "left_anti")
            if prior is not None
            else ids
        )
        _scrub_postings_delete(spark, sf_dir, new_ids, batch_id)
    else:
        # Drop the aggregate-bearing artifacts BEFORE committing the
        # tombstones: a crash in between leaves the pre-delete state
        # (drop is rebuild-safe, the delete is simply not recorded yet
        # and the retry completes it), whereas the reverse order would
        # leave a committed delete that documents_postings — which has
        # no row filter — keeps serving until some later invalidation.
        for name in (
            "documents_postings.parquet",
            "documents_dfreq.parquet",
            "documents_stats.parquet",
        ):
            p = _core.prepared_path(sf_dir, name)
            if os.path.exists(p):
                shutil.rmtree(p)
    _buckets._drop_lsh_bands(spark, sf_dir)
    _core._append_batch_files(ids.select("doc_id"), _tombstones_path(sf_dir), batch_id)

def vacuum_document_tombstones(spark: SparkSession, sf_dir: str) -> int:
    """Make outstanding deletes PHYSICAL in the index artifacts: fold
    the minhash pending list (so streamed rows are in the base), then
    rewrite each row-local document index without the tombstoned rows
    through the same crash-safe tmp/old swap the recluster and
    retention jobs use (stamp, batch manifest, and merged-batch
    manifest are all carried across). An index already holding none of
    the tombstoned rows is skipped, so a re-run is a cheap no-op. Any
    crash window leaves a state where the read-side filter still
    applies — never a resurrected row — and the next read or vacuum
    completes the swap. Returns the number of index rows physically
    removed.

    The tombstone SET is deliberately RETAINED — it is the durable
    delete record, exactly like a lakehouse deletion-vector file that
    only disappears when the underlying data files are rewritten: this
    engine does not own the base ``documents`` table, so a future
    index (re)build must still see the delete or the rows would
    resurrect. The set stays broadcast-small (deletes are the rare
    exception), and the read-side anti-join over an already-vacuumed
    index filters nothing but costs one small broadcast."""
    tb = document_tombstones(spark, sf_dir)
    if tb is None:
        return 0
    merge_minhash_pending(spark, sf_dir)
    # The postings merge SCRUBS tombstoned rows out of each pending
    # partition before folding it in (the base serves with no read-side
    # delete filter), so after this call no postings file anywhere holds
    # a tombstoned document's rows. Their per-document counter rows are
    # retained like the tombstone set itself — excluded at read inside
    # _batch_counters — so stats stay exact.
    _postings.merge_postings_pending(spark, sf_dir)
    # Trigram postings are row-local (read filter is complete), so the
    # plain move-merge folds them; the rewrite loop below then makes
    # the delete physical in the enlarged base.
    _trgm.merge_trgm_postings_pending(spark, sf_dir)
    removed = 0
    for name in (
        "documents_minhash.parquet",
        "documents_trgm.parquet",
        "documents_trgm_postings.parquet",
    ):
        path = _core.prepared_path(sf_dir, name)
        _core._recover_prepared_swaps(sf_dir, path, ".vacuum")
        if not os.path.exists(path):
            continue
        # snapshot the carried bookkeeping BEFORE the parquet listing
        # pins (review r9 pass-4 #2): under a contract-violating
        # concurrent append, snapshot-then-list double-lands the
        # batch's retry instead of silently losing its rows
        meta = _core._read_meta(path)
        manifest = _core._read_abatch_manifest(path)
        merged = _core._read_merged(path)
        marked = _core._has_append_marker(path)
        cur = _core.read_layout(spark, name, path)
        n_dead = cur.join(F.broadcast(tb), "doc_id", "left_semi").count()
        if n_dead == 0:
            continue  # already physical for this index
        # STAGE under a name no recovery path ever touches (ADVICE r8
        # #1 — the same recipe as vacuum_embedding_tombstones): the
        # Spark rewrite runs OUTSIDE the lock (it can take seconds and
        # must not block readers), and a reader's recovery observing
        # path + .vacuum.tmp both present would rmtree a directly-
        # staged tmp mid-write. The staged dir becomes the real tmp
        # atomically INSIDE the lock, so the tmp never exists outside
        # a locked section.
        staging = path + ".vacuum_staging"
        if os.path.exists(staging):
            shutil.rmtree(staging)  # our own crashed prior staging
        survivors = cur.join(F.broadcast(tb), "doc_id", "left_anti")
        if name == "documents_trgm_postings.parquet":
            # this layout's pruning contract is the trg-sorted file set
            # (stamped layout "range(trg)") — an unsorted rewrite would
            # silently falsify the stamp and degrade the pushed-In(trg)
            # fetch to a near-full scan
            survivors = survivors.repartitionByRange("trg").sortWithinPartitions(
                "trg", "doc_id"
            )
        survivors.write.parquet(staging)
        _core._stamp(staging, meta)
        if manifest:
            _core._write_abatch_manifest(staging, manifest)
        if merged:
            _core._write_merged(staging, merged)
        if marked:
            _core._mark_appended(staging)
        # the swap holds the shared prepared-swap lock: every reader
        # recovery of this family is locked too, so nothing can
        # interleave the aside window (path briefly absent between the
        # two renames) or resurrect the displaced old generation; the
        # shared tail resolves any crashed prior swap first
        # (restore-never-delete, review r9 #1)
        _core._swap_in_locked(sf_dir, path, ".vacuum", staging)
        removed += n_dead
    return removed
