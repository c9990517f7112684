"""Word-postings index over documents (tf/df/stats counters) —
build, pending writes, live union, delete scrubs, and merge."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from venus_spark import retry as _retry
from venus_spark.functions import dround
from venus_spark.sources import load_table
from venus_spark.prepared import core as _core, docs as _docs

def compact_documents_postings(spark: SparkSession, sf_dir: str) -> bool:
    """The OPTIMIZE job for the inverted index — the text-side twin of
    ``recluster_events_zorder``: appended batches land as their own
    term-sorted file sets, so over time a query term's postings spread
    across one file per append and the pushed In(term) filter prunes
    less sharply. The compaction rewrites the CURRENT postings (base
    plus every append) back into one globally term-range-partitioned,
    term-sorted file set through the same crash-safe tmp/old swap
    (stamp and any batch manifest carried; ``documents_postings`` reads
    complete an interrupted swap). Queries stay correct while it is
    due, only less pruned — dfreq/stats are row-set invariants and are
    untouched. Compacts only what EXISTS (see
    :func:`_compact_existing_sorted`)."""
    return _core._compact_existing_sorted(
        spark,
        sf_dir,
        "documents_postings.parquet",
        lambda: _postings_tables(spark, sf_dir)[0],
        _POSTINGS_META,
        ("term", "doc_id"),
    )

# "round" covers the stored avgdl: it is a ROUNDED value, so a change
# to the parity rounding discipline must rebuild stale stats.
_POSTINGS_META = {"norm": "lower", "tokens": "ws", "layout": "range(term)",
                  "stats": "counters", "positions": "0-based",
                  "round": "floor-half-up-6"}

def documents_postings(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The FULL inverted index as write-time artifacts:
    ``(postings, dfreq, stats)`` — the text-retrieval generalization of
    the reference's GIN index (a GIN over tsvector IS an inverted
    index; pg_trgm's is the trigram special case).

    - ``postings``: one row per (term, doc_id) with the term frequency
      and the document length, range-partitioned and sorted BY TERM —
      the Lucene-segment layout. A query-term filter reaches the scan
      as ``PushedFilters: In(term, ...)`` and parquet row-group min/max
      stats skip every segment that contains none of the query terms:
      the posting-list fetch, expressed as storage pruning.
    - ``dfreq``: per-term document frequency (vocabulary-sized).
    - ``stats``: one row (n_docs, avgdl).

    Build is one tokenize scan + one groupBy + one range sort; query
    time pays a pruned scan + broadcast joins instead of re-tokenizing
    the corpus (``bm25_topk`` vs ``bm25_topk_prepared``)."""
    post, dfreq, stats = _postings_tables(spark, sf_dir)
    merged = _core._read_merged(
        _core.prepared_path(sf_dir, "documents_postings.parquet")
    )
    if merged:
        # Streamed batches folded in by merge_postings_pending exist in
        # the postings files but NOT in the stored stats (the merge
        # never rewrites the stats table — see write_postings_pending):
        # add their permanent per-document counter rows here so n_docs/
        # dl_sum/avgdl describe the same row set the postings serve.
        srow = stats.first()
        mn, ms = _batch_counters(spark, sf_dir, only=merged)
        stats = _stats_row(
            spark, int(srow["n_docs"]) + mn, int(srow["dl_sum"]) + ms
        )
    return post, dfreq, stats

def _postings_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Ensure-built + raw reads of the three postings artifacts, with
    stats AS STORED (build+append counters only — no merged-batch
    adjustment). Internal: the live view starts here because it folds
    ALL batch counters itself; every other caller wants
    :func:`documents_postings`, whose stats describe the base row
    set."""
    meta = _POSTINGS_META
    post_path = _core.prepared_path(sf_dir, "documents_postings.parquet")
    dfreq_path = _core.prepared_path(sf_dir, "documents_dfreq.parquet")
    stats_path = _core.prepared_path(sf_dir, "documents_stats.parquet")
    # finish an interrupted compaction, df refresh, or delete's stats
    # adjustment — locked when pending
    _core._recover_prepared_swaps(sf_dir, post_path, ".compact")
    _core._recover_prepared_swaps(sf_dir, dfreq_path, ".refresh")
    _core._recover_prepared_swaps(sf_dir, stats_path, ".deladj")
    paths = (post_path, dfreq_path, stats_path)

    def built() -> bool:
        return all(_core._is_built(p, meta) for p in paths)

    if not built() and not _core._prepared_built_under_lock(
        sf_dir,
        (
            (post_path, ".compact"),
            (dfreq_path, ".refresh"),
            (stats_path, ".deladj"),
        ),
        built,
    ):
        _core._refuse_rebuild_with_absorbed_batches(post_path, "inverted index")
        for p in paths:
            if os.path.exists(p):
                shutil.rmtree(p)
        live_docs = _docs._anti_tombstones(
            spark, sf_dir, load_table(spark, sf_dir, "documents")
        )
        (
            _core.layout_rows(_postings_rows(live_docs), _POSTINGS_INDEX)
            .repartitionByRange("term")
            .sortWithinPartitions("term", "doc_id")
            .write.parquet(post_path)
        )
        _write_dfreq(spark, post_path, dfreq_path)
        n_docs, dl_sum = _doclen_counters(live_docs)
        _write_stats(spark, stats_path, n_docs, dl_sum)
        for p in paths:
            _core._stamp(p, meta)
    return tuple(
        _core.read_layout(spark, os.path.basename(p), p) for p in paths
    )

def _postings_rows(docs: DataFrame) -> DataFrame:
    """(term, doc_id, dl, tf, pos) postings for a batch of documents —
    shared by the full build and the incremental append (a posting
    depends only on its own document's text). ``pos`` is the sorted
    0-based token-position list of the term within the document — the
    POSITIONAL part of the index, which is what upgrades it from
    bag-of-words retrieval (BM25/tf-idf) to phrase queries
    (Lucene-style adjacency intersection; see ``phrase_search_prepared``).
    tf = len(pos), so the bag-of-words consumers are unchanged."""
    from venus_spark.functions import tokens

    dl = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
    ).select("doc_id", "toks", F.size("toks").alias("dl"))
    return (
        dl.select("doc_id", "dl", F.posexplode("toks").alias("p", "term"))
        .groupBy("term", "doc_id", "dl")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.sort_array(F.collect_list("p")).alias("pos"),
        )
    )

def _doclen_counters(docs: DataFrame) -> tuple[int, int]:
    """(n_docs, total token count) for a batch — the EXACT integer
    counters corpus stats accumulate. Counts every document including
    zero-token ones (the oracle's avgdl divides by ALL docs)."""
    from venus_spark.functions import tokens

    row = docs.select(F.size(tokens(F.lower(F.col("text")))).alias("dl")).agg(
        F.count("*").alias("n"), F.sum("dl").alias("s")
    ).first()
    return int(row["n"]), int(row["s"] or 0)

def _write_dfreq(
    spark: SparkSession, post_path: str, dfreq_path: str, key: str = "term"
) -> None:
    """(Re)derive a per-entry df table from a postings layout — run at
    build time and after every append (df is a corpus-wide aggregate,
    so an insert invalidates it; the table is vocabulary-sized). One
    derivation for both postings families (``key="term"`` for the
    inverted index, ``key="kv"`` for the jsonb-GIN analog). A crash
    mid-overwrite leaves no _SUCCESS/_prep_meta, so the next ensure
    call falls back to a re-derivation/rebuild."""
    name = {"term": _POSTINGS_INDEX, "kv": "events_kv_postings.parquet"}[key]
    (
        _core.read_layout(spark, name, post_path)
        .groupBy(key)
        .agg(F.count("*").alias("df"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(dfreq_path)
    )

def _write_stats(
    spark: SparkSession, stats_path: str, n_docs: int, dl_sum: int
) -> None:
    """One-row corpus stats from exact integer counters. avgdl is
    emitted through the same arithmetic ``davg`` performs — the decimal
    sum of integer dl is integer-valued and < 2^53, so its
    cast-to-double is exact and ``round(double(dl_sum)/n_docs, 6)``
    reproduces the engine aggregate bit-for-bit. Storing the counters
    (not just the average) is what lets an append update stats as
    O(batch) arithmetic instead of a corpus re-tokenize."""
    (
        spark.createDataFrame([(n_docs, dl_sum)], "n_docs long, dl_sum long")
        .select(
            "n_docs",
            "dl_sum",
            dround(
                F.col("dl_sum").cast("double") / F.col("n_docs")).alias("avgdl"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(stats_path)
    )

# --------------------------------------------------------------------------
# Streaming maintenance for the inverted index: pending list + live view
# + VACUUM merge — the postings twin of the MinHash pending machinery,
# so a documents stream keeps BM25/phrase/boolean search current too.
# --------------------------------------------------------------------------

_POSTINGS_INDEX = "documents_postings.parquet"

_POSTINGS_COUNTERS = "documents_stats_counters.parquet"

def write_postings_pending(
    sf_dir: str, batch_docs: DataFrame, batch_id: int
) -> None:
    """Per-micro-batch inverted-index maintenance: the batch's postings
    land under a ``_batch_id`` pending partition (dynamic overwrite —
    a replayed batch rewrites exactly its own partition) and its EXACT
    per-document length rows ``(doc_id, dl)`` — one row per document
    INCLUDING zero-token docs, which have no postings rows — land as a
    counter partition keyed the same way. Counter rows are the
    permanent per-batch stats record: :func:`documents_postings` adds
    the MERGED batches' counters to the stored stats and the live view
    adds them all, so stats stay exact in every crash window without
    ever rewriting the stats table during a merge. Counters are
    PER-DOCUMENT (not per-batch scalars) so a later tombstone of a
    streamed document subtracts exactly its own contribution — the
    aggregate-level deletion problem that forces the BASE stats table
    to drop-and-rebuild is solved at row granularity here.

    Write order is the batch's COMMIT protocol: postings first,
    counters last — a batch id's counter partition existing is what
    marks the pending write complete. The live view and the merge both
    ignore pending postings whose counter partition is absent (a crash
    between the two writes), so postings and stats can never diverge:
    the half-written batch is invisible until the stream replays it."""
    from venus_spark.functions import tokens

    _core._write_pending(sf_dir, _POSTINGS_INDEX, _postings_rows(batch_docs), batch_id)
    counters_path = _core.prepared_path(sf_dir, _POSTINGS_COUNTERS)
    # Stamp BEFORE the first partition lands: any directory holding
    # counter partitions then always carries the format stamp (a dir
    # with a stamp but no partitions is just an empty table), so a
    # missing/mismatching stamp under existing partitions can only mean
    # an older engine's layout — which _batch_counters refuses.
    os.makedirs(counters_path, exist_ok=True)
    _core._stamp(counters_path, _COUNTERS_META)
    (
        batch_docs.select(
            "doc_id",
            F.size(tokens(F.lower(F.col("text")))).cast("long").alias("dl"),
        )
        .withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(counters_path)
    )

_COUNTERS_META = {"granularity": "per-doc", "cols": ["doc_id", "dl"]}

def _committed_counter_bids(sf_dir: str) -> set[int]:
    """Batch ids whose counter partition exists — i.e. whose pending
    write COMMITTED (counters are written last; see
    write_postings_pending)."""
    p = _core.prepared_path(sf_dir, _POSTINGS_COUNTERS)
    if not os.path.isdir(p):
        return set()
    return {
        int(d.split("=", 1)[1])
        for d in os.listdir(p)
        if d.startswith("_batch_id=")
    }

def _batch_counters(
    spark: SparkSession, sf_dir: str, only: set[int] | None = None
) -> tuple[int, int]:
    """(n_docs, dl_sum) summed over the per-document counter rows — all
    batches, or only the given batch ids. Tombstoned documents are
    excluded (their rows stay on disk as the durable record, exactly
    like the postings pending area; the read subtracts them), so the
    stats arithmetic built on this stays exact under deletes of
    streamed documents — including zero-token ones, which have a
    counter row even though they have no postings rows."""
    p = _core.prepared_path(sf_dir, _POSTINGS_COUNTERS)
    if not os.path.isdir(p) or not any(
        d.startswith("_batch_id=") for d in os.listdir(p)
    ):
        return 0, 0
    try:
        with open(os.path.join(p, "_prep_meta.json")) as f:
            stamp_ok = json.load(f) == _COUNTERS_META
    except (OSError, ValueError):
        stamp_ok = False
    if not stamp_ok:
        # The counter rows are the permanent stats record — a schema or
        # constant drift here cannot be healed by a rebuild (only the
        # stream's own replay regenerates them), so refuse loudly
        # rather than silently mis-aggregating an older layout. Stamp
        # checked directly: the dynamic-overwrite committer writes no
        # root _SUCCESS, so _is_built cannot apply here.
        raise RuntimeError(
            f"postings counter table at {p} does not match the current "
            f"format {_COUNTERS_META}; it was written by an older "
            "engine version. Replay the stream from its checkpoint to "
            "regenerate it, or delete it WITH the pending postings "
            "area to accept the loss."
        )
    df = _core.read_layout(spark, _POSTINGS_COUNTERS, p)
    if only is not None:
        if not only:
            return 0, 0
        df = df.filter(F.col("_batch_id").isin(sorted(only)))
    df = _docs._anti_tombstones(spark, sf_dir, df)
    row = df.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dl").cast("long").alias("s"),
    ).first()
    return int(row["n"] or 0), int(row["s"] or 0)

def _stats_row(spark: SparkSession, n_docs: int, dl_sum: int) -> DataFrame:
    """One-row (n_docs, dl_sum, avgdl) frame via the same arithmetic
    _write_stats stores — shared by the counter-adjusted read paths."""
    return spark.createDataFrame(
        [(n_docs, dl_sum)], "n_docs long, dl_sum long"
    ).select(
        "n_docs",
        "dl_sum",
        dround(F.col("dl_sum").cast("double") / F.col("n_docs")).alias(
            "avgdl"
        ),
    )

def documents_postings_live(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Retry-armed facade over :func:`_build_postings_live` — the
    postings and recomputed-df frames re-plan once on a raced merge's
    missing-file conflict (:mod:`venus_spark.retry`; a replan rebuilds
    the WHOLE live view so the retried frame is consistent with the
    post-merge state). ``live_stats`` is a one-row local frame whose
    counters were already resolved during the build and needs no
    retry arming."""
    post, dfreq, live_stats = _build_postings_live(spark, sf_dir)
    return (
        _retry.RetryingDataFrame(
            post, lambda: _build_postings_live(spark, sf_dir)[0]
        ),
        _retry.RetryingDataFrame(
            dfreq, lambda: _build_postings_live(spark, sf_dir)[1]
        ),
        live_stats,
    )

def _build_postings_live(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The inverted index INCLUDING not-yet-merged streaming batches —
    the postings analog of :func:`documents_minhash_live`:

    - postings: base ∪ pending (batches already manifested as merged
      are excluded from pending — their byte-identical rows sit in the
      base after a crash-replay, same rule as the MinHash live view);
    - df: recomputed over that union (vocabulary-sized output; the same
      aggregation cost class as the per-append ``_write_dfreq``);
    - stats: stored build counters + EVERY batch counter row (merged
      batches' rows are in the base, unmerged ones in pending — either
      way present in the union exactly once, so adding all counters is
      exact in every crash window, including mid-merge; tombstoned
      streamed documents' counter rows are excluded inside
      ``_batch_counters``).

    Pending rows honor outstanding deletes: the base holds no
    tombstoned rows by construction (dropped-for-rebuild at tombstone
    commit; merges scrub), and the pending union anti-joins the
    tombstone set — same rule as ``documents_minhash_live``.
    """
    _core._refresh_on_external_change(spark, sf_dir, _POSTINGS_INDEX)
    post, _dfreq, stored_stats = _postings_tables(spark, sf_dir)
    _recover_pending_scrubs(_core._pending_path(sf_dir, _POSTINGS_INDEX))
    # only_bids: a batch is visible once COMMITTED — its counter
    # partition written (counters land last; see write_postings_pending).
    # A crash between the postings and counters writes must hide the
    # postings too, or the union would serve rows its stats don't count.
    post = _core._pending_union(
        spark,
        sf_dir,
        _POSTINGS_INDEX,
        post,
        only_bids=_committed_counter_bids(sf_dir),
    )
    dfreq = post.groupBy("term").agg(F.count("*").alias("df"))
    # Stored stats describe the BUILD+append row set; counter rows
    # describe every COMMITTED streamed batch (merged or pending — in
    # the union exactly once either way), so stored + all counters is
    # the live row set. Starting from _postings_tables' raw stats —
    # not documents_postings' merged-adjusted frame — avoids paying for
    # an adjustment this sum would have to subtract back out.
    srow = stored_stats.first()
    pn, ps = _batch_counters(spark, sf_dir)
    live_stats = _stats_row(
        spark, int(srow["n_docs"]) + pn, int(srow["dl_sum"]) + ps
    )
    return post, dfreq, live_stats

def _scrub_paths(pend: str, bid: int) -> tuple[str, str]:
    # tmp/old live NEXT TO the pending area, not inside it: anything
    # under pend/ must parse as a _batch_id= partition directory or
    # Spark's partition discovery over the pending union would trip.
    return f"{pend}.scrub-{bid}.tmp", f"{pend}.scrub-{bid}.old"

def _recover_pending_scrubs(pend: str) -> None:
    """Finish or roll back tombstone scrubs of pending-batch partitions
    interrupted mid-swap (same complete-tmp-wins rule as
    :func:`_recover_swap`, relocated because the swap target is a
    partition directory inside the pending area)."""
    parent, name = os.path.dirname(pend), os.path.basename(pend)
    if not os.path.isdir(parent):
        return
    for d in os.listdir(parent):
        if not d.startswith(name + ".scrub-"):
            continue
        stem = d.rsplit(".", 1)[0]  # strip .tmp/.old
        bid = int(stem.rsplit("-", 1)[1])
        tmp, old = _scrub_paths(pend, bid)
        batch_dir = os.path.join(pend, f"_batch_id={bid}")
        if not os.path.exists(batch_dir):
            if os.path.exists(os.path.join(tmp, "_SUCCESS")):
                os.rename(tmp, batch_dir)
            elif os.path.exists(old):
                os.rename(old, batch_dir)
        for leftover in (tmp, old):
            if os.path.exists(batch_dir) and os.path.exists(leftover):
                shutil.rmtree(leftover)

def _scrub_pending_batch(
    spark: SparkSession, sf_dir: str, pend: str, batch_dir: str, bid: int
) -> None:
    """Rewrite one pending-batch partition WITHOUT the tombstoned
    documents' rows, through a crash-safe tmp/old swap — run just
    before the batch's files are renamed into the base, because the
    base postings serve with no read-side tombstone filter (corpus
    aggregates cannot absorb one): a verbatim move would resurrect
    deleted rows permanently. Filtering the SOURCE partition (instead
    of filter-while-moving) preserves the rename-depletes-the-source
    idempotence of the merge under crash/retry. No-op when the batch
    holds no tombstoned rows — or no data files at all (a retry after
    the move loop emptied the partition but crashed before the
    manifest write must fall through to the manifest, not throw on an
    unreadable empty directory)."""
    tb = _docs.document_tombstones(spark, sf_dir)
    if tb is None:
        return
    if not any(f.endswith(".parquet") for f in os.listdir(batch_dir)):
        return
    rows = _core.read_layout(spark, _POSTINGS_INDEX, batch_dir)
    if rows.join(F.broadcast(tb), "doc_id", "left_semi").limit(1).count() == 0:
        return
    tmp, old = _scrub_paths(pend, bid)
    for stale in (tmp, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    rows.join(F.broadcast(tb), "doc_id", "left_anti").write.parquet(tmp)
    os.rename(batch_dir, old)
    os.rename(tmp, batch_dir)
    shutil.rmtree(old)

def merge_postings_pending(
    spark: SparkSession, sf_dir: str, below_bid: int | None = None
) -> int:
    """VACUUM the postings pending list: per unmanifested batch, scrub
    any tombstoned documents' rows out of the partition (crash-safe
    in-place swap — the base has no read-side delete filter, so moving
    them would resurrect deletes), move its data files into the base
    (collision-free rename), refresh the vocabulary df table, manifest
    the batch id, and remove the emptied pending partition — the same
    move/manifest discipline as :func:`merge_minhash_pending`. Stats
    need NO rewrite: the per-document counter rows are permanent and
    the read paths add the merged ones to the stored stats (see
    write_postings_pending), so there is no fold step and therefore no
    double-count crash window. The one transient window: after a file
    move but before the df refresh completes, the STORED df table lags
    the moved rows — the merge retry (or the next merge) completes the
    refresh (the refresh runs BEFORE the manifest commit, once per
    merge call, so an unrefreshed state is always unmanifested and the
    retry redoes it); the live view's df is recomputed from the union
    and never lags. Returns the number of data files merged."""
    base = _core.prepared_path(sf_dir, _POSTINGS_INDEX)
    pend = _core._pending_path(sf_dir, _POSTINGS_INDEX)
    if not os.path.exists(pend):
        return 0
    _postings_tables(spark, sf_dir)  # base must exist to receive files
    dfreq_path = _core.prepared_path(sf_dir, "documents_dfreq.parquet")
    _recover_pending_scrubs(pend)
    # Half-written batches — postings landed but the counters (the
    # commit record, written last) did not — are left for the stream's
    # replay to complete; folding them would permanently skew stats.
    uncommitted = (
        _core._pending_bids_with_data(pend) - _committed_counter_bids(sf_dir)
    )

    def refresh_dfreq() -> None:
        # ONCE per merge call (not per batch): the vocabulary-sized
        # aggregate over the whole base is the merge's expensive step.
        # Staged + locked swap: this refresh runs on the LIVE ingest
        # cadence (merge_every), and a concurrent query must never see
        # a torn df directory (review r9 pass-6 #1).
        def write_fn(target: str) -> None:
            _write_dfreq(spark, base, target)
            _core._stamp(target, _POSTINGS_META)

        _core._staged_refresh(sf_dir, dfreq_path, write_fn)

    return _core._merge_pending(
        spark,
        sf_dir,
        _POSTINGS_INDEX,
        skip_bids=uncommitted,
        scrub=lambda batch_dir, bid: _scrub_pending_batch(
            spark, sf_dir, pend, batch_dir, bid
        ),
        after_moves=refresh_dfreq,
        below_bid=below_bid,
    )
