"""Prepared-artifact infrastructure: roots and paths, build
stamps, the staged swaps and their recoveries under one flock,
sorted-run compaction, and the pending-list (GIN fastupdate-style)
union/merge kernel shared by every index family."""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from venus_spark.fsutil import write_json_atomic
from venus_spark.operators import dedup as _dedup
from venus_spark.sources import load_table, read_parquet

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

PREPARED_ROOT = os.environ.get(
    "SPARK_GRAFT_PREPARED_DIR", os.path.join(_REPO_ROOT, ".prepared")
)

def prepared_path(sf_dir: str, name: str) -> str:
    """Resolve under the PACKAGE attribute ``venus_spark.prepared.
    PREPARED_ROOT`` at call time (not this module's binding), so the
    established override point — tests and embedders setattr the root
    on the package — keeps working across the package split."""
    import venus_spark.prepared as _pkg

    return os.path.join(
        _pkg.PREPARED_ROOT, os.path.basename(os.path.normpath(sf_dir)), name
    )

_EVENT_COLS = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double"
)

# Schema of every prepared layout, by its directory name, with the
# partition columns last as Spark lists them. Reads declare it instead
# of inferring it (a Spark job per read); writers check their rows
# against it. A pending list ``<name>.pending`` is its index's schema
# plus the ``_batch_id int`` partition column.
LAYOUT_SCHEMAS = {
    "documents_trgm.parquet": "doc_id bigint, text string, lang string, "
    "source string, n_chars bigint, _trg array<string>, "
    "_trg_bloom array<bigint>",
    "documents_trgm_postings.parquet": "doc_id bigint, trg string",
    "documents_minhash.parquet": "doc_id bigint, lang string, source string, "
    "_sh array<string>, _sh_h array<bigint>, "
    + ", ".join(f"mh_{i} bigint" for i in range(_dedup.N_PERM)),
    "documents_postings.parquet": "term string, doc_id bigint, dl int, "
    "tf bigint, pos array<int>",
    "documents_dfreq.parquet": "term string, df bigint",
    "documents_stats.parquet": "n_docs bigint, dl_sum bigint, avgdl double",
    "documents_stats_counters.parquet": "doc_id bigint, dl bigint, _batch_id int",
    "doc_tombstones.parquet": "doc_id bigint",
    "embeddings_ivf.parquet": "vec_id bigint, embedding array<float>, label int",
    "embeddings_ivf_centroids.parquet": "cluster int, centroid array<double>",
    "embeddings_pq_codebook.parquet": "cb_id int, cv array<double>",
    "embeddings_pq_codes.parquet": "vec_id bigint, codes array<int>, label int",
    "vec_tombstones.parquet": "vec_id bigint",
    "events_by_date.parquet": f"{_EVENT_COLS}, props string, date date",
    "events_by_user.parquet": f"{_EVENT_COLS}, props string",
    "events_zorder.parquet": f"{_EVENT_COLS}, props string",
    "events_variant.parquet": f"{_EVENT_COLS}, props_v variant, data_v variant",
    "events_daily_hll.parquet": "date date, event_type string, users_sk binary",
    "events_hourly_rollup.parquet": "bucket_ts timestamp, n bigint, "
    "sum_dec decimal(35,6)",
    "events_kv_postings.parquet": "kv string, event_id bigint",
    "events_kv_dfreq.parquet": "kv string, df bigint",
}

@functools.lru_cache(maxsize=None)
def layout_schema(name: str) -> T.StructType:
    """Declared schema of layout ``name`` (see :data:`LAYOUT_SCHEMAS`)."""
    if name.endswith(".pending"):
        return T.StructType.fromDDL(
            f"{LAYOUT_SCHEMAS[name[: -len('.pending')]]}, _batch_id int"
        )
    return T.StructType.fromDDL(LAYOUT_SCHEMAS[name])

def read_layout(spark: SparkSession, name: str, *paths: str) -> DataFrame:
    """Read ``paths`` (the layout, a staged copy of it, or some of its
    files) with layout ``name``'s declared schema — no Spark job."""
    return read_parquet(spark, layout_schema(name), *paths)

def layout_rows(df: DataFrame, name: str) -> DataFrame:
    """The columns of layout ``name`` from ``df``, in declared order.
    Raises when ``df`` lacks one or holds it with another type; columns
    the layout does not declare are dropped. Writers call it before
    writing, so a layout never holds files its declared reads would
    misread."""
    declared = layout_schema(name).fields
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    bad = {
        f.name: got.get(f.name)
        for f in declared
        if got.get(f.name) != f.dataType.simpleString()
    }
    if bad:
        raise ValueError(
            f"rows for layout {name!r}: columns {bad} (missing or of another "
            f"type), declared {layout_schema(name).simpleString()}"
        )
    return df.select(*(f.name for f in declared))

def read_once(append):
    """Decorator for an append ``(spark, sf_dir, batch, ...)``: the input
    batch is cached for the whole call. An append derives several index
    writes from one batch; uncached, each write re-evaluates the batch's
    lineage (a re-scan, a Python source re-serialized, a
    non-deterministic filter drawn again), which costs a scan per write
    and lets the indexes disagree about which rows the batch held. A
    batch the caller already cached is used as it is and stays cached."""

    @functools.wraps(append)
    def cached(spark, sf_dir, batch, *args, **kwargs):
        if batch.storageLevel != StorageLevel.NONE:
            return append(spark, sf_dir, batch, *args, **kwargs)
        batch.persist()
        try:
            return append(spark, sf_dir, batch, *args, **kwargs)
        finally:
            batch.unpersist()

    return cached

def side_by_side(spark: SparkSession, *branches) -> None:
    """Run ``branches`` — zero-argument callables whose writes do not
    depend on each other — on one thread each, and return when every
    branch has finished. Spark schedules jobs from several threads at
    once, so the branches' fixed per-job planning and scheduling costs
    overlap instead of adding up. Each thread starts
    from the caller's local properties and job tags (job group,
    description, a streaming query's ids), so every job it runs is
    attributed to the caller. The first failure in branch order is
    re-raised only after every branch has returned, so no job of the
    call is still running then. The one place ``venus_spark`` starts
    threads: a thread made elsewhere would drop those properties."""
    with ThreadPoolExecutor(max_workers=len(branches)) as pool:
        # wrapped here, in the caller's thread: that is when the
        # properties are copied, one copy per branch
        futures = [
            pool.submit(inheritable_thread_target(spark)(branch))
            for branch in branches
        ]
    for f in futures:
        f.result()

def _is_built(path: str, meta: dict | None = None) -> bool:
    """Complete build = Spark's ``_SUCCESS`` marker plus (when the
    artifact derives from tunable constants) a ``_prep_meta.json``
    matching the CURRENT constants. Without the stamp, changing e.g.
    the MinHash permutation count would leave a stale index silently
    producing wrong signatures; with it, the mismatch forces a rebuild.
    The underscore prefix keeps the stamp invisible to parquet readers
    (same convention as ``_SUCCESS``)."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    if meta is None:
        return True
    try:
        with open(os.path.join(path, "_prep_meta.json")) as f:
            return json.load(f) == meta
    except (OSError, ValueError):
        return False

def _stamp(path: str, meta: dict) -> None:
    with open(os.path.join(path, "_prep_meta.json"), "w") as f:
        json.dump(meta, f)

def _compact_existing_sorted(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ensure,
    meta: dict,
    sort_cols: tuple[str, ...],
    recover_tags: tuple[str, ...] = (".compact",),
) -> bool:
    """Shared gate + body for every sorted-postings OPTIMIZE job
    (review r7 pass-3 #4 — the gate was hand-copied three times and
    immediately diverged on recovery tags): finish any interrupted
    swaps FIRST (``recover_tags`` names every swap family that can
    displace this layout — missing one makes an interrupted rewrite
    look like a never-built layout and silently skips it), compact only
    what then EXISTS (a maintenance op must not build an index for a
    dir serving a different table family), and rewrite through the
    crash-safe sorted swap. A TORN-but-present directory (crashed
    build, no _SUCCESS) is deliberately repaired by the ensure before
    compacting — OPTIMIZE finishing an interrupted build is repair, not
    a side-effect build. Returns whether the layout exists — and is
    then one sorted file set. A built layout holding no appended or
    merged file is already that set, so it is left as it is: a nightly
    on an unchanged dir rewrites nothing."""
    path = prepared_path(sf_dir, name)
    _recover_prepared_swaps(sf_dir, path, *recover_tags)
    if not os.path.exists(path):
        return False
    if _is_built(path, meta) and not _holds_batch_files(path):
        return True
    # NOTE (review r9 pass-5 #2): a torn-but-present directory here is
    # treated as a CRASHED build for the ensure to repair; the gate
    # cannot distinguish it from a rebuild IN PROGRESS in another
    # process. OPTIMIZE is a maintenance op — the documented window
    # (single maintenance writer, no concurrent query-path rebuilds)
    # is what excludes that collision, same contract as repair/vacuum.
    _compact_sorted_swap(sf_dir, ensure, path, meta, sort_cols)
    return True

def _holds_batch_files(path: str) -> bool:
    """Whether layout ``path`` holds a data file that an append
    (``abatch-*``, :func:`_append_batch_files`) or a pending-list merge
    (``pending-*``, :func:`_merge_pending`) landed. Those are the only
    writers that add files to a built layout; every rewrite (build,
    compaction, vacuum, delete scrub, recluster) writes the layout's
    sorted shape under unprefixed names."""
    return any(
        f.startswith(("abatch-", "pending-"))
        for _root, _dirs, files in os.walk(path)
        for f in files
    )

def _compact_sorted_swap(
    sf_dir: str,
    rows_fn,
    path: str,
    meta: dict,
    sort_cols: tuple[str, ...],
) -> None:
    """Rewrite a range-sorted layout from its own CURRENT contents back
    into one globally range-partitioned, sorted file set — the shared
    body of the postings OPTIMIZE jobs. Crash-safe staged swap: the
    Spark rewrite stages OUTSIDE the lock under a recovery-invisible
    ``.compact_staging`` name (a concurrent reader's locked recovery
    never sees it, so it cannot rmtree the stage mid-write), and the
    three-rename swap runs under :func:`_prep_swap_flock` so no reader
    recovery can interleave the aside window. The stamp, the
    append-batch manifest, the merged-batch manifest (a crash-replayed
    pending write after forgetting it would double count), and the
    mode-append marker (appended rows are still base-absent after
    absorption) all survive the rewrite. ``rows_fn`` is a FACTORY, not
    a DataFrame: a parquet relation pins its file listing at creation,
    and the manifest snapshot must happen BEFORE that pin —
    snapshot-then-list means a batch landed in the window
    is at worst double-landed by its retry (absorbed rows + re-landed
    abatch files under a contract-violating concurrent append), never
    silently LOST the way list-then-snapshot loses it (id carried,
    rows absent, retry no-ops). Row-set invariants (dfreq/stats) are
    untouched — queries stay correct while compaction is due, only
    less pruned."""
    manifest = _read_abatch_manifest(path)
    merged = _read_merged(path)
    marked = _has_append_marker(path)
    staging = path + ".compact_staging"
    if os.path.exists(staging):
        shutil.rmtree(staging)  # our own crashed prior staging
    (
        rows_fn()
        .repartitionByRange(sort_cols[0])
        .sortWithinPartitions(*sort_cols)
        .write.parquet(staging)
    )
    _stamp(staging, meta)
    if manifest:
        _write_abatch_manifest(staging, manifest)
    if merged:
        _write_merged(staging, merged)
    if marked:
        _mark_appended(staging)
    _swap_in_locked(sf_dir, path, ".compact", staging)

def _read_meta(path: str) -> dict:
    with open(os.path.join(path, "_prep_meta.json")) as f:
        return json.load(f)

def _append_batch_files(
    df: DataFrame,
    dest: str,
    batch_id: int,
    partition_by: tuple[str, ...] = (),
) -> None:
    """IDEMPOTENT batch append without a table format: the batch is
    written to a side directory, any files from an earlier attempt of
    the SAME batch are removed from the destination, the new files are
    moved in under an ``abatch-<id>-`` prefixed name (per-file rename,
    atomic on a POSIX filesystem), and the batch id is recorded LAST in
    the artifact's ``_abatch_manifest.json``. A crash at any point
    leaves a retry that converges to exactly one copy of the batch,
    and a retry AFTER the manifest committed is a pure no-op — which
    also protects against re-landing a batch whose rows a later
    retention/compaction rewrite absorbed into unprefixed files (the
    rewrite preserves the manifest). The batch-API counterpart of the
    streaming sink's ``_batch_id`` dynamic partition overwrite. Readers
    may observe a torn batch mid-move (standard for format-less
    appends; a lakehouse table format's commit log is the production
    upgrade).

    Listing cost is O(batch): the prior-attempt cleanup and the move
    loop both walk only the directories the batch's OWN tmp write
    produced (top level, or the batch's partition dirs), never the
    full layout tree.

    CONTRACT: a given ``batch_id`` must always carry the SAME rows —
    the retry-cleanup scan is scoped to the partition directories the
    current attempt produces, so a retry whose upstream re-read yielded
    different rows (and therefore different partition dirs) could leave
    an earlier attempt's files alive in partitions the retry no longer
    touches. Same id ⇒ same rows is exactly the contract a streaming
    epoch id or a lakehouse commit id carries; callers that cannot
    guarantee it must assign a fresh batch id per logical batch."""
    if batch_id in _read_abatch_manifest(dest):
        return  # batch fully committed earlier — retry is a no-op
    tmp = f"{dest}.abatch-{batch_id}.tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    writer = layout_rows(df, os.path.basename(dest)).write
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    prefix = f"abatch-{batch_id}-"
    batch_dirs = [
        rel
        for rel, _files in _walk_rel(tmp)
    ]
    # prior-attempt cleanup, scoped to the directories this batch lands in
    for rel in batch_dirs:
        ddir = dest if rel == "." else os.path.join(dest, rel)
        if not os.path.isdir(ddir):
            continue
        for f in os.listdir(ddir):
            if f.startswith(prefix):
                os.remove(os.path.join(ddir, f))
    for rel, files in _walk_rel(tmp):
        ddir = dest if rel == "." else os.path.join(dest, rel)
        for f in files:
            os.makedirs(ddir, exist_ok=True)
            os.rename(
                os.path.join(tmp, "" if rel == "." else rel, f),
                os.path.join(ddir, prefix + f),
            )
    shutil.rmtree(tmp)
    _write_abatch_manifest(dest, _read_abatch_manifest(dest) | {batch_id})

_ABATCH_MANIFEST = "_abatch_manifest.json"

def _walk_rel(tmp: str) -> list[tuple[str, list[str]]]:
    """(relative dir, data files) pairs under a batch tmp write —
    bookkeeping files (underscore/dot prefixed) excluded. Strict walk:
    a suppressed scandir failure here would move a PARTIAL batch into
    the layout as if complete."""
    from venus_spark.fsutil import walk_strict

    out = []
    for root, _dirs, files in walk_strict(tmp):
        data = [f for f in files if not f.startswith(("_", "."))]
        if data:
            out.append((os.path.relpath(root, tmp), data))
    return out

_APPEND_MARKER = "_has_appends.json"

def _mark_appended(path: str) -> None:
    """Record that a layout absorbed batch rows the base table may not
    hold, so :func:`_refuse_rebuild_with_absorbed_batches` refuses a
    lossy from-base rebuild. :func:`_merge_pending` writes it when it
    folds pending batches into a base. Layouts written before every
    append took a batch id carry it from the old un-manifested
    mode-append, which left no batch record. Rewrites that preserve
    the row set (compaction, vacuum, retention) must carry the marker
    like they carry the manifests."""
    write_json_atomic(os.path.join(path, _APPEND_MARKER), True)

def _has_append_marker(path: str) -> bool:
    return os.path.exists(os.path.join(path, _APPEND_MARKER))

def _refuse_rebuild_with_absorbed_batches(path: str, what: str) -> None:
    """Guard a lazy from-base rebuild of a derived layout: once the
    layout has absorbed appended/streamed batches (non-empty abatch or
    merged-batch manifest, or the mode-append marker), those rows may
    exist ONLY in the layout — the sink table, not the base parquet,
    holds the streamed copies — so dropping the directory and
    rebuilding from ``load_table`` would silently lose them (and forget
    the committed batch ids). Refuse loudly instead: the operator
    either re-lands those rows in the base table or deletes the layout
    directory explicitly to accept the loss."""
    if (
        _read_abatch_manifest(path)
        or _read_merged(path)
        or _has_append_marker(path)
    ):
        raise RuntimeError(
            f"{what} at {path} holds appended/streamed batches that the "
            "base table may not contain (non-empty batch manifest or "
            "append marker); a rebuild from the base table would "
            "silently drop those rows. Re-land them in the base table "
            "first, or delete the layout directory explicitly to accept "
            "the loss."
        )

def _read_abatch_manifest(dest: str) -> set[int]:
    try:
        with open(os.path.join(dest, _ABATCH_MANIFEST)) as f:
            return set(json.load(f))
    except (OSError, ValueError):
        return set()

def _write_abatch_manifest(dest: str, ids: set[int]) -> None:
    write_json_atomic(os.path.join(dest, _ABATCH_MANIFEST), sorted(ids))

@contextmanager
def _swap_flock(lockfile: str, module_lock: threading.Lock):
    """Exclusive lock on the file ``lockfile``: an OS-level ``flock``,
    exclusive across processes and across threads (each acquisition
    opens its own descriptor), released by the kernel on crash, with
    ``module_lock`` in front so a process's threads queue in user
    space. NOT reentrant: a holder must never call another taker. The
    one ``flock`` body; :func:`_prep_swap_flock` and the warehouse
    bucket lock are its two lock files."""
    import fcntl

    os.makedirs(os.path.dirname(lockfile), exist_ok=True)
    with module_lock:
        with open(lockfile, "w") as fd:
            fcntl.flock(fd, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)

_PREP_SWAP_LOCK = threading.Lock()

_PREP_SWAP_LOCKFILE = "_prep_swap.lock"

@contextmanager
def _prep_swap_flock(sf_dir: str):
    """The one lock for every prepared-layout swap and its recovery:
    the document and embedding vacuums, the sorted compactions, the
    ``.refresh`` df and ``.deladj`` stats swaps, the events recluster
    and retention, and the vector retrain's marker-driven commit. Rewrites
    stage OUTSIDE it under a recovery-invisible ``*_staging`` name; the
    renames and every recovery run inside it, so a reader's recovery
    can never rmtree an in-flight stage, interleave a swap's aside
    window, or resurrect a displaced generation into it."""
    with _swap_flock(prepared_path(sf_dir, _PREP_SWAP_LOCKFILE), _PREP_SWAP_LOCK):
        yield

def _recover_prepared_swaps(sf_dir: str, path: str, *tags: str) -> None:
    """Locked-when-pending recovery for a prepared layout's rewrite
    swaps: the lock-free fast path (no ``.tmp``/``.old``/``.trash``
    leftover for any tag — the common case for every query) costs a
    few listdir stats; when anything IS pending, the recovery runs
    under :func:`_prep_swap_flock` so it cannot race a rewrite's swap.
    A ``.trash`` leftover (a swap's displaced generation whose
    out-of-lock delete was killed mid-rmtree) is unconditional garbage
    — removed here so it cannot leak a full old generation of the
    layout until the next rewrite."""
    if not any(
        os.path.exists(f"{path}{tag}{suffix}")
        for tag in tags
        for suffix in (".tmp", ".old", ".trash")
    ):
        return
    with _prep_swap_flock(sf_dir):
        for tag in tags:
            _recover_swap(path, tag)
    # trash is recovery-invisible garbage: delete it OUTSIDE the lock,
    # since a large displaced generation's rmtree under the
    # process-wide lock would stall every swap and recovery;
    # ignore_errors because _swap_in_locked and concurrent readers may
    # be deleting the same leftover
    for tag in tags:
        shutil.rmtree(f"{path}{tag}.trash", ignore_errors=True)

def _prepared_built_under_lock(
    sf_dir: str, recoveries: tuple[tuple[str, str], ...], probe
) -> bool:
    """Authoritative built-check for a prepared layout that a rewrite
    swap can displace, the one every family's ensure confirms a rebuild
    with: an unlocked ``_is_built`` returning False can be a concurrent
    swap's aside window — the path briefly absent between the two
    renames — and a rebuild decision taken on it would rmtree a live
    generation. Re-run the recovery and the probe under
    :func:`_prep_swap_flock`, where no swap can be mid-aside: a False
    here means genuinely unbuilt/stale, so the caller's rebuild is safe
    (rewrites only ever operate on BUILT layouts, so none can start
    against the rebuild after the lock is released). ``probe`` runs
    with the lock held, so it may finish other locked recoveries first
    (the vector ensures complete a committed retrain there) but must
    not take the lock itself. ``recoveries`` lists EVERY (path, tag)
    swap that can displace an artifact the probe reads — a
    multi-artifact probe (postings + stats) must name each family, or
    the unnamed one's aside window stays open. Small derived artifacts
    refreshed on the live merge cadence (the documents dfreq/stats) go
    through :func:`_staged_refresh` so they are never torn for this
    probe; the events kv dfreq keeps its plain overwrite because its
    ensure re-derives it from the postings without any refuse/rebuild
    hazard and its statistics are planning-only."""
    with _prep_swap_flock(sf_dir):
        for path, tag in recoveries:
            _recover_swap(path, tag)
        return probe()

def sweep_stale_stagings(sf_dir: str) -> int:
    """Remove crash-leftover ``*_staging`` directories under the
    prepared dir — MAINTENANCE-WINDOW ONLY (the nightly's first step):
    staging names are recovery-invisible precisely so readers can
    never rmtree an in-flight stage, which means a crashed writer's
    staging (potentially a full generation of a large layout) leaks
    until the next rewrite of that same artifact (review r9 pass-7
    #5). In the maintenance window there is no in-flight writer by
    contract, so anything staged is garbage. Returns directories
    removed."""
    root = os.path.dirname(prepared_path(sf_dir, "_probe"))
    if not os.path.isdir(root):
        return 0
    n = 0
    for d in os.listdir(root):
        if d.endswith("_staging"):
            p = os.path.join(root, d)
            shutil.rmtree(p, ignore_errors=True)
            if not os.path.exists(p):  # count only what actually went
                n += 1
    return n

def _staged_refresh(
    sf_dir: str, path: str, write_fn, tag: str = ".refresh"
) -> None:
    """Reader-safe replacement for a small derived artifact's
    ``mode("overwrite")`` refresh (the documents dfreq table, and the
    stats table under the ``.deladj`` tag): the plain overwrite left
    the directory torn/unstamped for the duration of a Spark job, and a
    query racing the LIVE merge cadence
    (``start_documents_ingest(merge_every=...)`` runs
    :func:`merge_postings_pending`, which refreshes df, while queries
    serve) would see ``_is_built`` False and spuriously refuse
    (absorbed batches present) or start a racing rebuild.
    ``write_fn(target)`` must write the COMPLETE new generation — rows,
    stamp, sidecars — into ``target``. A fresh build (live path absent)
    writes directly (ensure-owned); otherwise the generation stages
    under a recovery-invisible name and commits through
    :func:`_swap_in_locked` (recovered by ``_postings_tables``'
    locked-when-pending reader recovery), so a reader only ever
    observes a complete stamped generation. ``tag`` is the one swap
    family that rewrites ``path``."""
    # recover a crashed prior swap before the exists probe: a crash
    # inside its aside window leaves the path absent with a complete
    # tmp — deciding "fresh build" on that state would plain-overwrite
    # the live dir (torn for the whole Spark job) and race the
    # recovery that restores the tmp.
    _recover_prepared_swaps(sf_dir, path, tag)
    if not os.path.exists(path):
        write_fn(path)
        return
    staging = f"{path}{tag}_staging"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    write_fn(staging)
    _swap_in_locked(sf_dir, path, tag, staging)

def _swap_in_locked(sf_dir: str, path: str, tag: str, staging: str) -> None:
    """The commit tail shared by every prepared-family rewrite
    (compaction, document and embedding vacuum, recluster, retention,
    deladj, refresh): resolve any crashed prior swap
    (restore-never-delete), promote the recovery-invisible staged dir
    through the three-rename swap, and move the displaced generation to
    a ``{tag}.trash`` name INSIDE the lock but delete it OUTSIDE —
    rmtree of a large displaced layout can take minutes, and holding
    the process-wide swap lock for it would block every other family's
    recovery and locked built-check. The trash name is
    recovery-invisible; a crash leftover is cleared by the next
    rewrite's own prologue here."""
    tmp, old = f"{path}{tag}.tmp", f"{path}{tag}.old"
    trash = f"{path}{tag}.trash"
    # ignore_errors: a reader's locked recovery may be deleting the
    # same crash-leftover trash concurrently
    shutil.rmtree(trash, ignore_errors=True)
    if not os.path.exists(os.path.join(staging, "_SUCCESS")):
        # the complete-generation-wins rule _recover_swap enforces for
        # tmps, applied at the source: a torn staging — a writer bug or
        # a contract-violating concurrent writer clobbering the shared
        # staging name — must fail LOUDLY here, never be renamed in as
        # the live generation
        raise RuntimeError(
            f"staged rewrite at {staging} is incomplete (no _SUCCESS); "
            "refusing to swap it in. A concurrent writer may have "
            "violated the single-maintenance-writer contract."
        )
    with _prep_swap_flock(sf_dir):
        _recover_swap(path, tag)
        os.rename(staging, tmp)
        os.rename(path, old)
        os.rename(tmp, path)
        os.rename(old, trash)
    shutil.rmtree(trash, ignore_errors=True)

def _recover_swap(path: str, tag: str) -> None:
    """Finish or roll back a directory swap interrupted mid-rename
    (shared by the recluster and retention rewrites): a COMPLETE tmp
    (``_SUCCESS`` present) wins — a rewrite is only swapped in when it
    holds the intended surviving rows, so completing the swap is
    always safe; otherwise the displaced old directory is put back.
    Rows present only in the live directory (e.g. appended batches)
    can therefore never be lost to a crash window."""
    tmp, old = f"{path}{tag}.tmp", f"{path}{tag}.old"
    if not os.path.exists(path):
        if os.path.exists(os.path.join(tmp, "_SUCCESS")):
            os.rename(tmp, path)
        elif os.path.exists(old):
            os.rename(old, path)
    for leftover in (tmp, old):
        if os.path.exists(path) and os.path.exists(leftover):
            shutil.rmtree(leftover)

def _pending_path(sf_dir: str, index_name: str) -> str:
    return prepared_path(sf_dir, index_name + ".pending")

def _write_pending(
    sf_dir: str, index_name: str, rows: DataFrame, batch_id: int
) -> None:
    """Land one micro-batch's index rows under a ``_batch_id`` pending
    partition with dynamic overwrite — a replayed batch rewrites
    exactly its own partition. ONE copy of the write discipline for all
    three pending-list indexes."""
    (
        layout_rows(rows, index_name)
        .withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(_pending_path(sf_dir, index_name))
    )

def _pending_bids_with_data(pend: str) -> set[int]:
    """Batch ids whose ``_batch_id=`` partition under ``pend`` holds at
    least one data file — a pending list's or a streaming-sink table's.
    A merge that crashed between its last file-move and the partition
    rmtree, or a torn sink write, leaves a DATA-LESS ``_batch_id=``
    directory; reading it through Spark would then fail schema
    inference, so every reader keys off this listing instead of bare
    directory existence."""
    if not os.path.isdir(pend):
        return set()
    out = set()
    for d in os.listdir(pend):
        if not d.startswith("_batch_id="):
            continue
        p = os.path.join(pend, d)
        if os.path.isdir(p) and any(
            f.endswith(".parquet") for f in os.listdir(p)
        ):
            out.add(int(d.split("=", 1)[1]))
    return out

_LIVE_FRESHNESS: dict[str, tuple[int, int, int]] = {}

def _refresh_on_external_change(
    spark: SparkSession, sf_dir: str, index_name: str
) -> None:
    """Cross-process visibility for the live read path (r14 chaos
    probe): Spark caches directory listings per session
    (FileStatusCache), so a MERGE or a freshly landed pending batch
    performed by ANOTHER process stays invisible to this session's
    queries forever — the live view would serve the stale base until
    restart. Gate a (cheap) ``refreshByPath`` on the three mtimes that
    change exactly when the layout does: the merged-batch manifest
    (rewritten by every merge), the base directory (files move in on
    merge; compaction/vacuum swaps replace it), and the pending area
    (partition dirs are created by new batches and removed by merges).
    Steady state costs three ``stat()`` calls and the listing cache
    survives between changes.

    This closes the STALENESS half of the cross-process race. The
    narrower crash half remains inherent to a two-directory union
    without a snapshotting table format (the documented lakehouse
    gap): a query whose plan listed the pending files can execute
    after a concurrent merge moved them and fail with a missing-file
    error. The contract is retry-on-conflict — the rerun plans against
    refreshed listings (this guard) and succeeds on the post-merge
    view; the cross-process chaos test pins both halves."""
    base = prepared_path(sf_dir, index_name)
    pend = _pending_path(sf_dir, index_name)
    _refresh_paths_on_change(
        spark,
        base,
        (
            # base files move in on merge (the manifest is rewritten in
            # the same act); compaction/vacuum swaps replace the dir
            ((_merged_manifest_path(base), base), base),
            # pending partition dirs are created by new batches and
            # removed by merges
            ((pend,), pend),
        ),
    )

def _refresh_paths_on_change(
    spark: SparkSession,
    key: str,
    scoped: tuple[tuple[tuple[str, ...], str], ...],
) -> None:
    """Shared mtime-gated cache-drop (see
    :func:`_refresh_on_external_change` for the rationale), SCOPED per
    target (r15, VERDICT r14 #1): ``scoped`` maps each refresh target
    to the stat paths that gate it — ``((stat_paths, refresh_path),
    ...)`` — and a target's cached listing is dropped only when one of
    ITS OWN gates' mtimes changed since the last probe under ``key``.
    The r14 version refreshed every target when ANY gate moved, so
    e.g. a newly landed pending batch needlessly discarded the base
    table's warm listing — a re-list whose cost grows with the base
    while the pending area stays O(batch). A directory's mtime changes
    when entries are added/removed (appends, merges, partition
    creation) and when a staged swap renames a new generation into
    place, so these stats are exactly the signal that the listing
    cache went stale. On the FIRST probe of a session every target is
    refreshed — the prior listing state is unknown (a listing cached
    before a foreign process's change would otherwise be served,
    permanently stale)."""

    def mt(p: str) -> int:
        try:
            return os.stat(p).st_mtime_ns
        except OSError:
            return -1

    prev = _LIVE_FRESHNESS.get(key)
    cur = tuple(tuple(mt(p) for p in stats) for stats, _target in scoped)
    if prev == cur:
        return
    first = prev is None or len(prev) != len(cur)
    _LIVE_FRESHNESS[key] = cur
    for i, (_stats, target) in enumerate(scoped):
        if first or prev[i] != cur[i]:
            spark.catalog.refreshByPath(target)

def _pending_union(
    spark: SparkSession,
    sf_dir: str,
    index_name: str,
    base_df: DataFrame,
    only_bids: set[int] | None = None,
) -> DataFrame:
    """base ∪ pending for a pending-list index — the shared live-view
    union rule: batches already manifested as merged are EXCLUDED
    (their byte-identical rows sit in the base after a crash replay),
    data-less partitions are skipped (see _pending_bids_with_data),
    ``only_bids`` optionally restricts to committed batches (the term
    postings' counter gate), and pending rows honor outstanding deletes
    through the same tombstone anti-join as the base read."""
    base = prepared_path(sf_dir, index_name)
    pend = _pending_path(sf_dir, index_name)
    bids = _pending_bids_with_data(pend)
    if only_bids is not None:
        bids &= only_bids
    bids -= _read_merged(base)
    if not bids:
        return base_df
    pend_df = read_layout(spark, index_name + ".pending", pend).filter(
        F.col("_batch_id").isin(sorted(bids))
    )
    return base_df.unionByName(
        _docs._anti_tombstones(spark, sf_dir, pend_df.drop("_batch_id"))
    )

def _merge_pending(
    spark: SparkSession,
    sf_dir: str,
    index_name: str,
    skip_bids: set[int] | None = None,
    scrub=None,
    after_moves=None,
    mark_appended: bool = True,
    below_bid: int | None = None,
) -> int:
    """VACUUM a pending list into its base layout — ONE copy of the
    crash-critical move/manifest discipline all three indexes share.

    Per unmanifested batch: optionally ``scrub(batch_dir, bid)`` (the
    term postings' tombstone rewrite), then move each data file into
    the base under a collision-free name (os.rename — atomic; the
    depleted source is what makes retries idempotent). After ALL moves,
    ``after_moves()`` runs once (the term postings' vocabulary-df
    refresh — once per merge, not per batch), then every moved batch id
    is manifested and its emptied partition removed. ``skip_bids``
    leaves half-written batches (postings counter gate) for the
    stream's replay.

    ``below_bid`` merges only batch ids STRICTLY below it — the gate
    the in-service cadence needs: a merge running inside foreachBatch
    for epoch E executes BEFORE E's checkpoint commit, so a crash
    mid-merge replays epoch E and its dynamic partition overwrite
    re-populates the partially-depleted pending partition with the full
    row set; the retried merge would then move every file again while
    the pre-crash-moved files already sit in the base under fresh uuid
    names — permanent duplicate index rows. Strictly-older epochs are
    checkpoint-committed (foreachBatch commits epochs in order; at most
    the current epoch is uncommitted), so no replay ever rewrites their
    partitions and depleted-source idempotence holds.

    Crash windows: mid-move → unmanifested, the rerun moves only the
    remaining files; after moves, before manifest → partitions are
    data-less, the rerun moves nothing, re-runs after_moves, manifests
    (data-less partitions are also invisible to the live views —
    _pending_bids_with_data); after manifest, before dir removal → the
    rerun just removes the empty dir; a stream replay of a merged batch
    rewrites its partition, which the manifest excludes everywhere and
    the next merge deletes without moving. Returns data files moved."""
    import uuid

    base = prepared_path(sf_dir, index_name)
    pend = _pending_path(sf_dir, index_name)
    if not os.path.exists(pend):
        return 0
    merged = _read_merged(base)
    n = 0
    touched: list[tuple[int, str]] = []
    for d in sorted(os.listdir(pend)):
        if not d.startswith("_batch_id="):
            continue
        batch_dir = os.path.join(pend, d)
        bid = int(d.split("=", 1)[1])
        if bid in merged:
            shutil.rmtree(batch_dir)  # replayed after merge: drop, don't move
            continue
        if below_bid is not None and bid >= below_bid:
            continue  # current (uncommitted) epoch: a replay may rewrite it
        if skip_bids is not None and bid in skip_bids:
            continue
        if scrub is not None:
            scrub(batch_dir, bid)
        for fn in sorted(os.listdir(batch_dir)):
            if not fn.endswith(".parquet"):
                continue
            os.rename(
                os.path.join(batch_dir, fn),
                os.path.join(base, f"pending-{uuid.uuid4().hex}.parquet"),
            )
            n += 1
        touched.append((bid, batch_dir))
    if touched:
        if after_moves is not None:
            after_moves()
        _write_merged(base, merged | {bid for bid, _ in touched})
        for _bid, batch_dir in touched:
            shutil.rmtree(batch_dir)
        if mark_appended:
            _mark_appended(base)  # merged rows may exist only here + sink
    try:
        os.rmdir(pend)  # only if the writer hasn't landed new batches
    except OSError:
        pass
    return n

def _merged_manifest_path(base: str) -> str:
    # Underscore prefix: invisible to parquet readers, like _SUCCESS.
    return os.path.join(base, "_merged_batches.json")

def _read_merged(base: str) -> set[int]:
    try:
        with open(_merged_manifest_path(base)) as f:
            return set(json.load(f))
    except (OSError, ValueError):
        return set()

def _write_merged(base: str, merged: set[int]) -> None:
    write_json_atomic(_merged_manifest_path(base), sorted(merged))

# Imported last: docs applies read_once to its appends at import time.
from venus_spark.prepared import docs as _docs  # noqa: E402
