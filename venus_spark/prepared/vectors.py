"""Embedding-side artifacts: IVF centroids, PQ codebooks/codes,
vector tombstones, and the drift-triggered retrain machinery with its
crash-safe commit protocol."""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from venus_spark.fsutil import write_json_atomic
from venus_spark.functions import dround
from venus_spark.sources import load_table
from venus_spark.prepared import core as _core

# The IVF centroid table BAKES davg-rounded values (the one stored
# artifact besides the postings stats' avgdl that does), so it carries
# the rounding-discipline rev: a layout built under the old built-in
# ROUND rule would otherwise be silently served against oracles that
# recompute centroids with the FLOOR rule — the exact divergence class
# dround eliminates, re-entering through storage (review r11 pass-8
# #1). The vector/codes tables are raw rows and PQ codebooks are raw
# coreset samples — no rounding stored, no round stamp needed. One
# constant shared by the build and the retrain staging so the two
# writers cannot drift.
_IVF_CENT_META = {"centroid": "davg", "round": "floor-half-up-6"}

_IVF = "embeddings_ivf.parquet"
_IVF_CENT = "embeddings_ivf_centroids.parquet"
_PQ_CODES = "embeddings_pq_codes.parquet"
_PQ_CODEBOOK = "embeddings_pq_codebook.parquet"

def embeddings_ivf(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The IVF index as a *layout*: ``(vectors, centroids)`` where the
    vector table is written ``partitionBy(cluster id)`` — so the probe's
    semi-join against the chosen centroids prunes whole partition
    directories (Spark's dynamic partition pruning), not just row
    groups — and the centroid table (n_clusters rows, broadcast-sized)
    is materialized once instead of being re-aggregated from the full
    vector set per query. Building both is one scan + one shuffle at
    ingest time; ``sim_ivf_topk`` without this layout pays that
    centroid aggregation on every search."""
    vec_path = _core.prepared_path(sf_dir, "embeddings_ivf.parquet")
    cent_path = _core.prepared_path(sf_dir, "embeddings_ivf_centroids.parquet")
    # cross-process visibility (r14): a foreign process's streamed
    # abatch append, vacuum swap, or retrain must not stay hidden
    # behind this session's cached listings — same guard as the
    # document-side live views (core._refresh_on_external_change)
    _core._refresh_paths_on_change(
        spark,
        vec_path,
        # scoped per layout dir (r15): each gated on its own mtime —
        # appends/vacuum touch vec_path, a retrain swap touches both
        (((vec_path,), vec_path), ((cent_path,), cent_path)),
    )
    # finish any interrupted vacuum swap + committed retrain, locked
    _recover_vector_layouts(sf_dir, (vec_path,))
    # The heal-vs-rebuild fork must be decided by the LOCKED probe, not
    # an unlocked re-check after the lock drops (review r11 pass-10
    # #2): a concurrent vacuum's aside window — vec_path briefly
    # renamed away — would misroute a live built layout into the
    # destructive from-base rebuild, and the absorbed-batches refusal
    # reads an empty manifest from the absent dir, so the streamed
    # rows would be silently rebuilt away. The probe records which
    # state held WHILE the lock was held.
    state = {"vec_ok": False}

    def _probe() -> bool:
        state["vec_ok"] = _core._is_built(vec_path)
        return state["vec_ok"] and _core._is_built(cent_path, _IVF_CENT_META)

    if not _probe() and not _vector_built_under_lock(
        sf_dir, (vec_path,), _probe
    ):
        if state["vec_ok"]:
            # ONLY the centroid stamp is stale/absent (a layout built
            # before the rounding-discipline stamp, or a crash mid-heal):
            # this is a METADATA-ONLY migration — recompute the
            # broadcast-sized centroid table from the existing vec rows
            # (the retrain recipe) instead of rmtree-ing the partitioned
            # vector layout for a full from-base rebuild, which would
            # also hit the absorbed-batches refusal and permanently
            # brick every IVF read path on an upgraded deployment
            # (review r11 pass-9 #1/#2).
            _heal_ivf_centroids(spark, sf_dir, vec_path, cent_path)
        else:
            _core._refuse_rebuild_with_absorbed_batches(
                vec_path, "IVF vector layout"
            )
            for p in (vec_path, cent_path):
                if os.path.exists(p):
                    shutil.rmtree(p)
            from venus_spark.operators.similarity import centroid_arrays

            emb = _anti_vec_tombstones(
                spark, sf_dir, load_table(spark, sf_dir, "embeddings")
            )
            _core.layout_rows(emb, _IVF).write.partitionBy("label").parquet(vec_path)
            _core.layout_rows(centroid_arrays(emb), _IVF_CENT).write.parquet(cent_path)
            _core._stamp(cent_path, _IVF_CENT_META)
            # drift baseline for retrain_vector_artifacts_if_drifted:
            # the build trained on the live set, so outstanding
            # tombstones are already reflected
            tb = embedding_tombstones(spark, sf_dir)
            _write_train_meta(
                cent_path,
                0 if tb is None else tb.count(),
                _core.read_layout(spark, _IVF, vec_path).count(),
            )
    # outstanding (not yet vacuumed) vector deletes filter at read
    return (
        _anti_vec_tombstones(spark, sf_dir, _core.read_layout(spark, _IVF, vec_path)),
        _core.read_layout(spark, _IVF_CENT, cent_path),
    )

def _heal_ivf_centroids(
    spark: SparkSession, sf_dir: str, vec_path: str, cent_path: str
) -> None:
    """Recompute ONLY the centroid table from the existing (live,
    anti-tombstoned) vec layout and stamp it with the current rounding
    discipline — the non-destructive migration for a centroid table
    whose stamp predates :data:`_IVF_CENT_META` (review r11 pass-9
    #1/#2). The vec rows are raw and untouched, so absorbed streamed
    batches stay served and no refusal applies.

    The Spark work stages OUTSIDE the lock (the vacuum's own
    discipline — the swap flock must not be held across corpus-sized
    jobs, review r11 pass-10 #4); only the re-probe + swap run locked.
    A vacuum swapping vec_path mid-stage fails the staging job LOUDLY
    (whole-dir rename) — retryable, never silent. The existing drift
    baseline (``_vec_train_meta.json``) is PRESERVED, not re-seeded:
    it is the SHARED baseline that also gates the PQ codebook retrain,
    and resetting it on a centroids-only heal would silently erase the
    codebook's accumulated delete drift (review r11 pass-10 #1) —
    fresh counts are seeded only when no readable baseline exists.
    Crash-safe: a crash between the rmtree and the rename leaves
    cent_path absent with vec built, which re-enters this heal on the
    next ensure — and the leftover staging then holds the ONLY copy of
    the preserved baseline, so it is read BEFORE the sweep (review r11
    pass-11 #2). Staging names are per-attempt unique: the heal runs
    on the ensure path where several processes can enter concurrently,
    and a fixed tmp name let healer B rmtree/overwrite healer A's
    in-flight staging into a mixed directory that a later rename would
    serve with a valid stamp (review r11 pass-11 #1) — with unique
    names the loser's staging at worst dies loudly when the winner
    sweeps it, and its locked re-probe then sees the healed table."""
    from venus_spark.operators.similarity import centroid_arrays

    def _valid(m) -> bool:
        return (
            isinstance(m, dict) and "tb_at_train" in m and "trained_n" in m
        )

    # baseline FIRST: cent_path's copy, else a crashed staging's
    keep = _read_train_meta(cent_path)
    parent = os.path.dirname(cent_path)
    base = os.path.basename(cent_path) + ".restamp."
    leftovers = (
        [
            os.path.join(parent, n)
            for n in os.listdir(parent)
            if n.startswith(base)
        ]
        if os.path.isdir(parent)
        else []
    )
    for p in leftovers:
        if not _valid(keep):
            keep = _read_train_meta(p)
    for p in leftovers:
        shutil.rmtree(p, ignore_errors=True)  # crashed prior attempts
    live = _anti_vec_tombstones(spark, sf_dir, _core.read_layout(spark, _IVF, vec_path))
    fallback = None
    if not _valid(keep):
        # only when NO baseline survives anywhere (pre-r7 layout or
        # triple crash) — two corpus-sized jobs, skipped in the common
        # preserved-baseline case (review r11 pass-11 #3)
        tb = embedding_tombstones(spark, sf_dir)
        fallback = (0 if tb is None else tb.count(), live.count())
    tmp = f"{cent_path}.restamp.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"
    _core.layout_rows(centroid_arrays(live), _IVF_CENT).write.parquet(tmp)
    _core._stamp(tmp, _IVF_CENT_META)
    with _vec_swap_flock(sf_dir):
        _core._recover_swap(vec_path, ".vacuum")
        _recover_vector_retrain_locked(sf_dir)
        if _core._is_built(cent_path, _IVF_CENT_META):
            shutil.rmtree(tmp, ignore_errors=True)  # a concurrent win
            return
        if not _core._is_built(vec_path):
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"IVF vector layout at {vec_path} disappeared while "
                "healing its centroid stamp — out-of-band deletion; "
                "re-run the ensure after restoring or rebuilding it."
            )
        keep2 = _read_train_meta(cent_path)  # freshest, lock-held
        if _valid(keep2):
            vals = (keep2["tb_at_train"], keep2["trained_n"])
        elif _valid(keep):
            vals = (keep["tb_at_train"], keep["trained_n"])
        else:
            vals = fallback
        _write_train_meta(tmp, *vals)
        # Install via ASIDE-rename, never rmtree-then-rename (ADVICE
        # r12 #2): the prologue sweep runs UNLOCKED by design, so a
        # concurrent healer can delete this attempt's tmp between the
        # checks above and the install — rmtree-ing cent_path first
        # would then fail the rename AFTER the only on-disk copy of the
        # preserved drift baseline was destroyed, and the next heal
        # would silently re-seed fresh counts (erasing the PQ
        # codebook's accumulated delete drift). With the aside, a
        # failed install restores cent_path intact and fails loudly —
        # retryable, nothing lost; the aside name shares the
        # ``.restamp.`` prefix so a crash between the renames leaves it
        # baseline-readable and sweepable by the next heal's prologue.
        aside = None
        if os.path.exists(cent_path):
            aside = (
                f"{cent_path}.restamp."
                f"{os.getpid()}-{uuid.uuid4().hex[:8]}.aside"
            )
            os.rename(cent_path, aside)
        try:
            os.rename(tmp, cent_path)
        except OSError:
            if aside is not None and not os.path.exists(cent_path):
                os.rename(aside, cent_path)  # restore the displaced old
            raise
        if aside is not None:
            shutil.rmtree(aside, ignore_errors=True)

def embeddings_pq(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The PQ index as write-time artifacts: ``(codes, codebook)``.

    The codes table stores each vector as PQ_M small ints (8 bytes vs
    256 for the float32 vector — the 32x bandwidth saving ADC queries
    ride on); the codebook table is PQ_KS rows, collected per query
    like the other broadcast-sized prepared artifacts. Encoding is one
    scan through the Arrow PQ encoder (:func:`_pq_code_rows`, shared
    with every append and the retrain) and runs once at ingest;
    ``sim_pq_adc_topk`` without this layout re-encodes the corpus per
    query. The meta stamp carries the
    PQ geometry so constant drift forces a rebuild; the codebook itself
    derives deterministically from the data (coreset sample), so same
    data + same constants = same index."""
    from venus_spark.operators import similarity as sim

    meta = {
        "m": sim.PQ_M,
        "dsub": sim.PQ_DSUB,
        "ks": sim.PQ_KS,
        "cb_mod": sim.PQ_CB_MOD,
        "kernel": "l2sq",
        "layout": "partitionBy(label)",
    }
    codes_path = _core.prepared_path(sf_dir, "embeddings_pq_codes.parquet")
    cb_path = _core.prepared_path(sf_dir, "embeddings_pq_codebook.parquet")
    # cross-process visibility (r14) — see embeddings_ivf
    _core._refresh_paths_on_change(
        spark,
        codes_path,
        # scoped per layout dir (r15) — see embeddings_ivf
        (((codes_path,), codes_path), ((cb_path,), cb_path)),
    )
    # finish any interrupted vacuum swap + committed retrain, locked
    _recover_vector_layouts(sf_dir, (codes_path,))
    if not (_core._is_built(codes_path, meta) and _core._is_built(cb_path, meta)) and not (
        _vector_built_under_lock(
            sf_dir,
            (codes_path,),
            lambda: _core._is_built(codes_path, meta) and _core._is_built(cb_path, meta),
        )
    ):
        _core._refuse_rebuild_with_absorbed_batches(codes_path, "PQ codes layout")
        for p in (codes_path, cb_path):
            if os.path.exists(p):
                shutil.rmtree(p)
        emb = _anti_vec_tombstones(
            spark, sf_dir, load_table(spark, sf_dir, "embeddings")
        )
        codebook = sim.pq_codebook_rows(emb)
        _codebook_rows(spark, codebook).write.parquet(cb_path)
        (
            # partitioned by the IVF cluster id: an IVF-PQ search prunes
            # to the probed clusters' directories and ADC-scans only
            # their codes — the FAISS IVFPQ storage layout.
            _core.layout_rows(_pq_code_rows(emb, codebook), _PQ_CODES)
            .write.partitionBy("label")
            .parquet(codes_path)
        )
        _core._stamp(codes_path, meta)
        _core._stamp(cb_path, meta)
    return (
        _anti_vec_tombstones(
            spark, sf_dir, _core.read_layout(spark, _PQ_CODES, codes_path)
        ),
        _core.read_layout(spark, _PQ_CODEBOOK, cb_path),
    )

def _pq_code_rows(vecs: DataFrame, codebook: list) -> DataFrame:
    """(vec_id, label, codes) rows of ``vecs`` encoded against
    ``codebook`` — the one PQ encode, shared by the build, the batch
    and stream appends, the retrain and ``sim_pq_adc_live``'s pending
    side: one MapInArrow over (vec_id, label, embedding). A NULL or
    wrong-length vector gets NULL codes."""
    from venus_spark.operators import similarity as sim
    from venus_spark.operators import vector_kernels

    return vecs.select("vec_id", "label", "embedding").mapInArrow(
        vector_kernels.pq_encoder(codebook, sim.PQ_M),
        "vec_id long, label int, codes array<int>",
    )

def _codebook_rows(spark: SparkSession, codebook: list) -> DataFrame:
    """The codebook layout's rows: one file of ``(cb_id, cv)``."""
    return spark.createDataFrame(
        list(enumerate(codebook)), _core.layout_schema(_PQ_CODEBOOK)
    ).coalesce(1)

def _collect_codebook(cb_df: DataFrame) -> list[list[float]]:
    """The codewords of a codebook table in ``cb_id`` order: one job
    collects its at most PQ_KS rows and the driver sorts them (a Spark
    sort would add a sampling job and a shuffle)."""
    rows = sorted(cb_df.collect(), key=lambda r: r["cb_id"])
    return [[float(x) for x in r["cv"]] for r in rows]

def _pq_saturated_codebook(
    spark: SparkSession, sf_dir: str, cb_df: DataFrame | None = None
) -> list:
    """The stored PQ codebook, refusing the unsaturated case (an
    unsaturated deterministic sample would change under append, making
    append != rebuild). ``cb_df``
    lets a caller that already ensured the layout (sim_pq_adc_live)
    pass its codebook table in — one ensure per query, one saturation
    gate for every encode site (review r11 pass-3 #6)."""
    from venus_spark.operators import similarity as sim

    if cb_df is None:
        _, cb_df = embeddings_pq(spark, sf_dir)
    codebook = _collect_codebook(cb_df)
    if len(codebook) < sim.PQ_KS:
        raise ValueError(
            f"PQ codebook has {len(codebook)} < PQ_KS={sim.PQ_KS} codewords: "
            "the deterministic sample is not saturated, so appended ids "
            "would change the codebook and append != rebuild. Rebuild the "
            "PQ index over the full corpus instead of appending."
        )
    return codebook

@_core.read_once
def append_embeddings_batch(
    spark: SparkSession,
    sf_dir: str,
    new_vecs: DataFrame,
    batch_id: int,
    codebook: list | None = None,
) -> None:
    """INSERT-time maintenance of the vector indexes, and the one vector
    append path. Both appends go through :func:`_append_batch_files`,
    so a crash-retried batch converges to exactly one copy under its
    ``batch_id`` — the vector-side twin of ``append_events``.

    - IVF: new vectors land under their cluster's partition directory
      (assignment to the EXISTING centroids is the standard IVF insert
      path; centroids are refreshed by a periodic offline re-train, not
      per insert — here the ``label`` column already carries the
      assignment).
    - PQ: new vectors are encoded against the EXISTING codebook — how
      a deployed PQ index ingests. The deterministic codebook sample
      (first PQ_KS of ``vec_id % PQ_CB_MOD == 0``) is stable under
      append only when the base corpus already SATURATES it, so an
      unsaturated codebook is refused rather than let append and
      rebuild silently diverge.

    ``codebook`` lets a long-lived caller (the streaming ingest) pass
    the once-validated codebook instead of re-collecting it per
    micro-batch — the saturation contract makes it immutable for the
    stream's lifetime.

    The two index writes run side by side (:func:`_core.side_by_side`),
    each under its own manifest: an error in one does not stop the
    other, and a retry of the batch lands it exactly once in both, as
    before."""

    def ivf() -> None:
        embeddings_ivf(spark, sf_dir)
        _core._append_batch_files(
            new_vecs,
            _core.prepared_path(sf_dir, "embeddings_ivf.parquet"),
            batch_id,
            partition_by=("label",),
        )

    def pq() -> None:
        cb = _pq_saturated_codebook(spark, sf_dir) if codebook is None else codebook
        _core._append_batch_files(
            _pq_code_rows(new_vecs, cb),
            _core.prepared_path(sf_dir, "embeddings_pq_codes.parquet"),
            batch_id,
            partition_by=("label",),
        )

    _core.side_by_side(spark, ivf, pq)

# --------------------------------------------------------------------------
# Embedding deletion: the vector-side twin of the document tombstones
# --------------------------------------------------------------------------

_VEC_TOMBSTONES = "vec_tombstones.parquet"

def embedding_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """Current embedding tombstone set (distinct ``vec_id``), or
    ``None`` when no vector deletes are outstanding."""
    p = _core.prepared_path(sf_dir, _VEC_TOMBSTONES)
    if not os.path.isdir(p) or not any(
        f.endswith(".parquet") for f in os.listdir(p)
    ):
        return None
    return _core.read_layout(spark, _VEC_TOMBSTONES, p).select("vec_id").distinct()

def _anti_vec_tombstones(
    spark: SparkSession, sf_dir: str, df: DataFrame
) -> DataFrame:
    tb = embedding_tombstones(spark, sf_dir)
    if tb is None:
        return df
    return df.join(F.broadcast(tb), "vec_id", "left_anti")

def tombstone_embeddings(
    spark: SparkSession, sf_dir: str, vec_ids, batch_id: int
) -> None:
    """DELETE for embedding vectors — same tombstone-then-vacuum shape
    as :func:`tombstone_documents`. The IVF centroid table and the PQ
    codebook are deliberately NOT invalidated: they are approximate
    routing/encoding structures whose quality degrades gracefully as
    vectors leave (FAISS keeps its coarse quantizer and codebooks on
    remove_ids for the same reason); correctness lives in the vector
    and code rows, which the read filter and the vacuum govern."""
    ids = vec_ids if isinstance(vec_ids, DataFrame) else spark.createDataFrame(
        [(int(i),) for i in vec_ids], "vec_id long"
    )
    _core._append_batch_files(
        ids.select("vec_id"), _core.prepared_path(sf_dir, _VEC_TOMBSTONES), batch_id
    )

def vacuum_embedding_tombstones(spark: SparkSession, sf_dir: str) -> int:
    """Physically remove tombstoned vectors from the IVF vector layout
    and the PQ codes table (label-partitioned writes preserved, stamps
    carried, same crash-safe swap + retained-tombstone semantics as the
    document vacuum). Returns rows removed."""
    # resolve any COMMITTED retrain and interrupted vacuum swaps first
    # (review r8 pass-3 #4): this vacuum rewrites the codes table, and
    # racing a reader's marker recovery could reinstall pre-retrain
    # codes over the retrained generation while the retrained codebook
    # stays live
    paths = tuple(
        _core.prepared_path(sf_dir, n)
        for n in ("embeddings_ivf.parquet", "embeddings_pq_codes.parquet")
    )
    _recover_vector_layouts(sf_dir, paths)
    tb = embedding_tombstones(spark, sf_dir)
    if tb is None:
        return 0
    removed = 0
    for path in paths:
        if not os.path.exists(path):
            continue
        cur = _core.read_layout(spark, os.path.basename(path), path)
        n_dead = cur.join(F.broadcast(tb), "vec_id", "left_semi").count()
        if n_dead == 0:
            continue
        try:
            meta = _core._read_meta(path)  # the IVF layout carries no stamp
        except OSError:
            meta = None
        manifest = _core._read_abatch_manifest(path)
        marked = _core._has_append_marker(path)
        tmp, old = path + ".vacuum.tmp", path + ".vacuum.old"
        # STAGE under a name no recovery path ever touches (review r8
        # pass-5 #1): this Spark rewrite runs OUTSIDE the lock (it can
        # take seconds and must not block readers), and a reader's
        # locked recovery observing path+.vacuum.tmp both present would
        # rmtree the freshly staged tmp mid-write. The staged dir
        # becomes the real tmp atomically INSIDE the lock, so the tmp
        # never exists outside a locked section.
        staging = path + ".vacuum_staging"
        for stale in (tmp, old, staging):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        (
            cur.join(F.broadcast(tb), "vec_id", "left_anti")
            .write.partitionBy("label")
            .parquet(staging)
        )
        if meta:
            _core._stamp(staging, meta)
        # carry the batch manifest: the rewrite absorbs appended
        # abatch files, and a post-vacuum retry of an absorbed
        # append_embeddings_batch must stay a no-op (same invariant
        # as the recluster/retention rewrites)
        if manifest:
            _core._write_abatch_manifest(staging, manifest)
        if marked:
            _core._mark_appended(staging)
        # the swap holds the shared vector-swap lock (review r8 pass-4
        # #3): this aside window is exactly where a concurrent
        # recovery's strand-heal could resurrect a stale .retrain.old
        # into the briefly-missing path
        with _vec_swap_flock(sf_dir):
            os.rename(staging, tmp)
            os.rename(path, old)
            try:
                os.rename(tmp, path)
            except OSError:
                # an unlocked reader's _recover_swap completed the swap
                # inside our aside window — the end state is the one we
                # wanted; anything else is a real failure
                if not os.path.exists(os.path.join(path, "_SUCCESS")):
                    raise
            shutil.rmtree(old, ignore_errors=True)
        removed += n_dead
    return removed

# --------------------------------------------------------------------------
# Vector-artifact re-training (VERDICT r7 #6): DELETE deliberately keeps
# the IVF centroid table and the PQ codebook untouched (the FAISS
# remove_ids posture — approximate routing degrades gracefully), but the
# trained artifacts retain the deleted vectors' influence FOREVER. Past
# a drift threshold the honest move is the offline re-train every ANN
# deployment schedules — the vector-side mirror of the postings-scrub
# discipline that keeps text-index statistics exact under deletes.
# --------------------------------------------------------------------------

_VEC_TRAIN_META = "_vec_train_meta.json"

_VEC_RETRAIN_MARKER = "_vec_retrain_commit.json"

_VEC_RETRAIN_LOCK = threading.Lock()

_VEC_RETRAIN_LOCKFILE = "_vec_retrain.lock"

@contextmanager
def _vec_swap_flock(sf_dir: str):
    """Mutual exclusion for every swap OR swap-recovery that can
    displace a vector artifact (retrain recovery, vacuum recovery, and
    the vacuum's own swap): an OS-level ``flock`` — exclusive across
    processes AND across threads here, since each acquisition opens its
    own descriptor and flock locks conflict between open file
    descriptions — released by the kernel on crash. The module lock in
    front keeps a process's threads queueing in user space instead of
    the kernel and makes the critical section explicit; it is NOT
    reentrant, so locked helpers must never nest. Review r8 passes 4-5:
    bare-rename protocols between unsynchronized swappers kept leaving
    one interleaving that stranded or resurrected a generation; under
    one shared lock a swap either completes or fails LOUDLY with no
    racer to blame. (A real cluster filesystem would use a lakehouse
    table format's commit log here instead — the documented production
    seam.)"""
    with _core._swap_flock(sf_dir, _VEC_RETRAIN_LOCKFILE, _VEC_RETRAIN_LOCK):
        yield

def _recover_vector_layouts(sf_dir: str, vacuum_paths: tuple[str, ...]) -> None:
    """ONE locked recovery entry point for the vector layouts' ensure
    paths: finish any interrupted ``.vacuum`` swap AND any committed
    retrain, under the shared lock (review r8 pass-5 #1: a reader
    running ``_recover_swap('.vacuum')`` unlocked could rmtree a
    vacuum's freshly staged tmp or complete its swap mid-aside).
    Lock-free fast path when nothing is pending anywhere — the common
    case for every query."""
    pending = os.path.exists(
        _core.prepared_path(sf_dir, _VEC_RETRAIN_MARKER)
    ) or any(
        os.path.exists(_core.prepared_path(sf_dir, n) + ".retrain.old")
        for n in _VEC_RETRAIN_NAMES
    ) or any(
        os.path.exists(p + tag)
        for p in vacuum_paths
        for tag in (".vacuum.tmp", ".vacuum.old")
    )
    if not pending:
        return
    with _vec_swap_flock(sf_dir):
        for p in vacuum_paths:
            _core._recover_swap(p, ".vacuum")
        _recover_vector_retrain_locked(sf_dir)

def _vector_built_under_lock(
    sf_dir: str, vacuum_paths: tuple[str, ...], probe
) -> bool:
    """Authoritative built-check for the vector ensure paths (ADVICE r8
    #4, the TOCTOU in the lock-free fast path): an unlocked
    ``_is_built`` returning False can be a concurrent vacuum/retrain
    swap's ASIDE WINDOW — the path is briefly absent between the two
    renames — and deciding to rebuild on that observation would rmtree
    a live generation's sibling artifacts mid-swap. Before any
    destructive rebuild, re-run the recovery AND the built probe under
    the shared swap lock, where no swap can be mid-aside: a False here
    means genuinely unbuilt (every displacer holds this lock), so the
    caller's rebuild is safe — new maintenance only ever operates on
    BUILT layouts, so nothing can start a swap against the rebuild
    after the lock is released."""
    with _vec_swap_flock(sf_dir):
        for p in vacuum_paths:
            _core._recover_swap(p, ".vacuum")
        _recover_vector_retrain_locked(sf_dir)
        return probe()

def _read_train_meta(cent_path: str) -> dict | None:
    try:
        with open(os.path.join(cent_path, _VEC_TRAIN_META)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None

def _write_train_meta(cent_path: str, tb_at_train: int, trained_n: int) -> None:
    write_json_atomic(
        os.path.join(cent_path, _VEC_TRAIN_META),
        {"tb_at_train": tb_at_train, "trained_n": trained_n},
    )

_VEC_RETRAIN_NAMES = (
    "embeddings_pq_codebook.parquet",
    "embeddings_pq_codes.parquet",
    "embeddings_ivf_centroids.parquet",
)

def _recover_vector_retrain(sf_dir: str) -> None:
    """Finish an interrupted codebook+codes retrain swap. The two PQ
    artifacts must change TOGETHER (codes encoded against one codebook,
    ADC-decoded against the other would compute wrong distances), so
    the retrain stages BOTH tmps completely, writes a commit marker,
    then swaps — and this recovery, called from every PQ ensure path,
    force-completes both swaps whenever the marker exists.

    STRICTLY marker-driven: without the marker this performs no swap.
    Read paths call it concurrently with a maintenance process that may
    be mid-staging, and an eager "clean up stale tmps" here would
    destroy the in-flight stage (review r8 #1: a reader-side rmtree
    racing the codes write could yield a mixed-generation commit).
    Uncommitted leftovers from a crashed retrain are cleaned by the
    next retrain itself — the single-maintenance-writer discipline all
    the swap families share.

    RACE POSTURE (review r8 pass-2 #1, pass-3 #1/#2/#7, pass-4
    #1-#4): every swap that can displace a vector artifact — this
    recovery AND the embeddings vacuum — runs under ONE exclusive lock
    (:func:`_vec_swap_flock`: flock across processes, module lock
    across threads), so there is no concurrent swapper to race: the
    bare-rename protocols of the earlier passes each left one
    interleaving that stranded or resurrected a generation. Under the
    lock, the strand-heal prologue (restore a complete artifact
    displaced to ``.retrain.old`` while its live path is missing — a
    crashed swap) cannot fire inside another swap's aside window, a
    stale ``.retrain.old`` is cleared before the aside-rename so
    ENOTEMPTY cannot wedge a committed swap, and any rename failure is
    now a REAL filesystem failure — raised loudly with the marker left
    in place, never a half-swapped generation silently committed."""
    marker = _core.prepared_path(sf_dir, _VEC_RETRAIN_MARKER)
    # lock-free fast path: nothing pending, nothing stranded
    if not os.path.exists(marker) and not any(
        os.path.exists(_core.prepared_path(sf_dir, n) + ".retrain.old")
        for n in _VEC_RETRAIN_NAMES
    ):
        return
    with _vec_swap_flock(sf_dir):
        _recover_vector_retrain_locked(sf_dir)

def _recover_vector_retrain_locked(sf_dir: str) -> None:
    """Body of :func:`_recover_vector_retrain`; caller MUST hold
    :func:`_vec_swap_flock` (the lock is not reentrant)."""
    marker = _core.prepared_path(sf_dir, _VEC_RETRAIN_MARKER)
    # strand-heal first: a complete artifact displaced while the
    # live path is missing is a crashed swap — restore, never delete
    for name in _VEC_RETRAIN_NAMES:
        path = _core.prepared_path(sf_dir, name)
        old = path + ".retrain.old"
        if not os.path.exists(path) and os.path.exists(
            os.path.join(old, "_SUCCESS")
        ):
            os.rename(old, path)
        elif os.path.exists(path) and os.path.exists(old):
            # a lingering .retrain.old beside a LIVE path is garbage —
            # clearing it here keeps the lock-free fast path usable
            # (review r8 pass-5 #4: otherwise every future query pays
            # this lock round-trip forever)
            shutil.rmtree(old, ignore_errors=True)
    if not os.path.exists(marker):
        return  # another locker finished the recovery meanwhile
    for name in _VEC_RETRAIN_NAMES:
        path = _core.prepared_path(sf_dir, name)
        tmp = path + ".retrain.tmp"
        old = path + ".retrain.old"
        if os.path.exists(os.path.join(tmp, "_SUCCESS")):
            if os.path.exists(path):
                if os.path.exists(old):
                    shutil.rmtree(old)  # stale: clear or ENOTEMPTY
                os.rename(path, old)  # aside, never a live rmtree
            os.rename(tmp, path)  # a failure here RAISES: marker stays
        if os.path.exists(path):
            shutil.rmtree(old, ignore_errors=True)
    os.remove(marker)

def vector_artifact_drift(spark: SparkSession, sf_dir: str) -> float:
    """Fraction of the trained corpus deleted since the vector
    artifacts were (re)trained: tombstones added since the training
    baseline over the trained corpus size. Pure statistics — reading it
    never rebuilds anything. A pre-baseline deployment (sidecar absent)
    initializes conservatively: every outstanding tombstone counts as
    post-training drift."""
    _recover_vector_retrain(sf_dir)
    vecs, _cent = embeddings_ivf(spark, sf_dir)
    cent_path = _core.prepared_path(sf_dir, "embeddings_ivf_centroids.parquet")
    tb = embedding_tombstones(spark, sf_dir)
    n_tb = 0 if tb is None else tb.count()
    meta = _read_train_meta(cent_path)
    if meta is None:
        meta = {"tb_at_train": 0, "trained_n": vecs.count() + n_tb}
        _write_train_meta(cent_path, meta["tb_at_train"], meta["trained_n"])
    return (n_tb - meta["tb_at_train"]) / max(meta["trained_n"], 1)

def retrain_vector_artifacts_if_drifted(
    spark: SparkSession,
    sf_dir: str,
    max_deleted_frac: float = 0.10,
    drift: float | None = None,
) -> bool:
    """Re-train the corpus-derived vector artifacts when deletes have
    drifted them past ``max_deleted_frac`` — the `.deladj` analog for
    the embeddings side (VERDICT r7 #6). Below the threshold this is a
    no-op returning False (graceful degradation is the designed steady
    state); above it:

    - IVF centroids are recomputed from the LIVE vector rows (current
      layout minus tombstones — appends included, so the refuse-rebuild
      guard's concern never arises: nothing is rebuilt from base);
    - the PQ codebook is re-sampled from the live rows and EVERY live
      vector re-encoded (the deterministic coreset contract: same live
      corpus ⇒ same codebook, so retrain == a from-scratch build over
      the live corpus, regression-tested);
    - all three artifacts rewrite through staged tmps with a commit
      marker (:func:`_recover_vector_retrain`): codes and codebook flip
      together or not at all — mixed generations would ADC against the
      wrong codeword table;
    - the drift baseline resets, so a repeat call is a no-op.

    Maintenance op (``maintain retrain-vectors``): run it beside vacuum
    on the delete path, not per query — the swap families all assume a
    single maintenance writer, and like ``sweep_events_sink`` it MUST
    run with the embeddings ingest stream stopped: the re-encode scans
    a point-in-time file set and carries a pre-staging manifest
    snapshot, so a batch appended mid-retrain would be either absent
    from the staged codes or double-landed by its retry. ``drift`` lets
    a caller that already measured :func:`vector_artifact_drift` skip
    the second measurement pass."""
    from venus_spark.operators import similarity as sim
    from venus_spark.operators.similarity import centroid_arrays

    if drift is None:
        drift = vector_artifact_drift(spark, sf_dir)
    if drift <= max_deleted_frac:
        return False
    vecs, _ = embeddings_ivf(spark, sf_dir)  # live (anti-tombstoned) rows
    embeddings_pq(spark, sf_dir)  # ensure built before rewriting
    codebook = sim.pq_codebook_rows(vecs)
    if len(codebook) < sim.PQ_KS:
        raise ValueError(
            f"retrain would leave {len(codebook)} < PQ_KS={sim.PQ_KS} "
            "codewords: the live corpus no longer saturates the "
            "deterministic sample; PQ cannot be retrained incrementally "
            "on a corpus this small."
        )
    cent_path = _core.prepared_path(sf_dir, "embeddings_ivf_centroids.parquet")
    cb_path = _core.prepared_path(sf_dir, "embeddings_pq_codebook.parquet")
    codes_path = _core.prepared_path(sf_dir, "embeddings_pq_codes.parquet")
    marker = _core.prepared_path(sf_dir, _VEC_RETRAIN_MARKER)
    if os.path.exists(marker):
        # unreachable when the drift check's recovery succeeded (it
        # raises on failure), but staging fresh tmps under a LIVE
        # marker would hand a concurrent recovery a half-generation to
        # commit (review r8 pass-4 #2) — refuse outright
        raise RuntimeError(
            f"pending retrain commit at {marker} was not resolved; "
            "refusing to stage a new retrain over it."
        )
    pq_meta = _core._read_meta(cb_path)
    tb = embedding_tombstones(spark, sf_dir)
    n_tb = 0 if tb is None else tb.count()
    trained_n = vecs.count()
    # Manifest/marker snapshot BEFORE the staging writes (review r8
    # pass-6 #6, the vacuum's own ordering): a batch appended DURING
    # the re-encode is not in the staged rows, so carrying its id
    # would make the retry a no-op and silently drop its codes — a
    # pre-staging snapshot leaves such a batch un-manifested and the
    # retry re-lands it.
    ivf_path = _core.prepared_path(sf_dir, "embeddings_ivf.parquet")
    carry_manifest = _core._read_abatch_manifest(codes_path) | _core._read_abatch_manifest(
        ivf_path
    )
    carry_marker = _core._has_append_marker(codes_path) or _core._has_append_marker(
        ivf_path
    )

    # stage all three COMPLETELY before the commit marker (leftover
    # tmps/olds here are this op's own crashed prior attempts — only
    # the single maintenance writer ever reaches this line, and the
    # drift check above already strand-healed any displaced artifact,
    # so a surviving .retrain.old beside a live path is garbage that
    # would ENOTEMPTY-wedge the coming swap)
    for p in (cent_path, cb_path, codes_path):
        tmp = p + ".retrain.tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)  # our own crashed staging
        old = p + ".retrain.old"
        if os.path.exists(old) and os.path.exists(p):
            shutil.rmtree(old)  # displaced garbage beside a live path
    _core.layout_rows(centroid_arrays(vecs), _IVF_CENT).write.parquet(
        cent_path + ".retrain.tmp"
    )
    _core._stamp(cent_path + ".retrain.tmp", _IVF_CENT_META)
    # the drift baseline travels INSIDE the staged centroids dir: a
    # crash between the marker and the swap then still delivers it with
    # the recovery, instead of leaving fresh artifacts that read as
    # 100%-drifted and trigger a spurious full retrain (review r8 #2)
    _write_train_meta(cent_path + ".retrain.tmp", n_tb, trained_n)
    _codebook_rows(spark, codebook).write.parquet(cb_path + ".retrain.tmp")
    _core._stamp(cb_path + ".retrain.tmp", pq_meta)
    codes_tmp = codes_path + ".retrain.tmp"
    (
        _core.layout_rows(_pq_code_rows(vecs, codebook), _PQ_CODES)
        .write.partitionBy("label")
        .parquet(codes_tmp)
    )
    _core._stamp(codes_tmp, pq_meta)
    # the re-encode absorbs every appended batch its vecs snapshot saw
    # — carry the PRE-STAGING manifest/marker snapshot so absorbed-batch
    # retries stay no-ops while a mid-staging append stays re-landable
    # (the recluster/vacuum invariant)
    if carry_manifest:
        _core._write_abatch_manifest(codes_tmp, carry_manifest)
    if carry_marker:
        _core._mark_appended(codes_tmp)

    write_json_atomic(  # COMMIT: recovery completes it
        _core.prepared_path(sf_dir, _VEC_RETRAIN_MARKER),
        ["centroids", "codebook", "codes"],
    )
    _recover_vector_retrain(sf_dir)  # the swap IS the recovery procedure
    return True
