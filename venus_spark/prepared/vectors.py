"""Embedding-side artifacts: IVF centroids, PQ codebooks/codes,
vector tombstones, and the drift-triggered retrain machinery with its
crash-safe commit protocol."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from venus_spark.fsutil import write_json_atomic
from venus_spark.sources import load_table
from venus_spark.prepared import core as _core

# The IVF centroid table BAKES davg-rounded values (the one stored
# artifact besides the postings stats' avgdl that does), so it carries
# the rounding-discipline rev: a table built under another rounding
# rule is stale and goes the way of every stale stamp — rebuilt from
# base, or refused when the vector layout holds absorbed batches —
# instead of being served against oracles that recompute centroids
# with the FLOOR rule (``dround``). The vector/codes tables are raw
# rows and PQ codebooks are raw coreset samples — no rounding stored,
# no round stamp needed. One constant shared by the build and the
# retrain staging so the two writers cannot drift.
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
    # cross-process visibility: a foreign process's streamed abatch
    # append, vacuum swap, or retrain must not stay hidden behind this
    # session's cached listings — same guard as the document-side live
    # views (core._refresh_on_external_change), scoped per layout dir:
    # appends/vacuum touch vec_path, a retrain swap touches both
    _core._refresh_paths_on_change(
        spark,
        vec_path,
        (((vec_path,), vec_path), ((cent_path,), cent_path)),
    )
    # finish any interrupted vacuum swap + committed retrain, locked
    _core._recover_prepared_swaps(sf_dir, vec_path, ".vacuum")
    _recover_vector_retrain(sf_dir)

    def built() -> bool:
        return _core._is_built(vec_path) and _core._is_built(cent_path, _IVF_CENT_META)

    def built_locked() -> bool:
        # a retrain swap's aside window must not read as unbuilt either
        _recover_vector_retrain_locked(sf_dir)
        return built()

    if not built() and not _core._prepared_built_under_lock(
        sf_dir, ((vec_path, ".vacuum"),), built_locked
    ):
        _core._refuse_rebuild_with_absorbed_batches(vec_path, "IVF vector layout")
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
    # cross-process visibility, scoped per layout dir — see embeddings_ivf
    _core._refresh_paths_on_change(
        spark,
        codes_path,
        (((codes_path,), codes_path), ((cb_path,), cb_path)),
    )
    # finish any interrupted vacuum swap + committed retrain, locked
    _core._recover_prepared_swaps(sf_dir, codes_path, ".vacuum")
    _recover_vector_retrain(sf_dir)

    def built() -> bool:
        return _core._is_built(codes_path, meta) and _core._is_built(cb_path, meta)

    def built_locked() -> bool:
        _recover_vector_retrain_locked(sf_dir)  # see embeddings_ivf
        return built()

    if not built() and not _core._prepared_built_under_lock(
        sf_dir, ((codes_path, ".vacuum"),), built_locked
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
    paths = tuple(
        _core.prepared_path(sf_dir, n)
        for n in ("embeddings_ivf.parquet", "embeddings_pq_codes.parquet")
    )
    # resolve any interrupted vacuum swap and COMMITTED retrain first:
    # this vacuum rewrites the codes table, and staging it from
    # pre-retrain codes would reinstall them over the retrained
    # generation while the retrained codebook stays live
    for path in paths:
        _core._recover_prepared_swaps(sf_dir, path, ".vacuum")
    _recover_vector_retrain(sf_dir)
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
        # stage outside the lock under a recovery-invisible name, then
        # swap in under the one prepared-swap lock — the document
        # vacuum's recipe (docs.vacuum_document_tombstones)
        staging = path + ".vacuum_staging"
        if os.path.exists(staging):
            shutil.rmtree(staging)  # our own crashed prior staging
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
        _core._swap_in_locked(sf_dir, path, ".vacuum", staging)
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
    then swaps — and this recovery, called from every vector ensure
    path, force-completes both swaps whenever the marker exists.

    STRICTLY marker-driven: without the marker this performs no swap.
    Read paths call it concurrently with a maintenance process that may
    be mid-staging, and an eager "clean up stale tmps" here would
    destroy the in-flight stage and could yield a mixed-generation
    commit. Uncommitted leftovers from a crashed retrain are cleaned by
    the next retrain itself — the single-maintenance-writer discipline
    all the swap families share.

    Race posture: this recovery runs under :func:`_core._prep_swap_flock`,
    the lock every other swap of a vector artifact (the embeddings
    vacuum) and every prepared recovery holds, so there is no
    concurrent swapper to race. Under the lock, the strand-heal
    prologue (restore a complete artifact displaced to ``.retrain.old``
    while its live path is missing — a crashed swap) cannot fire inside
    another swap's aside window, a stale ``.retrain.old`` is cleared
    before the aside-rename so ENOTEMPTY cannot wedge a committed swap,
    and any rename failure is a REAL filesystem failure — raised loudly
    with the marker left in place, never a half-swapped generation
    silently committed."""
    marker = _core.prepared_path(sf_dir, _VEC_RETRAIN_MARKER)
    # lock-free fast path: nothing pending, nothing stranded
    if not os.path.exists(marker) and not any(
        os.path.exists(_core.prepared_path(sf_dir, n) + ".retrain.old")
        for n in _VEC_RETRAIN_NAMES
    ):
        return
    with _core._prep_swap_flock(sf_dir):
        _recover_vector_retrain_locked(sf_dir)

def _recover_vector_retrain_locked(sf_dir: str) -> None:
    """Body of :func:`_recover_vector_retrain`; caller MUST hold
    :func:`_core._prep_swap_flock` (the lock is not reentrant)."""
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
            # (otherwise every future query pays this lock round-trip)
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
        # commit — refuse outright
        raise RuntimeError(
            f"pending retrain commit at {marker} was not resolved; "
            "refusing to stage a new retrain over it."
        )
    pq_meta = _core._read_meta(cb_path)
    tb = embedding_tombstones(spark, sf_dir)
    n_tb = 0 if tb is None else tb.count()
    trained_n = vecs.count()
    # Manifest/marker snapshot BEFORE the staging writes (the
    # vacuum's own ordering): a batch appended DURING
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
    # 100%-drifted and trigger a spurious full retrain
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
