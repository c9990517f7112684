"""Events-table layouts and rollups: date/user/z-order clustering,
kv postings over the JSON payload, hourly partial rollups, daily HLL
sketches, appends, recluster, and retention drops."""

from __future__ import annotations

import os
import re
import shutil
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from venus_spark.sources import load_table
from venus_spark.prepared import core as _core, postings as _postings

def events_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` re-laid-out ``partitionBy(date(ts))`` — the BATCH-side
    hypertable-chunk analog (the streaming sink already lands ``logs``
    date-partitioned; migration :39-43 declares the reference table a
    1-day-chunk hypertable). A time-range query that also constrains
    the derived ``date`` column prunes whole partition directories
    (``PartitionFilters`` in the scan) instead of relying on row-group
    min/max stats over an unpartitioned file — at 100 TB the
    difference between listing ~10 directories and stat-ing every
    row group of every file. One scan + one shuffle-free write (the
    writer splits by partition value) at ingest time."""
    path = _core.prepared_path(sf_dir, "events_by_date.parquet")
    if not _core._is_built(path):
        if os.path.exists(path):
            shutil.rmtree(path)
        ev = load_table(spark, sf_dir, "events")
        (
            _core.layout_rows(
                ev.withColumn("date", F.to_date("ts")), "events_by_date.parquet"
            )
            .write.partitionBy("date")
            .parquet(path)
        )
    return _core.read_layout(spark, "events_by_date.parquet", path)

_KV_POST_META = {
    "doc": ["k", "type", "uid"],
    "rows": "pair+key",
    "layout": "range(kv)",
}

def _events_kv_rows(
    events: DataFrame, allow_missing_props: bool = False
) -> DataFrame:
    """(kv, event_id) postings for the reference-shaped JSON document —
    the write side of the jsonb GIN analog: for every PRESENT top-level
    key the document gets one value-pair row (``key=value``, what
    ``jsonb_path_ops`` hashes to serve ``@>``) and one key-presence row
    (``?key``, what the default ``jsonb_ops`` class adds to serve the
    ``?`` existence operator). Absent keys (here ``uid`` on ~1/3 of
    rows) contribute nothing — exactly the missing-key semantics the
    containment conjunction relies on. Derived per-row (a document's
    entries depend only on that document), so batches append O(batch).

    ``allow_missing_props`` is an EXPLICIT opt-in for streamed schemas
    that carry only the promoted fields: the ``k`` entries are then
    simply absent (the same semantics as a document without the key).
    It is an opt-in, not schema sniffing, so a batch caller that
    accidentally passes a projected relation still fails loudly on
    column resolution instead of silently building an index with zero
    ``k=``/``?k`` entries (review r7 pass-4 #2)."""
    if allow_missing_props and "props" not in events.columns:
        k = F.lit(None).cast("int")
    else:
        k = F.get_json_object("props", "$.k").cast("int")
    typ = F.col("event_type")
    uid = F.when(F.col("user_id") % 3 != 0, F.col("user_id"))
    entries = F.array(
        F.when(k.isNotNull(), F.concat(F.lit("k="), k.cast("string"))),
        F.when(typ.isNotNull(), F.concat(F.lit("type="), typ)),
        F.when(uid.isNotNull(), F.concat(F.lit("uid="), uid.cast("string"))),
        F.when(k.isNotNull(), F.lit("?k")),
        F.when(typ.isNotNull(), F.lit("?type")),
        F.when(uid.isNotNull(), F.lit("?uid")),
    )
    return events.select(
        F.explode(F.filter(entries, lambda x: x.isNotNull())).alias("kv"),
        "event_id",
    )

def events_kv_dfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entry posting-list lengths ``(kv, df)`` for the kv postings
    — the statistics a GIN cost estimate keys on: the containment plan
    reads its needles' dfs (a tiny pushed-In lookup) and generates
    candidates from only the SELECTIVE entries, rechecking the common
    ones on the fetched rows instead of hauling their huge posting
    lists through an aggregation. Derived from the postings (rebuilt
    alongside them; refreshed after every append like the documents
    dfreq)."""
    events_kv_postings(spark, sf_dir)  # ensure source + dfreq built
    return _core.read_layout(
        spark,
        "events_kv_dfreq.parquet",
        _core.prepared_path(sf_dir, "events_kv_dfreq.parquet"),
    )

def _write_kv_dfreq(spark: SparkSession, post_path: str, dfreq_path: str) -> None:
    """The kv instance of the shared df derivation (:func:`_write_dfreq`
    parameterized by key column), stamped here because every kv call
    site wants the stamp immediately — the term-postings call sites
    stamp themselves after batching other writes."""
    _postings._write_dfreq(spark, post_path, dfreq_path, key="kv")
    _core._stamp(dfreq_path, _KV_POST_META)

def events_kv_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``jsonb_path_ops`` GIN analog (migration :37,52,73 builds
    one on every JSONB column; README.rst:105-107 tells users to phrase
    WHERE clauses so it is used): a (kv, event_id) postings table over
    the composed JSON document, globally kv-range-partitioned and
    kv-sorted so a containment query's pairs fetch as a pushed
    ``In(kv, ...)`` parquet filter with row-group pruning — the GIN
    bitmap-scan shape, work proportional to the queried pairs' posting
    lists, never the table. Built once at ingest time like every
    reference index; ``append_events`` maintains it per batch."""
    path = _core.prepared_path(sf_dir, "events_kv_postings.parquet")
    _core._recover_prepared_swaps(sf_dir, path, ".compact")  # locked when pending
    if not _core._is_built(path, _KV_POST_META) and not _core._prepared_built_under_lock(
        sf_dir, ((path, ".compact"),), lambda: _core._is_built(path, _KV_POST_META)
    ):
        _core._refuse_rebuild_with_absorbed_batches(path, "kv postings")
        # A layout added AFTER other event layouts absorbed appended
        # batches cannot be built from the base parquet alone — those
        # batches' rows exist only in the sibling layouts (review r7
        # #2: the guard above sees this path's own empty manifest and
        # passes). The rollup is append_events' always-maintained
        # sibling, so its manifest is the authoritative absorbed set.
        sibling = _core._read_abatch_manifest(
            _core.prepared_path(sf_dir, "events_hourly_rollup.parquet")
        )
        if sibling and not os.path.exists(path):
            raise RuntimeError(
                f"events_kv_postings for {sf_dir} cannot be freshly built: "
                f"sibling event layouts hold appended batches {sorted(sibling)} "
                "whose rows the base events parquet does not contain — a "
                "from-base build would silently omit them. Run "
                "backfill_events_kv_postings(spark, sf_dir) to build the "
                "postings from the base table plus the batches recovered "
                "from events_by_date, or re-land those batches in the base "
                "table first."
            )
        if os.path.exists(path):
            shutil.rmtree(path)
        (
            _core.layout_rows(
                _events_kv_rows(load_table(spark, sf_dir, "events")),
                "events_kv_postings.parquet",
            )
            .repartitionByRange("kv")
            .sortWithinPartitions("kv", "event_id")
            .write.parquet(path)
        )
        _core._stamp(path, _KV_POST_META)
        _write_kv_dfreq(
            spark, path, _core.prepared_path(sf_dir, "events_kv_dfreq.parquet")
        )
    dfreq_path = _core.prepared_path(sf_dir, "events_kv_dfreq.parquet")
    if not _core._is_built(dfreq_path, _KV_POST_META):
        # dfreq lost or stale (crash mid-refresh) — re-derive from the
        # postings, which are the source of truth
        _write_kv_dfreq(spark, path, dfreq_path)
    return _core.read_layout(spark, "events_kv_postings.parquet", path)

def backfill_events_kv_postings(spark: SparkSession, sf_dir: str) -> int:
    """Self-heal for deployments that upgrade to the kv-postings layout
    AFTER sibling event layouts absorbed appended batches (ADVICE r8
    #3): :func:`events_kv_postings` rightly REFUSES a from-base build
    then — the absorbed batches' rows exist only in the sibling layouts
    — but a refusal with no remediation path keeps ``append_events``
    down indefinitely. This helper rebuilds the postings from the base
    events table PLUS the absorbed batches' rows recovered from
    ``events_by_date``, which stores FULL event rows per batch under
    ``abatch-<id>-`` prefixed files, then records the recovered batch
    set in the new layout's own manifest so retries of those batches
    stay no-ops and future appends behave normally.

    Crash-safe: everything (data, stamp, manifest) is staged into a tmp
    directory and atomically renamed into place; a crash at any point
    leaves either no layout (re-run the backfill) or the complete one.
    Assumes the standard ``append_events`` contract that absorbed
    batches' rows are NOT also in the base parquet (if an operator
    re-landed them there, delete the layout dir and build fresh
    instead). Returns the number of recovered batches."""
    path = _core.prepared_path(sf_dir, "events_kv_postings.parquet")
    bydate = _core.prepared_path(sf_dir, "events_by_date.parquet")
    absorbed = _core._read_abatch_manifest(bydate)
    sibling = _core._read_abatch_manifest(
        _core.prepared_path(sf_dir, "events_hourly_rollup.parquet")
    )
    if not (sibling - _core._read_abatch_manifest(path)):
        return 0  # nothing missing: the normal ensure path suffices
    if os.path.exists(path):
        raise RuntimeError(
            f"events_kv_postings at {path} already exists but lacks "
            f"batches {sorted(sibling - _core._read_abatch_manifest(path))}; "
            "backfill only builds the layout from scratch — append the "
            "missing batches via append_events retries, or delete the "
            "layout directory first to rebuild it here."
        )
    missing = sibling - absorbed
    if missing:
        raise RuntimeError(
            f"cannot backfill events_kv_postings for {sf_dir}: batches "
            f"{sorted(missing)} are absorbed in the rollup but not in "
            "events_by_date, so their full rows are unrecoverable here."
        )
    # recover the absorbed batches' full event rows from their
    # abatch-prefixed data files inside the date partition dirs (the
    # `date` partition column is directory-encoded and not needed for
    # kv derivation)
    # strict walk (review r11 pass-10 #3): a transiently unreadable
    # date directory must FAIL the backfill, not silently omit its
    # abatch files — the rebuilt layout would manifest the batch as
    # absorbed while dropping its rows (review r8 #3's exact failure)
    from venus_spark.fsutil import walk_strict

    batch_files = [
        os.path.join(root, f)
        for root, _dirs, files in walk_strict(bydate)
        for f in files
        if f.startswith("abatch-") and f.endswith(".parquet")
    ]
    # A batch the manifest lists but whose files are GONE (retention's
    # drop_event_chunks deletes whole date directories, abatch files
    # included, while manifests survive rewrites by design) cannot be
    # recovered here — raise the designed error instead of letting an
    # empty-path read fail opaquely or a rebuilt index silently omit
    # the batch while manifesting it as absorbed (review r8 #3). A
    # retention-PARTIAL batch (some of its dates dropped, others kept)
    # backfills its surviving rows — which is exactly the by_date
    # layout's own post-retention view of that batch.
    ids_with_files = {
        int(m.group(1))
        for f in batch_files
        if (m := re.match(r"abatch-(-?\d+)-", os.path.basename(f)))
    }
    gone = absorbed - ids_with_files
    if gone:
        raise RuntimeError(
            f"cannot backfill events_kv_postings for {sf_dir}: absorbed "
            f"batches {sorted(gone)} have no surviving abatch files in "
            "events_by_date (retention dropped their chunks); their rows "
            "are unrecoverable from this layout."
        )
    ev = load_table(spark, sf_dir, "events")
    recovered = _core.read_layout(
        spark, "events_by_date.parquet", *batch_files
    ).select(*ev.columns)
    tmp = path + ".backfill.tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    (
        _events_kv_rows(ev.unionByName(recovered))
        .repartitionByRange("kv")
        .sortWithinPartitions("kv", "event_id")
        .write.parquet(tmp)
    )
    _core._stamp(tmp, _KV_POST_META)
    _core._write_abatch_manifest(tmp, absorbed)
    os.rename(tmp, path)  # atomic commit of data + stamp + manifest
    _write_kv_dfreq(
        spark, path, _core.prepared_path(sf_dir, "events_kv_dfreq.parquet")
    )
    return len(absorbed)

def events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` with the JSON payload stored as Spark 4 ``VARIANT``
    (SURVEY §1.4's primary JSONB mapping): ``props_v`` is the raw
    payload parsed once at ingest time, ``data_v`` the reference-shaped
    multi-key document the containment plans probe. Queries then read
    ``variant_get(...)`` instead of running a JsonPath parse over a
    text column per row per query — and Spark's parquet *shredding*
    pushes each requested field into the read schema
    (``ReadSchema: struct<props_v:struct<0:int,...>>``), so a scan
    decodes only the probed keys, the columnar answer to the
    reference's GIN-served ``data->>'k'`` (README.rst:105-107). The
    parse cost moves to write time exactly like every other prepared
    artifact; at 100 TB repeated per-query JsonPath over text is the
    expensive way to serve hot-key access."""
    meta = {"variant": True, "keys": ["k", "type", "uid"]}
    path = _core.prepared_path(sf_dir, "events_variant.parquet")
    if not _core._is_built(path, meta):
        if os.path.exists(path):
            shutil.rmtree(path)
        ev = load_table(spark, sf_dir, "events")
        data = F.to_json(
            F.struct(
                F.get_json_object("props", "$.k").cast("int").alias("k"),
                F.col("event_type").alias("type"),
                F.when(F.col("user_id") % 3 != 0, F.col("user_id")).alias("uid"),
            )
        )
        _core.layout_rows(
            ev.withColumn("props_v", F.parse_json("props"))
            .withColumn("data_v", F.parse_json(data))
            .drop("props"),
            "events_variant.parquet",
        ).write.parquet(path)
        _core._stamp(path, meta)
    return _core.read_layout(spark, "events_variant.parquet", path)

def events_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` re-laid-out for the correlation-key access path: range-
    partitioned on ``user_id``, sorted ``(user_id, ts)`` within
    partitions. Parquet row-group min/max statistics then serve a point
    lookup from ~one row group per touched file instead of a full scan —
    the storage-layout analog of the reference's b-tree on the
    correlation column (alembic migration
    37716151a213_initialise_database.py:35); a lakehouse table format
    would express the same layout as clustering/Z-ORDER on
    ``(user_id, ts)``. The partition count is sized for sf0.1; at scale
    it is a target-file-size calculation, and the sort is the same
    one-shuffle write-side job."""
    path = _core.prepared_path(sf_dir, "events_by_user.parquet")
    if not _core._is_built(path):
        if os.path.exists(path):
            shutil.rmtree(path)
        ev = _core.layout_rows(
            load_table(spark, sf_dir, "events"), "events_by_user.parquet"
        )
        (
            ev.repartitionByRange(32, "user_id")
            .sortWithinPartitions("user_id", "ts")
            .write.parquet(path)
        )
    return _core.read_layout(spark, "events_by_user.parquet", path)

_Z_BITS = 16

_Z_FILES = 32

def _zvalue(u: Column, t: Column) -> Column:
    """Bit-interleave two non-negative keys into one Morton (Z-order)
    value: bit i of ``u`` lands at position 2i+1, bit i of ``t`` at 2i.
    Keys are masked to ``_Z_BITS`` — aliasing just coarsens the curve
    into buckets (still locality-preserving); widen the bit budget with
    the key domain at real scale. Pure codegen bit arithmetic, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(u, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(t, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z

def events_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` clustered on the Z-ORDER (Morton) curve over
    ``(user_id, hour(ts))`` — the MULTI-dimensional clustering layout
    (Delta/Iceberg ``ZORDER BY``, done by hand: compute the interleaved
    key, one range-repartition + in-partition sort, write). The 1-D
    layouts each serve one predicate and nothing else: ``events_by_user``
    prunes a key probe but a time-only query reads every row group, and
    ``events_by_date`` the converse. On the Z curve every file covers a
    small rectangle of (key, time) space, so row-group min/max stats on
    BOTH columns stay tight and a 2-D probe (correlation key AND time
    window — the reference's primary pattern plus its hypertable
    constraint, README.rst:73-74 + migration :39-43) prunes on
    whichever dimension is more selective. The interleaved column is
    dropped after the sort — it exists to order the write, not to be
    queried. One shuffle at ingest time, same as every other prepared
    layout; at 100 TB files-per-z-range is a target-file-size
    calculation and the same write job."""
    meta = {"bits": _Z_BITS, "files": _Z_FILES, "dims": ["user_id", "hour"]}
    path = _core.prepared_path(sf_dir, "events_zorder.parquet")
    _core._recover_prepared_swaps(sf_dir, path, ".recluster")

    # The stamp also records the curve's hour ORIGIN (append_events
    # needs it to keep batch z-values on the same curve), which is only
    # known after the build — so built-ness checks the static geometry
    # keys plus the origin's presence rather than exact dict equality.
    def _z_built() -> bool:
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return False
        try:
            m = _core._read_meta(path)
            return "min_hour" in m and all(
                m.get(k) == v for k, v in meta.items()
            )
        except (OSError, ValueError):
            return False

    if not _z_built() and not _core._prepared_built_under_lock(
        sf_dir, ((path, ".recluster"),), _z_built
    ):
        if os.path.exists(path):
            shutil.rmtree(path)
        ev = _core.layout_rows(
            load_table(spark, sf_dir, "events"), "events_zorder.parquet"
        )
        row = ev.agg(F.min(_hour_col()).alias("h")).first()  # write-time
        min_hour = 0 if row["h"] is None else int(row["h"])  # empty table OK
        _z_sorted(ev, min_hour, _Z_FILES).write.parquet(path)
        _core._stamp(path, {**meta, "min_hour": min_hour})
    return _core.read_layout(spark, "events_zorder.parquet", path)

def _hour_col() -> Column:
    """Epoch-hour of ``ts`` — the time key of the Z curve and the
    rollup bucket share this one definition."""
    return F.floor(F.unix_timestamp("ts") / F.lit(3600)).cast("long")

def _z_sorted(df: DataFrame, min_hour: int, n_files: int) -> DataFrame:
    """The ONE Z-order write kernel shared by build, append, and
    recluster: offset the hour against the curve's stored origin
    (clamped at 0 so a pre-origin straggler coarsens into bucket 0
    instead of corrupting the sign bits), interleave with the key,
    range-partition and sort on the curve, drop the scaffold column.
    Keeping this in one place is what guarantees every generation of
    the layout sorts on the SAME curve."""
    t = F.greatest(F.lit(0), _hour_col() - F.lit(min_hour))
    return (
        df.withColumn("_z", _zvalue(F.col("user_id"), t))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )

def compact_events_kv_postings(spark: SparkSession, sf_dir: str) -> bool:
    """The OPTIMIZE job for the jsonb-GIN analog — appended batches
    land their own kv-sorted file sets, diluting the pushed In(kv)
    pruning; the compaction rewrites one globally kv-range-partitioned
    sorted set through the crash-safe swap (stamp/manifest/marker
    carried). Compacts only what EXISTS (review r7 #4; see
    :func:`_compact_existing_sorted`)."""
    return _core._compact_existing_sorted(
        spark,
        sf_dir,
        "events_kv_postings.parquet",
        lambda: events_kv_postings(spark, sf_dir),
        _KV_POST_META,
        ("kv", "event_id"),
    )

_ROLLUP_META = {"bucket": "hour", "partials": ["n", "sum_dec"]}

def _hourly_partial_rows(events: DataFrame) -> DataFrame:
    """Mergeable PARTIAL hourly aggregates for a batch of events: count
    plus the exact decimal sum (the same decimal(25,6) accumulator
    ``dsum`` uses, kept UNCAST so partials from different batches merge
    exactly — decimal addition is associative, double addition is not).
    SUM(partials) == the one-shot aggregate, which is what makes the
    rollup incrementally maintainable."""
    from venus_spark.functions import DECIMAL_ACC

    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(DECIMAL_ACC)).alias("sum_dec"),
    )

def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized hourly rollup of ``events`` — the continuous-
    aggregate analog (TimescaleDB's marquee feature next to hypertables)
    built the lakehouse way: the table stores mergeable partial
    aggregates, one row per (hour, ingest batch), and reads re-combine
    them with a rollup-sized groupBy. A batch INSERT appends its own
    partials (``append_events``) — O(batch) work, no rewrite of history
    — exactly like the index pending-list; the serve cost stays
    O(buckets), never O(events). At 100 TB this is the difference
    between a dashboard query re-scanning the fact table and reading a
    few thousand pre-aggregated rows."""
    path = _core.prepared_path(sf_dir, "events_hourly_rollup.parquet")
    _core._recover_prepared_swaps(sf_dir, path, ".retention")
    if not _core._is_built(path, _ROLLUP_META) and not _core._prepared_built_under_lock(
        sf_dir, ((path, ".retention"),), lambda: _core._is_built(path, _ROLLUP_META)
    ):
        if os.path.exists(path):
            shutil.rmtree(path)
        _core.layout_rows(
            _hourly_partial_rows(load_table(spark, sf_dir, "events")),
            "events_hourly_rollup.parquet",
        ).write.parquet(path)
        _core._stamp(path, _ROLLUP_META)
    return _core.read_layout(spark, "events_hourly_rollup.parquet", path)

_HLL_LGK = 14  # 2^14 registers: rsd ~0.8%, so a ±5% contract is >6 sigma

_HLL_META = {"sketch": "hll", "lgk": _HLL_LGK, "grain": ["date", "event_type"]}

def _daily_hll_rows(events: DataFrame) -> DataFrame:
    """Mergeable daily HLL tiles for a batch of events: one Datasketches
    HLL sketch of user_id per (day, event_type). Sketches for the same
    tile from different batches need no reconciliation at write time —
    ``hll_union_agg`` at read is lossless for same-config sketches, the
    sketch-space analog of the rollup's decimal partials."""
    return events.groupBy(
        F.to_date("ts").alias("date"), "event_type"
    ).agg(F.hll_sketch_agg("user_id", F.lit(_HLL_LGK)).alias("users_sk"))

def events_daily_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized daily distinct-user tiles — pre-aggregated HLL
    sketches at (day, event_type) grain. Any date-RANGE distinct-user
    query is then a union-merge over O(days × types) tile rows instead
    of a COUNT(DISTINCT) shuffle over the fact table — the canonical
    mergeable-sketch deployment (and what the reference's dashboards
    would lean on TimescaleDB continuous aggregates + approx distinct
    for). ``append_events`` appends the batch's tiles; overlapping days
    merge at read."""
    path = _core.prepared_path(sf_dir, "events_daily_hll.parquet")
    _core._recover_prepared_swaps(sf_dir, path, ".retention")
    if not _core._is_built(path, _HLL_META) and not _core._prepared_built_under_lock(
        sf_dir, ((path, ".retention"),), lambda: _core._is_built(path, _HLL_META)
    ):
        if os.path.exists(path):
            shutil.rmtree(path)
        _core.layout_rows(
            _daily_hll_rows(load_table(spark, sf_dir, "events")),
            "events_daily_hll.parquet",
        ).write.parquet(path)
        _core._stamp(path, _HLL_META)
    return _core.read_layout(spark, "events_daily_hll.parquet", path)

def merge_hourly_partials(roll: DataFrame) -> DataFrame:
    """The read-side combine paired with :func:`_hourly_partial_rows`
    (defined beside it so the write and read kernels cannot drift):
    SUM of counts plus SUM of the exact decimal partials, cast to
    double LAST — bit-identical to one dsum over the raw events."""
    return roll.groupBy("bucket_ts").agg(
        F.sum("n").alias("n"),
        F.sum("sum_dec").cast("double").alias("total_value"),
    )

def append_events(
    spark: SparkSession, sf_dir: str, new_events: DataFrame, batch_id: int
) -> None:
    """INSERT-time maintenance of the event-side artifacts (the twin of
    ``append_documents_batch`` on the fact table). Every artifact absorbs the
    batch through :func:`_append_batch_files`, so re-running a batch
    (crash-retry, at-least-once upstream) converges instead of
    double-counting — ``batch_id`` is the caller's stable identity for
    the batch, exactly like the streaming sink's epoch id:

    - hourly rollup + daily HLL tiles: the batch lands as appended
      PARTIAL-aggregate rows; overlapping hours/days merge at read
      (decimal partials exactly, sketches losslessly).
    - date-partitioned layout: the batch's files land inside their day
      directories (existing chunks untouched).
    - key-clustered and Z-order layouts: the batch is appended as its
      own sorted files — per-file row-group stats stay tight, overall
      clustering degrades gracefully until a recluster (the OPTIMIZE /
      re-ZORDER posture of every lakehouse table; correctness never
      depends on it). The Z-order key reuses the base build's stored
      hour origin (:func:`_z_sorted`) so batch z-values stay on the
      same curve.

    Layouts must already be built for ``sf_dir`` (the ensure calls are
    no-ops after the first build)."""
    # ALL ensures run BEFORE any append (review r7 pass-2 #1): the kv
    # postings' sibling-manifest guard reads the rollup's batch
    # manifest, so an ensure interleaved after this batch's first
    # append would see its own in-flight batch id and refuse — and an
    # ensure that triggers a fresh build mid-append must never observe
    # a half-appended sibling state anyway.
    events_hourly_rollup(spark, sf_dir)
    events_daily_hll(spark, sf_dir)
    events_by_date(spark, sf_dir)
    events_by_user(spark, sf_dir)
    events_zorder(spark, sf_dir)
    events_kv_postings(spark, sf_dir)

    _core._append_batch_files(
        _hourly_partial_rows(new_events),
        _core.prepared_path(sf_dir, "events_hourly_rollup.parquet"),
        batch_id,
    )

    _core._append_batch_files(
        _daily_hll_rows(new_events),
        _core.prepared_path(sf_dir, "events_daily_hll.parquet"),
        batch_id,
    )

    _core._append_batch_files(
        new_events.withColumn("date", F.to_date("ts")),
        _core.prepared_path(sf_dir, "events_by_date.parquet"),
        batch_id,
        partition_by=("date",),
    )

    _core._append_batch_files(
        new_events.repartitionByRange(4, "user_id").sortWithinPartitions(
            "user_id", "ts"
        ),
        _core.prepared_path(sf_dir, "events_by_user.parquet"),
        batch_id,
    )

    z_path = _core.prepared_path(sf_dir, "events_zorder.parquet")
    min_hour = int(_core._read_meta(z_path)["min_hour"])
    _core._append_batch_files(_z_sorted(new_events, min_hour, 4), z_path, batch_id)

    # the jsonb-GIN analog: the batch's own kv-sorted posting rows
    # append under the same manifest (per-file row-group stats stay
    # tight; appended rows exist only here and in the other layouts,
    # so the refuse-rebuild guard protects them from a from-base drop)
    _core._append_batch_files(
        _events_kv_rows(new_events).repartitionByRange(4, "kv")
        .sortWithinPartitions("kv", "event_id"),
        _core.prepared_path(sf_dir, "events_kv_postings.parquet"),
        batch_id,
    )
    # df is a corpus-wide aggregate, so the append invalidates it —
    # refresh from the postings (vocabulary-sized), same discipline as
    # the documents dfreq. These are PLANNING statistics only (entry
    # selection; the recheck keeps answers exact regardless), so a
    # crash between the append and this refresh merely leaves them one
    # batch stale — pg's stale-pg_statistic posture — until the next
    # refresh; a torn overwrite loses the stamp and the ensure-read
    # re-derives.
    _write_kv_dfreq(
        spark,
        _core.prepared_path(sf_dir, "events_kv_postings.parquet"),
        _core.prepared_path(sf_dir, "events_kv_dfreq.parquet"),
    )

def recluster_events_zorder(spark: SparkSession, sf_dir: str) -> None:
    """The OPTIMIZE / re-ZORDER maintenance job: rewrite the Z-order
    layout from its own CURRENT contents (base build plus every
    appended batch) back into one globally z-sorted file set, restoring
    the per-file rectangle tightness that appends gradually dilute.
    Reuses the stamped hour origin so the curve is identical across
    recluster generations. The swap is crash-safe AND reader-safe: the
    rewrite stages under a recovery-invisible name, the three-rename
    swap runs under the shared prepared-swap lock, and every
    ``events_zorder`` read runs a locked-when-pending ``.recluster``
    recovery that completes or rolls back any interruption. At 100 TB
    this is the scheduled compaction every lakehouse table runs;
    queries never stop being correct while it is due, only less
    pruned. A layout with no appended batch since its last z-sorted
    write is already one z-sorted file set and is left as it is."""
    events_zorder(spark, sf_dir)  # ensures built + completes any prior swap
    path = _core.prepared_path(sf_dir, "events_zorder.parquet")
    if not _core._holds_batch_files(path):
        return
    meta = _core._read_meta(path)
    min_hour = int(meta["min_hour"])
    # stage OUTSIDE the lock under a recovery-invisible name, swap
    # inside it — the family recipe (ADVICE r8 #1), so a reader's
    # locked recovery can never rmtree the in-flight stage or
    # interleave the aside window
    staging = path + ".recluster_staging"
    if os.path.exists(staging):
        shutil.rmtree(staging)  # our own crashed prior staging
    # Carry the batch manifest across the rewrite (same as the retention
    # rewrite below): the recluster absorbs appended abatch files into
    # unprefixed ones, so a post-recluster retry of an absorbed batch
    # must still see its id committed — otherwise it re-lands the rows
    # and double-counts, violating _append_batch_files' invariant.
    # Snapshot it BEFORE the staging write (review r9 pass-3 #1, the
    # family invariant): a batch appended DURING the staging scan is
    # absent from the staged rows, so carrying its id would no-op the
    # retry and silently lose the rows — the pre-staging snapshot
    # leaves it un-manifested and re-landable.
    manifest = _core._read_abatch_manifest(path)
    cur = _core.read_layout(spark, "events_zorder.parquet", path)
    _z_sorted(cur, min_hour, _Z_FILES).write.parquet(staging)
    _core._stamp(staging, meta)
    if manifest:
        _core._write_abatch_manifest(staging, manifest)
    _core._swap_in_locked(sf_dir, path, ".recluster", staging)

def drop_event_chunks(
    sf_dir: str,
    before_date: str,
    spark: SparkSession | None = None,
    drop_aggregates: bool = False,
) -> int:
    """Retention by chunk exclusion — the ``drop_chunks`` analog on the
    date-partitioned events layout: delete every ``date=YYYY-MM-DD``
    partition directory older than the cutoff. Pure metadata-and-unlink
    work, O(dropped chunks); surviving data files are never opened,
    rewritten, or even listed — the same reason the reference's
    hypertable (migration :39-43) makes retention a chunk drop instead
    of a DELETE scan. Returns the number of chunks dropped.

    Scope, matching TimescaleDB's semantics: dropping hypertable chunks
    does NOT touch the continuous aggregates — a dashboard keeps its
    full history of rollup/HLL tiles by design unless a separate
    retention policy targets them, which ``drop_aggregates=True``
    applies here (filter-rewrite of the two small aggregate artifacts
    through the same crash-safe tmp/old swap the recluster job uses —
    an interrupted swap completes or rolls back on the next read, so
    appended-but-unrewritten partials are never lost; the batch
    manifest is carried across the rewrite so a post-retention retry
    of an absorbed batch stays a no-op; requires ``spark``). The
    key-clustered and Z-order layouts derive from the immutable base
    table in this harness and are out of retention scope — in a
    deployment the chunked layout IS the table and they would be
    per-chunk.

    ``before_date`` must be an ISO date — a malformed cutoff raises
    instead of lexicographically deleting the wrong chunks."""
    import datetime as _dt

    cutoff = _dt.date.fromisoformat(before_date)  # validates; raises ValueError
    iso = cutoff.isoformat()
    base = _core.prepared_path(sf_dir, "events_by_date.parquet")
    if not os.path.isdir(base):
        raise ValueError(
            f"events_by_date layout not built for {sf_dir!r} — run "
            "prepared.events_by_date (or the prepare CLI) first"
        )
    dropped = 0
    for d in sorted(os.listdir(base)):
        if d.startswith("date=") and d[len("date=") :] < iso:
            shutil.rmtree(os.path.join(base, d))
            dropped += 1
    if drop_aggregates:
        if spark is None:
            raise ValueError("drop_aggregates=True requires a SparkSession")
        targets = (
            ("events_hourly_rollup.parquet",
             F.col("bucket_ts") >= F.lit(f"{iso} 00:00:00").cast("timestamp_ntz")),
            ("events_daily_hll.parquet",
             F.col("date") >= F.lit(iso).cast("date")),
        )
        for name, keep in targets:
            path = _core.prepared_path(sf_dir, name)
            _core._recover_prepared_swaps(sf_dir, path, ".retention")
            if not os.path.exists(path):
                continue
            meta = _core._read_meta(path)
            manifest = _core._read_abatch_manifest(path)
            staging = path + ".retention_staging"
            if os.path.exists(staging):
                shutil.rmtree(staging)  # our own crashed prior staging
            _core.read_layout(spark, name, path).filter(keep).write.parquet(staging)
            _core._stamp(staging, meta)
            if manifest:
                _core._write_abatch_manifest(staging, manifest)
            _core._swap_in_locked(sf_dir, path, ".retention", staging)
    return dropped
