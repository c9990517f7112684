"""Structured Streaming wiring for the ingest pipeline (SURVEY.md §2A).

The reference's dataflow is: ZMQ PULL socket -> bounded queue ->
micro-batcher (flush at size>=100 OR age>=5s) -> batched INSERT
(``venus/io/__init__.py:78-108``, ``venus/db/write.py:19-84``,
``venus/main.py:22-49``). Here the same pipeline is one streaming
query:

- **Source** (A1): a file-based JSON-lines stream (``read_log_stream``).
  The ZMQ bind itself is a non-Spark edge process in any deployment —
  exactly as the reference's *sender* is a separate process — it relays
  frames into the landing directory / Kafka topic the stream reads.
- **Admission control** (A3): ``maxFilesPerTrigger`` bounds per-batch
  intake — the Spark analog of the reference's bounded queue; Spark
  never drops internally, so at-most-once admission becomes
  source-side backpressure (strictly better, same steady-state rate).
  A micro-batch at the bound lists its files on the driver (the session
  sets Spark's parallel-listing threshold to the bound), so it runs no
  file-listing job beside its sink writes.
- **Micro-batcher** (A9): ``trigger(processingTime='5 seconds')``
  mirrors MAX_BATCH_AGE_SECONDS=5 (``venus/settings.py:39-41``); the
  size trigger generalizes to the per-trigger intake cap.
- **Sink** (A10): ``foreachBatch`` appends to the parquet ``logs``
  table partitioned by ``date`` (the hypertable-chunk analog,
  migration :39-43); malformed rows append to a quarantine table
  (the reference log-and-drops at A2/A4/A6 — quarantined rows never
  enter ``logs``, preserving drop semantics).
- **Delivery** (A11/A12): checkpointing + *idempotent replay* gives
  exactly-once end-to-end: every batch writes into its own
  ``_batch_id`` partition with dynamic partition overwrite, so a crash
  between the parquet write and the checkpoint commit replays the batch
  onto itself instead of appending duplicates — strictly stronger than
  the reference's retry-by-retention at-least-once tail
  (``venus/db/write.py:80-84``); graceful stop = ``query.stop()`` +
  checkpoint recovery.
- **Health** (A15): ``IngestHealthListener`` replaces the TCP
  health-check endpoint (``venus/main.py:40-47``) with
  StreamingQueryListener-driven liveness.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.listener import StreamingQueryListener
from pyspark.sql import types as T

from venus_spark.fsutil import write_json_atomic
from venus_spark.ingest import (
    good_records,
    log_record_schema,
    parse_records,
    quarantined_records,
)
from venus_spark.operators import dedup as dedup_ops

DEFAULT_TRIGGER_SECONDS = 5  # reference MAX_BATCH_AGE_SECONDS (settings.py:40-41)
DEFAULT_MAX_FILES_PER_TRIGGER = 128  # queue-bound analog (venus/main.py:36)

# The PROPS-BEARING streamed-events schema (VERDICT r7 #1): streamed
# events carry the raw JSON payload column exactly like the base table,
# so the per-batch kv-postings maintenance derives the full entry set —
# value pairs (``k=7``) and key-presence rows (``?k``) included — and a
# containment query over the streamed sink is index-served first-class.
# Props-less streams remain legal (absent-key semantics via
# ``_events_kv_rows(allow_missing_props=True)``), they just get no
# ``k=``/``?k`` entries.
#
# A sink's schema is FIXED at its first write: parquet directories must
# not mix timestamp annotations, so never restart an existing sink
# (written with a caller-supplied LTZ schema) under this one — land a
# new sink, or rewrite the old one once, instead.
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        # NTZ, not TimestampType: the base events parquet reads as
        # TIMESTAMP_NTZ (session inferTimestampNTZ) and every plan
        # compares ts against timestamp_ntz literals — an LTZ sink
        # column would silently coerce the whole base-∪-sink union to
        # LTZ (review r8 pass-2 #3).
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream_sink_dir(sf_dir: str) -> str:
    """The CONVENTIONAL streamed-events sink location for a corpus: the
    hot region that ``json_containment_indexed_live`` (and any future
    events live read path) unions with the cold base table — the same
    base-∪-pending architecture as the documents live views, except the
    events 'pending list' is the streaming sink itself (which already
    carries per-batch idempotence, the maintained kv postings, and the
    dfreq statistics partials). Deployments point
    ``start_events_rollup_ingest(sink_dir=...)`` here; sf dirs that
    never streamed simply have no directory and the live plans degrade
    to the prepared-only path.

    CONTRACT (review r8 pass-2 #2): the sink and the base table are
    DISJOINT by event_id. An operator who re-lands streamed batches
    into the base table must drop the sink's corresponding
    ``_batch_id`` partitions in the same maintenance window — the
    partition directory IS the sink's merge manifest. The live plans'
    indexed recheck dedups by event_id as a safety net, but the
    seqscan-fallback path deliberately does not pay a corpus-wide
    dedup shuffle for a contract violation."""
    from venus_spark.prepared import prepared_path

    return prepared_path(sf_dir, "events_stream")


def documents_stream_sink_dir(sf_dir: str) -> str:
    """The CONVENTIONAL streamed-documents sink location for a corpus
    (VERDICT r9 #2) — the documents twin of
    :func:`events_stream_sink_dir`: the hot region whose ``documents``
    table any live read path that needs the CORPUS TEXT (today: the
    trigram fuzzy plan's exact-ILIKE verify; the index-only live plans
    never need it) unions with the cold base table. The default; a
    deployment streaming to a CUSTOM ``sink_dir`` is covered too —
    ``start_documents_ingest`` records its sink location in a pointer
    next to the index artifacts (:data:`_DOC_SINK_POINTER`) and
    :func:`live_documents` prefers the pointer, so the live verify can
    never silently diverge from wherever the text actually lands
    (review r10 pass-2 #2). sf dirs that never streamed simply have no
    pointer/directory and :func:`live_documents` degrades to the base
    table alone.

    Same contract as the events sink: base and sink are DISJOINT by
    doc_id, and an operator who re-lands streamed batches into the base
    table drops the sink's corresponding ``_batch_id`` partitions in
    the same maintenance window."""
    from venus_spark.prepared import prepared_path

    return prepared_path(sf_dir, "documents_stream")


_DOC_SINK_POINTER = "_documents_stream_sink.json"
_EMB_SINK_POINTER = "_embeddings_stream_sink.json"


def _record_sink_pointer(index_sf_dir: str, pointer: str, sink_dir: str) -> None:
    """Record ``sink_dir`` in the ``pointer`` file next to the index
    artifacts: the sink location a live union must read. Written by
    ``start_documents_ingest`` (:data:`_DOC_SINK_POINTER`) and
    ``start_embeddings_ingest`` (:data:`_EMB_SINK_POINTER`) at stream
    start and re-healed per batch. Last-start-wins under the
    single-writer contract (one stream of each kind per index dir);
    tmp + atomic rename."""
    from venus_spark.prepared import prepared_path

    os.makedirs(prepared_path(index_sf_dir, ""), exist_ok=True)
    write_json_atomic(
        prepared_path(index_sf_dir, pointer),
        {"sink_dir": os.path.abspath(sink_dir)},
    )


def _resolve_sink_dir(sf_dir: str, pointer: str, conventional) -> str:
    """The streamed sink for ``sf_dir``: the path recorded in the
    ``pointer`` file when one exists (a deployment's actual sink), else
    ``conventional(sf_dir)``. A torn/malformed pointer falls back to
    the convention — absence of a claim, never a crash.

    UPGRADE CAVEAT (review r10 pass-4 #3): the pointer is written by
    the ingest (at start and re-healed per batch), so a custom-sink
    stream still running PRE-pointer code has no record — the live
    read sees only the base table until that stream restarts once
    under current code. A process restart is how new code reaches the
    stream anyway; restart it once after upgrading."""
    from venus_spark.prepared import prepared_path

    try:
        with open(prepared_path(sf_dir, pointer)) as f:
            recorded = json.load(f).get("sink_dir")
        if isinstance(recorded, str) and recorded:
            return recorded
    except (OSError, ValueError, AttributeError):
        pass
    return conventional(sf_dir)


def embeddings_stream_sink_dir(sf_dir: str) -> str:
    """The CONVENTIONAL streamed-embeddings sink location for a corpus
    (VERDICT r10 #1) — the vector twin of
    :func:`documents_stream_sink_dir`: the hot region whose
    ``embeddings`` table the ``sim_*_live`` plans union with the
    prepared vector layouts for the crash-window batches the write-time
    index maintenance has not yet absorbed. Unlike the documents
    family, the embeddings ingest appends index rows DIRECTLY into the
    IVF/PQ layouts per micro-batch (no pending lists), so the prepared
    plans already serve a drained stream's vectors; the live twins add
    only the sink-landed-but-not-yet-appended window (a crash between
    the sink write and the index append, or mid-append) — detected in
    O(listdir + one manifest read) from the layouts' ``abatch``
    manifests, no data read.

    Same contract as the other sinks: base and sink are DISJOINT by
    vec_id, and an operator who re-lands streamed batches into the
    base table drops the sink's corresponding ``_batch_id`` partitions
    (and rebuilds the vector layouts) in the same maintenance window."""
    from venus_spark.prepared import prepared_path

    return prepared_path(sf_dir, "embeddings_stream")


def pending_vector_batches(sf_dir: str, layout_file: str) -> tuple[str, list[int]]:
    """``(sink_dir, pending batch ids)`` for one prepared vector
    layout: sink batches whose rows the layout's ``abatch`` manifest
    has NOT committed — the sink-landed-but-not-yet-appended crash
    window of ``start_embeddings_ingest`` (sink write first, index
    append second; the checkpoint replay heals it, these ids serve the
    gap until it does). One pointer resolution + one listdir + one
    manifest read, no data touched. A batch mid-append (files moved,
    manifest not yet written) shows as pending AND partially in the
    layout — the live plans dedup by vec_id exactly when pending is
    non-empty, so the torn window over-serves nothing. Quiescent dirs
    return an empty list and the live plans degrade to the prepared
    path."""
    from venus_spark.prepared import _read_abatch_manifest, prepared_path

    sink = _resolve_sink_dir(sf_dir, _EMB_SINK_POINTER, embeddings_stream_sink_dir)
    sink_ids = _sink_batch_ids(os.path.join(sink, "embeddings"))
    if not sink_ids:
        return sink, []
    committed = _read_abatch_manifest(prepared_path(sf_dir, layout_file))
    return sink, sorted(sink_ids - committed)


def read_pending_vectors(
    spark: SparkSession, sink_dir: str, pending: list[int]
) -> DataFrame:
    """The pending batches' vector rows (vec_id, embedding, label) —
    leaf-directory reads of exactly the pending ``_batch_id``
    partitions, micro-batch-sized by construction."""
    return spark.read.parquet(
        *[
            os.path.join(sink_dir, "embeddings", f"_batch_id={b}")
            for b in pending
        ]
    ).select("vec_id", "embedding", "label")


def documents_stream_has_data(sf_dir: str) -> bool:
    """True when the streamed-documents sink holds at least one data
    file — i.e. :func:`live_documents` will be a UNION (plans use this
    to pay union-only costs, e.g. sharing a subplan both branches
    consume, exactly when a second branch exists)."""
    return documents_stream_state(sf_dir)[1]


def documents_stream_state(sf_dir: str) -> tuple[str, bool]:
    """ONE-probe snapshot ``(sink_dir, has_data)`` of the streamed-
    documents sink: callers that both decide union-conditional costs
    AND read the sink (the live fuzzy plan) must resolve the sink
    pointer ONCE and pass both values down — two independent
    pointer resolutions can straddle a pointer rewrite
    (stream restarted onto a new custom sink) and probe one directory
    while reading another, turning a degrade into an AnalysisException
    (ADVICE r10 #1)."""
    sink = _resolve_sink_dir(sf_dir, _DOC_SINK_POINTER, documents_stream_sink_dir)
    return sink, _sink_table_has_data(sink, "documents")


def live_documents(
    spark: SparkSession,
    sf_dir: str,
    has_data: bool | None = None,
    sink_dir: str | None = None,
) -> DataFrame:
    """The LIVE document corpus: base table ∪ the streamed sink's
    documents (the recorded pointer, else the conventional location) —
    the corpus relation behind live plans that must touch document
    TEXT, exactly as the ``documents_*_live`` index views are base ∪
    pending for index rows. Without this union a live plan's exact
    verify stage silently excluded every streamed document: its
    candidates came from the live postings but its text lookup read
    only the base table (closed this round — the streamed mirror's
    documents leg now certifies the union end to end).

    ``has_data``/``sink_dir`` let a caller that already probed the sink
    (:func:`documents_stream_state`) pass its snapshot in, so a plan's
    union decision, any union-conditional costs it pays, and the sink
    READ all derive from ONE pointer resolution + filesystem probe
    instead of racing ones (review r10 pass-6 #2; ADVICE r10 #1 — a
    pointer rewrite between probe and read must not surface as an
    AnalysisException on the query path)."""
    from pyspark.sql import functions as F

    from venus_spark.sources import load_table

    base = load_table(spark, sf_dir, "documents")
    sink = sink_dir if sink_dir is not None else _resolve_sink_dir(
        sf_dir, _DOC_SINK_POINTER, documents_stream_sink_dir
    )
    if has_data is None:
        has_data = _sink_table_has_data(sink, "documents")
    if not has_data:
        return base
    streamed = read_sink_table(spark, sink, "documents")
    # degrade-never-crash under base-table schema evolution (ADVICE r10
    # #4): a base column the already-landed sink batches lack is
    # NULL-filled (exactly what the old rows hold for a column added
    # after they landed — the same posture as the logs sink's
    # mergeSchema contract); a select of base.columns would instead
    # raise AnalysisException per query until the sink is re-landed.
    # Present columns CAST to the base type (review r11 pass-2 #3): a
    # re-landed base whose column type changed must also degrade, not
    # raise a union-type AnalysisException per query.
    have = set(streamed.columns)
    streamed = streamed.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name) if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in base.schema.fields
        ]
    )
    return base.unionByName(streamed)


def _dir_has_parquet(path: str) -> bool:
    """True when any ``.parquet`` file exists under ``path``. Walk
    errors PROPAGATE (except a vanished directory, which is a
    legitimate empty/retained-away state): os.walk's default error
    suppression would turn a transient FS outage into "no files",
    which a union reader interprets as an empty sink — silently
    dropping streamed rows from query results — and the schema-rev
    prune as "retention removed every file" (review r11 pass-8 #2 /
    pass-9 #3; the strict walk lives in :mod:`venus_spark.fsutil` and
    is shared by every walk-based probe so the invariant cannot
    drift)."""
    from venus_spark.fsutil import walk_strict

    return any(
        f.endswith(".parquet")
        for _root, _dirs, files in walk_strict(path)
        for f in files
    )


def _sink_table_has_data(sink_dir: str, table: str) -> bool:
    """True when a streaming-sink table exists AND holds at least one
    data file — zero-row batches are skipped by the writers (an empty
    dynamic-overwrite write lands no files and breaks schema
    inference), so readers key off data-file presence, not directory
    existence."""
    p = os.path.join(sink_dir, table)
    return os.path.isdir(p) and _dir_has_parquet(p)


def read_log_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int = DEFAULT_MAX_FILES_PER_TRIGGER,
) -> DataFrame:
    """Streaming source: JSON lines as raw text (one ``value`` column).

    Reading as *text* (not ``format('json')``) keeps the raw line
    available for quarantine and defers parsing to ``parse_records`` —
    the same decode-then-validate split as the reference's
    Message -> json.loads stages (A2/A4).
    """
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .schema(T.StructType([T.StructField("value", T.StringType())]))
        .load(landing_dir)
    )


def read_log_stream_socket(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 5555,
) -> DataFrame:
    """Push-socket source: one JSON line per record on a TCP stream —
    the closest Spark analog of the reference's ZMQ PULL bind
    (``venus/io/__init__.py:78-108``). Like the reference's ingest edge,
    this source is *at-most-once*: no offsets, no replay, messages that
    arrive while no reader is attached are lost (the reference drops on
    queue overflow, ``venus/io/__init__.py:97-105``). Use the file/Kafka
    landing path for at-least-once ingest; this exists for wire parity
    and low-latency relays."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def _write_idempotent(
    df: DataFrame,
    table_dir: str,
    batch_id: int,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Replay-idempotent micro-batch write: rows land under a
    ``_batch_id=<n>`` partition with *dynamic* partition overwrite, so a
    replayed batch (crash between parquet write and checkpoint commit)
    rewrites exactly its own partitions — no duplicate rows, no touching
    other batches' output (VERDICT r2 "What's wrong" #6). Read back with
    :func:`read_sink_table`, which drops the bookkeeping column."""
    import pyspark.sql.functions as F

    (
        df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols, "_batch_id")
        .parquet(table_dir)
    )


def read_sink_table(spark: SparkSession, sink_dir: str, table: str) -> DataFrame:
    """Read a streaming-sink table, hiding the ``_batch_id`` replay
    bookkeeping partition column."""
    return spark.read.parquet(os.path.join(sink_dir, table)).drop("_batch_id")


COMPACTED_BATCH_ID = -1


def compact_closed_partition(
    spark: SparkSession,
    table_dir: str,
    partition: str,
    target_files: int = 1,
) -> int:
    """Compact one CLOSED partition of a streaming sink (e.g.
    ``date=2024-01-01`` after the stream's watermark has moved past that
    date): the micro-batch trigger cadence writes one small file set per
    batch, and at 100 TB a year of 5-second batches is millions of tiny
    files — the classic small-file problem; compaction is the
    maintenance pass every micro-batch sink needs.

    The compacted rows land under ``_batch_id=-1`` so the
    directory layout stays homogeneous with live partitions (mixed
    depths break parquet partition discovery), and the real batch ids
    can never collide with it. Crash-safe by retry, with an explicit
    commit record: ``_compact_manifest.json`` in the partition
    directory (written via temp-file + atomic rename) lists EXACTLY
    the batch directories the compacted output absorbed. A surviving
    batch directory is removed only if the manifest names it
    (crash-mid-cleanup duplicate); an UNMANIFESTED directory is a
    batch the stream landed after the last commit — "closed" cannot be
    enforced here, watermarks live in the caller — and is never
    deleted: it is re-compacted together with the committed output
    through a dot-prefixed staging directory (invisible to partition
    discovery), with the manifest update as the new commit point
    BEFORE the old output is swapped out, so every crash window
    resolves by retry to the same committed state. Rows are never lost
    in any interleaving; the only retry anomaly is re-doing work. (A
    lakehouse table format expresses this same operation as a
    transactional OPTIMIZE/rewrite.)

    Legacy state (a ``_SUCCESS``-committed compacted dir with NO
    manifest, from a pre-manifest run) keeps its old semantics: its
    surviving batch dirs were its sources, so they are adopted into a
    manifest as absorbed.

    Returns the number of batch directories compacted away.
    """
    import shutil

    part_dir = os.path.join(table_dir, partition)
    compacted_name = f"_batch_id={COMPACTED_BATCH_ID}"
    compacted = os.path.join(part_dir, compacted_name)
    staging = os.path.join(part_dir, ".compact_staging")
    manifest_path = os.path.join(part_dir, "_compact_manifest.json")

    def read_manifest() -> set[str]:
        try:
            with open(manifest_path) as f:
                return set(json.load(f))
        except (OSError, ValueError):
            return set()

    def commit_manifest(names: set[str]) -> None:
        write_json_atomic(manifest_path, sorted(names))  # atomic commit

    def list_batch_dirs() -> list[str]:
        return [
            d
            for d in os.listdir(part_dir)
            if d.startswith("_batch_id=")
            and d != compacted_name
            and os.path.isdir(os.path.join(part_dir, d))
        ]

    committed = os.path.exists(os.path.join(compacted, "_SUCCESS"))
    if committed and not os.path.exists(manifest_path):
        # pre-manifest commit: its sources are exactly the survivors
        commit_manifest(set(list_batch_dirs()))
    absorbed = read_manifest()

    # Finish or discard an interrupted re-compaction first.
    if os.path.exists(staging):
        staged_ok = os.path.exists(os.path.join(staging, "_SUCCESS"))
        new_in_manifest = any(d in absorbed for d in list_batch_dirs())
        if staged_ok and committed is False and absorbed:
            # crash after old-output removal: staging is the output
            os.rename(staging, compacted)
            committed = True
        elif staged_ok and new_in_manifest:
            # crash after manifest commit: staging (old ∪ new) is
            # authoritative — swap it in
            if os.path.exists(compacted):
                shutil.rmtree(compacted)
            os.rename(staging, compacted)
        else:
            # torn or uncommitted staging: sources intact, discard
            shutil.rmtree(staging)

    # Remove crash-mid-cleanup duplicates: dirs the commit absorbed.
    n_cleaned = 0
    for d in list_batch_dirs():
        if d in absorbed:
            shutil.rmtree(os.path.join(part_dir, d))
            n_cleaned += 1

    batch_dirs = list_batch_dirs()  # whatever remains is NEW input
    if os.path.exists(compacted) and not os.path.exists(
        os.path.join(compacted, "_SUCCESS")
    ):
        shutil.rmtree(compacted)  # torn first write: sources intact
    if not batch_dirs:
        return n_cleaned

    sources = [os.path.join(part_dir, d) for d in batch_dirs]
    # mergeSchema on BOTH compaction reads (review r11 pass-2 #1): a
    # logs partition spanning a schema-evolution boundary
    # (start_logs_ingest promote=...) holds mixed-generation batch
    # dirs; a plain read samples ONE file's schema, so a compaction
    # could silently write output missing a promoted column and then
    # rmtree the only files that carried it — nondeterministic data
    # loss. Merged, old rows NULL-fill exactly as read_logs_table
    # serves them, and the compacted output carries the union schema.
    if os.path.exists(os.path.join(compacted, "_SUCCESS")):
        # Re-compaction: fold the committed output and the new batches
        # into staging, commit the widened manifest, then swap.
        (
            spark.read.option("mergeSchema", "true")
            .parquet(compacted, *sources)
            .coalesce(target_files)
            .write.parquet(staging)
        )
        commit_manifest(absorbed | set(batch_dirs))
        shutil.rmtree(compacted)
        os.rename(staging, compacted)
    else:
        (
            spark.read.option("mergeSchema", "true")
            .parquet(*sources)
            .coalesce(target_files)
            .write.parquet(compacted)
        )
        commit_manifest(absorbed | set(batch_dirs))
    for d in batch_dirs:
        shutil.rmtree(os.path.join(part_dir, d))
    return n_cleaned + len(batch_dirs)


_LOGS_SCHEMA_REV = "_logs_schema_rev.json"


def _record_logs_schema_rev(sink_dir: str, promote: tuple[str, ...]) -> None:
    """The logs sink's schema-evolution record (VERDICT r10 #4): a
    monotone UNION of every column any stream generation ever promoted,
    with a rev counter bumped on growth — the sink-side twin of the
    prepared indexes' version stamps, playing the role of the
    reference's alembic revision chain. Monotone on purpose: a restart
    WITHOUT ``promote`` must not un-record columns that older batches
    already carry (their files still hold the data; the merged read
    still serves it). tmp + atomic rename under the single-writer
    contract (one logs stream per sink)."""
    p = os.path.join(sink_dir, _LOGS_SCHEMA_REV)
    prev_cols: set[str] = set()
    prev_rev = 0
    try:
        with open(p) as f:
            rec = json.load(f)
        raw_cols = rec.get("promoted_extra", [])
        # strict shape checks (review r11 pass-3 #2): a foreign/hand-
        # edited record must degrade to a fresh chain, never kill the
        # ingest stream (non-dict top level raised AttributeError past
        # the old handler) or poison the record (a STRING value would
        # iterate to its characters and write them back as columns)
        if isinstance(raw_cols, list):
            prev_cols = {c for c in raw_cols if isinstance(c, str)}
        prev_rev = int(rec.get("rev", 0))
    except (OSError, ValueError, TypeError, AttributeError):
        prev_cols, prev_rev = set(), 0  # absent/torn/foreign: fresh chain
    cols = prev_cols | set(promote)
    if cols == prev_cols and prev_rev > 0:
        return
    os.makedirs(sink_dir, exist_ok=True)
    write_json_atomic(p, {"rev": prev_rev + 1, "promoted_extra": sorted(cols)})


def _logs_schema_rev_covers(sink_dir: str, promote: tuple[str, ...]) -> bool:
    """True when the schema-rev record already names every column in
    ``promote`` — the per-batch fast path (one small JSON read) that
    lets the ingest skip the has-rows Spark action once the record is
    final (review r11 pass-2 #6). A torn/absent record reads as
    not-covering: the heal posture re-checks and re-records."""
    try:
        with open(os.path.join(sink_dir, _LOGS_SCHEMA_REV)) as f:
            rec = json.load(f).get("promoted_extra", [])
        return isinstance(rec, list) and set(promote) <= set(rec)
    except (OSError, ValueError, TypeError, AttributeError):
        return False


def prune_logs_schema_rev(spark: SparkSession, sink_dir: str) -> list[str]:
    """MAINTENANCE heal for the schema-rev record (review r11 pass-3
    #3): retention / out-of-band surgery can delete the last files
    carrying a retired promoted column, after which the monotone record
    claims a column the merged read no longer serves and
    :func:`read_logs_table` fails loudly forever. Run this after such
    lifecycle operations (the logs twin of ``_prune_batch_fp_record``):
    it intersects the recorded columns with the CURRENT merged parquet
    schema, rewrites the record (rev bumped) when it shrank, and
    returns the dropped column names. Must run with the logs stream
    stopped, like every other maintenance op. A record that still
    matches reality (or is absent) is untouched."""
    p = os.path.join(sink_dir, _LOGS_SCHEMA_REV)
    try:
        with open(p) as f:
            rec = json.load(f)
        raw = rec.get("promoted_extra", [])
        recorded = [c for c in raw if isinstance(c, str)] if isinstance(
            raw, list
        ) else []
        prev_rev = int(rec.get("rev", 0))
    except (OSError, ValueError, TypeError, AttributeError):
        return []  # no record, nothing to heal
    if not recorded:
        return []
    logs_dir = os.path.join(sink_dir, "logs")
    try:
        have = set(
            spark.read.option("mergeSchema", "true")
            .parquet(logs_dir)
            .columns
        )
    except Exception:
        # Only the EMPTY table may degrade to "no columns" (retention
        # removed every file — UNABLE_TO_INFER_SCHEMA; review r11
        # pass-4 #2). Any failure while data files still exist (torn
        # parquet from a crashed compaction, transient FS error) must
        # PROPAGATE: shrinking the record on a transient error would
        # silently drop read_logs_table's verification of columns that
        # are still on disk — the exact divergence the record exists
        # to catch (review r11 pass-5 #2).
        if _dir_has_parquet(logs_dir):
            raise
        have = set()
    dropped = [c for c in recorded if c not in have]
    if not dropped:
        return []
    kept = [c for c in recorded if c in have]
    write_json_atomic(p, {"rev": prev_rev + 1, "promoted_extra": sorted(kept)})
    return dropped


def read_logs_table(spark: SparkSession, sink_dir: str) -> DataFrame:
    """THE read contract for the streamed ``logs`` table across schema
    evolution (VERDICT r10 #4): merge every batch generation's parquet
    schema (``mergeSchema`` — pre-promotion files lack the promoted
    columns; their rows read NULL, exactly like a warehouse ALTER TABLE
    ADD COLUMN) and VERIFY the merged view against the sink's schema-rev
    record — a recorded-but-absent column means the merge was defeated
    (e.g. a reader bypassing this helper wrote a conflicting layout)
    and must fail loudly rather than silently serve a narrower table.
    Hides the ``_batch_id`` replay bookkeeping like
    :func:`read_sink_table`."""
    df = (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(sink_dir, "logs"))
        .drop("_batch_id")
    )
    try:
        with open(os.path.join(sink_dir, _LOGS_SCHEMA_REV)) as f:
            recorded = json.load(f).get("promoted_extra", [])
    except (OSError, ValueError, TypeError, AttributeError):
        # pre-upgrade sink (no record) or foreign/hand-edited shapes
        # (non-dict top level raises AttributeError): no claim — the
        # same degrade posture as every other record reader here
        # (review r11 pass-4 #1)
        recorded = []
    if isinstance(recorded, list):
        missing = [
            c for c in recorded if isinstance(c, str) and c not in df.columns
        ]
        if missing:
            raise ValueError(
                f"logs sink schema-rev records promoted columns {missing} "
                "that the merged read does not carry — the sink layout "
                "diverged from its schema record (after retention/surgery "
                "that legitimately removed a retired column's last files, "
                "heal with prune_logs_schema_rev)"
            )
    return df


def _start_query(
    source: DataFrame,
    query_name: str,
    write_batch,
    checkpoint_dir: str,
    trigger_seconds: int | None,
) -> StreamingQuery:
    """Start ``source`` as the checkpointed query ``query_name`` whose
    micro-batches go to ``write_batch(batch, batch_id)``: one trigger
    every ``trigger_seconds``, or ``None`` for ``availableNow`` (drain
    what has landed, then stop)."""
    writer = (
        source.writeStream.queryName(query_name)
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds is None:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=f"{trigger_seconds} seconds").start()


def start_logs_ingest(
    source: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
    schema: T.StructType | None = None,
    query_name: str = "logs_ingest",
    live_config=None,
    promote: tuple[str, ...] = (),
) -> StreamingQuery:
    """Wire source -> parse -> partitioned logs + quarantine sinks.

    One ``foreachBatch`` writes both tables from a single parse pass
    (the batch is tiny — one trigger's intake — so the double action
    re-reads only the micro-batch, and the reference's single-writer
    discipline per table holds: one streaming query, reference
    ``venus/db/__init__.py:39-41``).

    ``trigger_seconds=None`` uses ``availableNow`` — drain everything
    then stop (used by tests; also the batch-backfill mode).

    ``live_config`` (a :class:`venus_spark.live_config.LiveConfig`) is
    the A14 analog: ``drop_fields`` and logger levels are re-read per
    micro-batch inside ``foreachBatch``, so a config change applies at
    the next trigger without restarting the query — the reference reads
    its Consul-backed settings through callables at exactly the same
    cadence (``venus/settings.py:44-127``, ``venus/main.py:30-36``).

    ``promote`` is the SCHEMA-EVOLUTION hook (VERDICT r10 #4 — the
    alembic analog; the reference evolves its schema by migration and
    this sink's rev record is the same series): the named record fields
    land as real top-level columns from this stream start onward and
    are popped from the ``data`` payload (see
    :func:`venus_spark.ingest.parse_records`). Earlier batches keep
    their narrower files — :func:`read_logs_table` merges the
    generations and NULL-fills the old rows, exactly what a warehouse
    ALTER TABLE ADD COLUMN leaves behind. The promotion is recorded in
    the sink's schema-rev file (monotone union across restarts) so
    readers can verify the merged view carries every column any
    generation ever promoted — the version-stamp discipline the
    prepared indexes use, wired to a schema rev.
    """
    logs_dir = os.path.join(sink_dir, "logs")
    quarantine_dir = os.path.join(sink_dir, "quarantine")
    rec_schema = schema or log_record_schema()
    # fail a typo'd/colliding promote at start(), not at the first
    # trigger — the SAME shared validation parse_records runs, so the
    # two sites cannot drift (review r11 pass-4 #3). The RECORDED set
    # is the validated extra list, NOT the raw tuple (review r11
    # pass-5 #1): validate_promote drops built-in PROMOTED names as
    # no-ops, and `created` lands aliased as `time` — recording the
    # raw tuple would claim a `created` column no parquet file ever
    # carries, making read_logs_table fail forever on a legal promote.
    from venus_spark.ingest import validate_promote

    record_extra = tuple(validate_promote(rec_schema, promote))

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        drop = None
        if live_config is not None:
            raw_drop = live_config.get("drop_fields")
            drop = tuple(raw_drop) if raw_drop is not None else None
            live_config.apply_log_levels()
        parsed = parse_records(
            batch, schema=rec_schema, drop_fields=drop, promote=promote
        ).persist()
        try:
            good = good_records(parsed)
            _write_idempotent(
                good, logs_dir, batch_id, partition_cols=("date",)
            )
            # record the promotion AFTER its first rows land (review
            # r11 pass-1 #1): recording at start() would let a stream
            # that dies before landing anything — or a quarantine-only
            # prefix — poison read_logs_table with a recorded column no
            # parquet file carries yet; once a promoted batch is on
            # disk the merged schema carries the column forever, so
            # record-after-land closes the reader-crash window. Heal
            # posture per batch like the sink pointers, but the
            # steady-state cost is one small JSON read — the has-rows
            # Spark action runs only while the record does not yet
            # cover the promotion (review r11 pass-2 #6).
            if (
                record_extra
                and not _logs_schema_rev_covers(sink_dir, record_extra)
                and good.limit(1).count() > 0
            ):
                _record_logs_schema_rev(sink_dir, record_extra)
            _write_idempotent(quarantined_records(parsed), quarantine_dir, batch_id)
        finally:
            parsed.unpersist()

    return _start_query(
        source, query_name, write_batch, checkpoint_dir, trigger_seconds
    )


def start_documents_ingest(
    source: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    index_sf_dir: str,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
    screen_near_dups: bool = False,
    near_dup_threshold: float = 0.8,
    maintain_postings: bool = True,
    merge_every: int | None = None,
) -> StreamingQuery:
    """Documents-table ingest with WRITE-TIME INDEX MAINTENANCE: each
    micro-batch lands exactly-once (idempotent ``_batch_id`` overwrite)
    AND writes its MinHash-index rows to the pending area of the
    prepared dedup index — the streaming expression of the reference's
    "every INSERT maintains the index" posture (the pg_trgm GIN is
    declared once in the migration and PostgreSQL's fastupdate pending
    list services inserts thereafter; see
    :func:`venus_spark.prepared.write_minhash_pending` /
    ``merge_minhash_pending`` for the pending/VACUUM pair).

    With ``screen_near_dups=True`` each micro-batch is additionally
    screened against the LIVE index (base ∪ unmerged pending — the
    state BEFORE this batch lands) through
    :func:`venus_spark.operators.dedup.incremental_near_dups`, and the
    verdicts (new_doc, dup_doc, jaccard_sim) land exactly-once in a
    ``dup_verdicts`` side table — dedup-at-ingest, the production
    posture of a training-data pipeline: a duplicate is known the
    moment it arrives, not at the next corpus-wide dedup run. The
    screen is O(batch): the batch's signatures are computed once and
    reused for both the verdicts and the pending-list write; the
    corpus side reads stored bands. Within-batch self-duplicates are
    NOT flagged here (the batch indexes after screening); they fall
    to the corpus-wide pass, the standard lambda split.

    All writes are idempotent on ``_batch_id``, so a crash between
    any of them (or between them and the checkpoint commit) replays
    into exactly the same state — the table, its index, and the
    verdict log cannot diverge under retry. Verdict replay is safe
    because the corpus side explicitly anti-joins the batch's own doc
    ids out of the live view: a replayed batch whose pending partition
    already landed would otherwise match every one of its documents
    against itself. ``source`` is a parsed documents stream with
    columns (doc_id, text, lang, source, n_chars)."""
    docs_dir = os.path.join(sink_dir, "documents")
    verdicts_dir = os.path.join(sink_dir, "dup_verdicts")

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        import pyspark.sql.functions as F

        from venus_spark import prepared

        batch = batch.persist()
        try:
            # re-heal the sink pointer if it vanished OR no longer
            # records this stream's sink (out-of-band deletion,
            # truncation, garbage overwrite — existence alone would
            # miss the present-but-torn states, review r10 pass-5 #1);
            # O(1 small read) per batch, keeps the live corpus union
            # aligned with where this stream actually lands text
            if _resolve_sink_dir(
                index_sf_dir, _DOC_SINK_POINTER, documents_stream_sink_dir
            ) != os.path.abspath(sink_dir):
                _record_sink_pointer(index_sf_dir, _DOC_SINK_POINTER, sink_dir)
            batch_idx = None
            if screen_near_dups:
                batch_idx = prepared._minhash_rows(batch).persist()
                # The corpus side must never contain the batch's OWN
                # rows: a crash-replayed batch already sits in the
                # pending area (only MERGED batches are excluded from
                # the live view), and without this anti-join every
                # replayed document would match its own index row and
                # be flagged a duplicate of itself (jaccard 1.0).
                # Excluding by id is identity-correct: id X in the
                # corpus IS this document, never a near-dup of it.
                live = prepared.documents_minhash_live(
                    batch.sparkSession, index_sf_dir
                ).join(
                    F.broadcast(batch.select("doc_id").distinct()),
                    "doc_id",
                    "left_anti",
                )
                verdicts = dedup_ops.incremental_near_dups(
                    batch_idx, live, threshold=near_dup_threshold
                ).persist()
                # Skip the write when the batch has no duplicates: an
                # empty dynamic-overwrite parquet write lands no data
                # files (schema would be unrecoverable for readers);
                # the verdict table materializes on the first dup.
                if verdicts.limit(1).count() > 0:
                    _write_idempotent(verdicts, verdicts_dir, batch_id)
                verdicts.unpersist()
            _write_idempotent(batch, docs_dir, batch_id)
            prepared.write_minhash_pending(
                index_sf_dir, batch, batch_id, index_rows=batch_idx
            )
            if maintain_postings:
                # The POSITIONAL inverted index and the trigram postings
                # get the same pending-list upkeep as the MinHash index:
                # each batch's rows land under their own _batch_id
                # partitions (dynamic overwrite — replay-idempotent), so
                # the *_live views serve BM25/phrase/boolean retrieval
                # AND fuzzy/similarity search over streamed documents
                # the moment the micro-batch commits; the merge_*
                # functions are the VACUUM twins.
                prepared.write_postings_pending(index_sf_dir, batch, batch_id)
                prepared.write_trgm_postings_pending(
                    index_sf_dir, batch, batch_id
                )
            if merge_every and (batch_id + 1) % merge_every == 0:
                # In-service VACUUM cadence — the GIN autovacuum analog:
                # fold the pending lists into the bases every N batches
                # so the live views' union side stays micro-batch-sized.
                # Safe beside this (the only) writer: merges use
                # surgical per-batch moves + manifests, and a replayed
                # batch re-running the merge is a manifested no-op.
                # below_bid=batch_id: merge STRICTLY OLDER epochs only.
                # This epoch's checkpoint has not committed yet — a
                # crash mid-merge would replay it, and the replay's
                # partition overwrite re-populates a partially-depleted
                # pending partition, so a retried merge would duplicate
                # every already-moved file. Older epochs are committed
                # and can never be rewritten; the current batch stays
                # pending (served by the live views) until the next
                # cadence tick folds it.
                # COST NOTE: each postings merge refreshes the
                # vocabulary df table (vocabulary-sized aggregate over
                # the whole base) and each minhash merge invalidates
                # the bucketed LSH band layout — low merge_every values
                # trade ingest latency for read freshness; size the
                # cadence like autovacuum, not per-batch, in production.
                prepared.merge_minhash_pending(
                    batch.sparkSession, index_sf_dir, below_bid=batch_id
                )
                if maintain_postings:
                    prepared.merge_postings_pending(
                        batch.sparkSession, index_sf_dir, below_bid=batch_id
                    )
                    prepared.merge_trgm_postings_pending(
                        batch.sparkSession, index_sf_dir, below_bid=batch_id
                    )
            if batch_idx is not None:
                batch_idx.unpersist()
        finally:
            batch.unpersist()

    # record where this stream lands document TEXT so the live corpus
    # union (live_documents) follows the deployment's actual sink, not
    # just the conventional default (review r10 pass-2 #2)
    _record_sink_pointer(index_sf_dir, _DOC_SINK_POINTER, sink_dir)
    return _start_query(
        source, "documents_ingest", write_batch, checkpoint_dir, trigger_seconds
    )


def start_embeddings_ingest(
    source: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    index_sf_dir: str,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
) -> StreamingQuery:
    """Embeddings-table ingest with write-time VECTOR-index
    maintenance — the vector twin of :func:`start_documents_ingest`:
    each micro-batch lands exactly-once in the sink table AND appends
    its IVF rows (existing-centroid assignment) and PQ codes
    (existing-codebook encode) through the replay-idempotent batch
    append (:func:`venus_spark.prepared.append_embeddings_batch`), so a
    crash anywhere replays into the same state. The codebook-saturation
    contract is enforced per batch; centroid/codebook refresh stays a
    periodic offline job, exactly as in a deployed IVF-PQ system.
    ``source`` is a parsed embeddings stream with columns
    (vec_id, embedding, label)."""
    from venus_spark import prepared

    vec_dir = os.path.join(sink_dir, "embeddings")
    # Validate + collect the codebook ONCE at stream start: the
    # saturation contract makes it immutable under append, so paying a
    # parquet read + driver collect per micro-batch buys nothing. (This
    # also surfaces an unsaturated codebook at start() instead of
    # failing the first trigger.)
    codebook = prepared._pq_saturated_codebook(
        source.sparkSession, index_sf_dir
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        # re-heal the sink pointer if it vanished or no longer records
        # this stream's sink (same posture as the documents ingest) —
        # the live vector plans' pending-window union follows it
        if _resolve_sink_dir(
            index_sf_dir, _EMB_SINK_POINTER, embeddings_stream_sink_dir
        ) != os.path.abspath(sink_dir):
            _record_sink_pointer(index_sf_dir, _EMB_SINK_POINTER, sink_dir)
        batch = batch.persist()
        try:
            _write_idempotent(batch, vec_dir, batch_id)
            prepared.append_embeddings_batch(
                batch.sparkSession, index_sf_dir, batch, batch_id,
                codebook=codebook,
            )
        finally:
            batch.unpersist()

    # record where this stream lands vectors so the live plans'
    # pending-window union follows the deployment's actual sink
    _record_sink_pointer(index_sf_dir, _EMB_SINK_POINTER, sink_dir)
    return _start_query(
        source, "embeddings_ingest", write_batch, checkpoint_dir, trigger_seconds
    )


class IngestHealthListener(StreamingQueryListener):
    """A15 analog: liveness from query progress events instead of a TCP
    'ok' endpoint. ``healthy()`` is what a health probe would serve;
    ``last_progress()`` also says where the last micro-batch's time went
    (``durationMs``: ``getBatch``, ``addBatch``, ``triggerExecution``
    and the other phases Spark reports, in milliseconds)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._progress: dict[str, dict] = {}
        self._terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._terminated.discard(event.name or event.id)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self._progress[p.name or p.id] = {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "timestamp": p.timestamp,
                "durationMs": p.durationMs,
            }

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._terminated.add(str(event.id))

    def healthy(self, query_name: str) -> bool:
        with self._lock:
            return query_name in self._progress

    def last_progress(self, query_name: str) -> dict | None:
        with self._lock:
            return self._progress.get(query_name)


def start_aux_ingest(
    source: DataFrame,
    parse_fn,
    sink_dir: str,
    checkpoint_dir: str,
    table: str,
    partition_cols: tuple[str, ...] = (),
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
) -> StreamingQuery:
    """Aux-table twin of ``start_logs_ingest``: wire a raw JSON-line
    stream through one of the aux parse functions
    (:func:`venus_spark.ingest.parse_context` / ``parse_span`` /
    ``parse_metric``) into a parquet table + quarantine, one streaming
    query per table (the reference's single-writer discipline,
    ``venus/db/__init__.py:39-41``). ``metric`` passes
    ``partition_cols=("date",)`` to keep the hypertable-chunk layout."""
    import pyspark.sql.functions as F

    table_dir = os.path.join(sink_dir, table)
    quarantine_dir = os.path.join(sink_dir, f"{table}_quarantine")

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        parsed = parse_fn(batch).persist()
        try:
            good = parsed.filter(F.col("_ok")).drop("_ok", "_raw")
            _write_idempotent(good, table_dir, batch_id, partition_cols=partition_cols)
            bad = parsed.filter(~F.col("_ok") | F.col("_ok").isNull()).select(
                F.col("_raw").alias("raw")
            )
            _write_idempotent(bad, quarantine_dir, batch_id)
        finally:
            parsed.unpersist()

    return _start_query(
        source, f"{table}_ingest", write_batch, checkpoint_dir, trigger_seconds
    )


def dedup_stream(
    source: DataFrame,
    key_cols: tuple[str, ...],
    event_time_col: str,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming duplicate suppression: keep the first arrival per key
    within the watermark horizon.

    This is the stream-side cover for the reference's at-least-once tail
    (``venus/db/write.py:80-84``): a sender retry or an upstream replay
    re-delivers a record, and ``dropDuplicatesWithinWatermark`` drops the
    re-delivery as long as it arrives within ``watermark_delay`` of the
    original. The watermark bounds the dedup state — exact dedup over an
    unbounded stream needs unbounded state, so the horizon IS the
    contract (duplicates farther apart than the delay fall through to
    the batch `dedup_exact` pass, the standard lambda split). State is
    hash-partitioned by key — uniform ids, no skew; scales with the
    number of DISTINCT keys inside one horizon, not with stream length.
    """
    return source.withWatermark(event_time_col, watermark_delay).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def start_events_rollup_ingest(
    source: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
) -> StreamingQuery:
    """Events ingest with a CONTINUOUS AGGREGATE maintained in the same
    micro-batch: the batch lands exactly-once in the events table AND
    its hourly partial-aggregate rows land exactly-once next to it —
    the streaming expression of ``prepared.events_hourly_rollup``
    (TimescaleDB's continuous aggregate, which the reference's
    deployment story leans on for dashboards). Both writes are
    idempotent on ``_batch_id`` (dynamic partition overwrite), so a
    crash/replay between them re-lands identical partitions — the fact
    table and its rollup cannot diverge under retry, same discipline as
    the documents/index pair. Readers merge partials with
    :func:`read_hourly_rollup` at O(buckets) cost; the fact table is
    never re-scanned for the dashboard.

    The batch's kv-postings rows (the jsonb-GIN analog,
    ``prepared._events_kv_rows``) land the same way — every INSERT
    maintains the containment index, streaming included; readers get
    them through :func:`read_kv_postings`. The index rows are
    per-event-derived, so the idempotent partition write is the whole
    maintenance story. The batch's per-entry document frequencies land
    beside them as MERGEABLE PARTIALS (``events_kv_dfreq``; summed at
    read by :func:`read_kv_dfreq`) — the statistics the
    gincostestimate-style containment planner keys on, maintained with
    the rollup discipline instead of a corpus-wide refresh per batch
    (VERDICT r7 #1: without sink-side statistics, streamed containment
    got the maintenance but not the planner). Source schemas SHOULD be
    :data:`EVENTS_STREAM_SCHEMA` (props-bearing) so value-pair/
    key-presence entries exist; props-less streams stay legal with
    absent-key semantics."""
    ev_dir = os.path.join(sink_dir, "events")
    roll_dir = os.path.join(sink_dir, "events_hourly_rollup")
    kv_dir = os.path.join(sink_dir, "events_kv_postings")
    dfq_dir = os.path.join(sink_dir, "events_kv_dfreq")

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        import pyspark.sql.functions as F

        from venus_spark.prepared import _events_kv_rows, _hourly_partial_rows

        batch = batch.persist()
        try:
            # kv postings FIRST, fact table LAST: a crash between the
            # writes that is never replayed (checkpoint lost, operator
            # restarts fresh) then leaves ORPHAN posting rows for
            # events that never landed — harmless to the CONTAINMENT
            # plans (the recheck finds no fact row, and index-proven
            # emptiness stays sound because postings ⊇ landed facts) —
            # instead of landed events with silently missing postings,
            # which would make a containment "empty" proof WRONG with
            # no query able to detect it (review r7 pass-4 #3). The
            # trade (review r8 pass-6 #1): the recheck-less KEY plans
            # can over-report presence from an orphan partition until
            # repair_events_sink removes it; that bounded, audit-visible
            # over-report is the lesser evil than an unsound empty.
            kv = _events_kv_rows(batch, allow_missing_props=True).persist()
            # A non-empty batch can legitimately derive ZERO kv rows
            # (all keys absent); an empty dynamic-overwrite write lands
            # no data files and would break schema inference for
            # readers — skip it, exactly like the dup_verdicts sink
            # (read_kv_postings serves an empty typed relation until
            # the first real posting lands).
            if kv.limit(1).count() > 0:
                _write_idempotent(
                    kv.sortWithinPartitions("kv", "event_id"),
                    kv_dir,
                    batch_id,
                )
                # dfreq partials right after their postings: both are
                # index-side artifacts; either orphaned (never-replayed
                # crash before the facts land) only OVERCOUNTS an
                # entry's df, which is planning-only by construction —
                # the containment planner proves every answer from the
                # postings + exact recheck, never from statistics.
                _write_idempotent(
                    kv.groupBy("kv").agg(F.count("*").alias("df")),
                    dfq_dir,
                    batch_id,
                )
            else:
                # a REUSED batch id (checkpoint loss) whose new
                # generation derives zero entries must not leave the
                # prior generation's kv/dfreq partitions behind — the
                # receipt below would fingerprint those stale files as
                # current, certifying phantom postings invisibly to the
                # guard, the audit, and the default repair (review r9
                # pass-4 #1). Mirrors the repair's rederive_batch.
                import shutil as _shutil

                for d in (kv_dir, dfq_dir):
                    part = os.path.join(d, f"_batch_id={batch_id}")
                    if os.path.isdir(part):
                        _shutil.rmtree(part)
            kv.unpersist()
            # fact table then rollup keeps the pre-existing pair
            # semantics (the replay is their healer; orphan PARTIALS
            # would actively overcount dashboards, unlike orphan
            # postings, so the rollup must not precede the facts)
            _write_idempotent(batch, ev_dir, batch_id)
            _write_idempotent(_hourly_partial_rows(batch), roll_dir, batch_id)
            # the batch's COMMIT RECEIPT, written last (VERDICT r8 #1):
            # records every partition's file-set fingerprint so the
            # always-on guard (sink_kv_exclusions) and the audit can
            # see a reused batch id's partial rewrite without the
            # O(sink) deep repair. Advisory — a crash before this line
            # leaves the previous receipt (all four mismatch → the
            # batch reads as stale until repaired) or none (first
            # generation: the orphan rule covers the kv-first window).
            _record_batch_fps(sink_dir, [batch_id])
        finally:
            batch.unpersist()

    return _start_query(
        source, "events_rollup_ingest", write_batch, checkpoint_dir, trigger_seconds
    )


def read_kv_postings(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The streamed sink's kv containment postings (kv, event_id) —
    maintained per micro-batch by :func:`start_events_rollup_ingest`;
    a containment query over the streamed table intersects the queried
    entries' posting lists here exactly as the batch-side plan does
    over ``prepared.events_kv_postings``. Before the first posting row
    lands (batches can legitimately derive zero entries, and the empty
    write is skipped), this serves an empty TYPED relation instead of
    failing schema inference."""
    if not _sink_table_has_data(sink_dir, "events_kv_postings"):
        return spark.createDataFrame([], "kv string, event_id long")
    return read_sink_table(spark, sink_dir, "events_kv_postings")


def read_kv_dfreq(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The streamed sink's kv-entry document frequencies ``(kv, df)``
    — per-batch mergeable partials summed at read, the statistics twin
    of :func:`venus_spark.prepared.events_kv_dfreq` for the hot region.
    O(batches × distinct-entries) rows, vocabulary-sized in practice;
    the containment planner reads only its needles' rows (pushed
    In(kv)). Same empty-typed-relation fallback as the postings."""
    import pyspark.sql.functions as F

    if not _sink_table_has_data(sink_dir, "events_kv_dfreq"):
        return spark.createDataFrame([], "kv string, df bigint")
    return (
        read_sink_table(spark, sink_dir, "events_kv_dfreq")
        .groupBy("kv")
        .agg(F.sum("df").alias("df"))
    )


def read_hourly_rollup(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Merge the streamed partial aggregates into the dashboard view
    (bucket_ts, n, total_value) — the shared combine kernel
    (:func:`venus_spark.prepared.merge_hourly_partials`), bit-identical
    to a one-shot dsum over the full events table."""
    from venus_spark.prepared import merge_hourly_partials

    return merge_hourly_partials(
        read_sink_table(spark, sink_dir, "events_hourly_rollup")
    )


def _sink_batch_ids(table_dir: str) -> set[int]:
    """Batch ids whose ``_batch_id=`` partition holds at least one data
    file in a streaming-sink table — the sink twin of
    ``prepared._pending_bids_with_data`` (a torn write can leave a
    data-less partition directory that must read as absent)."""
    if not os.path.isdir(table_dir):
        return set()
    out = set()
    for d in os.listdir(table_dir):
        if not d.startswith("_batch_id="):
            continue
        p = os.path.join(table_dir, d)
        if os.path.isdir(p) and any(
            f.endswith(".parquet") for f in os.listdir(p)
        ):
            out.add(int(d.split("=", 1)[1]))
    return out


_ZERO_KV_SENTINEL = "_zero_entry_batches.json"


def _table_partition_fp(sink_dir: str, table: str, bid: int) -> list[str]:
    """Fingerprint of one batch partition of a sink table: its sorted
    data-file name set (parquet writers uuid their part files, so ANY
    rewrite — including a reused batch id re-landing different rows
    after checkpoint loss — changes it). ``[]`` = partition absent."""
    p = os.path.join(sink_dir, table, f"_batch_id={bid}")
    if not os.path.isdir(p):
        return []
    return sorted(f for f in os.listdir(p) if f.endswith(".parquet"))


def _facts_partition_fp(sink_dir: str, bid: int) -> list[str]:
    """Fingerprint of a facts batch partition (see
    :func:`_table_partition_fp`)."""
    return _table_partition_fp(sink_dir, "events", bid)


def _partition_footer_rows(
    sink_dir: str, table: str, bid: int, files: list[str]
) -> int | None:
    """Total row count of a batch partition from the parquet FOOTERS
    alone — the metadata-only first gate of the staleness check
    (review r10 pass-3 #3): a phantom rewrite usually changes the row
    count, and footers prove that in O(files) without reading a single
    data page, so the per-row digest pass is reserved for partitions
    whose counts agree. Same no-claim envelope as the digest: any
    failure returns None and the caller falls through to the full
    read (which itself degrades conservatively)."""
    part = os.path.join(sink_dir, table, f"_batch_id={bid}")
    try:
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(os.path.join(part, f)).metadata.num_rows
            for f in files
        )
    except Exception:
        return None


def _file_rows_digest(path: str) -> tuple[int, int]:
    """(row count, modular-SUM 2^64 of per-row blake2b) over one
    parquet file — THE canonicalization: rows canonicalize by sorted
    column name through pyarrow's to_pylist (the file is read with
    pyarrow directly — never through Spark's parquet reader, whose
    Arrow conversion can re-type timestamps), hash independently, fold
    order-independently. Raises on any unreadable state; callers own
    the no-claim envelope."""
    import hashlib

    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    cols = sorted(tbl.column_names)
    acc = 0
    n = 0
    for row in tbl.select(cols).to_pylist():
        payload = repr([row[c] for c in cols]).encode(
            "utf-8", "backslashreplace"
        )
        h = int.from_bytes(
            hashlib.blake2b(payload, digest_size=8).digest(), "big"
        )
        acc = (acc + h) % (1 << 64)
        n += 1
    return n, acc


def _partition_content_digest(
    sink_dir: str, table: str, bid: int, files: list[str]
) -> dict | None:
    """Order-independent ROW-CONTENT digest of a batch partition
    (VERDICT r9 #1): ``{"rows": n, "sum": folded per-row hash}`` over
    exactly ``files``. File names are write-generation identity
    (every rewrite mints fresh uuids); this digest is row-MULTISET
    identity — it distinguishes a byte-identical checkpoint REPLAY
    rewrite (same rows, new names → same digest) from a reused batch
    id's PHANTOM rewrite (different rows → different digest), which
    file names alone cannot.

    Discipline adapted from the export manifest's shard digests
    (``export._shard_digests``): hash each row independently, fold
    order-independently so the digest ignores row order AND how the
    rewrite redistributed rows across files. The fold is a modular SUM
    (2^64), NOT the export's XOR (review r10 pass-2 #1): XOR cancels
    even multiplicities, so a phantom differing only in a duplicated
    row pair ([X,X,Y] → [Z,Z,Y]) would digest-equal and be BLESSED as
    a benign replay — under SUM, multiplicity changes move the value.
    (The export tolerates that residue because its rows are unique
    JSONL lines; receipts certify arbitrary row multisets.) Python
    ints make the modular sum exact where Spark's ANSI long SUM would
    raise on wrap. Threat model unchanged: accidental divergence
    (replay, partial rewrite, surgery), not an adversary forging
    equal-sum row sets.

    Computed DRIVER-side with pyarrow for micro-batch-sized partitions
    (the trigger caps them) — the read-back is O(batch rows) against
    page-cache-warm files, and the check side (:func:`_stale_sink_ids`)
    only ever pays it for partitions whose file names already mismatch
    (a replay or phantom in progress — never the healthy path).
    Measured ~270k rows/s (ms for typical micro-batches; a 500k-row
    backfill trigger pays ~2.5 s on the driver, PERF.md). Rows
    canonicalize by sorted column name, so column order across
    rewrites is immaterial. Returns None when a file vanished mid-read
    (a rewrite's commit instant) or is otherwise undigestable: the
    caller treats the batch conservatively."""
    part = os.path.join(sink_dir, table, f"_batch_id={bid}")
    try:
        # imports INSIDE the no-claim envelope (review r10 pass-2 #3):
        # the digest is an enhancement over the names-only receipt, so
        # even a missing pyarrow must degrade, never crash the ingest
        # receipt write or the key-plan query guard
        acc = 0
        n = 0
        for fname in files:
            fn, facc = _file_rows_digest(os.path.join(part, fname))
            acc = (acc + facc) % (1 << 64)
            n += fn
    except Exception:
        # conservative on ANY unreadable/undigestable partition, not
        # just a vanished file: pyarrow raises ArrowInvalid (a
        # ValueError) for truncated/corrupt parquet and per-file schema
        # drift raises KeyError — exactly the out-of-band-surgery states
        # this digest exists to flag, so they must degrade to "no
        # claim" (caller treats the batch as stale / names-only), never
        # crash the query path or the nightly audit (review r10 #1).
        return None
    return {"rows": n, "sum": acc}


# ---------------------------------------------------------------------------
# The facts-fingerprint record (VERDICT r8 #1): the per-batch commit
# receipt that extends the zero-entry sentinel's fingerprint discipline
# to EVERY derived sink partition, so orphan/stale derived partitions
# are detectable in O(listdir) — always-on at read time for the
# recheck-less key plans, and by the audit without the O(sink) deep
# repair.
# ---------------------------------------------------------------------------

_SINK_FP_RECORD = "_batch_fingerprints.json"
_FP_TABLES = (
    "events",
    "events_hourly_rollup",
    "events_kv_postings",
    "events_kv_dfreq",
)


def _read_batch_fp_record(sink_dir: str) -> dict[int, dict]:
    """Per-batch fingerprint receipts ``{bid: {table: fingerprint}}``
    written by the stream after each fully-landed batch (and by the
    repair after healing one). A fingerprint is ``{"files": sorted
    names, "rows": n, "sum": content digest}`` (VERDICT r9 #1); legacy
    receipts (bare sorted-name lists, pre-digest format) stay readable
    and compare by name only — conservative, exactly the r9 behavior.
    ADVISORY by construction: a missing/torn record makes no claim
    (pre-upgrade sinks, a crash before the receipt), so its absence can
    never false-positive — it only ever ADDS detection."""
    try:
        with open(os.path.join(sink_dir, _SINK_FP_RECORD)) as f:
            data = json.load(f)
        if not isinstance(data, dict):
            return {}
        return {int(k): v for k, v in data.items()}
    except (OSError, ValueError):
        return {}


def _record_fingerprint(rec) -> list[str]:
    """The file-name component of a receipt entry — handles the
    digest-bearing dict format, the legacy bare-list format, and any
    foreign/hand-repaired dict shape (receipts are ADVISORY: a
    malformed entry must degrade to no-names — which reads as a
    mismatch wherever files exist, i.e. conservative — never raise
    into the query path, review r10 pass-3 #1)."""
    if isinstance(rec, dict):
        files = rec.get("files")
        return files if isinstance(files, list) else []
    return rec if isinstance(rec, list) else []


def _write_batch_fp_record(sink_dir: str, record: dict[int, dict]) -> None:
    write_json_atomic(
        os.path.join(sink_dir, _SINK_FP_RECORD),
        {str(k): v for k, v in sorted(record.items())},
    )


def _prune_batch_fp_record(sink_dir: str) -> None:
    """Drop receipts whose partitions have all vanished (removed
    orphans, retention, manual surgery) — maintenance-time only (the
    repair calls it once), never on the per-batch hot path (review r9
    #3: re-fingerprinting every recorded batch per micro-batch is
    O(batches × listdir) work for a condition only maintenance events
    can create)."""
    record = _read_batch_fp_record(sink_dir)
    kept = {
        b: fps
        for b, fps in record.items()
        if any(_table_partition_fp(sink_dir, t, b) for t in _FP_TABLES)
    }
    if kept != record:
        _write_batch_fp_record(sink_dir, kept)


def _record_batch_fps(sink_dir: str, bids) -> None:
    """Record the CURRENT partition fingerprints of every sink table
    for each of ``bids`` — called by the stream's ``write_batch`` after
    its last write (the batch's commit receipt: everything the receipt
    names was derived from the facts generation it names) and by the
    repair after re-deriving batches. A bid whose partitions have ALL
    vanished (a removed orphan) has its entry DROPPED, never re-added
    as an all-empty receipt (review r9 #2). Deliberately touches only
    these bids' partitions — O(4 listdirs) per bid on the per-batch hot
    path; the full vanished-entry prune is maintenance-time work
    (:func:`_prune_batch_fp_record`, run by the repair). The record
    therefore stays O(sink batch partitions) — the same cardinality the
    ``_batch_id`` directory layout itself carries, bounded in a
    deployment by the sink compaction cadence. One read-modify-write
    for all ``bids`` (review r9 pass-2 #3 — per-bid writes are O(n²)
    on a deep repair). Single-writer discipline (one streaming query
    per sink; repair runs with the stream stopped) makes the
    read-modify-write safe; the write is tmp + atomic rename."""
    bids = sorted(set(bids))
    if not bids:
        return
    record = _read_batch_fp_record(sink_dir)
    for bid in bids:
        fps: dict = {}
        for t in _FP_TABLES:
            files = _table_partition_fp(sink_dir, t, bid)
            if not files:
                fps[t] = []
                continue
            # content digest next to the names (VERDICT r9 #1): the
            # read-back is exactly this batch's own just-written
            # partitions — O(batch rows), page-cache-warm. A vanished
            # file mid-read (only a concurrent rewrite could cause it;
            # none exists under the single-writer contract) degrades to
            # the names-only legacy entry, which the checker treats
            # conservatively.
            digest = _partition_content_digest(sink_dir, t, bid, files)
            fps[t] = {"files": files, **digest} if digest else files
        if any(_record_fingerprint(v) for v in fps.values()):
            record[bid] = fps
        else:
            record.pop(bid, None)
    _write_batch_fp_record(sink_dir, record)


def _stale_sink_ids(
    sink_dir: str, tables: tuple[str, ...] = _FP_TABLES
) -> set[int]:
    """Batches whose receipt no longer describes reality: some listed
    table's partition is PRESENT with a different ROW SET than the
    receipt recorded — a reused batch id's partial rewrite (checkpoint
    loss) or out-of-band surgery. A partition that is
    present-in-receipt but absent-on-disk is NOT stale — that is the
    *missing* divergence the audit already classifies (and the orphan
    rule covers derived rows whose facts vanished). ``tables`` narrows
    the check (the kv read guard cares only about facts + kv); ONE
    implementation so the audit's 'stale' and the guard's exclusions
    cannot drift (review r9 #4).

    Name-mismatch alone is NOT staleness (VERDICT r9 #1 — this closes
    the r9 KNOWN CONSERVATIVE WINDOW): a checkpoint REPLAY of a
    fully-landed batch rewrites its partitions with fresh uuid file
    names but byte-identical rows, so a digest-bearing receipt gets a
    content recompute — digest match (rows AND sum) means the rewrite
    is the replay's legitimate re-land and the batch is NOT excluded;
    digest mismatch means a phantom injection and it is. The digest
    recompute runs ONLY on name-mismatched partitions (never the
    healthy path) and is O(that batch's rows). Residual conservative
    window, deliberately kept: the commit INSTANT of a rewrite (files
    half-moved → subset digest or a vanished-file read) and legacy
    names-only receipts still read as stale until the receipt refresh
    — an instant, not the whole replay."""
    return _sink_receipt_divergence(sink_dir, tables)[0]


def _sink_receipt_divergence(
    sink_dir: str, tables: tuple[str, ...] = _FP_TABLES
) -> tuple[set[int], set[int]]:
    """One walk over the receipts classifying every name-mismatched
    batch: ``(stale, drift)``. ``stale`` = some present partition's
    ROWS differ from the receipt (phantom rewrite / surgery / legacy
    names-only receipt — no digest to clear it). ``drift`` = every
    name-mismatched partition digest-matched (a byte-identical replay
    rewrite whose end-of-batch receipt refresh never ran — the replay
    crashed after the rewrite, or surgery copied the partition
    byte-identically). Drift batches are SERVED (their rows are the
    landed rows) but each check re-pays the digest read — O(that
    batch's rows), milliseconds for a micro-batch — until the receipt
    is refreshed: the audit reports them and the repair refreshes their
    receipts, restoring the r9 nightly self-heal the digest rule would
    otherwise have removed (review r10 #2). A None digest (unreadable
    partition, a rewrite's commit instant) makes no claim: stale."""
    stale: set[int] = set()
    drift: set[int] = set()
    for bid, fps in _read_batch_fp_record(sink_dir).items():
        if not isinstance(fps, dict):
            # batch-level malformed entry (hand-repaired/foreign
            # record): advisory means degrade, never raise — with no
            # usable per-table claims the batch is conservatively
            # stale wherever any of its partitions exist (review r10
            # pass-4 #1)
            if any(_table_partition_fp(sink_dir, t, bid) for t in tables):
                stale.add(bid)
            continue
        drifted = False
        for t in tables:
            cur = _table_partition_fp(sink_dir, t, bid)
            rec = fps.get(t, [])
            if not cur or cur == _record_fingerprint(rec):
                continue
            want_rows, want_sum = (
                (rec.get("rows"), rec.get("sum"))
                if isinstance(rec, dict)
                else (None, None)
            )
            if isinstance(want_rows, int) and isinstance(want_sum, int):
                # (a dict missing either field — the short-lived "xor"
                # format, a hand-repaired record — is names-only:
                # conservative, like a legacy receipt)
                #
                # metadata short-circuit (review r10 pass-3 #3): a
                # PHANTOM rewrite usually changes the row count, which
                # the parquet footers give without reading data — a
                # mismatched count proves stale in O(footers), so the
                # per-row hashing pass is paid only when the counts
                # agree (a replay, or a same-count phantom).
                got_rows = _partition_footer_rows(sink_dir, t, bid, cur)
                if got_rows is None or got_rows == want_rows:
                    got = _partition_content_digest(sink_dir, t, bid, cur)
                    if got == {"rows": want_rows, "sum": want_sum}:
                        # byte-identical replay rewrite: fresh names,
                        # same rows — not stale, but flag for a
                        # receipt refresh
                        drifted = True
                        continue
            stale.add(bid)
            break
        if drifted and bid not in stale:
            drift.add(bid)
    return stale, drift


def sink_kv_exclusions(sink_dir: str) -> set[int]:
    """Batch ids the recheck-less KEY plans must exclude from the
    sink's kv postings (VERDICT r8 #1 — the always-on guard that closes
    their documented over-report window):

    - ORPHANS: kv partitions whose facts partition never landed (the
      kv-FIRST write ordering's never-replayed crash window — presence
      rows for events that do not exist);
    - STALE (kv-affecting): batches whose facts or kv partition was
      rewritten after the commit receipt (reused batch id after
      checkpoint loss) — the kv rows were derived from a facts
      generation that is no longer (or never became) the landed one.

    Cost: two listdirs + one small JSON read per query — O(batches)
    driver-side metadata, the same class as the sink read's own
    partition discovery — plus, for a receipt-drift batch, one digest
    read of its drifted partitions until the repair refreshes the
    receipt. The CONTAINMENT plans deliberately do NOT use
    this guard: their exact fact-table recheck makes orphans harmless,
    and filtering their postings by facts presence would break the
    postings ⊇ landed-facts superset that makes index-proven emptiness
    sound under a landing race.

    A mid-replay rewrite is NOT excluded (VERDICT r9 #1, closing the
    r9 KNOWN CONSERVATIVE WINDOW): receipts carry an order-independent
    row-content digest next to the file names, so a checkpoint replay's
    fresh-uuid rewrite of byte-identical rows digest-matches and the
    batch's (legitimate) keys stay served throughout the replay, while
    a reused id's phantom injection digest-mismatches and stays
    excluded — see :func:`_stale_sink_ids` for the exact rule and the
    residual instant-of-commit window."""
    kv = _sink_batch_ids(os.path.join(sink_dir, "events_kv_postings"))
    ev = _sink_batch_ids(os.path.join(sink_dir, "events"))
    return (kv - ev) | _stale_sink_ids(
        sink_dir, tables=("events", "events_kv_postings")
    )


def read_kv_postings_guarded(
    spark: SparkSession, sink_dir: str
) -> DataFrame:
    """The sink's kv postings with orphan/stale batch partitions
    EXCLUDED (:func:`sink_kv_exclusions`) — the read relation for the
    recheck-less key plans. The exclusion set is empty in every healthy
    state, so the common case adds no filter at all; when a crash
    window did leave orphans, the filter is a partition-column
    predicate (static partition pruning — the poisoned directories are
    never read). Snapshot semantics: a batch mid-landing (kv written,
    facts not yet) is excluded exactly as if the query had run a moment
    earlier."""
    import pyspark.sql.functions as F

    if not _sink_table_has_data(sink_dir, "events_kv_postings"):
        return spark.createDataFrame([], "kv string, event_id long")
    # Pin the parquet listing FIRST, then compute the exclusions
    # (review r9 pass-5 #1): a kv partition landing between an
    # exclusions-first listdir and a later listing pin would be served
    # unguarded mid-crash-window. With the listing pinned first, every
    # partition the relation can see landed BEFORE the exclusion
    # listdirs ran — so any orphan among them is guaranteed flagged.
    df = spark.read.parquet(os.path.join(sink_dir, "events_kv_postings"))
    excluded = sink_kv_exclusions(sink_dir)
    if excluded:
        df = df.filter(~F.col("_batch_id").isin([int(b) for b in excluded]))
    return df.drop("_batch_id")


def _read_zero_kv_batches(sink_dir: str) -> dict[int, list[str]]:
    """Batches CONFIRMED (by a prior repair's recompute) to derive zero
    kv entries — legitimately absent from the kv/dfreq sinks — mapped
    to the facts-partition fingerprint the confirmation saw. The stream
    skips empty writes by design, so without this record every audit
    would list such batches as missing forever and every repair would
    re-derive them (review r8 pass-2 #4); the fingerprint makes a
    confirmation void when a reused batch id re-lands DIFFERENT facts
    (review r8 pass-4 #1 — a crash before the new kv write would
    otherwise hide behind the stale confirmation forever)."""
    try:
        with open(os.path.join(sink_dir, _ZERO_KV_SENTINEL)) as f:
            data = json.load(f)
        if not isinstance(data, dict):
            # pre-fingerprint format (a bare id list): discard — the
            # batches re-read as missing and the next repair re-derives
            # and re-confirms them with fingerprints (review r8 pass-5
            # #2: crashing on the old format would take audit AND
            # repair down on upgraded sinks)
            return {}
        return {int(k): v for k, v in data.items()}
    except (OSError, ValueError):
        return {}


def _write_zero_kv_batches(
    sink_dir: str, entries: dict[int, list[str]]
) -> None:
    write_json_atomic(
        os.path.join(sink_dir, _ZERO_KV_SENTINEL),
        {str(k): v for k, v in sorted(entries.items())},
    )


def _valid_zero_kv_ids(sink_dir: str, kv_ids: set[int]) -> set[int]:
    """Sentinel ids whose confirmation still stands: no kv partition
    has since landed for the id AND the facts partition is the one the
    confirmation fingerprinted."""
    return {
        bid
        for bid, fp in _read_zero_kv_batches(sink_dir).items()
        if bid not in kv_ids and _facts_partition_fp(sink_dir, bid) == fp
    }


def audit_events_sink(sink_dir: str) -> dict:
    """Anti-entropy audit of the events streaming sink's derived
    artifacts (VERDICT r7 "What's wrong" #3 — the sink-side companion
    of the prepared-layout ``layout_consistency_audit`` plan): compare
    the ``_batch_id`` partition sets of the fact table against the
    rollup, kv postings, and dfreq statistics.

    The one window the per-batch idempotent writes cannot close on
    their own: a crash BETWEEN the facts write and the rollup write
    whose checkpoint is never replayed (wiped, relocated) leaves landed
    facts with silently missing rollup partials — an undercount no
    query detects. The write ordering makes the OTHER direction
    benign-or-impossible: kv/dfreq orphans (index rows for facts that
    never landed) are harmless to answers, and rollup partials are
    written last so a rollup orphan implies manual surgery. The audit
    only REPORTS; ``kv_missing`` batches may be legitimate (a batch
    whose events derive zero entries is skipped by design), which is
    why the repair recomputes instead of trusting the listing — and,
    once confirmed zero-entry, records the batch in the sentinel so
    later audits/repairs skip it.

    ``stale`` (VERDICT r8 #1) lists batches whose commit receipt
    (:func:`_record_batch_fps`) no longer matches some PRESENT
    partition's file set — a reused batch id's partial rewrite after
    checkpoint loss, previously visible only to the O(sink) deep
    repair; the default repair now re-derives exactly those batches.

    Returns ``{"events": ids, "rollup_missing": ids, "kv_missing":
    ids, "dfreq_missing": ids, "stale": ids, "receipt_drift": ids,
    "orphans": {table: ids}}``."""
    ev = _sink_batch_ids(os.path.join(sink_dir, "events"))
    roll = _sink_batch_ids(os.path.join(sink_dir, "events_hourly_rollup"))
    kv = _sink_batch_ids(os.path.join(sink_dir, "events_kv_postings"))
    dfq = _sink_batch_ids(os.path.join(sink_dir, "events_kv_dfreq"))
    # A sentinel confirmation is honored only while it still describes
    # reality: no kv partition has since landed for the id (review r8
    # pass-3 #5) AND the facts partition matches the fingerprint the
    # confirmation saw (pass-4 #1 — a reused batch id re-landing
    # different facts voids it). The repair persists the cleanup; the
    # audit just ignores stale entries.
    zero = _valid_zero_kv_ids(sink_dir, kv)
    stale, drift = _sink_receipt_divergence(sink_dir)
    return {
        "events": sorted(ev),
        "rollup_missing": sorted(ev - roll),
        "kv_missing": sorted(ev - kv - zero),
        "dfreq_missing": sorted(ev - dfq - zero),
        "stale": sorted(stale & ev),
        # name-drifted but digest-matched receipts (a replay that
        # crashed after its rewrite, before its receipt refresh): the
        # rows are served, but every guard/audit check re-pays the
        # digest read until the repair refreshes the receipt.
        # Intersected with the facts batch set like `stale` (ADVICE r10
        # #2): a drift batch whose events partition vanished is an
        # ORPHAN (reported per-table below; the repair removes it and
        # the receipt prune drops its entry) — reporting it here too
        # would put one batch in two inconsistent audit classes.
        "receipt_drift": sorted(drift & ev),
        "orphans": {
            t: sorted(ids - ev)
            for t, ids in (
                ("events_hourly_rollup", roll),
                ("events_kv_postings", kv),
                ("events_kv_dfreq", dfq),
            )
            if ids - ev
        },
    }


def repair_events_sink(
    spark: SparkSession, sink_dir: str, deep: bool = False
) -> dict:
    """Heal every divergence :func:`audit_events_sink` can report, by
    RE-DERIVING from the fact table — the facts' ``_batch_id``
    partition is the authoritative row set for its batch, and every
    derived artifact is a pure function of it, so the repair writes are
    the same idempotent per-batch writes the stream itself performs:

    - missing rollup partials → recompute ``_hourly_partial_rows`` from
      the batch's facts (closes the silent-undercount window);
    - missing kv postings → recompute ``_events_kv_rows``; a batch that
      derives ZERO entries is confirmed-consistent, not repaired (the
      stream skips empty writes by design);
    - missing dfreq → recount from the batch's (repaired) postings;
    - orphan partitions (derived rows whose facts never landed) →
      removed: orphan kv/dfreq were always benign, orphan ROLLUP
      partials would actively overcount, and the caller invoking a
      repair has declared the checkpoint that could have replayed the
      facts lost.

    MUST run with the sink's stream stopped (a maintenance op, like the
    recluster/compaction jobs): against a live writer, an in-flight
    batch's kv-first ordering looks like an orphan mid-write. Safe to
    re-run; a completed repair is a no-op. Returns
    ``{"rollup_repaired": [...], "kv_repaired": [...],
    "dfreq_repaired": [...], "orphans_removed": {table: [...]}}``.

    ``deep=True`` adds VALUE-level reconciliation (review r8 pass-5
    #3): the partition-set audit cannot see a PRESENT-but-stale derived
    partition — a reused batch id (checkpoint loss) whose facts were
    rewritten after the original derived writes. Deep mode re-derives
    EVERY batch's rollup/kv/dfreq from the facts; the idempotent
    partition overwrite converges stale partitions, a batch now
    deriving zero entries gets its stale kv/dfreq partitions REMOVED,
    and the zero-confirmation sentinel is rebuilt at current
    fingerprints. Cost O(sink) — the offline paranoid pass; the default
    partition-set repair stays O(divergence)."""
    import shutil

    import pyspark.sql.functions as F

    from venus_spark.prepared import _events_kv_rows, _hourly_partial_rows

    report = audit_events_sink(sink_dir)
    ev_dir = os.path.join(sink_dir, "events")
    out: dict = {
        "rollup_repaired": [],
        "kv_repaired": [],
        "dfreq_repaired": [],
        "stale_repaired": [],
        "orphans_removed": {},
    }

    def batch_facts(bid: int) -> DataFrame:
        return (
            spark.read.parquet(ev_dir)
            .filter(F.col("_batch_id") == bid)
            .drop("_batch_id")
        )

    # batches the STALE pass will fully re-derive below are skipped by
    # the per-table missing passes — deriving dfreq from a phantom
    # postings partition (or rollup from facts about to be re-read) is
    # a Spark job the stale re-derive immediately discards (review r9
    # pass-3 #3)
    stale_set = set(report["stale"])
    for bid in report["rollup_missing"]:
        if bid in stale_set:
            continue
        _write_idempotent(
            _hourly_partial_rows(batch_facts(bid)),
            os.path.join(sink_dir, "events_hourly_rollup"),
            bid,
        )
        out["rollup_repaired"].append(bid)
    confirmed_zero: dict[int, list[str]] = {}
    for bid in report["kv_missing"]:
        if bid in stale_set:
            continue
        # fingerprint BEFORE deriving: if the partition is rewritten
        # mid-repair the stale fingerprint voids this confirmation
        fp = _facts_partition_fp(sink_dir, bid)
        kv = _events_kv_rows(
            batch_facts(bid), allow_missing_props=True
        ).persist()
        try:
            if kv.limit(1).count() > 0:
                _write_idempotent(
                    kv.sortWithinPartitions("kv", "event_id"),
                    os.path.join(sink_dir, "events_kv_postings"),
                    bid,
                )
                out["kv_repaired"].append(bid)
            else:
                confirmed_zero[bid] = fp
        finally:
            kv.unpersist()
    # dfreq derives from the NOW-PRESENT postings partitions (exact by
    # construction, and cheaper than re-deriving from the facts);
    # batches with no postings partition are the confirmed-zero set
    kv_present = _sink_batch_ids(os.path.join(sink_dir, "events_kv_postings"))
    sentinel = _read_zero_kv_batches(sink_dir)  # one read, reused below
    kept = {
        bid: fp
        for bid, fp in sentinel.items()
        if bid not in kv_present and _facts_partition_fp(sink_dir, bid) == fp
    }
    kept.update(confirmed_zero)
    if kept != sentinel:
        # record new confirmations so the batch stops reading as
        # missing — otherwise every future audit lists it and every
        # repair pays the recompute again (review r8 pass-2 #4) — and
        # scrub entries voided by a reused batch id (pass-3 #5) or a
        # changed facts fingerprint (pass-4 #1)
        _write_zero_kv_batches(sink_dir, kept)
    for bid in report["dfreq_missing"]:
        if bid in stale_set:
            continue  # the stale pass re-derives it from the facts
        if bid not in kv_present:
            continue  # zero-entry batch: consistent as-is
        _write_idempotent(
            spark.read.parquet(
                os.path.join(sink_dir, "events_kv_postings", f"_batch_id={bid}")
            )
            .groupBy("kv")
            .agg(F.count("*").alias("df")),
            os.path.join(sink_dir, "events_kv_dfreq"),
            bid,
        )
        out["dfreq_repaired"].append(bid)
    for table, ids in report["orphans"].items():
        for bid in ids:
            shutil.rmtree(os.path.join(sink_dir, table, f"_batch_id={bid}"))
        out["orphans_removed"][table] = ids
    # STALE batches (VERDICT r8 #1): the commit receipt names a
    # different file set than some present partition — a reused batch
    # id's partial rewrite. The facts' partition is the authoritative
    # row set, so every derived artifact is re-derived from it (the
    # deep pass's per-batch body, but targeted: O(divergence)); a batch
    # now deriving zero entries gets its stale kv/dfreq removed and the
    # zero sentinel re-confirmed at the current fingerprint.
    def rederive_batch(bid: int) -> bool:
        """Rewrite ALL of a batch's derived artifacts from its facts —
        ONE body shared by the stale pass and the deep pass (review r9
        pass-2 #4: three drifting copies of the derive-from-facts
        recipe). Returns True when the batch derives kv entries; a
        zero-entry batch gets any stale kv/dfreq partitions REMOVED
        (leftovers of a reused id's earlier entry-bearing
        generation)."""
        facts = batch_facts(bid).persist()
        try:
            _write_idempotent(
                _hourly_partial_rows(facts),
                os.path.join(sink_dir, "events_hourly_rollup"),
                bid,
            )
            kv = _events_kv_rows(facts, allow_missing_props=True).persist()
            try:
                if kv.limit(1).count() > 0:
                    _write_idempotent(
                        kv.sortWithinPartitions("kv", "event_id"),
                        os.path.join(sink_dir, "events_kv_postings"),
                        bid,
                    )
                    _write_idempotent(
                        kv.groupBy("kv").agg(F.count("*").alias("df")),
                        os.path.join(sink_dir, "events_kv_dfreq"),
                        bid,
                    )
                    return True
                for t in ("events_kv_postings", "events_kv_dfreq"):
                    part = os.path.join(sink_dir, t, f"_batch_id={bid}")
                    if os.path.isdir(part):
                        shutil.rmtree(part)
                return False
            finally:
                kv.unpersist()
        finally:
            facts.unpersist()

    stale_zero: dict[int, list[str]] = {}
    for bid in report["stale"]:
        # fingerprint BEFORE deriving, like the kv_missing pass
        fp = _facts_partition_fp(sink_dir, bid)
        if not rederive_batch(bid):
            stale_zero[bid] = fp
        out["stale_repaired"].append(bid)
    if stale_zero:
        kept2 = _read_zero_kv_batches(sink_dir)
        kept2.update(stale_zero)
        _write_zero_kv_batches(sink_dir, kept2)
    # refresh the commit receipts for every batch this repair touched
    # (new part-file names) — and establish one where none existed, so
    # the always-on guard covers repaired batches going forward; the
    # helper also prunes receipts whose partitions all vanished
    # (removed orphans)
    # receipt-drift batches (review r10 #2): names drifted but the
    # digest matched — the rows ARE the landed rows, so the only cure
    # needed is a receipt refresh at the current file names (no
    # re-derive), which stops every subsequent guard/audit check from
    # re-paying the digest read
    out["receipts_refreshed"] = list(report.get("receipt_drift", []))
    if not deep:
        # deep mode re-refreshes every batch's receipt below (a
        # superset) and the final prune drops removed orphans — the
        # targeted refresh would be a redundant third pass over the
        # record (review r9 pass-6 #3)
        _record_batch_fps(
            sink_dir,
            set(out["rollup_repaired"])
            | set(out["kv_repaired"])
            | set(out["dfreq_repaired"])
            | set(out["stale_repaired"])
            | set(out["receipts_refreshed"])
            | set(confirmed_zero)
            | {b for ids in out["orphans_removed"].values() for b in ids},
        )
    if deep:
        for bid in report["events"]:
            if bid not in stale_set:  # stale pass just re-derived these
                rederive_batch(bid)
        out["deep_rewritten"] = list(report["events"])
        kv_now = _sink_batch_ids(os.path.join(sink_dir, "events_kv_postings"))
        _write_zero_kv_batches(
            sink_dir,
            {
                bid: _facts_partition_fp(sink_dir, bid)
                for bid in report["events"]
                if bid not in kv_now
            },
        )
        _record_batch_fps(sink_dir, report["events"])
    # maintenance-time receipt hygiene: drop entries whose partitions
    # have all vanished (removed orphans above, retention, surgery)
    _prune_batch_fp_record(sink_dir)
    return out
