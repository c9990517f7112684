"""Engine-internal retry-on-conflict for raced live reads.

The live read paths union a compacted base directory with a pending
area (``prepared/core.py::_pending_union``) — two directories with no
snapshotting table format between them (the documented lakehouse gap),
so a query whose plan listed the pending files can execute *after* a
concurrent merge moved them into the base and die with a missing-file
error. The contract has always been retry-on-conflict: the rerun plans
against refreshed listings and sees a consistent post-merge view. Until
r15 the *caller* had to honor that contract (the chaos test carried its
own retry loop); this module moves it inside the engine, mirroring the
reference's single-writer discipline where readers never surface a torn
state (reference: venus/db.py — PostgreSQL gives this for free via MVCC
snapshots; a two-directory parquet union has to re-plan instead).

:func:`retryable` wraps a DataFrame *builder*: the returned
:class:`RetryingDataFrame` behaves identically (it IS a classic
DataFrame over the same JVM plan) except that its driver-side actions
(``count``/``collect``/``toPandas``/``take``/``head``/``first``/
``show``/``isEmpty``/``foreach``/``foreachPartition``/
``toLocalIterator``) catch a missing-file execution error, drop the
session's stale file listings for every path named in the error,
re-invoke the builder (which re-runs the mtime freshness guard,
``prepared/core.py::_refresh_on_external_change``) and retry the action
once on the fresh plan. Anything that is not a missing-file conflict
re-raises immediately; a second conflict re-raises too (one merge can
race a read; a standing stream of merges outrunning retries is an
operational problem the engine should surface, not mask).

Transformations on the wrapper return plain DataFrames (the retry
scope is the materialization of the view as built); the plan registry
re-wraps every registered plan's *result* with the plan function itself
as the replan thunk, so driver-side actions on any registered query —
including the ``*_live`` plans composed on top of the live views —
honor the contract without caller cooperation.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as _CDF

# Signatures of "the files/paths my plan (or builder) referenced are
# gone". Spark 4 raises FAILED_READ_FILE.FILE_NOT_EXIST (wrapping
# java.io.FileNotFoundException) from the scan; older paths and the
# driver-side listing race surface the bare JVM exception; and at
# CONSTRUCTION time a merge that moved the pending dir between the
# builder's bids probe and its spark.read.parquet surfaces as a
# plan-time AnalysisException [PATH_NOT_FOUND] 'Path does not exist'
# — which the construction-time contract (:func:`retryable`) must
# retry, because that is exactly the two-directory conflict window.
# A genuinely missing input path matches too and pays one listing
# refresh + rebuild before its error propagates; other analysis errors
# (a missing table, view or column) do not match.
_MISSING_FILE_MARKERS = (
    "FILE_NOT_EXIST",
    "FAILED_READ_FILE",
    "FileNotFoundException",
    "PATH_NOT_FOUND",
    "Path does not exist",
)

# Absolute paths in the error text (optionally file:-prefixed), so the
# retry can invalidate exactly the stale listings. Trailing punctuation
# from the message framing is stripped.
_PATH_RE = re.compile(r"(?:file:)?(/[^\s'\"]+)")


def _is_missing_file_error(exc: BaseException) -> bool:
    if isinstance(exc, FileNotFoundError):
        return True
    msg = str(exc)
    return any(m in msg for m in _MISSING_FILE_MARKERS)


def _refresh_error_paths(spark: SparkSession, exc: BaseException) -> None:
    """Unconditionally drop cached listings for the directories the
    failed scan named. The builder's own mtime guard usually catches
    the change too, but a listing taken in the same mtime tick as the
    merge can slip past a purely stat-gated probe — the error message
    is ground truth that THESE listings are stale, so refresh them
    directly (parent = parquet root or partition dir, grandparent =
    the pending area above a ``_batch_id=`` partition)."""
    seen: set[str] = set()
    for m in _PATH_RE.finditer(str(exc)):
        p = m.group(1).rstrip(".,;:)")
        for d in (os.path.dirname(p), os.path.dirname(os.path.dirname(p))):
            if d and d != "/" and d not in seen:
                seen.add(d)
                try:
                    spark.catalog.refreshByPath(d)
                except Exception:  # noqa: BLE001 - refresh is best-effort
                    pass


class RetryingDataFrame(_CDF):
    """A classic DataFrame whose driver-side actions re-plan once on a
    missing-file conflict (see module docstring). Construct via
    :func:`retryable`."""

    def __init__(self, df: DataFrame, replan: Callable[[], DataFrame]):
        _CDF.__init__(self, df._jdf, df.sparkSession)
        self._vs_replan = replan

    def _vs_retry(self, act):
        try:
            return act(self)
        except Exception as exc:  # noqa: BLE001 - filtered below
            if not _is_missing_file_error(exc):
                raise
            _refresh_error_paths(self.sparkSession, exc)
            return act(self._vs_replan())

    # -- retried actions (each delegates to the classic implementation
    # so a replanned PLAIN DataFrame takes the same code path) --------
    def count(self):
        return self._vs_retry(_CDF.count)

    def collect(self):
        return self._vs_retry(_CDF.collect)

    def toPandas(self):
        return self._vs_retry(_CDF.toPandas)

    def take(self, num):
        return self._vs_retry(lambda d: _CDF.take(d, num))

    def head(self, n=None):
        return self._vs_retry(lambda d: _CDF.head(d, n))

    def first(self):
        return self._vs_retry(_CDF.first)

    def isEmpty(self):
        return self._vs_retry(_CDF.isEmpty)

    def show(self, n=20, truncate=True, vertical=False):
        return self._vs_retry(lambda d: _CDF.show(d, n, truncate, vertical))

    def foreach(self, f):
        return self._vs_retry(lambda d: _CDF.foreach(d, f))

    def foreachPartition(self, f):
        return self._vs_retry(lambda d: _CDF.foreachPartition(d, f))

    def toLocalIterator(self, prefetchPartitions=False):
        # Retry covers obtaining the iterator (plan + first listing);
        # a conflict mid-iteration cannot be replayed without buffering
        # already-yielded rows and is left to the caller.
        return self._vs_retry(
            lambda d: _CDF.toLocalIterator(d, prefetchPartitions)
        )

    @property
    def write(self):
        # Writes materialize the plan too (bench's noop sink, every ETL
        # job) and can race a merge exactly like collect() — hand back
        # a recording proxy that replays the builder-method chain onto
        # a replanned frame's writer on a missing-file conflict.
        return _RetryingWriter(self)


class _RetryingWriter:
    """Records the DataFrameWriter builder chain (format/mode/option/
    partitionBy/...) and replays it verbatim against a REPLANNED
    frame's writer if a terminal method hits the missing-file conflict
    (idempotence note: the failed attempt ran with mode as configured —
    'overwrite' replays cleanly, and the conflict class fails the job
    before commit for the file-source committers used here)."""

    _TERMINAL = frozenset(
        {"save", "saveAsTable", "insertInto", "parquet", "json", "csv",
         "orc", "text", "jdbc"}
    )

    def __init__(self, rdf: "RetryingDataFrame"):
        self._rdf = rdf
        self._calls: list[tuple[str, tuple, dict]] = []

    def _writer_for(self, df: DataFrame):
        w = _CDF.write.fget(df)
        for name, args, kwargs in self._calls:
            w = getattr(w, name)(*args, **kwargs)
        return w

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        rdf = self._rdf

        if name in self._TERMINAL:

            def terminal(*args, **kwargs):
                try:
                    return getattr(self._writer_for(rdf), name)(
                        *args, **kwargs
                    )
                except Exception as exc:  # noqa: BLE001 - filtered below
                    if not _is_missing_file_error(exc):
                        raise
                    _refresh_error_paths(rdf.sparkSession, exc)
                    fresh = rdf._vs_replan()
                    return getattr(self._writer_for(fresh), name)(
                        *args, **kwargs
                    )

            return terminal

        def builder(*args, **kwargs):
            self._calls.append((name, args, kwargs))
            return self

        return builder


def retryable(build: Callable[[], DataFrame]) -> DataFrame:
    """Build a DataFrame and arm it with the retry-on-conflict contract:
    ``build`` is invoked now for the plan and again (once) if a
    driver-side action hits a missing-file conflict. ``build`` must be
    safe to re-invoke (all live builders are: they re-run the freshness
    guard and re-derive the union).

    CONSTRUCTION is under the contract too: the builder's
    ``spark.read.parquet(pending_dir)`` performs a listing plus a
    footer-reading schema-inference job at plan time, so a merge's file
    moves can kill the build itself, not just a later action (the r15
    full-suite chaos run tripped exactly this window). Same policy as
    actions: refresh the listings the error names, re-invoke once."""
    try:
        df = build()
    except Exception as exc:  # noqa: BLE001 - filtered below
        if not _is_missing_file_error(exc):
            raise
        spark = SparkSession.getActiveSession()
        if spark is not None:
            _refresh_error_paths(spark, exc)
        df = build()
    return RetryingDataFrame(df, build)
