"""Filesystem helpers shared across the storage/maintenance modules.

One strict directory walk for every layout/bookkeeping probe:
``os.walk``'s default ``onerror=None`` silently swallows scandir
failures, so a transient FS outage (permission hiccup, NFS blip)
yields a SHORT listing that each caller then misreads in its own
dangerous way — an "empty" streaming sink (streamed rows silently
dropped from union-path results), a "fully retained" logs table (the
schema-rev record emptied), a backfill that omits a date directory's
abatch files while manifesting the batch as absorbed (rows
unrecoverable, review r8 #3's exact failure), or a corpus snapshot
pinning a subset of the real file set. Review r11 pass-8 #2 closed the
first instance; pass 9/10 hoisted the fix here so every walk-based
probe shares ONE strict implementation.

One atomic JSON writer for every small bookkeeping file (manifests,
pointers, markers): ``write_json_atomic``.
"""

from __future__ import annotations

import json
import os

# Spark writers stage commits under these names inside the table root
# and REMOVE them when the job commits — they appear and vanish on the
# live write cadence, and Spark's own readers never see them (hidden
# names without a partition "="). The strict walk prunes them from
# descent: a probe must neither race their removal (a vanished-subdir
# raise on a routine commit) nor count their half-written part files
# as data a subsequent ``spark.read`` would serve (ADVICE r12 #3
# follow-up — raise-on-vanished is for DATA directories).
_TRANSIENT_DIR = "_temporary"
_TRANSIENT_PREFIX = ".spark-staging"


def _is_transient(name: str) -> bool:
    return name == _TRANSIENT_DIR or name.startswith(_TRANSIENT_PREFIX)


def walk_strict(path: str):
    """``os.walk`` that PROPAGATES scandir failures, with exactly ONE
    quiet case: the walk ROOT itself being absent (the documented
    legitimate empty/retained-away state). A SUBDIRECTORY vanishing
    mid-walk — e.g. concurrent retention/vacuum removing a ``date=``
    partition while a backfill enumerates abatch files — previously
    stayed quiet too and yielded a silently short listing, the same
    silent-subset failure class (review r8 #3) this helper was created
    to close; it now raises like any other scandir failure (ADVICE r12
    #3). Callers that hit it are racing a maintenance writer: loud and
    retryable beats a partial answer manifested as complete.

    Spark's in-flight commit staging (``_temporary``,
    ``.spark-staging-*``) is pruned from descent instead: those
    directories vanish on EVERY job commit — the routine write path,
    not a maintenance race — and their contents are uncommitted bytes
    no Spark reader serves, so neither raising on them nor listing
    them would ever be right. Partition directories (``_batch_id=N``,
    ``date=...``) contain ``=`` and are never pruned."""
    top = os.path.abspath(path)

    def onerror(e: OSError) -> None:
        if (
            isinstance(e, FileNotFoundError)
            and e.filename is not None
            and os.path.abspath(e.filename) == top
        ):
            return  # absent root: legitimate empty
        raise e

    for dirpath, dirnames, files in os.walk(path, onerror=onerror):
        dirnames[:] = [d for d in dirnames if not _is_transient(d)]
        yield dirpath, dirnames, files


def write_json_atomic(path: str, obj, **json_kw) -> None:
    """Write ``obj`` as JSON to ``path`` via ``path + ".tmp"`` and
    ``os.replace``: a reader sees the previous file or the complete new
    one, never a torn write. A crash between the two steps leaves only
    the ``.tmp`` file. ``json_kw`` is passed to ``json.dump``. No fsync:
    the rename is atomic against concurrent readers, not against power
    loss."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, **json_kw)
    os.replace(tmp, path)
