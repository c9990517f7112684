"""Trigram search artifacts: the 2048-bit trigram bloom column,
the trgm postings index (pg_trgm GIN analog), and their pending/merge
and compaction paths."""

from __future__ import annotations

import os
import re
import shutil
import time
import zlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from venus_spark import retry as _retry
from venus_spark.sources import load_table
from venus_spark.prepared import core as _core, docs as _docs

# 2048-bit bloom as one array of 32 longs, two hash functions per
# trigram. The r1-r3 64-bit bloom saturated on real documents (median
# 57/64 bits set at sf0.1 — a ~150-distinct-trigram document fills
# nearly the whole word), so the probe passed almost everything and the
# "index" only avoided recompute. Widening alone is not enough either:
# the driver corpus has only ~380 distinct trigrams, most
# near-universal, so a needle's selectivity hangs on its one or two
# RARE grams — and a single-hash bloom loses exactly when that rare
# gram's bit collides with a common gram (measured: the 6%-selective
# 'k w' bit carried a 33% document frequency). Sized at 2048 bits with
# k=2 (fill ~14%, rare-gram FP ~2% uniform; measured: ZERO false
# positives on the bench needles — probe pass rate equals the exact
# trigram-containment floor), the prefilter *prunes* like the pg_trgm
# GIN posting-list intersection it stands in for, instead of merely
# skipping recompute. 256 B/row, inside pg_trgm's index:table ratio.
_BLOOM_BITS = 2048

_BLOOM_SALT = "#"  # second hash = crc32(gram + salt)

BLOOM_WORDS = _BLOOM_BITS // 64

def trigram_bloom(grams_expr: str) -> Column:
    """The blocked trigram bloom as ONE ``array<long>`` column of
    ``BLOOM_WORDS`` words (single parquet column chunk — decoding 32
    separate long columns costs more reader overhead than the probe
    saves). Each gram sets two bits: bit of hash ``h`` lives at word
    ``(h mod BITS) div 64``, bit-in-word ``h mod 64`` (equal to
    ``(h mod BITS) mod 64`` since 64 divides BITS); the two hashes are
    ``crc32(g)`` and ``crc32(g + salt)``.

    ``needle`` a substring of ``text`` implies trigrams(needle) is a
    subset of trigrams(text), hence every needle bloom bit is set —
    word-wise ``bloom[w] & mask_w == mask_w`` is a sound prefilter and
    the exact ILIKE verify removes the false positives. The probe is
    two bitwise ops per *non-empty needle word* inside whole-stage
    codegen (a needle touches ~2 words per trigram), independent of
    text length.

    Built as a SQL fold because pyspark 4.1.2's ``F.shiftleft`` only
    accepts a literal ``numBits``; SQL ``shiftleft`` takes a column.
    CRC32 (not xxhash64) is the bucket hash so the *query-side* mask is
    computable on the driver with :func:`needle_masks` (``zlib.crc32``
    is bit-identical to Spark's ``crc32``) — no Spark job per needle.
    """
    crc1 = "crc32(cast(g AS BINARY))"
    crc2 = f"crc32(cast(concat(g, '{_BLOOM_SALT}') AS BINARY))"
    zero = f"array_repeat(0L, {BLOOM_WORDS})"
    # Two-step: map each gram to its two (word, mask) pairs ONCE, then
    # fold the pairs into the word array. Folding with the crc32
    # expressions inline in the per-word lambda re-evaluated both
    # hashes once per accumulator word — 2 x BLOOM_WORDS hashes per
    # gram instead of 2 (interpreted HOFs do no common-subexpression
    # elimination across lambda invocations).
    bit = (
        "named_struct("
        + ", ".join(
            f"'w{i}', cast(pmod({crc}, {_BLOOM_BITS}) div 64 AS INT), "
            f"'m{i}', shiftleft(1L, cast(pmod({crc}, 64) AS INT))"
            for i, crc in enumerate((crc1, crc2))
        )
        + ")"
    )
    set_bit = (
        "transform(acc, (a, w) -> a"
        " | IF(b.w0 = w, b.m0, 0L)"
        " | IF(b.w1 = w, b.m1, 0L))"
    )
    return F.expr(
        f"aggregate(transform({grams_expr}, g -> {bit}), {zero}, "
        f"(acc, b) -> {set_bit})"
    )

def needle_masks(grams: list[str]) -> list[int]:
    """Driver-side bloom masks for a needle's trigram set — the exact
    two's-complement longs the :func:`trigram_bloom` columns would
    hold, so ``bloom_w & mask_w == mask_w`` over the non-zero words is a
    sound containment probe."""
    masks = [0] * BLOOM_WORDS
    for g in grams:
        for h in (zlib.crc32(g.encode("utf-8")),
                  zlib.crc32((g + _BLOOM_SALT).encode("utf-8"))):
            masks[(h % _BLOOM_BITS) // 64] |= 1 << (h % 64)
    return [m - (1 << 64) if m >= (1 << 63) else m for m in masks]

def bloom_probe(grams: list[str], bloom_col: str = "_trg_bloom") -> Column:
    """The prefilter predicate for a needle trigram set: AND of the
    word-wise containment checks, only over words the needle actually
    touches (zero-mask words are trivially true and skipped). Callers
    must handle ``grams == []`` themselves (no sound prefilter exists
    for sub-trigram needles)."""
    pred = F.lit(True)
    for w, m in enumerate(needle_masks(grams)):
        if m != 0:
            mask = F.lit(m)
            word = F.element_at(F.col(bloom_col), w + 1)
            pred = pred & (word.bitwiseAND(mask) == mask)
    return pred

def _trgm_rows(docs: DataFrame) -> DataFrame:
    """Derived trigram-index rows for a batch of documents — shared by
    the full build and the incremental append (a row depends only on
    its own text)."""
    from venus_spark.operators.text import char_trigrams

    return docs.withColumn("_trg", char_trigrams("text")).withColumn(
        "_trg_bloom", trigram_bloom("_trg")
    )

def documents_trgm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` + ``_trg`` (distinct char-3-gram set, the pg_trgm
    unit) + ``_trg_bloom`` (2048-bit k=2 blocked bloom as one
    ``array<long>``), built on first use. The meta stamp carries the
    bloom geometry so artifacts from earlier constants rebuild
    automatically."""
    meta = {"bloom_bits": _BLOOM_BITS, "hash": "crc32", "k": 2,
            "salt": _BLOOM_SALT, "gram": 3, "layout": "array"}
    path = _core.prepared_path(sf_dir, "documents_trgm.parquet")
    _core._recover_prepared_swaps(sf_dir, path, ".vacuum")  # locked when pending
    if not _core._is_built(path, meta) and not _core._prepared_built_under_lock(
        sf_dir, ((path, ".vacuum"),), lambda: _core._is_built(path, meta)
    ):
        # appended documents may exist only in this index + the
        # sink table — a from-base rebuild would silently drop them
        _core._refuse_rebuild_with_absorbed_batches(path, "trigram index")
        if os.path.exists(path):  # partial/failed/stale earlier build
            shutil.rmtree(path)
        _core.layout_rows(
            _trgm_rows(_docs._anti_tombstones(
                spark, sf_dir, load_table(spark, sf_dir, "documents"))),
            "documents_trgm.parquet",
        ).write.parquet(path)
        _core._stamp(path, meta)
    # outstanding (not yet vacuumed) deletes filter at read
    return _docs._anti_tombstones(
        spark, sf_dir, _core.read_layout(spark, "documents_trgm.parquet", path)
    )

_TRGM_POST_META = {"gram": 3, "norm": "lower", "layout": "range(trg)"}

def _trgm_postings_rows(docs: DataFrame) -> DataFrame:
    """(trg, doc_id) trigram-posting rows for a batch of documents —
    one row per DISTINCT lowercase character 3-gram per document, the
    literal pg_trgm GIN entry. Row-local (a document's rows depend only
    on its own text), so maintenance is O(batch) like the other
    document indexes."""
    from venus_spark.operators.text import char_trigrams

    return docs.select(
        "doc_id", F.explode(char_trigrams("text")).alias("trg")
    )

def documents_trgm_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trigram index as REAL postings — ``(trg, doc_id)`` rows
    range-partitioned and sorted by trigram, the faithful structure of
    the reference's pg_trgm GIN (migration :21,36): a needle's trigram
    set becomes a pushed ``In(trg, ...)`` posting fetch and candidate
    documents are those containing EVERY needle trigram (an
    intersection expressed as a count-equality aggregate). Exact
    pruning where the per-row bloom (:func:`documents_trgm`) is
    probabilistic — the bloom column costs O(1) per row and prunes
    probabilistically at scan time; the postings cost O(text) rows at
    build time and prune exactly at fetch time, the same trade
    PostgreSQL makes between a bloom index and GIN. Deletes filter at
    read like every row-local index; appends land batch rows via the
    standard append paths."""
    path = _core.prepared_path(sf_dir, "documents_trgm_postings.parquet")
    _core._recover_prepared_swaps(sf_dir, path, ".vacuum", ".compact")
    if not _core._is_built(path, _TRGM_POST_META) and not _core._prepared_built_under_lock(
        sf_dir,
        ((path, ".vacuum"), (path, ".compact")),
        lambda: _core._is_built(path, _TRGM_POST_META),
    ):
        _core._refuse_rebuild_with_absorbed_batches(path, "trigram postings")
        if os.path.exists(path):
            shutil.rmtree(path)
        (
            _core.layout_rows(
                _trgm_postings_rows(_docs._anti_tombstones(
                    spark, sf_dir, load_table(spark, sf_dir, "documents"))),
                _TRGM_POST_INDEX,
            )
            .repartitionByRange("trg")
            .sortWithinPartitions("trg", "doc_id")
            .write.parquet(path)
        )
        _core._stamp(path, _TRGM_POST_META)
    return _docs._anti_tombstones(
        spark, sf_dir, _core.read_layout(spark, _TRGM_POST_INDEX, path)
    )

_TRGM_POST_INDEX = "documents_trgm_postings.parquet"

def write_trgm_postings_pending(
    sf_dir: str, batch_docs: DataFrame, batch_id: int
) -> None:
    """Pending-list maintenance for the trigram postings — the same
    per-micro-batch discipline as the MinHash and term-postings pending
    lists (dynamic ``_batch_id`` overwrite, replay rewrites exactly its
    own partition). Unlike the term postings there are NO corpus-level
    aggregates here (a trigram posting depends only on its own row), so
    no counter/commit-record machinery is needed: the partition write
    itself is the commit, and deletes are complete via the read-side
    tombstone anti-join alone."""
    _core._write_pending(
        sf_dir, _TRGM_POST_INDEX, _trgm_postings_rows(batch_docs), batch_id
    )

def documents_trgm_postings_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram postings INCLUDING not-yet-merged streaming batches:
    base ∪ pending, merged batches excluded from pending (their
    byte-identical rows sit in the base after a crash replay), pending
    rows anti-joined against outstanding tombstones like the base read
    — the same union rule as ``documents_minhash_live``
    (:func:`_pending_union`), and the same engine-internal
    retry-on-conflict contract (:mod:`venus_spark.retry`)."""

    def _build() -> DataFrame:
        _core._refresh_on_external_change(spark, sf_dir, _TRGM_POST_INDEX)
        return _core._pending_union(
            spark, sf_dir, _TRGM_POST_INDEX,
            documents_trgm_postings(spark, sf_dir),
        )

    return _retry.retryable(_build)

def merge_trgm_postings_pending(
    spark: SparkSession, sf_dir: str, below_bid: int | None = None
) -> int:
    """VACUUM the trigram-postings pending list: per unmanifested
    batch, move its data files into the base (collision-free rename),
    manifest the batch id, remove the emptied partition — the exact
    :func:`merge_minhash_pending` discipline. Rows are row-local, so
    the base's read-side tombstone filter keeps deletes correct even
    for moved rows (no scrub step needed); compaction later restores
    the trg-sorted pruning the moved files dilute. ``below_bid`` is the
    in-service cadence's current-epoch gate (see :func:`_merge_pending`).
    Returns data files merged."""
    if not os.path.exists(_core._pending_path(sf_dir, _TRGM_POST_INDEX)):
        return 0
    documents_trgm_postings(spark, sf_dir)  # base must exist
    return _core._merge_pending(
        spark, sf_dir, _TRGM_POST_INDEX, below_bid=below_bid
    )

def compact_documents_trgm_postings(spark: SparkSession, sf_dir: str) -> bool:
    """The OPTIMIZE job for the trigram postings — same degradation,
    same cure, and same compact-only-what-exists posture as
    ``compact_documents_postings``: appends land their own file sets,
    diluting the trg-sorted pruning the pushed In(trg) fetch relies
    on; the compaction rewrites one globally trg-range-partitioned,
    trg-sorted file set through the crash-safe swap
    (stamp/manifests/marker carried). This layout is ALSO rewritten by
    the tombstone vacuum, so the ``.vacuum`` swap is recovered before
    the existence gate — a crash mid-vacuum must not make the layout
    look never-built to maintenance."""
    return _core._compact_existing_sorted(
        spark,
        sf_dir,
        "documents_trgm_postings.parquet",
        lambda: documents_trgm_postings(spark, sf_dir),
        _TRGM_POST_META,
        ("trg", "doc_id"),
        recover_tags=(".compact", ".vacuum"),
    )
