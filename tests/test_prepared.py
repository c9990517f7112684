"""Prepared-table (ingest-time index analog) tests: trigram bloom
parity, prefilter soundness incl. short needles, plan equivalence."""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from venus_spark.operators.text import char_trigrams, trigrams_of
from venus_spark.prepared import (
    BLOOM_WORDS,
    bloom_probe,
    documents_trgm,
    needle_masks,
    trigram_bloom,
)

TEXTS = [
    "Spark WINDOW functions work",
    "ab",
    "",
    "hash join hash join",
    "xyz",
    "a b c d e",
    "ZZZZ spark Window zzz",
]


def test_bloom_matches_driver_mask(spark):
    """Every stored bloom word (SQL fold, Spark crc32) must equal the
    driver-computed needle_masks word (zlib.crc32) on the same trigram
    set — the soundness precondition of the probe."""
    df = (
        spark.createDataFrame([(t,) for t in TEXTS], ["text"])
        .withColumn("_trg", char_trigrams("text"))
        .withColumn("_trg_bloom", trigram_bloom("_trg"))
    )
    for r in df.collect():
        want = needle_masks(sorted(set(r["_trg"])))
        got = list(r["_trg_bloom"])
        assert len(got) == BLOOM_WORDS and got == want


def test_char_trigrams_short_text_empty(spark):
    df = spark.createDataFrame([("ab",), ("",), ("abc",)], ["text"]).withColumn(
        "_trg", char_trigrams("text")
    )
    got = {r["text"]: r["_trg"] for r in df.collect()}
    assert got["ab"] == []
    assert got[""] == []
    assert got["abc"] == ["abc"]


def test_trigrams_of_short_needle_empty():
    assert trigrams_of("ab") == []
    assert trigrams_of("") == []
    assert trigrams_of("abcd") == ["abc", "bcd"]


def test_crc32_parity(spark):
    """Spark's crc32 must equal zlib.crc32 byte-for-byte (the bucket
    hash both mask builders rely on)."""
    vals = ["abc", "spa", " wi", "ZZ9", "üml"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"]).select(
        "s", F.crc32(F.col("s").cast("binary")).alias("c")
    )
    for r in df.collect():
        assert r["c"] == zlib.crc32(r["s"].encode("utf-8"))


@pytest.mark.parametrize("pattern", ["%spark window%", "%ha%", "%b%"])
def test_prefilter_equals_plain_ilike(spark, sf_dir, pattern):
    """Prefilter-then-verify returns exactly the plain-scan rows, even
    for needles shorter than 3 chars (no trigrams -> probe skipped)."""
    docs = documents_trgm(spark, sf_dir)
    plain = docs.filter(F.col("text").ilike(pattern)).select("doc_id")

    verify = F.col("text").ilike(pattern)
    grams = trigrams_of(pattern.strip("%"))
    pred = bloom_probe(grams) & verify if grams else verify
    pre = docs.filter(pred).select("doc_id")

    assert sorted(r[0] for r in plain.collect()) == sorted(
        r[0] for r in pre.collect()
    )


def test_bloom_probe_prunes_to_containment_floor(spark, sf_dir):
    """The 2048-bit k=2 bloom probe must pass EXACTLY the rows whose
    trigram set contains every needle trigram (zero bloom false
    positives on the bench needles) — the r3 64-bit bloom saturated and
    passed nearly everything, degrading the GIN analog to recompute
    avoidance."""
    from venus_spark.plans.venus_surface import _PATTERNS

    docs = documents_trgm(spark, sf_dir)
    for pattern in _PATTERNS:
        grams = trigrams_of(pattern.strip("%"))
        probe_ids = {r[0] for r in docs.filter(bloom_probe(grams)).select("doc_id").collect()}
        lits = ",".join("'" + g.replace("'", "\\'") + "'" for g in grams)
        exact_ids = {
            r[0]
            for r in docs.filter(
                F.expr(f"size(array_except(array({lits}), _trg)) = 0")
            ).select("doc_id").collect()
        }
        assert probe_ids == exact_ids


def test_fuzzy_plans_agree(spark, sf_dir):
    from venus_spark.plans import all_plans

    plans = all_plans()
    a = plans["fuzzy_multi_pattern"].fn(spark, sf_dir).orderBy("lang").collect()
    b = plans["fuzzy_trgm_prefilter"].fn(spark, sf_dir).orderBy("lang").collect()
    assert a == b


def test_stale_prepared_index_is_rebuilt(spark, tmp_path, monkeypatch):
    """An artifact built under different constants must be rebuilt, not
    silently served (a stale MinHash index would yield wrong pairs)."""
    import json
    import os

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path))
    sf = "/root/testdata/sf0.001"
    prepared.documents_minhash(spark, sf)
    path = prepared.prepared_path(sf, "documents_minhash.parquet")
    stamp = os.path.join(path, "_prep_meta.json")
    built_at = os.path.getmtime(stamp)

    # same constants -> cached (no rebuild)
    prepared.documents_minhash(spark, sf)
    assert os.path.getmtime(stamp) == built_at

    # constants drift -> rebuild
    meta = json.load(open(stamp))
    meta["n_perm"] = meta["n_perm"] - 1
    json.dump(meta, open(stamp, "w"))
    prepared.documents_minhash(spark, sf)
    assert json.load(open(stamp))["n_perm"] != meta["n_perm"]


def test_incremental_append_equals_full_rebuild(spark, tmp_path, monkeypatch):
    """INSERT-time index maintenance: building the indexes on a base
    corpus and appending a new batch must yield row-for-row the same
    index reads as one full build over base+batch — the property that
    makes the write-time indexes O(batch) to maintain at 100 TB (the
    reference's GIN indexes are maintained per INSERT the same way). A
    retry of the same batch id is a no-op and the id is recorded in the
    artifacts' manifests."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"

    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    base_docs = docs.filter(F.col("doc_id") < 40)
    dup_text = docs.filter(F.col("doc_id") == 0).first()["text"]
    new_docs = (
        docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 49))
        .withColumn("doc_id", F.col("doc_id") + 960)
        .unionByName(
            spark.createDataFrame(
                [(1009, dup_text, "en", "web", len(dup_text))],
                "doc_id long, text string, lang string, source string, n_chars long",
            )
        )
    )
    vecs = spark.read.parquet(os.path.join(src, "embeddings.parquet"))
    base_vecs = vecs.filter(F.col("vec_id") < 48)  # keeps all 16 codebook ids
    new_vecs = vecs.filter(F.col("vec_id") >= 48).withColumn(
        "vec_id", F.col("vec_id") + 952
    )

    base_sf = str(tmp_path / "base_sf")
    full_sf = str(tmp_path / "full_sf")
    for sf, d, v in (
        (base_sf, base_docs, base_vecs),
        (full_sf, base_docs.unionByName(new_docs), base_vecs.unionByName(new_vecs)),
    ):
        d.write.parquet(os.path.join(sf, "documents.parquet"))
        v.write.parquet(os.path.join(sf, "embeddings.parquet"))

    # incremental: build on base, then append the batch three times.
    # The first attempt fails in one index branch: the append re-raises
    # that error once every branch has returned, so no job of it is
    # still running. The second call retries that failed batch, the
    # third one retries it after it committed.
    prepared.documents_trgm(spark, base_sf)
    prepared.documents_trgm_postings(spark, base_sf)
    prepared.documents_minhash(spark, base_sf)
    prepared.documents_postings(spark, base_sf)

    def boom(*_a, **_k):
        raise RuntimeError("injected branch failure")

    sc = spark.sparkContext
    for append, batch, module, branch in (
        # the postings merge fails after its pending write landed
        (prepared.append_documents_batch, new_docs, prepared.postings,
         "merge_postings_pending"),
        # the IVF write fails at once, while the PQ write runs
        (prepared.append_embeddings_batch, new_vecs, prepared.vectors,
         "embeddings_ivf"),
    ):
        with monkeypatch.context() as mp:
            mp.setattr(module, branch, boom)
            with pytest.raises(RuntimeError, match="injected branch failure"):
                append(spark, base_sf, batch, batch_id=3)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert not sc.statusTracker().getActiveJobsIds(), branch
    for _ in range(2):
        prepared.append_documents_batch(spark, base_sf, new_docs, batch_id=3)
        prepared.append_embeddings_batch(spark, base_sf, new_vecs, batch_id=3)
    for name in ("documents_postings.parquet", "documents_minhash.parquet"):
        assert 3 in prepared._read_merged(prepared.prepared_path(base_sf, name))
    for name in (
        "documents_trgm.parquet",
        "documents_trgm_postings.parquet",
        "embeddings_ivf.parquet",
        "embeddings_pq_codes.parquet",
    ):
        path = prepared.prepared_path(base_sf, name)
        assert 3 in prepared._read_abatch_manifest(path), name

    def rows(df, key):
        return [r.asDict(recursive=True) for r in df.orderBy(key).collect()]

    readers = {
        "trgm": (prepared.documents_trgm, ["doc_id"]),
        "trgm_postings": (prepared.documents_trgm_postings, ["trg", "doc_id"]),
        "minhash": (prepared.documents_minhash, ["doc_id"]),
        "postings": (lambda s, d: prepared.documents_postings(s, d)[0],
                     ["term", "doc_id"]),
        "dfreq": (lambda s, d: prepared.documents_postings(s, d)[1], ["term"]),
        # one-row stats: bit-equal avgdl proves the counter-row update
        # reproduces the engine aggregate exactly
        "stats": (lambda s, d: prepared.documents_postings(s, d)[2], ["n_docs"]),
        "pq_codes": (lambda s, d: prepared.embeddings_pq(s, d)[0], ["vec_id"]),
        "ivf": (lambda s, d: prepared.embeddings_ivf(s, d)[0], ["vec_id"]),
    }
    for name, (read, key) in readers.items():
        inc = rows(read(spark, base_sf), key)
        assert inc == rows(read(spark, full_sf), key), name

    # appended docs are immediately servable: the near-dup planted in
    # the batch is found by the index-served LSH path
    from venus_spark.operators.dedup import lsh_near_dup_pairs_from_index

    idx = prepared.documents_minhash(spark, base_sf)
    pairs = lsh_near_dup_pairs_from_index(idx).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 1009 for r in pairs)
    # ... and by the BUCKETED band layout: append_documents_batch
    # invalidated it, so the rebuild covers the appended batch (a stale
    # band table would silently miss the pair)
    from venus_spark.plans import all_plans

    colo = all_plans()["dedup_minhash_lsh_colocated"].fn(spark, base_sf).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 1009 for r in colo)


def test_streaming_index_maintenance_pending_list(spark, tmp_path, monkeypatch):
    """The GIN-fastupdate analog end-to-end: a documents stream lands
    exactly-once AND maintains the MinHash dedup index per micro-batch
    via the pending area; the live view (base ∪ pending) equals a full
    rebuild, a checkpoint-replay adds no duplicates, and the
    VACUUM-style merge folds pending files into the base idempotently."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared
    from venus_spark.streaming import read_sink_table, start_documents_ingest

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))

    sf = str(tmp_path / "sf")
    docs.filter(F.col("doc_id") < 30).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    prepared.documents_minhash(spark, sf)  # base index over the backfill

    # two landed JSON micro-batch files of new documents
    landing = tmp_path / "landing"
    landing.mkdir()
    new_rows = [
        r.asDict()
        for r in docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 46))
        .withColumn("doc_id", F.col("doc_id") + 970)
        .collect()
    ]
    for i, chunk in enumerate((new_rows[:8], new_rows[8:])):
        (landing / f"batch{i}.json").write_text(
            "\n".join(_json.dumps(r) for r in chunk) + "\n"
        )

    def run():
        q = start_documents_ingest(
            spark.readStream.schema(docs.schema).json(str(landing)),
            sink_dir=str(tmp_path / "sink"),
            checkpoint_dir=str(tmp_path / "ck"),
            index_sf_dir=sf,
            trigger_seconds=None,
        )
        q.awaitTermination()

    run()

    def live_rows():
        return [
            r.asDict()
            for r in prepared.documents_minhash_live(spark, sf)
            .orderBy("doc_id")
            .collect()
        ]

    # live view == full rebuild over backfill + streamed docs
    full_sf = str(tmp_path / "full_sf")
    all_docs = docs.filter(F.col("doc_id") < 30).unionByName(
        spark.createDataFrame(new_rows, docs.schema)
    )
    all_docs.write.parquet(os.path.join(full_sf, "documents.parquet"))
    prepared.documents_minhash(spark, full_sf)
    expect = [
        r.asDict()
        for r in prepared.documents_minhash(spark, full_sf)
        .orderBy("doc_id")
        .collect()
    ]
    assert live_rows() == expect
    # landed table matches too
    landed = read_sink_table(spark, str(tmp_path / "sink"), "documents")
    assert landed.count() == len(new_rows)

    # replay: rerun the whole stream against the same checkpoint
    run()
    assert live_rows() == expect

    # VACUUM: merge pending into base — same rows, pending gone
    n = prepared.merge_minhash_pending(spark, sf)
    assert n > 0
    assert not os.path.exists(prepared._pending_path(sf, "documents_minhash.parquet"))
    base_rows = [
        r.asDict()
        for r in prepared.documents_minhash(spark, sf).orderBy("doc_id").collect()
    ]
    assert base_rows == expect
    # merge retry is a no-op
    assert prepared.merge_minhash_pending(spark, sf) == 0


def test_merge_replay_does_not_duplicate_and_new_batch_survives(
    spark, tmp_path, monkeypatch
):
    """The merged-batch manifest makes the VACUUM safe around a live
    writer: (a) a micro-batch REPLAYED into pending after its merge is
    excluded from the live view and dropped (not re-moved) by the next
    merge — no duplicates; (b) a batch landed after the merge's
    directory listing survives (surgical per-batch deletes, no blanket
    rmtree) and merges on the next run — no loss."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    sf = str(tmp_path / "sf")
    docs.filter(F.col("doc_id") < 30).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    prepared.documents_minhash(spark, sf)

    b0 = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 35))
    b1 = docs.filter((F.col("doc_id") >= 35) & (F.col("doc_id") < 40))
    prepared.write_minhash_pending(sf, b0, 0)
    assert prepared.merge_minhash_pending(spark, sf) > 0
    expect_ids = set(range(35))
    assert {
        r["doc_id"] for r in prepared.documents_minhash_live(spark, sf).collect()
    } == expect_ids

    # (a) checkpoint-replay rewrites batch 0 into pending post-merge
    prepared.write_minhash_pending(sf, b0, 0)
    live = prepared.documents_minhash_live(spark, sf)
    assert live.count() == 35  # no double-counting
    assert live.groupBy("doc_id").count().filter("count > 1").count() == 0
    # (b) plus a genuinely new batch lands
    prepared.write_minhash_pending(sf, b1, 1)
    n = prepared.merge_minhash_pending(spark, sf)
    assert n > 0  # batch 1 merged; replayed batch 0 dropped, not re-moved
    base_ids = [
        r["doc_id"] for r in prepared.documents_minhash(spark, sf).collect()
    ]
    assert sorted(base_ids) == sorted(set(range(40)))  # each exactly once
    assert prepared.merge_minhash_pending(spark, sf) == 0


# --------------------------------------------------------------------------
# Z-order layout: footer-stats prunability on BOTH dimensions
# --------------------------------------------------------------------------


def _rg_stats(pattern: str):
    import glob

    import pyarrow.parquet as pq

    rgs = []
    for f in sorted(glob.glob(pattern)):
        md = pq.ParquetFile(f).metadata
        sch = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            su = rg.column(sch["user_id"]).statistics
            st = rg.column(sch["ts"]).statistics
            rgs.append(((su.min, su.max), (st.min, st.max)))
    return rgs


def test_zorder_prunes_both_dims_where_1d_layout_cannot(spark):
    """The 2-D probe (user_id = K AND ts in window) must be servable
    from a small fraction of the Z-order layout's row groups, with
    BOTH dimensions contributing pruning — while the key-clustered 1-D
    layout, by construction, passes every row group for a time-only
    probe. Checked against the real parquet footers, i.e. exactly the
    stats the pushed filters prune with at scan time."""
    import datetime

    from tests.conftest import SF_DIR_MED
    from venus_spark.plans.pipeline_behavioral import _L2D_KEY, _L2D_T0, _L2D_T1
    from venus_spark.prepared import events_by_user, events_zorder, prepared_path

    events_zorder(spark, SF_DIR_MED)
    events_by_user(spark, SF_DIR_MED)
    k = _L2D_KEY
    t0 = datetime.datetime.fromisoformat(_L2D_T0)
    t1 = datetime.datetime.fromisoformat(_L2D_T1)

    def admit(rgs):
        u = sum(1 for (umin, umax), _ in rgs if umin <= k <= umax)
        t = sum(1 for _, (tmin, tmax) in rgs if tmin < t1 and tmax >= t0)
        b = sum(
            1
            for (umin, umax), (tmin, tmax) in rgs
            if umin <= k <= umax and tmin < t1 and tmax >= t0
        )
        return u, t, b, len(rgs)

    zu, zt, zb, zn = admit(
        _rg_stats(prepared_path(SF_DIR_MED, "events_zorder.parquet") + "/*.parquet")
    )
    # both dims prune individually, and the conjunction reads <= 25%
    assert zu < zn and zt < zn
    assert zb <= zn // 4, (zu, zt, zb, zn)

    uu, ut, ub, un = admit(
        _rg_stats(prepared_path(SF_DIR_MED, "events_by_user.parquet") + "/*.parquet")
    )
    # 1-D key clustering: razor-sharp on the key...
    assert uu <= max(2, un // 8)
    # ...and blind on time — every row group admits the window
    assert ut == un


# --------------------------------------------------------------------------
# Event-side INSERT maintenance: rollup append == full recompute;
# retention drops chunks without touching survivors
# --------------------------------------------------------------------------


def test_append_events_rollup_equals_full_recompute(spark, tmp_path, monkeypatch):
    """The hourly rollup must absorb a batch as appended partials and
    still read back EXACTLY the one-shot aggregate over base+batch —
    including the double bit-pattern of the decimal-merged sums — and
    the appended Z-order/by_date/by_user layouts must serve the full
    row set."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared
    from venus_spark.functions import dsum, fmt_ts

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    cut = "2024-01-20 00:00:00"
    base = ev.filter(F.col("ts") < cut)
    batch = ev.filter(F.col("ts") >= cut)

    base_sf = str(tmp_path / "base_sf")
    base.write.parquet(os.path.join(base_sf, "events.parquet"))

    prepared.events_by_date(spark, base_sf)
    prepared.events_by_user(spark, base_sf)
    prepared.events_zorder(spark, base_sf)
    prepared.append_events(spark, base_sf, batch, batch_id=1)
    # retry of the same batch must converge, not double-count
    prepared.append_events(spark, base_sf, batch, batch_id=1)

    served = {
        r["bucket"]: (r["n"], r["total_value"])
        for r in prepared.events_hourly_rollup(spark, base_sf)
        .groupBy(fmt_ts(F.col("bucket_ts"), micros=False).alias("bucket"))
        .agg(F.sum("n").alias("n"), F.sum("sum_dec").cast("double").alias("total_value"))
        .collect()
    }
    want = {
        r["bucket"]: (r["n"], r["total_value"])
        for r in ev.groupBy(
            fmt_ts(F.date_trunc("hour", F.col("ts")), micros=False).alias("bucket")
        )
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .collect()
    }
    assert served == want  # exact, including the merged-sum doubles

    # appended layouts carry the complete row set
    n_all = ev.count()
    for layout in ("events_by_date", "events_by_user", "events_zorder"):
        got = getattr(prepared, layout)(spark, base_sf)
        assert got.count() == n_all, layout
        assert got.select(F.sum("event_id")).first()[0] == \
            ev.select(F.sum("event_id")).first()[0], layout


def test_drop_event_chunks_retention(spark, tmp_path, monkeypatch):
    """drop_chunks analog: partitions before the cutoff vanish, the
    survivors are untouched files serving exactly the post-cutoff rows,
    and a second call is a no-op."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    sf = str(tmp_path / "sf")
    spark.read.parquet(os.path.join(src, "events.parquet")).write.parquet(
        os.path.join(sf, "events.parquet")
    )
    prepared.events_by_date(spark, sf)
    cutoff = "2024-01-15"
    dropped = prepared.drop_event_chunks(sf, cutoff)
    assert dropped > 0
    kept = prepared.events_by_date(spark, sf)
    assert kept.filter(F.col("date") < cutoff).count() == 0
    want = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .filter(F.to_date("ts") >= cutoff)
        .count()
    )
    assert kept.count() == want
    assert prepared.drop_event_chunks(sf, cutoff) == 0


def test_recluster_restores_zorder_prunability(spark, tmp_path, monkeypatch):
    """Appends dilute the Z-order layout's per-file rectangles; the
    recluster (OPTIMIZE) job must rewrite base+appends into one curve
    with the 2-D prunability of a fresh build — and never change the
    row set. Also exercises the crash window: with the live dir moved
    aside mid-swap, the next read completes the swap from the complete
    tmp copy."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.01"
    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    cut = "2024-01-20 00:00:00"
    base_sf = str(tmp_path / "base_sf")
    ev.filter(F.col("ts") < cut).write.parquet(
        os.path.join(base_sf, "events.parquet")
    )
    prepared.events_zorder(spark, base_sf)
    prepared.events_hourly_rollup(spark, base_sf)
    prepared.events_by_date(spark, base_sf)
    prepared.events_by_user(spark, base_sf)
    prepared.append_events(spark, base_sf, ev.filter(F.col("ts") >= cut), batch_id=1)

    path = prepared.prepared_path(base_sf, "events_zorder.parquet")

    def both_pass_fraction() -> float:
        import datetime

        rgs = _rg_stats(path + "/*.parquet")
        t0 = datetime.datetime(2024, 1, 10)
        t1 = datetime.datetime(2024, 1, 13)
        b = sum(
            1
            for (umin, umax), (tmin, tmax) in rgs
            if umin <= 13 <= umax and tmin < t1 and tmax >= t0
        )
        return b / len(rgs)

    diluted = both_pass_fraction()
    checksum = ev.select(F.sum("event_id")).first()[0]
    prepared.recluster_events_zorder(spark, base_sf)
    reclustered = both_pass_fraction()
    assert reclustered <= 0.25, (diluted, reclustered)
    assert reclustered <= diluted
    got = prepared.events_zorder(spark, base_sf)
    assert got.count() == ev.count()
    assert got.select(F.sum("event_id")).first()[0] == checksum

    # crash window: live dir moved aside, complete tmp left behind
    import shutil

    os.rename(path, path + ".recluster.old")
    shutil.copytree(path + ".recluster.old", path + ".recluster.tmp")
    os.rename(path + ".recluster.old", str(tmp_path / "displaced"))
    os.rename(str(tmp_path / "displaced"), path + ".recluster.old")
    recovered = prepared.events_zorder(spark, base_sf)
    assert recovered.count() == ev.count()
    assert not os.path.exists(path + ".recluster.tmp")
    assert not os.path.exists(path + ".recluster.old")


def test_daily_hll_tiles_merge_across_appends(spark, tmp_path, monkeypatch):
    """Appended batches land their own daily HLL tiles; a range query
    that union-merges tiles spanning base and batch (including
    same-day overlaps) must estimate within the contract bound of the
    exact distinct count over base+batch."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.01"
    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    # split WITHIN days so tiles for the same (day, type) exist in both
    # the base build and the appended batch
    base_sf = str(tmp_path / "base_sf")
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(
        os.path.join(base_sf, "events.parquet")
    )
    prepared.events_daily_hll(spark, base_sf)
    prepared.events_hourly_rollup(spark, base_sf)
    prepared.events_by_date(spark, base_sf)
    prepared.events_by_user(spark, base_sf)
    prepared.events_zorder(spark, base_sf)
    prepared.append_events(spark, base_sf, ev.filter(F.col("event_id") % 2 == 1), batch_id=1)

    got = {
        r["event_type"]: r["est"]
        for r in prepared.events_daily_hll(spark, base_sf)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("users_sk")).alias("est"))
        .collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    for etype, exact in want.items():
        assert abs(got[etype] - exact) <= 0.05 * exact, (etype, got[etype], exact)


def test_drop_chunks_validates_cutoff_and_prunes_aggregates(spark, tmp_path, monkeypatch):
    """A malformed cutoff must raise (not lexicographically delete the
    wrong chunks), and drop_aggregates=True must apply the cutoff to
    the rollup and HLL tiles as well."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    sf = str(tmp_path / "sf")
    spark.read.parquet(os.path.join(src, "events.parquet")).write.parquet(
        os.path.join(sf, "events.parquet")
    )
    prepared.events_by_date(spark, sf)
    prepared.events_hourly_rollup(spark, sf)
    prepared.events_daily_hll(spark, sf)

    with _pytest.raises(ValueError):
        prepared.drop_event_chunks(sf, "2024-1-15")  # not ISO
    # nothing was deleted by the rejected call
    assert prepared.events_by_date(spark, sf).filter(
        F.col("date") < "2024-01-15"
    ).count() > 0

    dropped = prepared.drop_event_chunks(
        sf, "2024-01-15", spark=spark, drop_aggregates=True
    )
    assert dropped > 0
    assert (
        prepared.events_hourly_rollup(spark, sf)
        .filter(F.col("bucket_ts") < "2024-01-15 00:00:00")
        .count()
        == 0
    )
    assert (
        prepared.events_daily_hll(spark, sf)
        .filter(F.col("date") < "2024-01-15")
        .count()
        == 0
    )
    # surviving aggregate rows still serve the post-cutoff series
    assert prepared.events_hourly_rollup(spark, sf).count() > 0


def test_append_batch_files_converges_after_partial_move(spark, tmp_path, monkeypatch):
    """Simulate a crash mid-move: after a successful append, delete
    half of the batch's moved files (as if the rename loop died), then
    retry the SAME batch — the retry must first clear the batch's
    survivors and re-land the whole batch exactly once."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    base_sf = str(tmp_path / "base_sf")
    ev.filter(F.col("event_id") < 500).write.parquet(
        os.path.join(base_sf, "events.parquet")
    )
    prepared.events_hourly_rollup(spark, base_sf)
    path = prepared.prepared_path(base_sf, "events_hourly_rollup.parquet")
    batch = ev.filter(F.col("event_id") >= 500)

    prepared._append_batch_files(
        prepared._hourly_partial_rows(batch), path, batch_id=7
    )
    moved = [f for f in os.listdir(path) if f.startswith("abatch-7-")]
    assert moved
    assert 7 in prepared._read_abatch_manifest(path)
    # model the crash-mid-move state precisely: some files landed, the
    # manifest commit (which happens LAST) never did
    for f in moved[: max(1, len(moved) // 2)]:
        os.remove(os.path.join(path, f))
    prepared._write_abatch_manifest(path, prepared._read_abatch_manifest(path) - {7})
    prepared._append_batch_files(
        prepared._hourly_partial_rows(batch), path, batch_id=7
    )
    # and a retry AFTER the manifest committed is a pure no-op
    before = sorted(os.listdir(path))
    prepared._append_batch_files(
        prepared._hourly_partial_rows(batch), path, batch_id=7
    )
    assert sorted(os.listdir(path)) == before

    got = {
        r["bucket_ts"]: (r["n"], r["total_value"])
        for r in prepared.merge_hourly_partials(
            spark.read.parquet(path)
        ).collect()
    }
    want = {
        r["bucket_ts"]: (r["n"], r["total_value"])
        for r in prepared.merge_hourly_partials(
            prepared._hourly_partial_rows(ev)
        ).collect()
    }
    assert got == want


def test_recluster_preserves_abatch_manifest(spark, tmp_path, monkeypatch):
    """ADVICE r4 (medium): the recluster rewrite absorbs appended
    abatch-prefixed files into unprefixed ones, so it must CARRY the
    batch manifest into the rewritten directory — a crash-retry of an
    already-absorbed append_events batch after a recluster has to stay
    a no-op instead of re-landing (and double-counting) the rows."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    cut = "2024-01-20 00:00:00"
    base_sf = str(tmp_path / "base_sf")
    ev.filter(F.col("ts") < cut).write.parquet(
        os.path.join(base_sf, "events.parquet")
    )
    batch = ev.filter(F.col("ts") >= cut)
    for layout in ("events_by_date", "events_by_user", "events_zorder",
                   "events_hourly_rollup", "events_daily_hll"):
        getattr(prepared, layout)(spark, base_sf)
    prepared.append_events(spark, base_sf, batch, batch_id=1)
    prepared.recluster_events_zorder(spark, base_sf)

    z_path = prepared.prepared_path(base_sf, "events_zorder.parquet")
    # manifest survived the rewrite...
    assert 1 in prepared._read_abatch_manifest(z_path)
    # ...so the retry is a pure no-op: same files, same rows
    before = sorted(os.listdir(z_path))
    checksum = ev.select(F.sum("event_id")).first()[0]
    prepared.append_events(spark, base_sf, batch, batch_id=1)
    assert sorted(os.listdir(z_path)) == before
    got = prepared.events_zorder(spark, base_sf)
    assert got.count() == ev.count()
    assert got.select(F.sum("event_id")).first()[0] == checksum


def test_drop_event_chunks_unbuilt_layout_raises_value_error(tmp_path, monkeypatch):
    """ADVICE r4 (low): retention on an sf_dir whose events_by_date
    layout was never built must raise ValueError (which the maintain
    CLI reports cleanly), not leak FileNotFoundError."""
    import pytest

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    with pytest.raises(ValueError, match="events_by_date layout not built"):
        prepared.drop_event_chunks(str(tmp_path / "nosuch_sf"), "2024-01-15")


def _mk_doc_sf(spark, tmp_path, name="del_sf"):
    import os

    src = "/root/testdata/sf0.001"
    sf = str(tmp_path / name)
    spark.read.parquet(os.path.join(src, "documents.parquet")).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    return sf


def test_tombstone_delete_filters_every_document_index(spark, tmp_path, monkeypatch):
    """Logical DELETE: after tombstoning, every document-index read —
    MinHash (incl. the live view over a pending batch), trigram bloom,
    and the rebuilt inverted index with its corpus-level df/stats —
    serves exactly the state a fresh build over the remaining corpus
    would, and near-dup search can no longer emit a deleted id. The
    tombstone append is idempotent on batch_id."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared
    from venus_spark.operators.dedup import lsh_near_dup_pairs_from_index

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    sf = _mk_doc_sf(spark, tmp_path)
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))

    # build everything first (indexes exist BEFORE the delete)
    prepared.documents_minhash(spark, sf)
    prepared.documents_trgm(spark, sf)
    prepared.documents_postings(spark, sf)
    # a streamed pending batch that includes a doc we will delete
    pend_rows = docs.filter(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 5000
    )
    prepared.write_minhash_pending(sf, pend_rows, batch_id=0)

    dead = [3, 17, 5001]  # two base docs + one pending doc
    prepared.tombstone_documents(spark, sf, dead, batch_id=0)
    prepared.tombstone_documents(spark, sf, dead, batch_id=0)  # retry: no-op

    live_ids = {
        r["doc_id"]
        for r in prepared.documents_minhash_live(spark, sf).select("doc_id").collect()
    }
    assert not (set(dead) & live_ids)
    assert 5000 in live_ids  # surviving pending rows still served

    trg_ids = {
        r["doc_id"] for r in prepared.documents_trgm(spark, sf).select("doc_id").collect()
    }
    assert not (set(dead) & trg_ids)

    # inverted index was rebuilt over the filtered corpus: identical to
    # a fresh build over documents-minus-deleted, stats included
    post, dfreq, stats = prepared.documents_postings(spark, sf)
    assert post.filter(F.col("doc_id").isin(dead)).count() == 0
    clean_sf = str(tmp_path / "clean_sf")
    docs.filter(~F.col("doc_id").isin(dead)).write.parquet(
        os.path.join(clean_sf, "documents.parquet")
    )
    post2, dfreq2, stats2 = prepared.documents_postings(spark, clean_sf)
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(post) == key(post2)
    assert key(dfreq) == key(dfreq2)
    assert key(stats) == key(stats2)

    # a retry of the committed delete batch must NOT re-drop the
    # already-rebuilt postings artifacts (review r5: the drop loop ran
    # before the manifest check, forcing a pointless full rebuild)
    post_path = prepared.prepared_path(sf, "documents_postings.parquet")
    assert os.path.isdir(post_path)
    prepared.tombstone_documents(spark, sf, dead, batch_id=0)
    assert os.path.isdir(post_path)

    # dedup search cannot emit a deleted id
    pairs = lsh_near_dup_pairs_from_index(
        prepared.documents_minhash_live(spark, sf), threshold=0.0
    )
    bad = pairs.filter(
        F.col("id_a").isin(dead) | F.col("id_b").isin(dead)
    ).count()
    assert bad == 0


def test_vacuum_tombstones_physical_idempotent_and_crash_safe(
    spark, tmp_path, monkeypatch
):
    """Physical DELETE: vacuum folds pending, rewrites the row-local
    indexes without the tombstoned rows (raw parquet no longer contains
    them), carries the stamp so no rebuild is triggered, and a re-run
    removes nothing (and rewrites nothing). The tombstone set is
    RETAINED as the durable delete record — a post-vacuum index rebuild
    from the (unowned, still-complete) base table must not resurrect
    the rows. A crash window that leaves a complete tmp beside a
    displaced live dir recovers on the next read."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    sf = _mk_doc_sf(spark, tmp_path)

    prepared.documents_minhash(spark, sf)
    prepared.documents_trgm(spark, sf)
    dead = [1, 2, 40]
    prepared.tombstone_documents(spark, sf, dead, batch_id=0)

    removed = prepared.vacuum_document_tombstones(spark, sf)
    assert removed == 2 * len(dead)  # one row per doc in each of 2 indexes
    # the delete record survives the vacuum (deletion-vector semantics)
    assert prepared.document_tombstones(spark, sf) is not None

    mh_path = prepared.prepared_path(sf, "documents_minhash.parquet")
    listing_after_vacuum = sorted(os.listdir(mh_path))
    assert prepared.vacuum_document_tombstones(spark, sf) == 0  # no-op re-run
    assert sorted(os.listdir(mh_path)) == listing_after_vacuum  # no rewrite

    # a forced rebuild from the still-complete base must NOT resurrect
    shutil.rmtree(mh_path)
    rebuilt_ids = {
        r["doc_id"]
        for r in prepared.documents_minhash(spark, sf).select("doc_id").collect()
    }
    assert not (set(dead) & rebuilt_ids)
    # raw (unfiltered) parquet no longer holds the rows
    raw_ids = {r["doc_id"] for r in spark.read.parquet(mh_path).select("doc_id").collect()}
    assert not (set(dead) & raw_ids)
    # stamp carried: a re-ensure does NOT rebuild (same file listing)
    before = sorted(os.listdir(mh_path))
    prepared.documents_minhash(spark, sf)
    assert sorted(os.listdir(mh_path)) == before

    # crash window: complete tmp left beside displaced live dir
    os.rename(mh_path, mh_path + ".vacuum.old")
    shutil.copytree(mh_path + ".vacuum.old", mh_path + ".vacuum.tmp")
    recovered = prepared.documents_minhash(spark, sf)
    assert recovered.count() == len(raw_ids)
    assert not os.path.exists(mh_path + ".vacuum.tmp")
    assert not os.path.exists(mh_path + ".vacuum.old")


def test_embedding_tombstones_filter_vacuum_and_rebuild(spark, tmp_path, monkeypatch):
    """Vector-side DELETE: tombstoned vec_ids vanish from the IVF
    vector layout and the PQ codes reads immediately, the vacuum makes
    it physical while preserving the label-partitioned layout and the
    PQ stamp (no rebuild triggered), re-running removes nothing, the
    tombstone record survives, and a forced rebuild from the unowned
    base cannot resurrect the vectors. Centroids and codebook are
    retained by design (approximate routing structures)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    sf = str(tmp_path / "emb_sf")
    spark.read.parquet(os.path.join(src, "embeddings.parquet")).write.parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    n_all = spark.read.parquet(os.path.join(sf, "embeddings.parquet")).count()

    vecs, cents = prepared.embeddings_ivf(spark, sf)
    codes, cb = prepared.embeddings_pq(spark, sf)
    n_cents = cents.count()

    dead = [0, 7, 33]
    prepared.tombstone_embeddings(spark, sf, dead, batch_id=0)

    vecs, cents = prepared.embeddings_ivf(spark, sf)
    codes, cb = prepared.embeddings_pq(spark, sf)
    assert vecs.filter(F.col("vec_id").isin(dead)).count() == 0
    assert codes.filter(F.col("vec_id").isin(dead)).count() == 0
    assert vecs.count() == n_all - len(dead)
    assert cents.count() == n_cents  # routing structure retained

    removed = prepared.vacuum_embedding_tombstones(spark, sf)
    assert removed == 2 * len(dead)
    assert prepared.vacuum_embedding_tombstones(spark, sf) == 0  # no-op

    codes_path = prepared.prepared_path(sf, "embeddings_pq_codes.parquet")
    # physical: raw read excludes; label= partition dirs preserved
    raw = spark.read.parquet(codes_path)
    assert raw.filter(F.col("vec_id").isin(dead)).count() == 0
    assert any(d.startswith("label=") for d in os.listdir(codes_path))
    # stamp carried -> re-ensure does not rebuild
    before = sorted(os.listdir(codes_path))
    prepared.embeddings_pq(spark, sf)
    assert sorted(os.listdir(codes_path)) == before

    # crash window on the IVF layout: complete tmp + displaced live dir
    ivf_path = prepared.prepared_path(sf, "embeddings_ivf.parquet")
    os.rename(ivf_path, ivf_path + ".vacuum.old")
    shutil.copytree(ivf_path + ".vacuum.old", ivf_path + ".vacuum.tmp")
    vecs2, _ = prepared.embeddings_ivf(spark, sf)
    assert vecs2.count() == n_all - len(dead)
    assert not os.path.exists(ivf_path + ".vacuum.tmp")
    assert not os.path.exists(ivf_path + ".vacuum.old")

    # forced rebuild: tombstone record still guards the unowned base
    shutil.rmtree(codes_path)
    codes3, _ = prepared.embeddings_pq(spark, sf)
    assert codes3.filter(F.col("vec_id").isin(dead)).count() == 0


def test_cli_delete_docs_requires_explicit_batch_id(capsys):
    """Review r5: an implicit --batch-id default silently no-ops a
    second logical delete (same id = committed = retry). The CLI must
    refuse instead."""
    from venus_spark.__main__ import main

    rc = main(["maintain", "delete-docs", "--ids", "1,2"])
    assert rc == 2
    assert "--batch-id" in capsys.readouterr().err


def test_streaming_embeddings_ingest_maintains_vector_indexes(
    spark, tmp_path, monkeypatch
):
    """The vector twin of the documents-ingest test: a streamed
    embeddings batch lands exactly-once AND appends its IVF rows and
    PQ codes idempotently; the served indexes equal a full rebuild over
    base+streamed, a completed-checkpoint rerun and a direct same-id
    retry change nothing, and the vacuum rewrite carries the batch
    manifest so a post-vacuum retry of an absorbed batch stays a no-op."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared
    from venus_spark.streaming import read_sink_table, start_embeddings_ingest

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    vecs = spark.read.parquet(os.path.join(src, "embeddings.parquet"))

    sf = str(tmp_path / "sf")
    vecs.filter(F.col("vec_id") < 48).write.parquet(  # saturates the codebook
        os.path.join(sf, "embeddings.parquet")
    )
    prepared.embeddings_ivf(spark, sf)
    prepared.embeddings_pq(spark, sf)

    new_rows = [
        {"vec_id": r["vec_id"], "embedding": list(r["embedding"]), "label": r["label"]}
        for r in vecs.filter(F.col("vec_id") >= 48).collect()
    ]
    landing = tmp_path / "landing"
    landing.mkdir()
    half = len(new_rows) // 2

    def run():
        q = start_embeddings_ingest(
            spark.readStream.schema(vecs.schema).json(str(landing)),
            sink_dir=str(tmp_path / "sink"),
            checkpoint_dir=str(tmp_path / "ck"),
            index_sf_dir=sf,
            trigger_seconds=None,
        )
        q.awaitTermination()

    # land + run one file at a time: deterministic batch ids 0 and 1
    for i, chunk in enumerate((new_rows[:half], new_rows[half:])):
        (landing / f"b{i}.json").write_text(
            "\n".join(_json.dumps(r) for r in chunk) + "\n"
        )
        run()

    def served():
        v, _ = prepared.embeddings_ivf(spark, sf)
        c, _ = prepared.embeddings_pq(spark, sf)
        return (
            sorted(tuple(r) for r in v.select("vec_id", "label").collect()),
            sorted(r["vec_id"] for r in c.collect()),
        )

    full_sf = str(tmp_path / "full_sf")
    vecs.write.parquet(os.path.join(full_sf, "embeddings.parquet"))
    fv, _ = prepared.embeddings_ivf(spark, full_sf)
    fc, _ = prepared.embeddings_pq(spark, full_sf)
    expect = (
        sorted(tuple(r) for r in fv.select("vec_id", "label").collect()),
        sorted(r["vec_id"] for r in fc.collect()),
    )
    assert served() == expect
    landed = read_sink_table(spark, str(tmp_path / "sink"), "embeddings")
    assert landed.count() == len(new_rows)

    # completed-checkpoint rerun + direct same-id retry: both no-ops
    run()
    assert served() == expect
    batch1 = spark.createDataFrame(new_rows[half:], vecs.schema)
    prepared.append_embeddings_batch(spark, sf, batch1, batch_id=1)
    assert served() == expect

    # vacuum (a delete among the streamed vectors) carries the batch
    # manifest: a post-vacuum retry of the absorbed batch is a no-op
    dead = [new_rows[half]["vec_id"]]
    prepared.tombstone_embeddings(spark, sf, dead, batch_id=0)
    assert prepared.vacuum_embedding_tombstones(spark, sf) == 2
    codes_path = prepared.prepared_path(sf, "embeddings_pq_codes.parquet")
    assert 1 in prepared._read_abatch_manifest(codes_path)
    prepared.append_embeddings_batch(spark, sf, batch1, batch_id=1)
    v, _ = prepared.embeddings_ivf(spark, sf)
    assert v.count() == len(expect[0]) - len(dead)


def test_rebuild_refused_when_layout_holds_streamed_batches(
    spark, tmp_path, monkeypatch
):
    """Review r5 finding: streamed/appended vectors can exist ONLY in
    the index layouts (the sink table, not the base parquet, holds the
    streamed copies), so a lazy from-base rebuild triggered by constant
    drift or a lost _SUCCESS would silently drop them. The rebuild must
    refuse while a batch manifest is non-empty — and proceed once the
    operator explicitly deletes the layout."""
    import json as _j
    import os
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    vecs = spark.read.parquet(os.path.join(src, "embeddings.parquet"))
    sf = str(tmp_path / "sf")
    vecs.filter(F.col("vec_id") < 48).write.parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    prepared.embeddings_pq(spark, sf)
    prepared.append_embeddings_batch(
        spark, sf, vecs.filter(F.col("vec_id") >= 48), batch_id=0
    )

    # simulate constant drift: corrupt the stamp so _is_built fails
    codes_path = prepared.prepared_path(sf, "embeddings_pq_codes.parquet")
    stamp = os.path.join(codes_path, "_prep_meta.json")
    meta = _j.load(open(stamp))
    meta["ks"] = meta["ks"] + 1
    _j.dump(meta, open(stamp, "w"))

    with pytest.raises(RuntimeError, match="appended/streamed batches"):
        prepared.embeddings_pq(spark, sf)

    # explicit deletion accepts the loss and unblocks the rebuild
    shutil.rmtree(codes_path)
    codes, _ = prepared.embeddings_pq(spark, sf)
    assert codes.count() == 48  # base-table rows only, by explicit choice


def test_compact_postings_preserves_rows_and_recovers_from_crash(
    spark, tmp_path, monkeypatch
):
    """The inverted-index OPTIMIZE: after appends spread a term's
    postings across per-batch file sets, compaction rewrites one
    globally term-sorted set with the identical row content, carries
    the stamp (no rebuild triggered), and an interrupted swap (complete
    tmp beside displaced live dir) completes on the next read."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    sf = str(tmp_path / "sf")
    docs.filter(F.col("doc_id") < 40).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    prepared.documents_postings(spark, sf)
    new_docs = docs.filter(F.col("doc_id") >= 40).withColumn(
        "doc_id", F.col("doc_id") + 960
    )
    prepared.append_documents_batch(spark, sf, new_docs, batch_id=1)

    def rows():
        post, dfreq, stats = prepared.documents_postings(spark, sf)
        return (
            sorted((r["term"], r["doc_id"], r["tf"], list(r["pos"])) for r in post.collect()),
            sorted(tuple(r) for r in dfreq.collect()),
            sorted(tuple(r) for r in stats.collect()),
        )

    before = rows()
    path = prepared.prepared_path(sf, "documents_postings.parquet")
    n_files_before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    prepared.compact_documents_postings(spark, sf)
    assert rows() == before
    # stamp carried: re-ensure is a no-op (same listing)
    listing = sorted(os.listdir(path))
    prepared.documents_postings(spark, sf)
    assert sorted(os.listdir(path)) == listing
    n_files_after = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_files_after <= n_files_before

    # crash window: complete tmp + displaced live dir -> next read recovers
    os.rename(path, path + ".compact.old")
    shutil.copytree(path + ".compact.old", path + ".compact.tmp")
    assert rows() == before
    assert not os.path.exists(path + ".compact.tmp")
    assert not os.path.exists(path + ".compact.old")


def test_compact_trgm_postings_preserves_rows_and_recovers(
    spark, tmp_path, monkeypatch
):
    """The trigram-postings OPTIMIZE (review r6: appends and the vacuum
    rewrite were diluting the trg-sorted layout with nothing to restore
    it): compaction preserves row content, carries the stamp, and an
    interrupted swap completes on the next read."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    sf = str(tmp_path / "sf")
    docs.filter(F.col("doc_id") < 40).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    prepared.documents_trgm_postings(spark, sf)

    def rows():
        return sorted(
            tuple(r)
            for r in prepared.documents_trgm_postings(spark, sf).collect()
        )

    # vacuum's rewrite keeps serving the surviving rows through a SORTED
    # rewrite (stamp stays truthful) — run before any append so the
    # delete guard on the postings twin doesn't refuse
    dead = [3]
    prepared.tombstone_documents(spark, sf, dead, batch_id=0)
    prepared.vacuum_document_tombstones(spark, sf)
    assert not {t[1] for t in rows()} & set(dead)
    prepared.documents_trgm_postings(spark, sf)  # no refuse, no rebuild

    new_docs = docs.filter(F.col("doc_id") >= 40).withColumn(
        "doc_id", F.col("doc_id") + 960
    )
    prepared.append_documents_batch(spark, sf, new_docs, batch_id=1)
    before = rows()
    path = prepared.prepared_path(sf, "documents_trgm_postings.parquet")
    prepared.compact_documents_trgm_postings(spark, sf)
    assert rows() == before
    # stamp + manifest carried: re-ensure is a no-op, no refuse, no rebuild
    listing = sorted(os.listdir(path))
    prepared.documents_trgm_postings(spark, sf)
    assert sorted(os.listdir(path)) == listing
    assert prepared._read_abatch_manifest(path) == {1}

    # crash window: complete tmp + displaced live dir -> next read recovers
    os.rename(path, path + ".compact.old")
    shutil.copytree(path + ".compact.old", path + ".compact.tmp")
    assert rows() == before
    assert not os.path.exists(path + ".compact.tmp")
    assert not os.path.exists(path + ".compact.old")


def test_compaction_restores_postings_row_group_pruning(
    spark, tmp_path, monkeypatch
):
    """The point of the postings OPTIMIZE, measured on the real parquet
    footers (the stats the pushed In(term) filter prunes with): each
    append adds its own term-sorted file set, so a query term is
    admitted by one row group PER APPEND; after compaction the same
    term is admitted by strictly fewer row groups (one globally sorted
    set). Same assertion style as the Z-order footer test."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    sf = str(tmp_path / "sf")
    docs.filter(F.col("doc_id") < 40).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    prepared.documents_postings(spark, sf)
    for j in range(3):  # three appends, each its own file set
        prepared.append_documents_batch(
            spark,
            sf,
            docs.filter(
                (F.col("doc_id") >= 40 + j * 20) & (F.col("doc_id") < 60 + j * 20)
            ).withColumn("doc_id", F.col("doc_id") + 960),
            batch_id=j,
        )

    def admitted(path: str, col: str, term: str) -> tuple[int, int]:
        hit = total = 0
        for f in sorted(glob.glob(path + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            sch = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(sch[col]).statistics
                total += 1
                if st.min <= term <= st.max:
                    hit += 1
        return hit, total

    post_path = prepared.prepared_path(sf, "documents_postings.parquet")
    before_hit, before_total = admitted(post_path, "term", "vector")
    assert before_hit >= 3  # the dilution is real: one admitting group per append
    prepared.compact_documents_postings(spark, sf)
    after_hit, after_total = admitted(post_path, "term", "vector")
    assert after_hit < before_hit
    assert after_hit <= 2  # one globally sorted set: the term lives in ~1 group

    # and the trigram postings behave identically under their OPTIMIZE
    tp_path = prepared.prepared_path(sf, "documents_trgm_postings.parquet")
    tb_hit, _ = admitted(tp_path, "trg", "spa")
    prepared.compact_documents_trgm_postings(spark, sf)
    ta_hit, _ = admitted(tp_path, "trg", "spa")
    assert ta_hit <= tb_hit and ta_hit <= 2


def test_mode_append_marker_blocks_lossy_rebuild_and_delete(
    spark, tmp_path, monkeypatch
):
    """Review r5 #3 (second pass) + ADVICE r6: the pending merge of a
    batch append writes the append marker beside the merged-batch
    manifest — after append_documents_batch, (a) a constant-drift
    rebuild of the postings must refuse rather than silently drop the
    appended documents' postings, and (b) tombstone_documents must NOT
    take the drop-for-lazy-rebuild path (which would trigger exactly
    that lossy from-base rebuild): it scrubs the postings in place
    instead, keeping DELETE available — the scrubbed index must equal a
    rebuild over the full (base + appended) corpus minus the deleted
    doc. The marker survives compaction."""
    import json as _j
    import os

    import pytest
    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    sf = str(tmp_path / "sf")
    docs.filter(F.col("doc_id") < 40).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    prepared.documents_trgm(spark, sf)
    prepared.documents_minhash(spark, sf)
    prepared.documents_postings(spark, sf)
    appended = docs.filter(F.col("doc_id") >= 40).withColumn(
        "doc_id", F.col("doc_id") + 960
    )
    prepared.append_documents_batch(spark, sf, appended, batch_id=1)
    assert prepared._has_append_marker(
        prepared.prepared_path(sf, "documents_postings.parquet")
    ), "the pending merge writes the append marker"

    # (b) ADVICE r6: the delete must stay available — scrub, not drop.
    # The drop path would rebuild from the appended-less base and lose
    # the appended docs; the scrub rewrites in place, so the result
    # equals a rebuild over base+appended minus the deleted doc.
    prepared.tombstone_documents(spark, sf, [3], batch_id=0)
    assert prepared._has_append_marker(
        prepared.prepared_path(sf, "documents_postings.parquet")
    ), "scrub must carry the append marker (rebuild guard stays armed)"
    full_sf = str(tmp_path / "full_sf")
    (
        docs.filter(F.col("doc_id") < 40)
        .unionByName(appended)
        .filter(F.col("doc_id") != 3)
        .write.parquet(os.path.join(full_sf, "documents.parquet"))
    )
    exp_post, exp_dfreq, exp_stats = prepared.documents_postings(
        spark, full_sf
    )
    got_post, got_dfreq, got_stats = prepared.documents_postings(spark, sf)
    assert (
        got_post.orderBy("term", "doc_id").collect()
        == exp_post.orderBy("term", "doc_id").collect()
    )
    assert (
        got_dfreq.orderBy("term").collect()
        == exp_dfreq.orderBy("term").collect()
    )
    assert got_stats.first().asDict() == exp_stats.first().asDict()
    # retry of the same delete batch is a pure no-op (manifested)
    prepared.tombstone_documents(spark, sf, [3], batch_id=0)
    assert got_stats.first().asDict() == exp_stats.first().asDict()

    # marker survives the OPTIMIZE rewrite
    prepared.compact_documents_postings(spark, sf)
    post_path = prepared.prepared_path(sf, "documents_postings.parquet")
    assert prepared._has_append_marker(post_path)

    # (a) constant drift: corrupt the stamp -> refusal, not silent loss
    stamp = os.path.join(post_path, "_prep_meta.json")
    meta = _j.load(open(stamp))
    meta["norm"] = "other"
    _j.dump(meta, open(stamp, "w"))
    with pytest.raises(RuntimeError, match="appended/streamed"):
        prepared.documents_postings(spark, sf)


def test_trgm_candidate_gate_robust_to_duplicate_posting_rows(
    spark, tmp_path, monkeypatch
):
    """ADVICE r6 (low): the trigram-postings candidate gate used exact
    count-equality ``n_hit == len(grams)`` — a duplicated (trg, doc_id)
    posting row (crash-retry of a plain mode-append) pushes the count
    PAST the target and silently DROPS a truly-matching document, a
    false negative the downstream ILIKE verify cannot recover because
    it only sees candidates. The gate now counts DISTINCT trigrams, so
    duplicate rows can never eliminate a candidate; the similarity
    plan's intersection count gets the same treatment (a dup row would
    overstate sim and misorder the top-k)."""
    import os

    import pyspark.sql.functions as F

    from venus_spark import prepared
    from venus_spark.plans import all_plans
    from venus_spark.plans.venus_surface import _PATTERNS
    from venus_spark.operators.text import trigrams_of

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    sf = "/root/testdata/sf0.001"
    plans = all_plans()
    expect_fuzzy = plans["fuzzy_trgm_postings"].fn(spark, sf).orderBy(
        "lang"
    ).collect()
    expect_sim = plans["similar_docs_trgm"].fn(spark, sf).collect()

    # duplicate one needle-trigram posting row of a matching document
    pattern = next(p for p in _PATTERNS if trigrams_of(p.strip("%")))
    trg = trigrams_of(pattern.strip("%"))[0]
    victim = (
        spark.read.parquet(os.path.join(sf, "documents.parquet"))
        .filter(F.col("text").ilike(pattern))
        .agg(F.min("doc_id"))
        .first()[0]
    )
    assert victim is not None, "fixture needs at least one matching doc"
    post_path = prepared.prepared_path(sf, "documents_trgm_postings.parquet")
    dup = spark.read.parquet(post_path).filter(
        (F.col("trg") == trg) & (F.col("doc_id") == victim)
    )
    assert dup.count() == 1
    dup.write.mode("append").parquet(post_path)

    got_fuzzy = plans["fuzzy_trgm_postings"].fn(spark, sf).orderBy(
        "lang"
    ).collect()
    assert got_fuzzy == expect_fuzzy
    got_sim = plans["similar_docs_trgm"].fn(spark, sf).collect()
    assert got_sim == expect_sim


def test_kv_postings_append_equals_rebuild_and_guard(
    spark, tmp_path, monkeypatch
):
    """The jsonb-GIN analog joins the append_events artifact family:
    (a) appending a batch yields row-for-row the same postings as a
    full rebuild over the union; (b) a retry of the same batch id is a
    no-op (manifested); (c) once the layout holds appended batches a
    constant-drift rebuild refuses rather than silently dropping them
    (the rows exist only in the layouts, not the base parquet)."""
    import json as _j
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    sf = str(tmp_path / "sf")
    base = ev.filter(F.col("event_id") % 5 != 0)
    batch = ev.filter(F.col("event_id") % 5 == 0)
    base.write.parquet(os.path.join(sf, "events.parquet"))
    # append_events touches every artifact family; build them all first
    for fn in (
        prepared.events_hourly_rollup,
        prepared.events_daily_hll,
        prepared.events_by_date,
        prepared.events_by_user,
        prepared.events_zorder,
        prepared.events_kv_postings,
    ):
        fn(spark, sf)
    prepared.append_events(spark, sf, batch, batch_id=1)
    prepared.append_events(spark, sf, batch, batch_id=1)  # retry: no-op

    full_sf = str(tmp_path / "full_sf")
    ev.write.parquet(os.path.join(full_sf, "events.parquet"))
    got = sorted(
        tuple(r)
        for r in prepared.events_kv_postings(spark, sf).collect()
    )
    want = sorted(
        tuple(r)
        for r in prepared.events_kv_postings(spark, full_sf).collect()
    )
    assert got == want

    path = prepared.prepared_path(sf, "events_kv_postings.parquet")
    stamp = os.path.join(path, "_prep_meta.json")
    meta = _j.load(open(stamp))
    meta["rows"] = "other"
    _j.dump(meta, open(stamp, "w"))
    with pytest.raises(RuntimeError, match="appended/streamed"):
        prepared.events_kv_postings(spark, sf)


def test_compact_kv_postings_preserves_rows_and_recovers(
    spark, tmp_path, monkeypatch
):
    """OPTIMIZE for the kv postings: row set identical after
    compaction (manifest/stamp carried — a post-compaction retry of an
    absorbed batch stays a no-op), and an interrupted swap completes on
    the next read."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    sf = str(tmp_path / "sf")
    ev.filter(F.col("event_id") % 5 != 0).write.parquet(
        os.path.join(sf, "events.parquet")
    )
    for fn in (
        prepared.events_hourly_rollup,
        prepared.events_daily_hll,
        prepared.events_by_date,
        prepared.events_by_user,
        prepared.events_zorder,
        prepared.events_kv_postings,
    ):
        fn(spark, sf)
    batch = ev.filter(F.col("event_id") % 5 == 0)
    prepared.append_events(spark, sf, batch, batch_id=3)
    before = sorted(
        tuple(r) for r in prepared.events_kv_postings(spark, sf).collect()
    )
    prepared.compact_events_kv_postings(spark, sf)
    path = prepared.prepared_path(sf, "events_kv_postings.parquet")
    assert 3 in prepared._read_abatch_manifest(path)  # manifest carried
    after = sorted(
        tuple(r) for r in prepared.events_kv_postings(spark, sf).collect()
    )
    assert after == before
    prepared.append_events(spark, sf, batch, batch_id=3)  # retry: no-op
    assert sorted(
        tuple(r) for r in prepared.events_kv_postings(spark, sf).collect()
    ) == before

    # crash mid-swap: tmp complete, base renamed away -> read recovers
    tmp, old = path + ".compact.tmp", path + ".compact.old"
    os.rename(path, tmp)  # a COMPLETE tmp (has _SUCCESS)
    assert sorted(
        tuple(r) for r in prepared.events_kv_postings(spark, sf).collect()
    ) == before


def test_delete_scrub_retry_subtracts_once_after_batch_append(
    spark, tmp_path, monkeypatch
):
    """Review r7 #1: the ``_delete_adj.json`` exactly-once marker lives
    inside the stats directory. Sequence under test: scrub-path delete
    crashes after its stats adjustment commits but before the tombstone
    manifest; a batch append runs; the delete is retried. The marker
    survives the append, and stats equal a full rebuild over (base +
    both appends) minus the deleted doc — subtracted exactly once."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    sf = str(tmp_path / "sf")
    docs.filter(F.col("doc_id") < 40).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    prepared.documents_trgm(spark, sf)
    prepared.documents_trgm_postings(spark, sf)
    prepared.documents_minhash(spark, sf)
    prepared.documents_postings(spark, sf)
    app1 = docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 48)).withColumn(
        "doc_id", F.col("doc_id") + 960
    )
    app2 = docs.filter((F.col("doc_id") >= 48) & (F.col("doc_id") < 56)).withColumn(
        "doc_id", F.col("doc_id") + 2000
    )
    prepared.append_documents_batch(spark, sf, app1, batch_id=1)  # absorbed

    # crash window: adjustment + scrub committed, tombstone manifest NOT
    ids = spark.createDataFrame([(3,)], "doc_id long")
    prepared._scrub_postings_delete(spark, sf, ids, batch_id=9)
    stats_path = prepared.prepared_path(sf, "documents_stats.parquet")
    assert prepared._read_delete_adj_applied(stats_path) == {9}

    prepared.append_documents_batch(spark, sf, app2, batch_id=2)
    assert prepared._read_delete_adj_applied(stats_path) == {9}, (
        "the append must keep the delete-adjustment sidecar"
    )

    # the retry completes the delete without subtracting doc 3 again
    prepared.tombstone_documents(spark, sf, [3], batch_id=9)
    full_sf = str(tmp_path / "full_sf")
    (
        docs.filter(F.col("doc_id") < 40)
        .unionByName(app1)
        .unionByName(app2)
        .filter(F.col("doc_id") != 3)
        .write.parquet(os.path.join(full_sf, "documents.parquet"))
    )
    _p, _d, exp_stats = prepared.documents_postings(spark, full_sf)
    _p, _d, got_stats = prepared.documents_postings(spark, sf)
    assert got_stats.first().asDict() == exp_stats.first().asDict()


def test_kv_postings_fresh_build_refused_when_siblings_absorbed(
    spark, tmp_path, monkeypatch
):
    """Review r7 #2: a layout added AFTER sibling event layouts
    absorbed appended batches cannot be built from the base parquet —
    those batches' rows exist only in the siblings. The fresh build
    must refuse loudly (its own manifest is empty, so the standard
    guard passes; the rollup's manifest is the authoritative absorbed
    set)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    sf = str(tmp_path / "sf")
    ev.filter(F.col("event_id") % 5 != 0).write.parquet(
        os.path.join(sf, "events.parquet")
    )
    for fn in (
        prepared.events_hourly_rollup,
        prepared.events_daily_hll,
        prepared.events_by_date,
        prepared.events_by_user,
        prepared.events_zorder,
        prepared.events_kv_postings,
    ):
        fn(spark, sf)
    prepared.append_events(
        spark, sf, ev.filter(F.col("event_id") % 5 == 0), batch_id=1
    )
    # simulate "layout did not exist when the batches were appended"
    shutil.rmtree(prepared.prepared_path(sf, "events_kv_postings.parquet"))
    with pytest.raises(RuntimeError, match="sibling event layouts"):
        prepared.events_kv_postings(spark, sf)


def test_kv_postings_backfill_heals_upgraded_dir(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8 #3: the loud refusal above left no remediation path —
    ingest stayed down until rows were manually re-landed. The backfill
    helper rebuilds the postings from base ∪ the absorbed batches' rows
    recovered from events_by_date's abatch files: (a) postings ==
    a full rebuild over everything; (b) the recovered batch ids are
    manifested, so a retry of an absorbed batch stays a no-op; (c) a
    NEW batch appends normally afterwards; (d) on a dir with nothing
    missing the helper is a no-op returning 0."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    sf = str(tmp_path / "sf")
    base = ev.filter(F.col("event_id") % 5 != 0)
    b1 = ev.filter(F.col("event_id") % 5 == 0).filter(
        F.col("event_id") % 2 == 0
    )
    b2 = ev.filter(F.col("event_id") % 5 == 0).filter(
        F.col("event_id") % 2 != 0
    )
    base.write.parquet(os.path.join(sf, "events.parquet"))
    for fn in (
        prepared.events_hourly_rollup,
        prepared.events_daily_hll,
        prepared.events_by_date,
        prepared.events_by_user,
        prepared.events_zorder,
        prepared.events_kv_postings,
    ):
        fn(spark, sf)
    assert prepared.backfill_events_kv_postings(spark, sf) == 0  # (d)
    prepared.append_events(spark, sf, b1, batch_id=1)
    prepared.append_events(spark, sf, b2, batch_id=2)
    path = prepared.prepared_path(sf, "events_kv_postings.parquet")
    shutil.rmtree(path)  # the upgraded-deployment state
    with pytest.raises(RuntimeError, match="backfill_events_kv_postings"):
        prepared.events_kv_postings(spark, sf)

    assert prepared.backfill_events_kv_postings(spark, sf) == 2
    got = sorted(
        tuple(r) for r in prepared.events_kv_postings(spark, sf).collect()
    )
    full_sf = str(tmp_path / "full_sf")
    ev.write.parquet(os.path.join(full_sf, "events.parquet"))
    want = sorted(
        tuple(r)
        for r in prepared.events_kv_postings(spark, full_sf).collect()
    )
    assert got == want  # (a)

    prepared.append_events(spark, sf, b1, batch_id=1)  # (b) retry: no-op
    assert sorted(
        tuple(r) for r in prepared.events_kv_postings(spark, sf).collect()
    ) == want

    b3 = base.limit(4).withColumn("event_id", F.col("event_id") + 900_000)
    prepared.append_events(spark, sf, b3, batch_id=3)  # (c)
    n_new = prepared._events_kv_rows(b3).count()
    assert prepared.events_kv_postings(spark, sf).count() == len(want) + n_new

    # (e) review r8 #3: an absorbed batch whose abatch files retention
    # deleted is unrecoverable — the backfill must refuse loudly, not
    # read an empty path or silently manifest the batch as absorbed
    bydate = prepared.prepared_path(sf, "events_by_date.parquet")
    for root, _dirs, files in os.walk(bydate):
        for f in files:
            if f.startswith("abatch-2-"):
                os.remove(os.path.join(root, f))
    shutil.rmtree(path)  # back to the upgraded-deployment state
    with pytest.raises(RuntimeError, match="no surviving abatch files"):
        prepared.backfill_events_kv_postings(spark, sf)


def test_gated_minhash_merge_keeps_band_layout(spark, tmp_path, monkeypatch):
    """Review r7 #3: a cadence tick whose below_bid gate folds nothing
    leaves the MinHash base byte-identical — it must NOT invalidate the
    bucketed LSH band table (that would force a needless corpus-sized
    rebuild on the next near-dup screen). A tick that DOES fold must
    still invalidate."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    sf = str(tmp_path / "sf")
    docs.filter(F.col("doc_id") < 30).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    prepared.documents_minhash(spark, sf)
    table = prepared.lsh_bands_bucketed(spark, sf)
    assert spark.catalog.tableExists(table)
    new = docs.filter(F.col("doc_id") >= 30).limit(8).withColumn(
        "doc_id", F.col("doc_id") + 970
    )
    prepared.write_minhash_pending(sf, new, 0)
    assert prepared.merge_minhash_pending(spark, sf, below_bid=0) == 0
    assert spark.catalog.tableExists(table), "no-op merge dropped the bands"
    assert prepared.merge_minhash_pending(spark, sf, below_bid=1) > 0
    assert not spark.catalog.tableExists(table)  # real fold invalidates


def test_vector_retrain_on_delete_drift(spark, tmp_path, monkeypatch):
    """VERDICT r7 #6: IVF centroids and the PQ codebook are
    corpus-trained; deletes tombstone rows but the artifacts retain the
    deleted vectors' influence. (a) Below the drift threshold the
    retrain is a no-op and the artifacts are untouched (the documented
    FAISS remove_ids posture). (b) Past it, retrain recomputes all
    three from the LIVE rows and equals a FROM-SCRATCH build over the
    corpus minus the deleted vectors — row-for-row on centroids (exact
    decimal means), codebook, and codes. (c) The baseline resets, so a
    repeat call is a no-op. (d) A crash after the commit marker is
    completed by the next PQ ensure."""
    import json as _j
    import os
    import shutil as sh

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    emb = spark.read.parquet(os.path.join(src, "embeddings.parquet"))
    sf = str(tmp_path / "sf")
    emb.write.parquet(os.path.join(sf, "embeddings.parquet"))
    prepared.embeddings_ivf(spark, sf)
    prepared.embeddings_pq(spark, sf)
    cent_path = prepared.prepared_path(
        sf, "embeddings_ivf_centroids.parquet"
    )

    def snap(path):
        return sorted(
            (r[0], tuple(round(float(x), 9) for x in r[1]))
            for r in spark.read.parquet(path).collect()
        )

    cent0 = snap(cent_path)
    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())

    # (a) 2% deleted: drift below the 10% default -> no-op
    prepared.tombstone_embeddings(spark, sf, ids[:10], batch_id=1)
    assert prepared.retrain_vector_artifacts_if_drifted(spark, sf) is False
    assert snap(cent_path) == cent0

    # (b) 15% deleted in total -> retrain, equal to a fresh build over
    # the live corpus
    prepared.tombstone_embeddings(spark, sf, ids[10:75], batch_id=2)
    assert prepared.retrain_vector_artifacts_if_drifted(spark, sf) is True
    live_sf = str(tmp_path / "live_sf")
    emb.filter(~F.col("vec_id").isin(ids[:75])).write.parquet(
        os.path.join(live_sf, "embeddings.parquet")
    )
    prepared.embeddings_ivf(spark, live_sf)
    prepared.embeddings_pq(spark, live_sf)

    def tbl(sfd, name):
        return prepared.prepared_path(sfd, name)

    assert snap(cent_path) == snap(
        tbl(live_sf, "embeddings_ivf_centroids.parquet")
    )
    assert snap(tbl(sf, "embeddings_pq_codebook.parquet")) == snap(
        tbl(live_sf, "embeddings_pq_codebook.parquet")
    )
    codes = lambda sfd: sorted(  # noqa: E731
        (r["vec_id"], r["label"], tuple(r["codes"]))
        for r in spark.read.parquet(
            tbl(sfd, "embeddings_pq_codes.parquet")
        ).collect()
    )
    assert codes(sf) == codes(live_sf)

    # (c) drift baseline reset
    assert prepared.retrain_vector_artifacts_if_drifted(spark, sf) is False

    # (d) crash after the commit marker: the next ensure completes the
    # staged swap
    cb_path = tbl(sf, "embeddings_pq_codebook.parquet")
    cb_tmp = cb_path + ".retrain.tmp"
    # (e) review r8 #1: a READER must never touch UNcommitted staging —
    # without the marker, a concurrent maintenance process may still be
    # mid-stage, and a reader-side cleanup could yield a
    # mixed-generation commit
    sh.copytree(cb_path, cb_tmp)
    prepared.embeddings_pq(spark, sf)
    assert os.path.exists(cb_tmp), "reader destroyed in-flight staging"
    with open(os.path.join(cb_tmp, "_probe"), "w") as f:
        f.write("x")
    # review r8 #2: the drift baseline travels inside the staged
    # centroids dir, so a crash between marker and swap delivers it
    cent_tmp = cent_path + ".retrain.tmp"
    sh.copytree(cent_path, cent_tmp)
    prepared._write_train_meta(cent_tmp, 99, 12345)
    marker = prepared.prepared_path(sf, prepared._VEC_RETRAIN_MARKER)
    with open(marker, "w") as f:
        _j.dump(["codebook"], f)
    prepared.embeddings_pq(spark, sf)
    assert os.path.exists(os.path.join(cb_path, "_probe"))
    assert not os.path.exists(marker) and not os.path.exists(cb_tmp)
    assert prepared._read_train_meta(cent_path) == {
        "tb_at_train": 99,
        "trained_n": 12345,
    }

    # (f) review r8 pass-3 #1: a raced swap can strand the live
    # artifact at .retrain.old with the path missing and no marker —
    # the strand-heal prologue of ANY ensure must restore it
    os.rename(cb_path, cb_path + ".retrain.old")
    prepared.embeddings_pq(spark, sf)
    assert os.path.exists(os.path.join(cb_path, "_probe"))
    assert not os.path.exists(cb_path + ".retrain.old")

    # (g) review r8 pass-3 #4: the embeddings vacuum must resolve a
    # COMMITTED retrain before rewriting the codes table
    sh.copytree(cb_path, cb_tmp)
    with open(os.path.join(cb_tmp, "_probe2"), "w") as f:
        f.write("x")
    with open(marker, "w") as f:
        _j.dump(["codebook"], f)
    prepared.vacuum_embedding_tombstones(spark, sf)
    assert os.path.exists(os.path.join(cb_path, "_probe2"))
    assert not os.path.exists(marker)

    # (h) review r8 pass-5 #4: a lingering .retrain.old beside a LIVE
    # path (failed cleanup, no marker) must be cleared by the next
    # recovery — otherwise the lock-free fast path is defeated forever
    # and every query pays the lock round-trip
    cb_old = cb_path + ".retrain.old"
    sh.copytree(cb_path, cb_old)
    prepared.embeddings_pq(spark, sf)
    assert not os.path.exists(cb_old)
    assert os.path.exists(os.path.join(cb_path, "_probe2"))  # live intact

    # every swap above (vacuum, retrain commit, recoveries) took the one
    # prepared-swap lock
    root = os.path.dirname(cb_path)
    assert [f for f in os.listdir(root) if f.endswith(".lock")] == [
        "_prep_swap.lock"
    ]


def test_compact_kv_postings_noop_without_layout(spark, tmp_path, monkeypatch):
    """Review r7 #4: the OPTIMIZE op must compact only what exists — on
    an sf_dir that never built the kv layout it returns False instead
    of building one (or crashing on a dir with no events table) as a
    maintenance side effect."""
    import os

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    sf = str(tmp_path / "docs_only_sf")
    os.makedirs(sf)
    assert prepared.compact_events_kv_postings(spark, sf) is False
    assert not os.path.exists(
        prepared.prepared_path(sf, "events_kv_postings.parquet")
    )


def test_band_drop_precedes_minhash_fold_crash_window(
    spark, tmp_path, monkeypatch
):
    """Review r7 pass-2 #2: the band-table invalidation must happen
    BEFORE the fold — a crash after the fold's manifest commit but
    before a post-fold drop would leave the bucketed band table
    permanently stale (the retry folds nothing, so an after-the-fact
    drop never fires) and silently lose near-dup candidates. Simulate
    the crash by making the fold raise after completing: the band
    table must already be gone."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    sf = str(tmp_path / "sf")
    docs.filter(F.col("doc_id") < 30).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    prepared.documents_minhash(spark, sf)
    table = prepared.lsh_bands_bucketed(spark, sf)
    assert spark.catalog.tableExists(table)
    new = docs.filter(F.col("doc_id") >= 30).limit(8).withColumn(
        "doc_id", F.col("doc_id") + 970
    )
    prepared.write_minhash_pending(sf, new, 0)

    real = prepared._merge_pending

    def crash_after_fold(*a, **kw):
        real(*a, **kw)
        raise RuntimeError("crash between fold and any post-fold step")

    monkeypatch.setattr(prepared.core, "_merge_pending", crash_after_fold)
    with pytest.raises(RuntimeError, match="crash between"):
        prepared.merge_minhash_pending(spark, sf)
    assert not spark.catalog.tableExists(table), (
        "bands must be invalidated BEFORE the fold"
    )
    monkeypatch.setattr(prepared.core, "_merge_pending", real)
    # retry converges; the band table rebuilds lazily over the merged set
    prepared.merge_minhash_pending(spark, sf)
    rebuilt = prepared.lsh_bands_bucketed(spark, sf)
    n_rows = spark.table(rebuilt).select("doc_id").distinct().count()
    assert n_rows == prepared.documents_minhash(spark, sf).count()


def test_compact_trgm_recovers_interrupted_vacuum_before_gate(
    spark, tmp_path, monkeypatch
):
    """Review r7 pass-3 #1: the trigram postings are also rewritten by
    the tombstone vacuum — a crash mid-vacuum-swap (layout renamed
    away, complete tmp present) must not make the compaction op
    misread the layout as never built and skip it; the gate recovers
    the .vacuum swap first and compacts the recovered rows."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    sf = str(tmp_path / "sf")
    docs.filter(F.col("doc_id") < 30).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    before = sorted(
        tuple(r)
        for r in prepared.documents_trgm_postings(spark, sf).collect()
    )
    path = prepared.prepared_path(sf, "documents_trgm_postings.parquet")
    # crash state: swap started, base renamed to tmp (tmp has _SUCCESS)
    os.rename(path, path + ".vacuum.tmp")
    assert prepared.compact_documents_trgm_postings(spark, sf) is True
    after = sorted(
        tuple(r)
        for r in prepared.documents_trgm_postings(spark, sf).collect()
    )
    assert after == before


def test_kv_rows_candidate_intersection_equals_direct_predicate(spark):
    """Soundness + completeness of the kv-postings derivation on
    adversarial rows (null event_type, uid-absent users, null/missing
    k, negative user ids): for any needle set, the candidate
    intersection over _events_kv_rows must equal direct evaluation of
    the containment predicate on the composed document — a missing
    posting loses a match (incomplete), a phantom posting admits a
    false candidate that the recheck would scan for nothing."""
    from pyspark.sql import functions as F

    from venus_spark.prepared import _events_kv_rows

    rows = [
        # event_id, ts, user_id, event_type, props
        (1, "2024-01-01 10:00:00", 1, "click", '{"k": 7}'),
        (2, "2024-01-01 10:01:00", 3, "click", '{"k": 7}'),   # uid absent
        (3, "2024-01-01 10:02:00", 4, None, '{"k": 7}'),       # type absent
        (4, "2024-01-01 10:03:00", 5, "click", '{"k": 8}'),
        (5, "2024-01-01 10:04:00", 7, "click", "{}"),          # k absent
        (6, "2024-01-01 10:05:00", -5, "click", '{"k": 7}'),   # negative uid
        (7, "2024-01-01 10:06:00", -6, "view", '{"k": 7}'),    # -6 % 3 == 0
        (8, "2024-01-01 10:07:00", 8, "view", None),           # null props
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, props string"
    )
    post = _events_kv_rows(ev)

    k = F.get_json_object("props", "$.k").cast("int")
    uid = F.when(F.col("user_id") % 3 != 0, F.col("user_id"))
    direct = {
        "k=7": k == 7,
        "k=8": k == 8,
        "type=click": F.col("event_type") == "click",
        "type=view": F.col("event_type") == "view",
        "?k": k.isNotNull(),
        "?type": F.col("event_type").isNotNull(),
        "?uid": uid.isNotNull(),
        "uid=-5": uid == -5,
    }
    needle_sets = [
        ["k=7", "type=click", "?uid"],
        ["k=7"],
        ["?k", "?type", "?uid"],
        ["type=view", "?uid"],
        ["uid=-5", "k=7"],
        ["k=8", "type=click"],
    ]
    for need in needle_sets:
        cand = sorted(
            int(r["event_id"])
            for r in post.filter(F.col("kv").isin(need))
            .groupBy("event_id")
            .agg(F.countDistinct("kv").alias("n"))
            .filter(F.col("n") == len(need))
            .collect()
        )
        import functools
        import operator

        pred = functools.reduce(
            operator.and_, (direct[kv] for kv in need)
        )
        want = sorted(
            int(r["event_id"]) for r in ev.filter(pred).collect()
        )
        assert cand == want, (need, cand, want)


@pytest.mark.parametrize("family", ["vector", "doc"])
def test_ensure_aside_window_does_not_rebuild(
    spark, tmp_path, monkeypatch, family
):
    """A reader whose unlocked pending check passed just before a
    vacuum's locked swap can observe the ASIDE WINDOW — the live path
    briefly absent between the two renames — and its unlocked
    _is_built then reads the layout as unbuilt. A from-base rebuild
    taken on that would rmtree a live generation (the IVF centroids) or
    refuse spuriously (a document index with absorbed batches), so the
    decision is re-confirmed under the swap lock, where no swap can be
    mid-aside. Simulated deterministically: the fast-path recovery is
    no-opped (= it ran before the swap began), the layout is put
    exactly into the aside state, and the ensure must RESTORE the
    displaced generation instead of rebuilding."""
    import os
    import shutil

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    if family == "vector":
        sf = str(tmp_path / "sf")
        spark.read.parquet(
            os.path.join("/root/testdata/sf0.001", "embeddings.parquet")
        ).write.parquet(os.path.join(sf, "embeddings.parquet"))
        ensure = lambda: prepared.embeddings_ivf(spark, sf)[0]  # noqa: E731
        path = prepared.prepared_path(sf, "embeddings_ivf.parquet")
        # a sibling a rebuild would rmtree with the layout
        sibling = prepared.prepared_path(sf, "embeddings_ivf_centroids.parquet")
    else:
        sf = _mk_doc_sf(spark, tmp_path)
        ensure = lambda: prepared.documents_minhash(spark, sf)  # noqa: E731
        path = prepared.prepared_path(sf, "documents_minhash.parquet")
        sibling = None
    ensure()
    # generation markers: a rebuild loses them
    if sibling is not None:
        with open(os.path.join(sibling, "_gen_probe"), "w") as f:
            f.write("g1")
    # the aside window of a vacuum swap: staging already promoted to
    # tmp, live path moved to old, tmp not yet renamed in
    shutil.copytree(path, path + ".vacuum.tmp")
    with open(os.path.join(path + ".vacuum.tmp", "_gen_probe"), "w") as f:
        f.write("g1")
    os.rename(path, path + ".vacuum.old")
    # the reader's fast-path recovery already ran (before the swap):
    monkeypatch.setattr(
        prepared.core, "_recover_prepared_swaps", lambda *a, **k: None
    )
    assert ensure().count() > 0
    # recovery, not rebuild: the staged generation (with its probe) is
    # live and the sibling was never rmtree'd
    assert os.path.exists(os.path.join(path, "_gen_probe"))
    if sibling is not None:
        assert os.path.exists(os.path.join(sibling, "_gen_probe"))
    assert not os.path.exists(path + ".vacuum.tmp")
    assert not os.path.exists(path + ".vacuum.old")


def test_doc_vacuum_stages_invisibly_to_reader_recovery(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8 #1: the document vacuum used to stage its rewrite
    directly at path+'.vacuum.tmp' unlocked, while every reader ensure
    runs a '.vacuum' recovery — a reader could rmtree the in-flight
    stage mid-write. The rewrite now stages at a recovery-invisible
    '.vacuum_staging' name: (a) a reader's recovery leaves an in-flight
    staging dir untouched; (b) a crashed prior staging is replaced by
    the next vacuum, which still makes the delete physical."""
    import os

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    sf = _mk_doc_sf(spark, tmp_path)
    prepared.documents_minhash(spark, sf)
    prepared.documents_trgm(spark, sf)
    mh_path = prepared.prepared_path(sf, "documents_minhash.parquet")

    # (a) an in-flight staging dir (no _SUCCESS yet — mid-write) must
    # survive every reader ensure's recovery pass
    staging = mh_path + ".vacuum_staging"
    os.makedirs(staging)
    with open(os.path.join(staging, "part-inflight"), "w") as f:
        f.write("half-written")
    prepared.documents_minhash(spark, sf).count()
    assert os.path.exists(os.path.join(staging, "part-inflight")), (
        "reader recovery destroyed an in-flight vacuum staging dir"
    )

    # (b) the next vacuum replaces the crashed staging and completes
    dead = [1, 2]
    prepared.tombstone_documents(spark, sf, dead, batch_id=0)
    removed = prepared.vacuum_document_tombstones(spark, sf)
    assert removed == 2 * len(dead)
    assert not os.path.exists(staging)
    raw_ids = {
        r["doc_id"]
        for r in spark.read.parquet(mh_path).select("doc_id").collect()
    }
    assert not (set(dead) & raw_ids)
    # no swap debris
    for suffix in (".vacuum.tmp", ".vacuum.old", ".vacuum_staging"):
        assert not os.path.exists(mh_path + suffix)


def test_cli_retrain_vectors_skips_unbuilt_layout(
    tmp_path, monkeypatch, capsys
):
    """ADVICE r8 #3: `maintain retrain-vectors` must not side-effect-
    build the IVF layout (via vector_artifact_drift's ensure) on an
    sf_dir that never built it — the same prepared-layout existence
    guard `maintain auto` applies."""
    import os

    from venus_spark import prepared
    from venus_spark.__main__ import main

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    os.symlink(
        os.path.join(src, "embeddings.parquet"),
        os.path.join(sf, "embeddings.parquet"),
    )
    rc = main(["maintain", "retrain-vectors", "--sf", sf])
    assert rc == 0
    assert "skipped" in capsys.readouterr().out
    assert not os.path.exists(
        prepared.prepared_path(sf, "embeddings_ivf.parquet")
    ), "retrain-vectors side-effect-built the IVF layout"


def test_cli_maintain_auto_isolates_step_failures(
    spark, tmp_path, monkeypatch, capsys
):
    """ADVICE r8 #2: `maintain auto` claimed step-failure isolation but
    only guarded the retrain step — an exception in merge-index (here:
    a poisoned pending layout) must be RECORDED while every later step
    still runs, and the nightly exits nonzero."""
    from venus_spark import prepared
    from venus_spark import __main__ as cli
    from venus_spark.__main__ import main

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    sf = _mk_doc_sf(spark, tmp_path)
    prepared.documents_minhash(spark, sf)

    def boom(*_a, **_k):
        raise RuntimeError("poisoned pending list")

    monkeypatch.setattr(cli, "_merge_all_pending", boom)
    rc = main(["maintain", "auto", "--sf", sf])
    out = capsys.readouterr().out
    assert rc == 1
    assert "merge-index FAILED" in out
    # later steps still ran
    assert "vacuum-deletes" in out and "compact-postings" in out


def test_dfreq_staged_refresh_invisible_and_recoverable(
    spark, tmp_path, monkeypatch
):
    """Review r9 pass-6 #1: the documents dfreq/stats refreshes used to
    be plain mode('overwrite') — torn/unstamped for the duration of a
    Spark job on the LIVE merge cadence, where a racing query's ensure
    would spuriously refuse (absorbed batches) or rebuild. They now
    stage + swap: (a) an in-flight .refresh_staging survives reader
    recovery and never makes the live dir look unbuilt; (b) a crashed
    .refresh swap heals on the next read; (c) the merge cadence leaves
    a stamped dfreq whose rows match a from-scratch derivation."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    sf = _mk_doc_sf(spark, tmp_path)
    prepared.documents_postings(spark, sf)
    dfreq_path = prepared.prepared_path(sf, "documents_dfreq.parquet")

    # (a) in-flight staging is recovery-invisible; live dir stays built
    staging = dfreq_path + ".refresh_staging"
    os.makedirs(staging)
    with open(os.path.join(staging, "part-inflight"), "w") as f:
        f.write("half-written")
    before = sorted(os.listdir(dfreq_path))
    prepared.documents_postings(spark, sf)  # reader ensure
    assert os.path.exists(os.path.join(staging, "part-inflight"))
    assert sorted(os.listdir(dfreq_path)) == before  # no rebuild
    import shutil as _sh

    _sh.rmtree(staging)

    # (b) crashed swap (tmp staged complete, live displaced) heals
    _sh.copytree(dfreq_path, dfreq_path + ".refresh.tmp")
    with open(os.path.join(dfreq_path + ".refresh.tmp", "_gen"), "w") as f:
        f.write("g2")
    os.rename(dfreq_path, dfreq_path + ".refresh.old")
    prepared.documents_postings(spark, sf)
    assert os.path.exists(os.path.join(dfreq_path, "_gen"))
    assert not os.path.exists(dfreq_path + ".refresh.tmp")
    assert not os.path.exists(dfreq_path + ".refresh.old")

    # (c) live-cadence merge: staged refresh ends stamped + exact
    new = spark.createDataFrame(
        [(900, "zanzibar quux corge grault", "en", "web", 26)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    prepared.write_postings_pending(sf, new, 5)
    assert prepared.merge_postings_pending(spark, sf) > 0
    assert prepared._is_built(dfreq_path, prepared._POSTINGS_META)
    got = {
        (r["term"], r["df"])
        for r in spark.read.parquet(dfreq_path).collect()
    }
    post_path = prepared.prepared_path(sf, "documents_postings.parquet")
    want = {
        (r["term"], r["df"])
        for r in spark.read.parquet(post_path)
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .collect()
    }
    assert got == want and ("zanzibar", 1) in got


def test_nightly_on_an_unchanged_dir_rewrites_nothing(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    """Appends and merges land under ``abatch-*``/``pending-*`` names and
    every rewrite leaves the sorted shape, so a second back-to-back
    `maintain auto` finds nothing to compact or recluster: each postings
    layout and the Z-order layout keep their directory and files."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared
    from venus_spark.__main__ import main

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = sf_dir
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    sf = str(tmp_path / "sf")
    docs.filter(F.col("doc_id") < 40).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    ev.filter(F.col("event_id") % 5 != 0).write.parquet(
        os.path.join(sf, "events.parquet")
    )
    for fn in (
        prepared.documents_trgm,
        prepared.documents_trgm_postings,
        prepared.documents_minhash,
        prepared.documents_postings,
        prepared.events_hourly_rollup,
        prepared.events_daily_hll,
        prepared.events_by_date,
        prepared.events_by_user,
        prepared.events_zorder,
        prepared.events_kv_postings,
    ):
        fn(spark, sf)
    prepared.append_documents_batch(
        spark,
        sf,
        docs.filter(F.col("doc_id") >= 40).withColumn(
            "doc_id", F.col("doc_id") + 960
        ),
        batch_id=1,
    )
    prepared.append_events(spark, sf, ev.filter(F.col("event_id") % 5 == 0), batch_id=1)
    paths = [
        prepared.prepared_path(sf, name)
        for name in (
            "documents_postings.parquet",
            "documents_trgm_postings.parquet",
            "events_kv_postings.parquet",
            "events_zorder.parquet",
        )
    ]

    def state():
        return {p: (os.stat(p).st_ino, sorted(os.listdir(p))) for p in paths}

    appended = state()
    assert main(["maintain", "auto", "--sf", sf]) == 0, capsys.readouterr().out
    first = state()
    # the first run folded the batches in: every layout was rewritten
    assert all(first[p][0] != appended[p][0] for p in paths)
    assert main(["maintain", "auto", "--sf", sf]) == 0, capsys.readouterr().out
    assert state() == first


def test_nightly_sweeps_stale_stagings(spark, tmp_path, monkeypatch, capsys):
    """Review r9 pass-7 #5: a crashed writer's *_staging dir is
    recovery-invisible to readers by design, so only the maintenance
    window can reclaim it — the nightly's first step sweeps them."""
    import os

    from venus_spark import prepared
    from venus_spark.__main__ import main

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    sf = _mk_doc_sf(spark, tmp_path)
    prepared.documents_minhash(spark, sf)
    mh_path = prepared.prepared_path(sf, "documents_minhash.parquet")
    stale = mh_path + ".vacuum_staging"
    os.makedirs(stale)
    with open(os.path.join(stale, "leftover"), "w") as f:
        f.write("x")
    rc = main(["maintain", "auto", "--sf", sf])
    out = capsys.readouterr().out
    assert rc == 0, out
    assert "sweep-stagings 1 dir(s)" in out
    assert not os.path.exists(stale)


def test_swap_in_locked_refuses_torn_staging(spark, tmp_path, monkeypatch):
    """Review r9 pass-9 #4 pins pass-7's guard: a staging directory
    without _SUCCESS (writer bug, or a contract-violating concurrent
    writer clobbering the shared staging name) must fail LOUDLY instead
    of being renamed in as the live generation — the
    complete-generation-wins rule applied at the swap source."""
    import os

    import pytest

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    sf = _mk_doc_sf(spark, tmp_path)
    prepared.documents_postings(spark, sf)
    dfreq = prepared.prepared_path(sf, "documents_dfreq.parquet")
    torn = dfreq + ".refresh_staging"
    os.makedirs(torn)
    with open(os.path.join(torn, "part-torn"), "w") as f:
        f.write("half")
    before = sorted(os.listdir(dfreq))
    with pytest.raises(RuntimeError, match="incomplete"):
        prepared._swap_in_locked(sf, dfreq, ".refresh", torn)
    # the live generation is untouched and still served
    assert sorted(os.listdir(dfreq)) == before
    prepared.documents_postings(spark, sf)


def test_ivf_centroids_round_discipline_stamp(spark, tmp_path, monkeypatch):
    """The IVF centroid table bakes davg-ROUNDED values, so it carries
    the rounding-discipline meta stamp. Pins: (a) the build stamps;
    (c) a current stamp does NOT rebuild (same _SUCCESS inode). A
    stale stamp is (b) of
    :func:`test_stale_round_stamp_rebuilds_or_refuses`."""
    import json
    import os

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    sf = str(tmp_path / "emb_sf")
    spark.read.parquet(os.path.join(src, "embeddings.parquet")).write.parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    prepared.embeddings_ivf(spark, sf)
    cent_path = prepared.prepared_path(sf, "embeddings_ivf_centroids.parquet")
    # (a) the build stamps the current discipline
    with open(os.path.join(cent_path, "_prep_meta.json")) as f:
        assert json.load(f) == prepared._IVF_CENT_META
    # (c) current stamp: ensure is a no-op (same _SUCCESS inode)
    marker = os.path.join(cent_path, "_SUCCESS")
    ino = os.stat(marker).st_ino
    prepared.embeddings_ivf(spark, sf)
    assert os.stat(marker).st_ino == ino


@pytest.mark.parametrize("family", ["ivf", "postings"])
def test_stale_round_stamp_rebuilds_or_refuses(
    spark, tmp_path, monkeypatch, family
):
    """A layout stamped under an older rounding discipline (no current
    ``round`` key) is stale like any other stamp mismatch: with no
    absorbed batch the next ensure rebuilds it from base — current
    stamp, same rows; once the layout holds an absorbed batch the
    ensure refuses loudly and leaves it on disk, because a from-base
    rebuild would drop the batch's rows."""
    import json
    import os

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    if family == "ivf":
        sf = str(tmp_path / "emb_sf")
        spark.read.parquet(
            os.path.join("/root/testdata/sf0.001", "embeddings.parquet")
        ).write.parquet(os.path.join(sf, "embeddings.parquet"))
        ensure = lambda: prepared.embeddings_ivf(spark, sf)  # noqa: E731
        meta = prepared._IVF_CENT_META
        absorbing = prepared.prepared_path(sf, "embeddings_ivf.parquet")
        stamped = [prepared.prepared_path(sf, "embeddings_ivf_centroids.parquet")]
    else:
        sf = _mk_doc_sf(spark, tmp_path, name="stale_sf")
        ensure = lambda: prepared.documents_postings(spark, sf)  # noqa: E731
        meta = prepared._POSTINGS_META
        absorbing = prepared.prepared_path(sf, "documents_postings.parquet")
        stamped = [
            prepared.prepared_path(sf, n)
            for n in (
                "documents_postings.parquet",
                "documents_dfreq.parquet",
                "documents_stats.parquet",
            )
        ]

    def rows():
        return [sorted(map(tuple, df.collect())) for df in ensure()]

    def stale_stamps():
        stale = {k: v for k, v in meta.items() if k != "round"}
        for p in stamped:
            with open(os.path.join(p, "_prep_meta.json"), "w") as f:
                json.dump(stale, f)

    want = rows()
    # (b) no absorbed batch: rebuilt from base (the generation probe
    # goes with the old directory)
    stale_stamps()
    for p in stamped:
        open(os.path.join(p, "_gen_probe"), "w").close()
    assert rows() == want
    for p in stamped:
        assert not os.path.exists(os.path.join(p, "_gen_probe"))
        with open(os.path.join(p, "_prep_meta.json")) as f:
            assert json.load(f) == meta
    # (f) an absorbed batch: refused, the layout left as it was
    prepared._write_abatch_manifest(absorbing, {7})
    stale_stamps()
    with pytest.raises(RuntimeError, match="appended/streamed"):
        ensure()
    for p in stamped:
        assert os.path.exists(os.path.join(p, "_SUCCESS"))
    assert prepared._read_abatch_manifest(absorbing) == {7}


def test_colocated_live_agrees_with_live_on_streamed_corpus(
    spark, tmp_path, monkeypatch
):
    """VERDICT r13 #2: a streamed batch sitting in the MinHash PENDING
    list must be visible to the bucketed-layout dedup pass via its
    live twin — `dedup_minhash_lsh_colocated_live` must return exactly
    `dedup_minhash_lsh_live`'s rows (base∪pending), while the
    steady-state `dedup_minhash_lsh_colocated` (by contract: merged
    index only) misses the pending docs. After the merge folds, all
    three agree."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared
    from venus_spark.plans import all_plans

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    sf = str(tmp_path / "sf")
    base = docs.filter(F.col("doc_id") < 40)
    base.write.parquet(os.path.join(sf, "documents.parquet"))
    plans = all_plans()

    def rows(name):
        return {
            tuple(r)
            for r in plans[name].fn(spark, sf).collect()
        }

    # quiescent: all three identical
    live0 = rows("dedup_minhash_lsh_live")
    assert rows("dedup_minhash_lsh_colocated_live") == live0
    assert rows("dedup_minhash_lsh_colocated") == live0

    # stream a batch that near-duplicates a base doc: copy a base doc
    # under a new id (jaccard 1.0 with its source)
    dup = base.limit(2).withColumn("doc_id", F.col("doc_id") + 9000)
    prepared.write_minhash_pending(sf, dup, 0)

    live1 = rows("dedup_minhash_lsh_live")
    assert live1 > live0  # the streamed dups created new pairs
    got = rows("dedup_minhash_lsh_colocated_live")
    assert got == live1, (
        f"colocated_live diverged: missing {live1 - got}, "
        f"extra {got - live1}"
    )
    # shape: the pending×merged leg must BROADCAST the O(batch) pending
    # side — a shuffled cross-set join here would re-shuffle the corpus
    # per micro-batch and defeat the bucketed layout's purpose
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plans["dedup_minhash_lsh_colocated_live"].fn(spark, sf).explain(
            "formatted"
        )
    assert "BroadcastExchange" in buf.getvalue()
    # the steady-state twin contractually serves the merged index only
    assert rows("dedup_minhash_lsh_colocated") == live0

    # fold the pending list: every path converges
    assert prepared.merge_minhash_pending(spark, sf) > 0
    assert rows("dedup_minhash_lsh_colocated") == live1
    assert rows("dedup_minhash_lsh_colocated_live") == live1


def test_band_table_fingerprint_guard_catches_foreign_merge(
    spark, tmp_path, monkeypatch
):
    """VERDICT r13 #2 (staleness bound): the bucketed band table's
    stamp records a fingerprint of the MinHash layout it was built
    from; when ANOTHER process merges/vacuums the index (modeled here
    by suppressing the in-session `_drop_lsh_bands` hook), the next
    `lsh_bands_bucketed` call must detect the source drift and rebuild
    instead of serving stale bands that silently drop candidate
    pairs."""
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared
    from venus_spark.prepared import buckets as bk

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    sf = str(tmp_path / "sf")
    docs.filter(F.col("doc_id") < 30).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    table = prepared.lsh_bands_bucketed(spark, sf)
    n0 = spark.table(table).select("doc_id").distinct().count()

    new = docs.filter(F.col("doc_id") >= 30).limit(6).withColumn(
        "doc_id", F.col("doc_id") + 970
    )
    prepared.write_minhash_pending(sf, new, 0)
    # model a merge performed by a DIFFERENT process: this session's
    # invalidation hook never fires, only the files change on disk
    monkeypatch.setattr(bk, "_drop_lsh_bands", lambda *a, **k: None)
    monkeypatch.setattr(
        prepared.docs._buckets, "_drop_lsh_bands", lambda *a, **k: None
    )
    assert prepared.merge_minhash_pending(spark, sf) > 0
    assert spark.catalog.tableExists(table), "hook suppressed, table kept"

    table2 = prepared.lsh_bands_bucketed(spark, sf)
    assert table2 == table
    n1 = spark.table(table2).select("doc_id").distinct().count()
    assert n1 == n0 + 6, (
        f"fingerprint guard failed: band table still has {n1} docs "
        f"(expected {n0 + 6}) after a foreign merge"
    )


def test_cross_process_merge_visible_and_retryable(spark, tmp_path, monkeypatch):
    """r14 chaos probe, pinned: a MinHash pending merge performed by a
    DIFFERENT process must (a) become visible to this session's live
    view without a restart — Spark's per-session FileStatusCache made
    merged batches invisible forever before the mtime-gated
    refreshByPath guard (core._refresh_on_external_change) — and
    (b) absorb a reader racing a merge's file moves INSIDE the engine
    (r15): the torn plan may fail under the hood (two-directory unions
    have no snapshot isolation without a lakehouse format — the
    documented gap), but the live view is retry-armed
    (venus_spark/retry.py), so ``.count()`` re-plans against refreshed
    listings and succeeds without any caller-side retry loop — the
    reader below deliberately carries NONE. Every observed cardinality
    must be a valid pre/post-merge view (base + 4k docs), never a
    partial or double-counted one."""
    import os
    import subprocess
    import sys
    import threading
    import time

    from pyspark.sql import functions as F

    from venus_spark import prepared

    prep = str(tmp_path / "prep")
    monkeypatch.setattr(prepared, "PREPARED_ROOT", prep)
    sf = str(tmp_path / "sf")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.filter(F.col("doc_id") < 40).write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    prepared.documents_minhash(spark, sf)

    stop = threading.Event()
    counts: list[int] = []
    hard: list[str] = []

    def reader():
        # NO caller-side retry: the engine's retry-armed live view
        # must absorb raced merges itself (VERDICT r14 #2).
        while not stop.is_set():
            try:
                counts.append(
                    prepared.documents_minhash_live(spark, sf).count()
                )
            except Exception as e:  # pragma: no cover - failure detail
                hard.append(repr(e)[:300])
                return

    t = threading.Thread(target=reader)
    t.start()
    script = f"""
import os
os.environ["SPARK_GRAFT_PREPARED_DIR"] = {prep!r}
import venus_spark.prepared as pkg
pkg.PREPARED_ROOT = {prep!r}
from pyspark.sql import functions as F
from venus_spark.session import get_spark
from venus_spark import prepared
spark = get_spark(cpus=4)
docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
for i in range(4):
    b = docs.filter(F.col("doc_id") >= 40).limit(4).withColumn(
        "doc_id", F.col("doc_id") + 9000 + i * 100)
    prepared.write_minhash_pending({sf!r}, b, batch_id=i)
    prepared.merge_minhash_pending(spark, {sf!r})
print("WRITER-DONE")
"""
    try:
        out = subprocess.run(
            [sys.executable, "-c", script],
            capture_output=True,
            text=True,
            timeout=300,
            cwd=os.path.join(os.path.dirname(__file__), ".."),
        )
        time.sleep(1)
    finally:
        stop.set()
        t.join(timeout=180)
    assert out.returncode == 0 and "WRITER-DONE" in out.stdout, out.stderr[-2000:]
    assert not hard, f"retry after a raced merge failed: {hard[0]}"
    valid = {40 + 4 * k for k in range(5)}
    assert set(counts) <= valid, f"invalid cardinalities: {sorted(set(counts) - valid)}"
    # the foreign process's merges became visible without a restart
    assert prepared.documents_minhash_live(spark, sf).count() == 56
    assert max(counts) == 56 or counts[-1] == 56
