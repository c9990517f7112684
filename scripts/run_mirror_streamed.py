"""Streamed-sink oracle mirror (VERDICT r8 #6 + r9 #2): certify EVERY
live plan family on the UNION path, not the degraded one.

The plain mirror (``run_mirror.py``) runs every plan on quiescent sf
dirs, where the live plans degrade to the prepared-only branch — their
green rows certify the degraded path and the streamed half lives only
in pytest. This script builds a workspace sf dir (base tables
symlinked), LANDS REAL STREAMED BATCHES through the same foreachBatch
writers a deployment runs, then compares each live plan against its own
registered oracle SQL evaluated over the UNION corpus in DuckDB — so
the committed artifact hash-certifies the base-∪-sink serve path end to
end.

Three legs:

- EVENTS (VERDICT r8 #6, landed r9): ``start_events_rollup_ingest``
  lands kv postings, dfreq partials, rollup, facts, commit receipt;
  the oracle's ``events`` view becomes base UNION ALL sink facts; the
  three events live plans are hash-certified with a cold-vs-live
  containment row-count proof that the union path answered.
- DOCUMENTS (VERDICT r9 #2, this round): ``start_documents_ingest``
  lands document batches with write-time index maintenance (MinHash +
  positional postings + trigram postings pending lists, NO merge — the
  pending union IS the certified path); the oracle's ``documents`` view
  becomes base UNION ALL sink documents; the six documents-family live
  twins are hash-certified, each with its own union-path proof: a
  streamed needle document that the PREPARED twin provably cannot see
  (it is absent from the cold result and present in the live one).
  Reference analog: the GIN index serves freshly-inserted rows
  identically (alembic migration 37716151a213 :21,36).
- EMBEDDINGS (VERDICT r10 #1, this round): ``start_embeddings_ingest``
  lands vector batches with write-time IVF/PQ maintenance (direct
  layout appends — the vector family has no pending lists); the
  oracle's ``embeddings`` view becomes base UNION ALL sink vectors;
  the four vector plans are hash-certified post-append (an appended
  needle ranks where the cold run could not have it), the two
  ``sim_*_live`` twins are certified over a deliberately-withheld
  crash-window batch the prepared twins provably cannot see, and the
  replay's own append heals the window back to prepared/hash-green
  (exactly-once convergence). Probe-set and codebook-sample screens
  make the frozen-centroid-vs-union-oracle comparison sound (see the
  vectors block comment).

The artifact fails unless every hash matches AND every union proof
engaged.

Usage::

    python scripts/run_mirror_streamed.py MIRROR_STREAMED_r10.json \
        [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from run_mirror import to_record  # noqa: E402  (same dir at runtime)

EVENT_LIVE_PLANS = (
    "json_containment_indexed_live",
    "json_key_discovery_live",
    "json_key_frequency_live",
)

# streamed events: ids disjoint from every base corpus by contract
# (events_stream_sink_dir docstring); two containment MATCHES, one miss
# per conjunct, spread over two micro-batches so multi-batch union +
# dfreq partial summing is on the certified path
_EVENT_BATCHES = [
    [
        dict(event_id=9_000_001, ts="2024-06-01 10:01:00", user_id=7,
             event_type="click", value=1.0, props='{"k": 7}'),
        dict(event_id=9_000_002, ts="2024-06-01 10:02:00", user_id=9,
             event_type="click", value=1.0, props='{"k": 7}'),  # uid absent
        dict(event_id=9_000_003, ts="2024-06-01 10:03:00", user_id=8,
             event_type="view", value=1.0, props='{"k": 7}'),
    ],
    [
        dict(event_id=9_000_004, ts="2024-06-01 11:01:00", user_id=11,
             event_type="click", value=2.0, props='{"k": 7}'),
        dict(event_id=9_000_005, ts="2024-06-01 11:02:00", user_id=13,
             event_type="click", value=2.0, props='{"k": 8}'),
    ],
]
_EXPECT_NEW_EVENT_MATCHES = 2  # 9_000_001 and 9_000_004

# streamed documents: ids disjoint from every base corpus; each batch
# mixes needle documents (one per live plan family, built against the
# plans' registered query constants) with needle-free filler, spread
# over two micro-batches so the multi-batch pending union is certified.
# d6's text is filled in at runtime: a VERBATIM copy of base doc 0
# (jaccard 1.0 — a guaranteed LSH candidate + verified pair).
_DOC_NEEDLES = {
    # bm25_topk_live: saturated in all three _BM25_TERMS -> must rank
    "bm25": dict(doc_id=9_100_001, text=(
        "vector stream merge vector stream merge vector merge stream "
        "vector merge stream vector stream merge"
    )),
    # boolean_search_live: both _BOOL_MUST, never _BOOL_NOT ("stream")
    "bool": dict(doc_id=9_100_002, text=(
        "vector merge pipeline vector merge compaction units nightly"
    )),
    # needle-free filler (both batches carry some)
    "filler1": dict(doc_id=9_100_005, text=(
        "gardening tomatoes thrive with afternoon light and patience"
    )),
    # proximity_search_live + fuzzy_trgm_postings_live: "hash join"
    # adjacent (slop 0 <= 3) and substring-matches '%hash join%'
    "prox_fuzzy": dict(doc_id=9_100_003, text=(
        "the planner picked a hash join for the probe side build"
    )),
    # phrase_search_kterm_live: the 3-token phrase "big order scan"
    "kphrase": dict(doc_id=9_100_004, text=(
        "we ran one big order scan over the cold tier yesterday"
    )),
    # dedup_minhash_lsh_live: text assigned at runtime — a VERBATIM
    # copy of the first base doc containing NO fuzzy pattern (screened
    # against the plan's own _PATTERNS so the copy cannot perturb the
    # fuzzy +1 proof on an arbitrary --sf corpus)
    "neardup": dict(doc_id=9_100_006, text=None),
    "filler2": dict(doc_id=9_100_007, text=(
        "sourdough starter needs regular feeding and a warm shelf"
    )),
}

# live plan -> (cold PREPARED twin, id column, streamed needle doc_id):
# the proof that the union path answered — the needle is in the live
# result and absent from the cold twin's. fuzzy_trgm_postings_live
# aggregates to (lang, n_docs), so its proof is count-based instead
# (handled separately below): live 'en' count == cold + 1 (the
# streamed 'hash join' document).
_DOC_PROOFS = {
    "bm25_topk_live": ("bm25_topk_prepared", "doc_id", 9_100_001),
    "boolean_search_live": ("boolean_search_prepared", "doc_id", 9_100_002),
    "proximity_search_live": ("proximity_search_prepared", "doc_id", 9_100_003),
    "phrase_search_kterm_live": ("phrase_search_kterm", "doc_id", 9_100_004),
    "dedup_minhash_lsh_live": ("dedup_minhash_lsh_prepared", "id_b", 9_100_006),
    # r14: the bucketed-layout live twin — same near-dup needle; its
    # cold twin reads ONLY the bucketed band table (merged index), so
    # the needle pair proves the pending-broadcast legs answered
    "dedup_minhash_lsh_colocated_live": (
        "dedup_minhash_lsh_colocated", "id_b", 9_100_006
    ),
}
_FUZZY_LIVE = ("fuzzy_trgm_postings_live", "fuzzy_trgm_postings")

# ------------------------------------------------------------------ vectors
# (VERDICT r10 #1) streamed embeddings: the write-time IVF/PQ index
# maintenance appends DIRECTLY into the prepared layouts (no pending
# lists), so after a drained stream the PREPARED twins serve streamed
# vectors — the post-append leg certifies exactly that against the
# union oracle; the LIVE twins additionally serve the sink-landed-but-
# not-yet-appended crash window, certified by landing one batch with
# the index append deliberately withheld (the crash state the
# checkpoint replay heals), then healing it via the replay's own
# append and re-certifying the prepared twins (exactly-once
# convergence).
#
# The IVF oracle recomputes centroids over the union view while the
# plans probe the FROZEN base-trained centroid table (the standard IVF
# posture: offline retrain); the certificate is sound only when both
# probes choose the same clusters, so the leg SCREENS probe-set
# equality (and PQ codebook-sample stability) and raises a targeted
# error instead of a confusing hash mismatch if a corpus ever violates
# it. Streamed vectors are few and near the query/cluster means, so
# the top-nprobe ranking has macroscopic margins.
_VEC_PLANS_PREPARED = ("sim_ivf_topk_prepared", "sim_pq_adc_prepared")
_VEC_PLANS_LIVE = ("sim_ivf_topk_live", "sim_pq_adc_live")
_VEC_NEEDLE_APPENDED = 9_200_001  # streamed batch 0, index-absorbed
_VEC_NEEDLE_PENDING = 9_200_002   # crash-window batch, sink-only
_VEC_CRASH_BID = 9


def _vec_probe_labels(spark, sf: str):
    """(probed labels, query vector, unprobed labels) — the plans' own
    frozen-centroid probe, via the SHARED helper the plans themselves
    run (review r11 pass-1 #4: no hand-copied probe logic here)."""
    from venus_spark.plans.pipeline_ann import frozen_ivf_probe

    return frozen_ivf_probe(spark, sf)


def _vec_rows(
    qvec: list[float], needle_label: int, filler_label: int
) -> list[list[dict]]:
    """Two streamed micro-batches, constructed so the union-recomputed
    oracle centroids CANNOT flip the frozen probe set (the screen in
    main verifies they did not):

    - the appended needle is cosine-close to the query and lands in the
      TOP probed cluster — it pulls that centroid further toward the
      query, which can only promote an already-first cluster;
    - fillers are negated-query vectors landing in an UNPROBED cluster —
      they pull that centroid away from the query, which can only
      demote a cluster that already lost the probe.
    """

    def near_query(vec_id: int, eps: float) -> dict:
        return dict(
            vec_id=vec_id,
            embedding=[x + eps * (i % 2) for i, x in enumerate(qvec)],
            label=needle_label,
        )

    def far(vec_id: int) -> dict:
        # negated query: cosine ~ -1, guaranteed out of every top-k
        return dict(
            vec_id=vec_id,
            embedding=[-x for x in qvec],
            label=filler_label,
        )

    return [
        [near_query(_VEC_NEEDLE_APPENDED, 1e-3), far(9_200_003)],
        [far(9_200_004), far(9_200_005)],
    ]


def _ilike(text: str, pattern: str) -> bool:
    """Python evaluation of a SQL ILIKE pattern (the screen below must
    apply the plans' own pattern constants to the static needles)."""
    import re

    rx = "".join(
        ".*" if ch == "%" else "." if ch == "_" else re.escape(ch)
        for ch in pattern
    )
    # DOTALL: SQL %/_ span newlines; without it the screen would pass
    # a newline-bearing needle that really matches (review r11 pass-3 #4)
    return (
        re.fullmatch(rx, text, flags=re.IGNORECASE | re.DOTALL) is not None
    )


def _screen_static_needles() -> None:
    """Build-time screen (ADVICE r10 #5): every static needle EXCEPT
    prox_fuzzy (which matches '%hash join%' by design — that IS the
    fuzzy +1 proof) must match NO pattern in the fuzzy plans'
    _PATTERNS, mirroring the runtime screen applied to the copied
    near-dup document. Without this, a future pattern addition that
    happens to match a static needle (e.g. a 'merge' phrase) would
    break the exact +1 proof as a confusing mirror failure instead of
    this targeted error."""
    from venus_spark.plans.venus_surface import _PATTERNS

    for key, spec in _DOC_NEEDLES.items():
        if key == "prox_fuzzy" or spec["text"] is None:
            continue
        hits = [p for p in _PATTERNS if _ilike(spec["text"], p)]
        if hits:
            raise SystemExit(
                f"static needle {key!r} (doc_id {spec['doc_id']}) matches "
                f"fuzzy pattern(s) {hits} — it would add extra fuzzy "
                "matches and break the exact +1 union proof; reword the "
                "needle text"
            )


def _doc_rows(spark, sf: str) -> list[dict]:
    from pyspark.sql import functions as F

    from venus_spark.plans.venus_surface import _PATTERNS

    _screen_static_needles()
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    # near-dup base: the first document matching NO fuzzy pattern, so
    # its verbatim streamed copy cannot add a second fuzzy match and
    # break the exact +1 proof (review r10 pass-2 #4 — doc 0 happens
    # to be clean at the default sf, but that was data luck)
    clean = docs.filter(F.col("text").isNotNull() & (F.length("text") > 0))
    for p in _PATTERNS:
        clean = clean.filter(~F.col("text").ilike(p))
    base = clean.orderBy("doc_id").first()
    if base is None:
        raise SystemExit("no pattern-free base document to copy")
    rows = []
    for key, spec in _DOC_NEEDLES.items():
        text = spec["text"] if spec["text"] is not None else base["text"]
        rows.append(
            dict(
                doc_id=spec["doc_id"],
                text=text,
                lang="en",
                source="stream",
                n_chars=len(text),
            )
        )
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("out", help="output JSON path, e.g. MIRROR_STREAMED_r10.json")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--cpus", type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    )
    args = ap.parse_args()

    from venus_spark import prepared
    from venus_spark.oracle import compare, duckdb_connect
    from venus_spark.plans import all_plans
    from venus_spark.session import get_spark
    from venus_spark.sources import TABLES
    from venus_spark.streaming import (
        EVENTS_STREAM_SCHEMA,
        events_stream_sink_dir,
        start_documents_ingest,
        start_events_rollup_ingest,
    )

    spark = get_spark(cpus=args.cpus)
    t0 = time.time()

    # workspace sf dir: base tables symlinked. The sf BASENAME must be
    # unique per run — prepared_path namespaces artifacts by basename
    # alone, so a constant name would silently reuse (or concurrently
    # clobber) a crashed prior run's prepared layouts, certifying
    # against the wrong corpus (review r9 pass-2 #2). The mkdtemp
    # suffix provides the uniqueness.
    work = tempfile.mkdtemp(prefix="streamed_mirror_")
    sf_name = f"sf_{os.path.basename(work)}"
    sf = os.path.join(work, sf_name)
    os.makedirs(sf)
    for t in TABLES:
        src = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(sf, f"{t}.parquet"))

    try:
        plans = all_plans()
        results = {}
        ok = True

        # ------------------------------------------------------ events leg
        landing = os.path.join(work, "landing")
        os.makedirs(landing)
        for i, batch in enumerate(_EVENT_BATCHES):
            with open(os.path.join(landing, f"b{i}.jsonl"), "w") as f:
                f.write("\n".join(json.dumps(e) for e in batch))
        sink = events_stream_sink_dir(sf)
        q = start_events_rollup_ingest(
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(landing),
            sink_dir=sink,
            checkpoint_dir=os.path.join(work, "ckpt"),
            trigger_seconds=None,  # availableNow: drain and stop
        )
        if not q.awaitTermination(300):
            print(json.dumps({"error": "events ingest did not drain in 300 s"}))
            return 1

        # -------------------------------------------------- documents leg
        # base document indexes FIRST (the pending lists append to
        # them; a deployment prepares before it streams)
        prepared.documents_postings(spark, sf)
        prepared.documents_trgm_postings(spark, sf)
        prepared.documents_minhash(spark, sf)
        doc_rows = _doc_rows(spark, sf)
        doc_landing = os.path.join(work, "doc_landing")
        os.makedirs(doc_landing)
        halves = (doc_rows[: len(doc_rows) // 2], doc_rows[len(doc_rows) // 2:])
        for i, chunk in enumerate(halves):
            with open(os.path.join(doc_landing, f"d{i}.jsonl"), "w") as f:
                f.write("\n".join(json.dumps(r) for r in chunk))
        from venus_spark.streaming import documents_stream_sink_dir

        # the CONVENTIONAL sink location: the live fuzzy plan's verify
        # unions this sink's documents with the base corpus
        doc_sink = documents_stream_sink_dir(sf)
        doc_schema = spark.read.parquet(
            os.path.join(sf, "documents.parquet")
        ).schema
        q2 = start_documents_ingest(
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", 1)
            .json(doc_landing),
            sink_dir=doc_sink,
            checkpoint_dir=os.path.join(work, "doc_ckpt"),
            index_sf_dir=sf,
            trigger_seconds=None,  # availableNow; NO merge — the pending
            # union is exactly the path this artifact certifies
        )
        if not q2.awaitTermination(300):
            print(json.dumps({"error": "docs ingest did not drain in 300 s"}))
            return 1

        # ------------------------------------------------- embeddings leg
        # base vector layouts FIRST (a deployment prepares before it
        # streams), cold captures BEFORE any vector lands
        from venus_spark import prepared as prep

        prep.embeddings_ivf(spark, sf)
        prep.embeddings_pq(spark, sf)
        vec_labels, qvec, vec_unprobed = _vec_probe_labels(spark, sf)
        if not vec_unprobed:
            print(json.dumps({"error": "no unprobed cluster for fillers"}))
            return 1
        vec_cold = {
            n: [int(r["vec_id"]) for r in plans[n].fn(spark, sf).collect()]
            for n in _VEC_PLANS_PREPARED + _VEC_PLANS_LIVE
        }
        for live, cold in zip(_VEC_PLANS_LIVE, _VEC_PLANS_PREPARED):
            if vec_cold[live] != vec_cold[cold]:
                print(json.dumps({"error": f"{live} != {cold} quiescent"}))
                return 1
        vec_batches = _vec_rows(qvec, vec_labels[0], vec_unprobed[-1])
        vec_landing = os.path.join(work, "vec_landing")
        os.makedirs(vec_landing)
        for i, chunk in enumerate(vec_batches):
            with open(os.path.join(vec_landing, f"v{i}.jsonl"), "w") as f:
                f.write("\n".join(json.dumps(r) for r in chunk))
        from venus_spark.streaming import (
            embeddings_stream_sink_dir,
            start_embeddings_ingest,
        )

        vec_sink = embeddings_stream_sink_dir(sf)
        emb_schema = spark.read.parquet(
            os.path.join(sf, "embeddings.parquet")
        ).schema
        q3 = start_embeddings_ingest(
            spark.readStream.schema(emb_schema)
            .option("maxFilesPerTrigger", 1)
            .json(vec_landing),
            sink_dir=vec_sink,
            checkpoint_dir=os.path.join(work, "vec_ckpt"),
            index_sf_dir=sf,
            trigger_seconds=None,  # availableNow: drain and stop
        )
        if not q3.awaitTermination(300):
            print(json.dumps({"error": "embeddings ingest did not drain"}))
            return 1

        # the oracle's world: base UNION ALL each sink's rows (the
        # _batch_id partition dirs and the events sink's attempt dirs
        # are layout, not data — the non-hive read keeps them out; the
        # events sink holds no uncommitted attempt here)
        con = duckdb_connect(sf)
        cols = "event_id, ts, user_id, event_type, value, props"
        con.execute(
            f"""
            CREATE OR REPLACE VIEW events AS
            SELECT {cols} FROM '{os.path.join(sf, "events.parquet")}'
            UNION ALL
            SELECT {cols} FROM read_parquet(
                '{os.path.join(sink, "events")}/*/*.parquet')
            """
        )
        dcols = "doc_id, text, lang, source, n_chars"
        con.execute(
            f"""
            CREATE OR REPLACE VIEW documents AS
            SELECT {dcols} FROM '{os.path.join(sf, "documents.parquet")}'
            UNION ALL
            SELECT {dcols} FROM read_parquet(
                '{os.path.join(doc_sink, "documents")}/*/*.parquet')
            """
        )
        vcols = "vec_id, embedding, label"
        con.execute(
            f"""
            CREATE OR REPLACE VIEW embeddings AS
            SELECT {vcols} FROM '{os.path.join(sf, "embeddings.parquet")}'
            UNION ALL
            SELECT {vcols} FROM read_parquet(
                '{os.path.join(vec_sink, "embeddings")}/*/*.parquet')
            """
        )

        # SCREENS (see the vectors block comment): the certificate is
        # sound only if the oracle's union-recomputed probe picks the
        # SAME clusters as the plans' frozen centroids, and the PQ
        # codebook sample is unreachable by the streamed ids. The
        # oracle-side probe runs the oracle's OWN probe CTE
        # (ivf_probe_cte — shared with _ivf_topk_oracle, review r11
        # pass-1 #4: a hand copy here could desynchronize from the
        # oracle it guards).
        from venus_spark.operators.similarity import PQ_CB_MOD, PQ_KS
        from venus_spark.plans.pipeline_ann import ivf_probe_cte

        def probe_screen(stage: str):
            """union-oracle probe set, or None (with a targeted error
            printed) on drift — re-run after EVERY sink mutation the
            oracle view sees (review r11 pass-2 #4: the crash-window
            batch lands after the first screen, so the crash-leg
            certification needs its own)."""
            got = [
                int(r[0])
                for r in con.execute(
                    f"{ivf_probe_cte()} SELECT cluster FROM probed"
                ).fetchall()
            ]
            if set(got) != set(vec_labels):
                print(
                    json.dumps(
                        {
                            "error": "IVF probe-set drift at stage "
                            f"{stage!r}: the streamed vectors moved the "
                            "union-recomputed centroids enough to change "
                            "the top-nprobe clusters (frozen "
                            f"{sorted(vec_labels)} vs union {sorted(got)})"
                            " — place needles nearer the cluster means "
                            "or reduce their count"
                        }
                    )
                )
                return None
            return got

        oracle_probe = probe_screen("post-append")
        if oracle_probe is None:
            return 1
        max_cb_id, n_cb = con.execute(
            f"""
            SELECT MAX(vec_id), COUNT(*) FROM (
              SELECT vec_id FROM embeddings
              WHERE vec_id % {PQ_CB_MOD} = 0 ORDER BY vec_id LIMIT {PQ_KS})
            """
        ).fetchone()
        if n_cb < PQ_KS or max_cb_id >= min(
            r["vec_id"] for b in vec_batches for r in b
        ):
            print(
                json.dumps(
                    {
                        "error": "PQ codebook sample unstable under the "
                        "streamed ids — the saturation contract does "
                        f"not hold (n={n_cb}, max sample id={max_cb_id})"
                    }
                )
            )
            return 1

        for name in EVENT_LIVE_PLANS + tuple(_DOC_PROOFS) + _FUZZY_LIVE[:1]:
            r = compare(name, plans[name].fn(spark, sf), con, plans[name].oracle)
            results[name] = to_record(r)
            ok = ok and r.ok

        # prove the UNION path (not the degraded branch) answered.
        # events: the prepared twin cannot see the streamed matches
        cold = plans["json_containment_indexed"].fn(spark, sf).count()
        live = plans["json_containment_indexed_live"].fn(spark, sf).count()
        union_engaged = live == cold + _EXPECT_NEW_EVENT_MATCHES
        ok = ok and union_engaged

        # documents: per live plan, its streamed needle doc is in the
        # live result and ABSENT from the prepared twin's
        doc_proofs = {}
        for name, (cold_name, id_col, needle) in _DOC_PROOFS.items():
            cold_ids = {
                int(r[id_col])
                for r in plans[cold_name].fn(spark, sf).collect()
            }
            live_ids = {
                int(r[id_col])
                for r in plans[name].fn(spark, sf).collect()
            }
            engaged = needle in live_ids and needle not in cold_ids
            doc_proofs[name] = {
                "cold_plan": cold_name,
                "needle_doc_id": needle,
                "cold_rows": len(cold_ids),
                "live_rows": len(live_ids),
                "union_path_engaged": engaged,
            }
            ok = ok and engaged
        # fuzzy aggregates to (lang, n_docs): the streamed 'hash join'
        # document adds exactly one 'en' match over the cold twin
        fz_live, fz_cold = (
            {
                r["lang"]: int(r["n_docs"])
                for r in plans[n].fn(spark, sf).collect()
            }
            for n in _FUZZY_LIVE
        )
        fz_engaged = fz_live.get("en", 0) == fz_cold.get("en", 0) + 1
        doc_proofs[_FUZZY_LIVE[0]] = {
            "cold_plan": _FUZZY_LIVE[1],
            "proof": "en n_docs == cold + 1 (streamed 'hash join' doc)",
            "cold_en": fz_cold.get("en", 0),
            "live_en": fz_live.get("en", 0),
            "union_path_engaged": fz_engaged,
        }
        ok = ok and fz_engaged

        # POST-MERGE leg: fold the pending lists (the VACUUM the
        # deployment's cadence runs), then hash-certify the PREPARED
        # twins against the SAME union oracle — the merged base index
        # must serve the streamed documents exactly. Every index-
        # complete family participates; fuzzy_trgm_postings (prepared)
        # does not: its exact-ILIKE verify reads the base table by
        # definition (streamed TEXT enters the base only when the
        # operator re-lands the sink), so post-merge it still answers
        # over the base corpus — the live twin above stays the serve
        # path for streamed text, certified by its own row.
        # merges bound to names (NOT bare asserts — python -O would
        # strip the calls themselves, review r10 pass-4 #4)
        moved = (
            prepared.merge_minhash_pending(spark, sf),
            prepared.merge_postings_pending(spark, sf),
            prepared.merge_trgm_postings_pending(spark, sf),
        )
        if not all(m > 0 for m in moved):
            print(json.dumps({"error": f"merge folded nothing: {moved}"}))
            return 1
        post_merge = {}
        for name in (
            "bm25_topk_prepared",
            "boolean_search_prepared",
            "proximity_search_prepared",
            "phrase_search_kterm",
            "dedup_minhash_lsh_prepared",
        ):
            r = compare(
                name, plans[name].fn(spark, sf), con, plans[name].oracle
            )
            post_merge[name] = to_record(r)
            ok = ok and r.ok

        # ------------------------------------------- vector certifications
        # POST-APPEND leg: the maintenance absorbed both streamed
        # batches, so all four plans (prepared AND live — live degrades
        # to prepared with nothing pending) must hash-match the union
        # oracle, and the appended needle must rank where the cold run
        # could not have it.
        vec_post_append = {}
        vec_ids_now = {}
        for name in _VEC_PLANS_PREPARED + _VEC_PLANS_LIVE:
            # build once, reuse for ids AND the compare (the plan fn
            # re-pays driver-side probe/codebook collects per build,
            # review r11 pass-1 #3)
            df = plans[name].fn(spark, sf)
            vec_ids_now[name] = [int(r["vec_id"]) for r in df.collect()]
            r = compare(name, df, con, plans[name].oracle)
            vec_post_append[name] = to_record(r)
            ok = ok and r.ok
        vec_proofs = {}
        for name in _VEC_PLANS_PREPARED + _VEC_PLANS_LIVE:
            engaged = (
                _VEC_NEEDLE_APPENDED in vec_ids_now[name]
                and _VEC_NEEDLE_APPENDED not in vec_cold[name]
            )
            vec_proofs[name] = {
                "needle_vec_id": _VEC_NEEDLE_APPENDED,
                "cold_topk": vec_cold[name],
                "post_append_topk": vec_ids_now[name],
                "streamed_vector_ranked": engaged,
            }
            ok = ok and engaged

        # CRASH-WINDOW leg: one more batch lands in the sink with the
        # index append deliberately withheld — the state a crash
        # between the sink write and the append leaves. The LIVE twins
        # must serve it (hash-green against the union oracle, which
        # sees the sink file the moment it lands); the prepared twins
        # provably cannot.
        from venus_spark.streaming import (
            _write_idempotent,
            pending_vector_batches,
        )

        n2 = dict(
            vec_id=_VEC_NEEDLE_PENDING,
            embedding=[x + 2e-3 * (i % 2) for i, x in enumerate(qvec)],
            label=vec_labels[0],
        )
        _write_idempotent(
            spark.createDataFrame([n2], emb_schema),
            os.path.join(vec_sink, "embeddings"),
            _VEC_CRASH_BID,
        )
        if probe_screen("crash-window") is None:
            return 1
        pend_ivf = pending_vector_batches(sf, "embeddings_ivf.parquet")[1]
        pend_pq = pending_vector_batches(sf, "embeddings_pq_codes.parquet")[1]
        if pend_ivf != [_VEC_CRASH_BID] or pend_pq != [_VEC_CRASH_BID]:
            print(json.dumps({"error": f"pending not detected: {pend_ivf}"}))
            return 1
        vec_crash = {}
        for name in _VEC_PLANS_LIVE:
            df = plans[name].fn(spark, sf)
            live_ids = [int(r["vec_id"]) for r in df.collect()]
            r = compare(name, df, con, plans[name].oracle)
            vec_crash[name] = to_record(r)
            ok = ok and r.ok
            cold_name = _VEC_PLANS_PREPARED[_VEC_PLANS_LIVE.index(name)]
            prepared_ids = [
                int(r2["vec_id"])
                for r2 in plans[cold_name].fn(spark, sf).collect()
            ]
            engaged = (
                _VEC_NEEDLE_PENDING in live_ids
                and _VEC_NEEDLE_PENDING not in prepared_ids
            )
            vec_crash[name]["pending_window_engaged"] = engaged
            ok = ok and engaged

        # HEAL leg: the checkpoint replay's own append heals the
        # window; pending empties and the PREPARED twins hash-match the
        # full union — exactly-once convergence.
        prep.append_embeddings_batch(
            spark,
            sf,
            spark.createDataFrame([n2], emb_schema),
            batch_id=_VEC_CRASH_BID,
        )
        if pending_vector_batches(sf, "embeddings_ivf.parquet")[1]:
            print(json.dumps({"error": "heal left pending batches"}))
            return 1
        vec_healed = {}
        for name in _VEC_PLANS_PREPARED:
            r = compare(name, plans[name].fn(spark, sf), con, plans[name].oracle)
            vec_healed[name] = to_record(r)
            ok = ok and r.ok

        out = {
            "mode": "streamed-sink union (VERDICT r8 #6 events, r9 #2 documents)",
            "base_sf": args.sf,
            "streamed_event_batches": len(_EVENT_BATCHES),
            "streamed_events": sum(len(b) for b in _EVENT_BATCHES),
            "streamed_doc_batches": len(halves),
            "streamed_documents": len(doc_rows),
            "containment_cold_rows": cold,
            "containment_live_rows": live,
            "union_path_engaged": union_engaged,
            "doc_union_proofs": doc_proofs,
            "plans": results,
            "post_merge_plans": post_merge,
            "vector_leg": {
                "streamed_vec_batches": len(vec_batches),
                "streamed_vectors": sum(len(b) for b in vec_batches),
                "probe_screen": {
                    "frozen_probe": sorted(vec_labels),
                    "union_oracle_probe": sorted(oracle_probe),
                },
                "post_append_plans": vec_post_append,
                "needle_proofs": vec_proofs,
                "crash_window_live_plans": vec_crash,
                "healed_prepared_plans": vec_healed,
            },
        }
        with open(args.out, "w") as f:
            json.dump(out, f, indent=2)
            f.write("\n")
        print(
            json.dumps(
                {
                    "plans": len(results),
                    # failures spans BOTH legs — a post-merge mismatch
                    # must not print failures: 0 beside rc 1 (review
                    # r10 pass-5 #3)
                    "failures": sum(
                        1
                        for recs in (
                            results,
                            post_merge,
                            vec_post_append,
                            vec_crash,
                            vec_healed,
                        )
                        for n in recs
                        if not recs[n]["hash_match"]
                    ),
                    "union_path_engaged": union_engaged,
                    "doc_proofs_engaged": sum(
                        1
                        for p in doc_proofs.values()
                        if p["union_path_engaged"]
                    ),
                    "post_merge_green": sum(
                        1 for r in post_merge.values() if r["hash_match"]
                    ),
                    "vector_green": sum(
                        1
                        for recs in (vec_post_append, vec_crash, vec_healed)
                        for r in recs.values()
                        if r["hash_match"]
                    ),
                    "vector_proofs_engaged": sum(
                        1
                        for p in vec_proofs.values()
                        if p["streamed_vector_ranked"]
                    )
                    + sum(
                        1
                        for r in vec_crash.values()
                        if r["pending_window_engaged"]
                    ),
                    "elapsed_sec": round(time.time() - t0, 1),
                    "out": args.out,
                }
            )
        )
        return 0 if ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # the workspace prepared artifacts are keyed by the sf basename
        from venus_spark.prepared import PREPARED_ROOT

        shutil.rmtree(
            os.path.join(PREPARED_ROOT, sf_name), ignore_errors=True
        )
        # the colocated live twin lazily built a bucketed band table in
        # the session warehouse under this workspace's name — drop the
        # catalog entry and remove the external files, or every run
        # would leave one orphan table behind
        try:
            from venus_spark.prepared import _lsh_bands_table

            bname = _lsh_bands_table(sf)
            spark.sql(f"DROP TABLE IF EXISTS {bname}")
            wh = spark.conf.get(
                "spark.sql.warehouse.dir"
            ).removeprefix("file:")
            shutil.rmtree(os.path.join(wh, bname), ignore_errors=True)
        except Exception:
            pass  # cleanup is best-effort; the run's verdict stands


if __name__ == "__main__":
    raise SystemExit(main())
