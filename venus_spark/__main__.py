"""Console entry point — the analog of the reference's ``venus``
command (`/root/reference/setup.py:42-45` console script →
``venus/main.py:52-70``). Where the reference's single command boots
the ingest service, a Spark engine's operational surface is wider, so
this exposes subcommands for each long-running/maintenance role:

    python -m venus_spark list                      # registered plans
    python -m venus_spark query <plan> [--sf DIR] [--limit N] [--explain]
    python -m venus_spark sql "SELECT ..." [--sf DIR]
    python -m venus_spark prepare [--sf DIR]        # build write-time indexes
    python -m venus_spark mirror [--sf DIR]         # oracle-compare all plans
    python -m venus_spark ingest LANDING_DIR SINK_DIR [--checkpoint DIR]
                                                    # logs ingest service
    python -m venus_spark maintain recluster [--sf DIR]
    python -m venus_spark maintain drop-chunks --before YYYY-MM-DD [--sf DIR]
    python -m venus_spark maintain merge-index [--sf DIR]
    python -m venus_spark maintain delete-docs --ids 1,2,3 --batch-id N [--sf DIR]
    python -m venus_spark maintain vacuum-deletes [--sf DIR]
    python -m venus_spark maintain compact-postings [--sf DIR]
    python -m venus_spark maintain retrain-vectors [--max-deleted-frac F] [--sf DIR]
    python -m venus_spark maintain auto [--sf DIR]   # the whole nightly, ordered
    python -m venus_spark export OUT_DIR [--shards N] [--sf DIR]
                                                    # scheduled maintenance:
                                                    # OPTIMIZE / retention /
                                                    # index VACUUM

``ingest`` is the reference's amain() role set on Spark: one streaming
query (single-writer), health via StreamingQueryListener, graceful stop
on SIGINT/SIGTERM (A12); pair it with ``scripts/zmq_relay.py`` for the
ZMQ edge.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

DEFAULT_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _spark():
    from venus_spark.session import get_spark

    spark = get_spark(app_name="venus_spark_cli")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_list(_args) -> int:
    from venus_spark.plans import all_plans

    for name, p in sorted(all_plans().items()):
        doc = (p.doc or "").strip().splitlines()
        print(f"{name:32s} {doc[0] if doc else ''}")
    return 0


def cmd_query(args) -> int:
    from venus_spark.plans import all_plans

    plans = all_plans()
    if args.plan not in plans:
        print(f"unknown plan {args.plan!r} (see: python -m venus_spark list)",
              file=sys.stderr)
        return 2
    df = plans[args.plan].fn(_spark(), args.sf)
    if args.explain:
        df.explain("formatted")
        return 0
    df.show(args.limit, truncate=False)
    return 0


def cmd_sql(args) -> int:
    from venus_spark.sources import register_views

    spark = _spark()
    register_views(spark, args.sf)
    spark.sql(args.statement).show(args.limit, truncate=False)
    return 0


def cmd_prepare(args) -> int:
    from venus_spark.prepared import prepare_all

    prepare_all(_spark(), args.sf)
    print(f"prepared indexes built for {args.sf}")
    return 0


def cmd_mirror(args) -> int:
    from venus_spark.oracle import run_all

    results = run_all(_spark(), args.sf)
    bad = [r for r in results if not r.ok]
    print(json.dumps({
        "plans": len(results),
        "failures": len(bad),
        "failed": {r.name: r.detail for r in bad},
    }))
    return 1 if bad else 0


def cmd_ingest(args) -> int:
    from venus_spark.streaming import (
        IngestHealthListener,
        read_log_stream,
        start_logs_ingest,
    )

    spark = _spark()
    listener = IngestHealthListener()
    spark.streams.addListener(listener)
    query = start_logs_ingest(
        read_log_stream(spark, args.landing_dir),
        sink_dir=args.sink_dir,
        checkpoint_dir=args.checkpoint or os.path.join(args.sink_dir, "_checkpoint"),
        trigger_seconds=args.trigger_seconds,
    )

    def stop(_signum, _frame):  # A12: drain the in-flight batch, then exit
        query.stop()

    signal.signal(signal.SIGINT, stop)
    signal.signal(signal.SIGTERM, stop)
    query.awaitTermination()
    return 0


def _merge_all_pending(spark, sf: str) -> int:
    """Fold every pending index list into its base — ONE definition
    shared by `maintain merge-index` and `maintain auto` (review r8
    pass-6 #7: duplicated op bodies diverge when the next index is
    added to only one of them)."""
    from venus_spark import prepared

    return (
        prepared.merge_minhash_pending(spark, sf)
        + prepared.merge_postings_pending(spark, sf)
        + prepared.merge_trgm_postings_pending(spark, sf)
    )


def _missing_vector_layouts(sf: str) -> list[str]:
    """Prepared vector layouts the retrain needs but this sf_dir never
    built — ONE guard shared by `maintain retrain-vectors` and the
    nightly (review r9 pass-5 #4: the hand-duplicated copies had
    already diverged, and the nightly's skip was silent). The retrain
    recomputes IVF centroids, the PQ codebook, and every code AS A
    UNIT, and its ensures would side-effect-build whichever layout is
    missing — a maintenance op must never build an index the
    deployment chose not to have."""
    from venus_spark import prepared

    return [
        name
        for name in ("embeddings_ivf.parquet", "embeddings_pq_codes.parquet")
        if not os.path.exists(prepared.prepared_path(sf, name))
    ]


def _vacuum_all_deletes(spark, sf: str) -> int:
    """Make every index family's outstanding deletes physical."""
    from venus_spark import prepared

    n = prepared.vacuum_embedding_tombstones(spark, sf)
    return n + prepared.vacuum_document_tombstones(spark, sf)


def _compact_all_postings(spark, sf: str) -> list[str]:
    """Compact every postings family; returns the ones present, each
    then one sorted file set (one without appended files is left as it
    is)."""
    from venus_spark import prepared

    families = [
        ("documents_postings", prepared.compact_documents_postings),
        ("documents_trgm_postings", prepared.compact_documents_trgm_postings),
        ("events_kv_postings", prepared.compact_events_kv_postings),
    ]
    return [name for name, fn in families if fn(spark, sf)]


def cmd_maintain(args) -> int:
    """Scheduled-maintenance roles: the OPTIMIZE (re-ZORDER) rewrite,
    chunk-drop retention, and the index pending-list VACUUM — the jobs
    a cron owns in a deployment, kept out of the query path."""
    from venus_spark import prepared

    if args.op == "recluster":
        prepared.recluster_events_zorder(_spark(), args.sf)
        print(f"events_zorder reclustered for {args.sf}")
    elif args.op == "drop-chunks":
        if not args.before:
            print("drop-chunks requires --before YYYY-MM-DD", file=sys.stderr)
            return 2
        try:
            n = prepared.drop_event_chunks(
                args.sf,
                args.before,
                spark=_spark() if args.drop_aggregates else None,
                drop_aggregates=args.drop_aggregates,
            )
        except ValueError as exc:
            print(f"drop-chunks: {exc}", file=sys.stderr)
            return 2
        print(f"dropped {n} chunk(s) before {args.before}")
    elif args.op == "merge-index":
        # Both streaming-maintained indexes get their VACUUM here: the
        # MinHash pending list and the postings pending list (file
        # counts, not batch counts — each batch may span several files).
        n = _merge_all_pending(_spark(), args.sf)
        print(f"merged {n} pending index file(s)")
    elif args.op == "delete-docs":
        if not args.ids:
            print("delete-docs requires --ids id[,id...]", file=sys.stderr)
            return 2
        if args.batch_id is None:
            # an implicit default would silently no-op the second delete
            # (same batch id = already-committed = retry no-op)
            print(
                "delete-docs requires an explicit --batch-id N "
                "(a fresh id per logical delete; reuse an id only to "
                "retry that same delete)",
                file=sys.stderr,
            )
            return 2
        try:
            ids = [int(x) for x in args.ids.split(",") if x.strip()]
        except ValueError:
            print(f"delete-docs: non-integer id in {args.ids!r}", file=sys.stderr)
            return 2
        spark = _spark()
        prepared.tombstone_documents(spark, args.sf, ids, batch_id=args.batch_id)
        # documents and embeddings share the id space in this corpus
        # (doc_id == vec_id): a forgotten document must also leave the
        # vector indexes or dense retrieval keeps resurfacing it.
        prepared.tombstone_embeddings(spark, args.sf, ids, batch_id=args.batch_id)
        print(
            f"tombstoned {len(ids)} document(s) + their vectors "
            f"(batch {args.batch_id})"
        )
    elif args.op == "vacuum-deletes":
        n = _vacuum_all_deletes(_spark(), args.sf)
        print(f"vacuumed {n} index row(s) for tombstoned documents/vectors")
    elif args.op == "compact-postings":
        # one OPTIMIZE op restores every sorted postings layout that
        # EXISTS on this sf_dir (term, trigram, kv) — a layout the dir
        # never built is skipped, never built as a side effect
        done = _compact_all_postings(_spark(), args.sf)
        if done:
            print(" + ".join(done) + f" compacted for {args.sf}")
        else:
            print(f"no postings layouts found for {args.sf}")
    elif args.op == "retrain-vectors":
        # Prepared-layout existence guard (ADVICE r8 #3, sharpened by
        # review r9 pass-4 #4): the retrain recomputes IVF centroids,
        # the PQ codebook, and every code AS A UNIT, and its ensures
        # would side-effect-build whichever layout is missing — a
        # maintenance op must never build an index the deployment chose
        # not to have. Require BOTH vector layouts; a partial
        # deployment gets a loud skip naming what is absent.
        absent = _missing_vector_layouts(args.sf)
        if absent:
            print(
                f"vector retrain needs both prepared layouts; missing "
                f"{', '.join(absent)} for {args.sf}; skipped"
            )
            return 0
        spark = _spark()
        drift = prepared.vector_artifact_drift(spark, args.sf)
        if prepared.retrain_vector_artifacts_if_drifted(
            spark, args.sf, max_deleted_frac=args.max_deleted_frac,
            drift=drift,
        ):
            print(
                f"vector artifacts retrained (drift {drift:.3f} > "
                f"{args.max_deleted_frac}) for {args.sf}"
            )
        else:
            print(
                f"vector artifacts within drift bound ({drift:.3f} <= "
                f"{args.max_deleted_frac}); no retrain"
            )
    elif args.op == "auto":
        # The whole nightly in one invocation, ordered so each step
        # feeds the next: fold pending index lists (autovacuum), sweep
        # the events sink's uncommitted attempt dirs (the stream is
        # stopped by definition in a maintenance window), make deletes
        # physical, retrain the vector artifacts if the deletes
        # drifted them, restore sorted-pruning on the postings
        # layouts, re-ZORDER the events table. Every
        # step is a guarded no-op on layouts this sf_dir never built
        # (the retrain guard keys on the PREPARED layout, never the raw
        # embeddings table — a nightly must not side-effect-build an
        # index the deployment chose not to have, review r8 pass-6 #3),
        # and EVERY step's failure is recorded without starving the
        # later steps (ADVICE r8 #2 closed pass-6 #2 for real: a
        # permanently-unsaturable PQ corpus, a wedged swap, or a
        # half-deleted sink must not turn the nightly into a crash loop
        # that never compacts or reclusters).
        import os as _os

        from venus_spark.streaming import events_stream_sink_dir, sweep_events_sink

        spark = _spark()
        steps: list[str] = []
        failed = False

        def step(label: str, fn) -> None:
            nonlocal failed
            try:
                steps.append(f"{label} {fn()}")
            except Exception as exc:  # isolate: later steps still run
                failed = True
                steps.append(f"{label} FAILED ({exc})")

        # sweep crash-leftover staging dirs — recovery-invisible
        # to readers by design, so only the maintenance window (no
        # in-flight writers by contract) can safely reclaim them
        step(
            "sweep-stagings",
            lambda: f"{prepared.sweep_stale_stagings(args.sf)} dir(s)",
        )
        step(
            "merge-index",
            lambda: f"{_merge_all_pending(spark, args.sf)} file(s)",
        )

        step(
            "sink-sweep",
            lambda: f"{sweep_events_sink(events_stream_sink_dir(args.sf))} dir(s)",
        )
        step(
            "vacuum-deletes",
            lambda: f"{_vacuum_all_deletes(spark, args.sf)} row(s)",
        )
        absent = _missing_vector_layouts(args.sf)
        if not absent:
            step(
                "retrain-vectors",
                lambda: (
                    "retrained"
                    if prepared.retrain_vector_artifacts_if_drifted(
                        spark, args.sf, max_deleted_frac=args.max_deleted_frac
                    )
                    else "within bound"
                ),
            )
        else:
            # loud skip: a partial vector deployment must be visible in
            # the nightly output, not silently dropped
            steps.append(
                "retrain-vectors skipped (missing " + ", ".join(absent) + ")"
            )
        step(
            "compact-postings",
            lambda: "+".join(_compact_all_postings(spark, args.sf)) or "none",
        )
        if _os.path.exists(
            prepared.prepared_path(args.sf, "events_zorder.parquet")
        ):
            step(
                "recluster",
                lambda: (
                    prepared.recluster_events_zorder(spark, args.sf),
                    "events_zorder",
                )[1],
            )
        print("maintain auto: " + "; ".join(steps))
        return 1 if failed else 0
    return 0


def _manifest_from(arg: str, what: str) -> dict | None:
    """Load a manifest given an export dir or a manifest path; prints
    the failure and returns None (caller exits 2)."""
    from venus_spark.export import EXPORT_MANIFEST

    manifest_path = (
        arg if arg.endswith(".json") else os.path.join(arg, EXPORT_MANIFEST)
    )
    try:
        with open(manifest_path) as f:
            prior = json.load(f)
    except (OSError, ValueError) as exc:
        print(f"{what}: cannot read {manifest_path}: {exc}", file=sys.stderr)
        return None
    if "snapshot" not in prior:
        print(
            f"{manifest_path} carries no corpus snapshot "
            "(pre-snapshot export); re-export unpinned instead",
            file=sys.stderr,
        )
        return None
    return prior


def cmd_export(args) -> int:
    """Materialize the curated corpus as sharded JSONL — the hand-off
    artifact from the engine to a training run. ``--snapshot-from``
    re-exports a PRIOR export's pinned corpus (byte-identical under
    later appends; current tombstones still apply — RTBF overrides
    reproducibility). ``--delta-from`` instead exports only the
    documents landed SINCE a prior export — the O(delta) steady-state
    path; the new manifest chains from the prior one."""
    from venus_spark.export import export_curated_jsonl, export_delta_jsonl

    if args.snapshot_from and args.delta_from:
        print(
            "export: --snapshot-from (byte-identical re-export) and "
            "--delta-from (incremental continuation) are mutually "
            "exclusive",
            file=sys.stderr,
        )
        return 2
    if args.delta_from:
        prior = _manifest_from(args.delta_from, "export")
        if prior is None:
            return 2
        # inherit the prior export's shard modulus unless overridden —
        # a chain with a consistent assignment function keeps every
        # doc's shard id stable across links. A prior manifest WITHOUT
        # a recorded modulus must not silently fall back to the default
        # (ADVICE r13 #3: the chain could mix moduli without notice) —
        # refuse unless the operator states one explicitly.
        if args.shards is None and "shard_modulus" not in prior:
            print(
                "export: prior manifest records no shard_modulus "
                "(pre-modulus export) — refusing to guess the chain's "
                "shard assignment; pass --shards explicitly to state it",
                file=sys.stderr,
            )
            return 2
        shards = (
            args.shards
            if args.shards is not None
            else prior["shard_modulus"]
        )
        try:
            manifest = export_delta_jsonl(
                _spark(), args.sf, args.out_dir, prior["snapshot"],
                shards=shards,
            )
        except ValueError as exc:
            print(f"export: {exc}", file=sys.stderr)
            return 2
        print(
            f"exported delta of {manifest['n_rows']} document(s) to "
            f"{args.out_dir} ({manifest['n_shards']} shards), chained "
            f"from {args.delta_from}"
        )
        return 0
    snapshot = None
    shards = args.shards if args.shards is not None else 8
    if args.snapshot_from:
        prior = _manifest_from(args.snapshot_from, "export")
        if prior is None:
            return 2
        snapshot = prior["snapshot"]
        if args.shards is None:
            # byte-identical re-export REQUIRES the prior modulus — a
            # different shard count reshuffles every file even though
            # the row set is identical
            shards = prior.get("shard_modulus", 8)
    try:
        n = export_curated_jsonl(
            _spark(), args.sf, args.out_dir, shards=shards,
            snapshot=snapshot,
        )
    except ValueError as exc:
        print(f"export: {exc}", file=sys.stderr)
        return 2
    print(f"exported {n} curated document(s) to {args.out_dir} ({shards} shards)")
    return 0


def cmd_repair_export(args) -> int:
    """Re-materialize only the damaged/missing shards of an export in
    place (full or delta — lineage-aware), remove injected shard dirs,
    recompute the manifest, and re-verify. Exit 0 = repaired and
    verified; 2 = cannot repair (no manifest / pre-modulus manifest /
    expired snapshot)."""
    from venus_spark.export import repair_export

    try:
        result = repair_export(_spark(), args.sf, args.out_dir)
    except ValueError as exc:
        print(f"repair-export: {exc}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 1 if result["problems"] else 0


def cmd_verify_export(args) -> int:
    """Loader-side certification gate: one directory re-derives the
    shard digests against its manifest; several directories are
    verified as a CHAIN (per-dir digests + lineage continuity + global
    exactly-once). Exit 0 = verified, 1 = named discrepancies."""
    from venus_spark.export import verify_export, verify_export_chain

    spark = _spark()
    if len(args.dirs) == 1:
        problems = verify_export(spark, args.dirs[0])
    else:
        problems = verify_export_chain(spark, args.dirs)
    for p in problems:
        print(p)
    if not problems:
        kind = "chain" if len(args.dirs) > 1 else "export"
        print(f"{kind} verified: {len(args.dirs)} dir(s), no discrepancies")
    return 1 if problems else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="venus_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered plans")

    q = sub.add_parser("query", help="run one plan and print its result")
    q.add_argument("plan")
    q.add_argument("--sf", default=DEFAULT_SF)
    q.add_argument("--limit", type=int, default=50)
    q.add_argument("--explain", action="store_true")

    s = sub.add_parser("sql", help="run a SQL statement over the registered views")
    s.add_argument("statement")
    s.add_argument("--sf", default=DEFAULT_SF)
    s.add_argument("--limit", type=int, default=50)

    p = sub.add_parser("prepare", help="build the write-time index artifacts")
    p.add_argument("--sf", default=DEFAULT_SF)

    m = sub.add_parser("mirror", help="oracle-compare every plan (exit 1 on mismatch)")
    m.add_argument("--sf", default=DEFAULT_SF)

    i = sub.add_parser("ingest", help="run the logs ingest service on a landing dir")
    i.add_argument("landing_dir")
    i.add_argument("sink_dir")
    i.add_argument("--checkpoint")
    i.add_argument("--trigger-seconds", type=int, default=5)

    mt = sub.add_parser(
        "maintain", help="scheduled maintenance: OPTIMIZE / retention / index VACUUM"
    )
    mt.add_argument(
        "op",
        choices=[
            "recluster",
            "drop-chunks",
            "merge-index",
            "delete-docs",
            "vacuum-deletes",
            "compact-postings",
            "retrain-vectors",
            "auto",
        ],
    )
    mt.add_argument("--sf", default=DEFAULT_SF)
    mt.add_argument("--before", help="retention cutoff date (drop-chunks)")
    mt.add_argument(
        "--max-deleted-frac",
        type=float,
        default=0.10,
        help="drift threshold for retrain-vectors",
    )
    mt.add_argument(
        "--drop-aggregates",
        action="store_true",
        help="also apply the retention cutoff to the rollup/HLL aggregates",
    )
    ex = sub.add_parser(
        "export", help="materialize the curated corpus as sharded JSONL"
    )
    ex.add_argument("out_dir")
    ex.add_argument("--sf", default=DEFAULT_SF)
    ex.add_argument(
        "--shards",
        type=int,
        default=None,
        help="shard count (default 8; with --snapshot-from/--delta-from "
        "the prior manifest's shard_modulus is inherited so layouts "
        "stay comparable)",
    )
    ex.add_argument(
        "--snapshot-from",
        help="prior export dir (or manifest path) whose pinned corpus "
        "snapshot to re-export byte-identically",
    )
    ex.add_argument(
        "--delta-from",
        help="prior export dir (or manifest path) to continue from: "
        "export only documents landed since it (O(delta)); the new "
        "manifest chains via delta_of/base_snapshot",
    )
    ve = sub.add_parser(
        "verify-export",
        help="recompute shard digests against the manifest(s); several "
        "dirs are verified as a full->delta chain (exit 1 on damage)",
    )
    ve.add_argument("dirs", nargs="+")
    rx = sub.add_parser(
        "repair-export",
        help="re-materialize only the damaged shards of an export from "
        "its pinned snapshot (O(damaged), not O(corpus))",
    )
    rx.add_argument("out_dir")
    rx.add_argument("--sf", default=DEFAULT_SF)

    mt.add_argument("--ids", help="comma-separated doc ids (delete-docs)")
    mt.add_argument(
        "--batch-id",
        type=int,
        default=None,
        help="idempotency id for the delete batch (delete-docs; required, "
        "fresh per logical delete — reuse only to retry the same delete)",
    )

    args = ap.parse_args(argv)
    return {
        "list": cmd_list,
        "query": cmd_query,
        "sql": cmd_sql,
        "prepare": cmd_prepare,
        "mirror": cmd_mirror,
        "ingest": cmd_ingest,
        "maintain": cmd_maintain,
        "export": cmd_export,
        "verify-export": cmd_verify_export,
        "repair-export": cmd_repair_export,
    }[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
