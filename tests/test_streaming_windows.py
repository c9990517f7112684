"""Streaming analytics tests: watermarked windowed aggregation, session
windows, and the custom stateful running-total operator
(venus_spark/streaming/windows.py). The reference has no streaming-agg
surface (SURVEY.md §2C) — these cover the north-star extensions.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from venus_spark.streaming.windows import (
    running_user_totals,
    sessionize_stream,
    windowed_event_counts,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def event(i: int, ts: str, user: int = 1, etype: str = "click", value: float = 1.0):
    return {"event_id": i, "ts": ts, "user_id": user, "event_type": etype, "value": value}


def write_jsonl(path, events: list[dict]) -> None:
    path.write_text("\n".join(json.dumps(e) for e in events))


def read_event_stream(spark, landing, files_per_trigger: int = 1):
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .json(str(landing))
    )


def run_to_memory(df, name: str, mode: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "streaming query did not finish in time"
    return q


def test_windowed_counts_streaming_matches_batch(spark, tmp_path):
    """The same function runs on the stream and on the batch read of the
    same files; complete-mode output must equal the batch result."""
    landing = tmp_path / "landing"
    landing.mkdir()
    evts = [
        event(1, "2024-01-01 10:05:00", value=2.0),
        event(2, "2024-01-01 10:55:00", value=3.0),
        event(3, "2024-01-01 11:05:00", etype="view", value=5.0),
        event(4, "2024-01-01 11:15:00", value=7.0),
    ]
    write_jsonl(landing / "a.jsonl", evts[:2])
    write_jsonl(landing / "b.jsonl", evts[2:])

    run_to_memory(
        windowed_event_counts(read_event_stream(spark, landing), window="1 hour"),
        "win_counts",
        "complete",
    )
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("win_counts").collect()
    }
    batch = spark.read.schema(EVENT_SCHEMA).json(str(landing))
    want = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(batch).collect()
    }
    assert got == want
    assert got[("2024-01-01 10:00:00", "click")] == (2, 5.0)
    assert got[("2024-01-01 11:00:00", "click")] == (1, 7.0)
    assert got[("2024-01-01 11:00:00", "view")] == (1, 5.0)


def test_watermark_bounds_state(spark, tmp_path):
    """With a watermark, append mode emits only windows the watermark has
    passed — late-window state is dropped, which is what keeps state
    bounded on an unbounded stream."""
    landing = tmp_path / "landing"
    landing.mkdir()
    # Batch 1: two old windows. Batch 2: an event 10 hours later, which
    # advances the watermark far past both.
    write_jsonl(
        landing / "a.jsonl",
        [event(1, "2024-01-01 00:10:00"), event(2, "2024-01-01 01:10:00")],
    )
    write_jsonl(landing / "b.jsonl", [event(3, "2024-01-01 11:00:00")])

    run_to_memory(
        windowed_event_counts(
            read_event_stream(spark, landing), window="1 hour", watermark="2 hours"
        ),
        "win_append",
        "append",
    )
    emitted = {str(r["window_start"]) for r in spark.table("win_append").collect()}
    # The two closed windows are final; the 11:00 window is still open.
    assert emitted == {"2024-01-01 00:00:00", "2024-01-01 01:00:00"}


def test_sessionize_stream_emits_closed_sessions(spark, tmp_path):
    """Session state merges across micro-batches; sessions are emitted
    once the watermark passes their close."""
    landing = tmp_path / "landing"
    landing.mkdir()
    # Batch 1: user 1 two events 10 s apart; user 2 one event.
    write_jsonl(
        landing / "a.jsonl",
        [
            event(1, "2024-01-01 00:00:00", user=1),
            event(2, "2024-01-01 00:00:10", user=1),
            event(3, "2024-01-01 00:00:00", user=2),
        ],
    )
    # Batch 2: user 2 extends their session within the gap; user 1
    # returns an hour later (new session) and pushes the watermark to
    # 00:50, past both earlier sessions' close (last event + 30 min gap).
    write_jsonl(
        landing / "b.jsonl",
        [
            event(4, "2024-01-01 01:00:00", user=1),
            event(5, "2024-01-01 00:10:00", user=2),
        ],
    )

    run_to_memory(
        sessionize_stream(
            read_event_stream(spark, landing), gap_seconds=1800, watermark="10 minutes"
        ),
        "sessions",
        "append",
    )
    closed = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in spark.table("sessions").collect()
    }
    assert closed == {
        (1, "2024-01-01 00:00:00", "2024-01-01 00:00:10", 2),
        (2, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 2),
    }


def test_running_totals_state_spans_batches(spark, tmp_path):
    """applyInPandasWithState: per-user totals carry across micro-batches
    (update mode re-emits the new running value each batch)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    write_jsonl(
        landing / "a.jsonl",
        [
            event(1, "2024-01-01 00:00:00", user=1, value=2.0),
            event(2, "2024-01-01 00:00:10", user=1, value=3.0),
            event(3, "2024-01-01 00:00:00", user=2, value=5.0),
        ],
    )
    write_jsonl(
        landing / "b.jsonl",
        [
            event(4, "2024-01-01 01:00:00", user=1, value=10.0),
            event(5, "2024-01-01 00:10:00", user=2, value=1.0),
        ],
    )

    run_to_memory(
        running_user_totals(read_event_stream(spark, landing)), "totals", "update"
    )
    rows = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.table("totals").collect()
    }
    # Final snapshots prove state accumulated across batches. (File
    # pickup order between the two micro-batches is not deterministic,
    # so intermediate snapshots are only checked for presence/monotonic
    # growth, not exact values.)
    assert {(1, 3, 15.0), (2, 2, 6.0)} <= rows
    per_user = {u: sorted(n for uu, n, _ in rows if uu == u) for u in (1, 2)}
    assert len(per_user[1]) == 2 and per_user[1][-1] == 3
    assert len(per_user[2]) == 2 and per_user[2][-1] == 2


def test_stream_stream_join_attributes_clicks_to_views(spark, tmp_path):
    """Two file streams joined with watermarks + interval condition;
    the batch join of the same files is the oracle. A view outside the
    attribution window and a different-user view must not match."""
    from venus_spark.streaming.windows import join_views_to_clicks

    views_dir = tmp_path / "views"
    clicks_dir = tmp_path / "clicks"
    views_dir.mkdir()
    clicks_dir.mkdir()
    write_jsonl(
        views_dir / "v.jsonl",
        [
            event(100, "2024-01-01 10:00:00", user=1, etype="view"),
            event(101, "2024-01-01 10:30:00", user=1, etype="view"),
            event(102, "2024-01-01 08:00:00", user=1, etype="view"),  # too old
            event(103, "2024-01-01 10:40:00", user=2, etype="view"),  # other user
        ],
    )
    write_jsonl(
        clicks_dir / "c.jsonl",
        [event(200, "2024-01-01 10:45:00", user=1, etype="click")],
    )

    run_to_memory(
        join_views_to_clicks(
            read_event_stream(spark, views_dir),
            read_event_stream(spark, clicks_dir),
        ),
        "ss_join",
        "append",
    )
    got = {
        (r["click_id"], r["view_id"]) for r in spark.table("ss_join").collect()
    }
    assert got == {(200, 100), (200, 101)}

    batch_views = spark.read.schema(EVENT_SCHEMA).json(str(views_dir))
    batch_clicks = spark.read.schema(EVENT_SCHEMA).json(str(clicks_dir))
    want = {
        (r["click_id"], r["view_id"])
        for r in join_views_to_clicks(batch_views, batch_clicks).collect()
    }
    assert got == want


def test_stream_static_enrichment(spark, tmp_path):
    """Events streamed from files, enriched against a static dimension;
    unmatched keys survive with NULLs (left join), and the result equals
    the batch twin."""
    from venus_spark.streaming.windows import enrich_with_dimension

    landing = tmp_path / "landing"
    landing.mkdir()
    write_jsonl(
        landing / "a.jsonl",
        [event(1, "2024-01-01 10:00:00", user=1), event(2, "2024-01-01 10:01:00", user=99)],
    )
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "cust_id long, tier string"
    )

    run_to_memory(
        enrich_with_dimension(
            read_event_stream(spark, landing), dim, "user_id", "cust_id"
        ),
        "enriched",
        "append",
    )
    got = {(r["event_id"], r["tier"]) for r in spark.table("enriched").collect()}
    assert got == {(1, "gold"), (2, None)}

    batch = spark.read.schema(EVENT_SCHEMA).json(str(landing))
    want = {
        (r["event_id"], r["tier"])
        for r in enrich_with_dimension(batch, dim, "user_id", "cust_id").collect()
    }
    assert got == want


def test_enrichment_same_name_key_keeps_event_column(spark):
    """When the dimension key shares the event key's NAME (both
    'user_id'), only the dimension-side column may be dropped — a
    drop-by-name would silently remove both (ADVICE r3)."""
    from venus_spark.streaming.windows import enrich_with_dimension

    events = spark.createDataFrame(
        [(1, 10), (2, 99)], "event_id long, user_id long"
    )
    dim = spark.createDataFrame([(10, "gold")], "user_id long, tier string")
    out = enrich_with_dimension(events, dim, "user_id", "user_id")
    assert out.columns == ["event_id", "user_id", "tier"]
    got = {(r["event_id"], r["user_id"], r["tier"]) for r in out.collect()}
    assert got == {(1, 10, "gold"), (2, 99, None)}


def test_latest_state_stream_converges_to_batch(spark, tmp_path):
    """latest_state_per_key in streaming update mode: later files update
    keys; the last update emitted per key must equal the batch run over
    all events (the incrementally-maintained upsert view)."""
    from venus_spark.streaming.windows import latest_state_per_key

    landing = tmp_path / "landing"
    landing.mkdir()
    write_jsonl(
        landing / "b0.jsonl",
        [
            event(1, "2024-01-01 10:00:00", user=1, etype="click", value=1.0),
            event(2, "2024-01-01 10:05:00", user=2, etype="view", value=2.0),
        ],
    )
    write_jsonl(
        landing / "b1.jsonl",
        [
            # user 1 updated by a later event; user 3 appears
            event(3, "2024-01-01 11:00:00", user=1, etype="buy", value=9.0),
            event(4, "2024-01-01 10:30:00", user=3, etype="click", value=3.0),
        ],
    )
    stream = read_event_stream(spark, landing)
    run_to_memory(latest_state_per_key(stream), "latest_state", "update")

    # final state per key = the emitted update with the greatest ts
    emitted = spark.sql("select * from latest_state").collect()
    final = {}
    for r in emitted:
        if r.user_id not in final or r.ts > final[r.user_id].ts:
            final[r.user_id] = r
    batch = {
        r.user_id: r
        for r in latest_state_per_key(
            spark.read.schema(EVENT_SCHEMA).json(str(landing))
        ).collect()
    }
    assert set(final) == set(batch) == {1, 2, 3}
    for uid, want in batch.items():
        got = final[uid]
        assert (got.ts, got.last_type, got.last_value) == (
            want.ts,
            want.last_type,
            want.last_value,
        ), uid
    # and the stream actually updated user 1 across triggers
    assert final[1].last_type == "buy"


def test_streaming_rollup_converges_and_replay_is_idempotent(spark, tmp_path):
    """The continuous aggregate maintained per micro-batch must merge to
    the one-shot aggregate over all streamed events, and replaying a
    batch's writes (the crash-between-write-and-commit window) must
    leave the rollup unchanged."""
    from pyspark.sql import functions as F

    from venus_spark.functions import dsum
    from venus_spark.prepared import _hourly_partial_rows
    from venus_spark.streaming import (
        _write_idempotent,
        read_hourly_rollup,
        read_sink_table,
        start_events_rollup_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    write_jsonl(
        landing / "b0.jsonl",
        [
            event(1, "2024-01-01 10:10:00", value=1.5),
            event(2, "2024-01-01 10:40:00", value=2.25),
            event(3, "2024-01-01 11:05:00", value=4.0),
        ],
    )
    write_jsonl(
        landing / "b1.jsonl",
        [
            # overlaps hour 10 from the earlier batch
            event(4, "2024-01-01 10:55:00", value=8.125),
            event(5, "2024-01-01 12:00:00", value=16.0),
        ],
    )
    sink = str(tmp_path / "sink")
    q = start_events_rollup_ingest(
        read_event_stream(spark, landing),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    assert q.awaitTermination(180)

    def snapshot():
        return {
            r["bucket_ts"]: (r["n"], r["total_value"])
            for r in read_hourly_rollup(spark, sink).collect()
        }

    got = snapshot()
    all_events = read_sink_table(spark, sink, "events")
    want = {
        r["bucket_ts"]: (r["n"], r["total_value"])
        for r in all_events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        )
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .collect()
    }
    assert got == want and len(got) == 3

    # replay the second batch's rollup write verbatim: no duplication
    import os

    replay = all_events.filter(F.col("event_id") >= 4)
    _write_idempotent(
        _hourly_partial_rows(replay),
        os.path.join(sink, "events_hourly_rollup"),
        1,
    )
    assert snapshot() == want


def test_rollup_stream_restart_is_exactly_once(spark, tmp_path):
    """Checkpoint restart of the rollup-maintaining stream must not
    double-count: the second run picks up only the new file, and the
    merged rollup still equals the one-shot aggregate over everything
    streamed — on both the fact table and its continuous aggregate."""
    from pyspark.sql import functions as F

    from venus_spark.functions import dsum
    from venus_spark.streaming import (
        read_hourly_rollup,
        read_sink_table,
        start_events_rollup_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    write_jsonl(
        landing / "a.jsonl",
        [event(i, f"2024-01-01 10:{i:02d}:00", value=float(i)) for i in range(10)],
    )
    kwargs = dict(
        sink_dir=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    q = start_events_rollup_ingest(read_event_stream(spark, landing), **kwargs)
    assert q.awaitTermination(180)
    # same hour as batch a, so a double-count would corrupt the bucket
    write_jsonl(
        landing / "b.jsonl",
        [event(i, f"2024-01-01 10:{i:02d}:00", value=float(i)) for i in range(10, 15)],
    )
    q = start_events_rollup_ingest(read_event_stream(spark, landing), **kwargs)
    assert q.awaitTermination(180)

    events = read_sink_table(spark, str(tmp_path / "sink"), "events")
    assert events.count() == 15
    got = {
        r["bucket_ts"]: (r["n"], r["total_value"])
        for r in read_hourly_rollup(spark, str(tmp_path / "sink")).collect()
    }
    want = {
        r["bucket_ts"]: (r["n"], r["total_value"])
        for r in events.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_ts"))
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .collect()
    }
    assert got == want
    assert got[next(iter(got))][0] == 15  # one bucket, all 15 rows, once


def test_streaming_kv_postings_maintained_and_serve_containment(
    spark, tmp_path
):
    """Round 7: the events ingest maintains the jsonb-GIN analog per
    micro-batch — the streamed sink's kv postings equal the derivation
    over everything streamed, a verbatim replay adds nothing, and a
    containment intersection over the postings returns exactly the
    events whose composed document contains the queried entries. Also
    exercises the props-less tolerance: this stream's schema carries
    no props column, so no ``k=``/``?k`` entries exist — absent-key
    semantics, not an error."""
    import os

    from pyspark.sql import functions as F

    from venus_spark.prepared import _events_kv_rows
    from venus_spark.streaming import (
        _write_idempotent,
        read_kv_postings,
        read_sink_table,
        start_events_rollup_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    write_jsonl(
        landing / "b0.jsonl",
        [
            event(1, "2024-01-01 10:10:00", user=3, etype="click"),
            event(2, "2024-01-01 10:40:00", user=4, etype="view"),
        ],
    )
    write_jsonl(
        landing / "b1.jsonl",
        [
            event(3, "2024-01-01 11:05:00", user=5, etype="click"),
            event(4, "2024-01-01 11:06:00", user=7, etype="click"),
        ],
    )
    sink = str(tmp_path / "sink")
    q = start_events_rollup_ingest(
        read_event_stream(spark, landing),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    assert q.awaitTermination(180)

    def rows():
        return sorted(
            tuple(r) for r in read_kv_postings(spark, sink).collect()
        )

    events = read_sink_table(spark, sink, "events")
    want = sorted(
        tuple(r)
        for r in _events_kv_rows(events, allow_missing_props=True).collect()
    )
    got = rows()
    assert got == want
    assert not any(kv.startswith(("k=", "?k")) for kv, _ in got)  # props-less

    # verbatim replay of batch 1's kv write: no duplication
    replay = events.filter(F.col("event_id") >= 3)
    _write_idempotent(
        _events_kv_rows(replay, allow_missing_props=True)
        .sortWithinPartitions("kv", "event_id"),
        os.path.join(sink, "events_kv_postings"),
        1,
    )
    assert rows() == want

    # containment over the streamed sink: type=click AND ?uid — user 3
    # is uid-absent (user_id % 3 == 0), so only events 3 and 4 qualify
    post = read_kv_postings(spark, sink)
    need = ["type=click", "?uid"]
    cand = (
        post.filter(F.col("kv").isin(need))
        .groupBy("event_id")
        .agg(F.countDistinct("kv").alias("n"))
        .filter(F.col("n") == len(need))
    )
    assert sorted(int(r["event_id"]) for r in cand.collect()) == [3, 4]


def test_streamed_containment_is_index_served_live(
    spark, tmp_path, monkeypatch
):
    """VERDICT r7 #1 end-to-end: with the PROPS-BEARING stream schema,
    streamed events are visible to ``json_containment_indexed_live``
    the moment their batch commits — k= and ?k entries land in the
    sink postings, per-batch dfreq partials land beside them (summed
    by read_kv_dfreq; a verbatim replay adds nothing), and the live
    plan returns base ∪ streamed matches while the prepared plan
    (cold path) still returns only the base — the same pre-merge
    visibility split every other live read path pins."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from venus_spark import prepared
    from venus_spark.plans import all_plans
    from venus_spark.plans import venus_surface as vs
    from venus_spark.streaming import (
        EVENTS_STREAM_SCHEMA,
        _write_idempotent,
        events_stream_sink_dir,
        read_kv_dfreq,
        read_kv_postings,
        start_events_rollup_ingest,
    )

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    # base corpus: sf0.001 events, whose containment answer is known
    # from the scan twin (empty there — all matches will be streamed)
    src = "/root/testdata/sf0.001"
    sf = str(tmp_path / "sf")
    base_ev = spark.read.parquet(os.path.join(src, "events.parquet"))
    base_ev.write.parquet(os.path.join(sf, "events.parquet"))

    landing = tmp_path / "landing"
    landing.mkdir()

    def sev(i, ts, user, etype, props):
        return {
            "event_id": 2_000_000 + i,
            "ts": ts,
            "user_id": user,
            "event_type": etype,
            "value": 1.0,
            "props": props,
        }

    (landing / "b0.jsonl").write_text(
        "\n".join(
            _json.dumps(e)
            for e in [
                # matches: k=7, click, uid present (user % 3 != 0)
                sev(1, "2024-01-01 10:00:00", 7, "click", '{"k": 7}'),
                sev(2, "2024-01-01 10:01:00", 8, "click", '{"k": 7}'),
                # non-matches on each conjunct
                sev(3, "2024-01-01 10:02:00", 9, "click", '{"k": 7}'),  # uid absent
                sev(4, "2024-01-01 10:03:00", 7, "view", '{"k": 7}'),
                sev(5, "2024-01-01 10:04:00", 7, "click", '{"k": 8}'),
            ]
        )
    )
    sink = events_stream_sink_dir(sf)
    q = start_events_rollup_ingest(
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing)),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    assert q.awaitTermination(180)

    # props-bearing maintenance: value-pair AND key-presence entries
    post_rows = {tuple(r) for r in read_kv_postings(spark, sink).collect()}
    assert ("k=7", 2_000_001) in post_rows
    assert ("?k", 2_000_001) in post_rows
    # dfreq partials: summed df equals the postings' own counts
    dfs = {r["kv"]: r["df"] for r in read_kv_dfreq(spark, sink).collect()}
    assert dfs["k=7"] == 4 and dfs["type=click"] == 4 and dfs["?uid"] == 4

    plans = all_plans()
    vs._KV_DF_CACHE.clear()
    live = sorted(
        map(
            tuple,
            plans["json_containment_indexed_live"].fn(spark, sf).collect(),
        )
    )
    assert [r[0] for r in live] == [2_000_001, 2_000_002]
    # the cold (prepared) plan cannot see the streamed rows pre-merge
    assert plans["json_containment_indexed"].fn(spark, sf).count() == 0
    # and the live plan equals the exact-scan twin over base ∪ sink
    want = sorted(
        map(
            tuple,
            vs._containment_recheck(
                base_ev.unionByName(
                    spark.read.parquet(os.path.join(sink, "events")).drop(
                        "_batch_id"
                    ),
                    allowMissingColumns=True,
                )
            ).collect(),
        )
    )
    assert live == want

    # the sink's ts column is NTZ like the base table — an LTZ column
    # would silently coerce the whole base-∪-sink union
    streamed = spark.read.parquet(os.path.join(sink, "events")).drop(
        "_batch_id"
    )
    assert dict(streamed.dtypes)["ts"] == "timestamp_ntz"

    # verbatim replay of the batch's dfreq partials: no double count
    kv = prepared._events_kv_rows(streamed, allow_missing_props=True)
    _write_idempotent(
        kv.groupBy("kv").agg(F.count("*").alias("df")),
        os.path.join(sink, "events_kv_dfreq"),
        0,
    )
    assert {
        r["kv"]: r["df"] for r in read_kv_dfreq(spark, sink).collect()
    } == dfs

    # overlap safety net (review r8 pass-2 #2): an operator re-lands a
    # streamed event into the base table without dropping its sink
    # partition — the live plan's indexed recheck dedups by event_id,
    # so the violated contract cannot double a result row
    streamed.filter(F.col("event_id") == 2_000_001).write.mode(
        "append"
    ).parquet(os.path.join(sf, "events.parquet"))
    vs._KV_DF_CACHE.clear()
    live2 = plans["json_containment_indexed_live"].fn(spark, sf).collect()
    assert sorted(r[0] for r in live2) == [2_000_001, 2_000_002]

    # the live KEY plans see the streamed entries pre-merge too: the
    # frequency report gains the 5 streamed type-bearing docs (4 with
    # uid), while the prepared twin still reports only the base corpus
    def freqs(name):
        return {
            r["key"]: r["n_docs"]
            for r in plans[name].fn(spark, sf).collect()
        }

    cold, live_f = freqs("json_key_frequency"), freqs("json_key_frequency_live")
    assert live_f["type"] == cold["type"] + 5
    assert live_f["uid"] == cold["uid"] + 4
    disc = {
        r["key"]
        for r in plans["json_key_discovery_live"].fn(spark, sf).collect()
    }
    assert {"k", "type", "uid"} <= disc
    # with a sink contributing, BOTH parquet scans of the live key plan
    # carry the pushed prefix filter (review r8 pass-5 #5: the
    # sink-less shape test cannot see the union branch)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plans["json_key_frequency_live"].fn(spark, sf).explain("formatted")
    assert buf.getvalue().count("StringStartsWith(kv") >= 2, buf.getvalue()[
        :2000
    ]


def test_sink_repair_heals_lost_checkpoint_divergence(spark, tmp_path):
    """VERDICT r7 "What's wrong" #3: a crash between the facts write
    and the rollup write whose checkpoint is NEVER replayed leaves
    landed facts with silently missing rollup partials — an undercount
    no query detects (and, symmetrically, missing kv postings/dfreq
    make streamed events invisible to the containment index). The
    audit must name every divergence and the repair must re-derive it
    from the facts — and remove orphan derived partitions whose facts
    never landed."""
    import json as _json
    import os
    import shutil

    from pyspark.sql import functions as F

    from venus_spark.functions import dsum
    from venus_spark.prepared import _events_kv_rows
    from venus_spark.streaming import (
        EVENTS_STREAM_SCHEMA,
        _write_idempotent,
        audit_events_sink,
        read_hourly_rollup,
        read_kv_dfreq,
        read_kv_postings,
        repair_events_sink,
        start_events_rollup_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()

    def sev(i, ts, user, etype):
        return {
            "event_id": i,
            "ts": ts,
            "user_id": user,
            "event_type": etype,
            "value": float(i),
            "props": '{"k": 7}',
        }

    (landing / "b0.jsonl").write_text(
        "\n".join(
            _json.dumps(e)
            for e in [
                sev(1, "2024-01-01 10:05:00", 4, "click"),
                sev(2, "2024-01-01 10:15:00", 5, "view"),
                sev(3, "2024-01-01 11:05:00", 6, "click"),
            ]
        )
    )
    (landing / "b1.jsonl").write_text(
        "\n".join(
            _json.dumps(e)
            for e in [
                sev(4, "2024-01-01 10:25:00", 7, "click"),
                sev(5, "2024-01-01 10:35:00", 8, "buy"),
            ]
        )
    )
    # batch 2 derives ZERO kv entries (null type, uid-absent user, null
    # props): its kv/dfreq partitions are legitimately absent
    (landing / "b2.jsonl").write_text(
        _json.dumps(
            {"event_id": 6, "ts": "2024-01-01 10:45:00", "user_id": 3,
             "event_type": None, "value": 6.0, "props": None}
        )
    )
    sink = str(tmp_path / "sink")
    q = start_events_rollup_ingest(
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(landing)),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    assert q.awaitTermination(180)

    facts = spark.read.parquet(os.path.join(sink, "events")).drop("_batch_id")

    def one_shot():
        return {
            r["bucket_ts"]: (r["n"], r["total_value"])
            for r in facts.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
            )
            .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
            .collect()
        }

    def rollup_now():
        return {
            r["bucket_ts"]: (r["n"], r["total_value"])
            for r in read_hourly_rollup(spark, sink).collect()
        }

    want_roll = one_shot()
    want_post = sorted(
        tuple(r)
        for r in _events_kv_rows(facts, allow_missing_props=True).collect()
    )
    want_dfs = {r["kv"]: r["df"] for r in read_kv_dfreq(spark, sink).collect()}
    assert rollup_now() == want_roll  # healthy before the "crash"

    # the never-replayed crash: batch 1's derived writes are gone while
    # its facts remain; plus an orphan kv partition (facts never landed)
    for t in ("events_hourly_rollup", "events_kv_postings", "events_kv_dfreq"):
        shutil.rmtree(os.path.join(sink, t, "_batch_id=1"))
    _write_idempotent(
        spark.createDataFrame([("k=99", 999)], "kv string, event_id long"),
        os.path.join(sink, "events_kv_postings"),
        7,
    )

    assert rollup_now() != want_roll  # the silent undercount, visible here
    report = audit_events_sink(sink)
    assert report["rollup_missing"] == [1]
    # batch 2 (zero-entry) also reads as missing until a repair
    # CONFIRMS it derives nothing
    assert report["kv_missing"] == [1, 2]
    assert report["dfreq_missing"] == [1, 2]
    assert report["orphans"] == {"events_kv_postings": [7]}

    out = repair_events_sink(spark, sink)
    assert out["rollup_repaired"] == [1]
    assert out["kv_repaired"] == [1]
    assert out["dfreq_repaired"] == [1]
    assert out["orphans_removed"] == {"events_kv_postings": [7]}
    # the confirmed-zero batch is recorded: later audits stop listing
    # it and later repairs stop re-deriving it
    assert audit_events_sink(sink)["kv_missing"] == []
    assert audit_events_sink(sink)["dfreq_missing"] == []

    assert rollup_now() == want_roll
    assert (
        sorted(tuple(r) for r in read_kv_postings(spark, sink).collect())
        == want_post
    )
    assert {
        r["kv"]: r["df"] for r in read_kv_dfreq(spark, sink).collect()
    } == want_dfs

    # a completed repair is a no-op
    again = repair_events_sink(spark, sink)
    assert again == {
        "rollup_repaired": [],
        "kv_repaired": [],
        "dfreq_repaired": [],
        "stale_repaired": [],
        "orphans_removed": {},
        "receipts_refreshed": [],
    }

    # review r8 pass-3 #5: a reused batch id (checkpoint loss) that
    # re-lands WITH kv entries must invalidate its zero-entry sentinel
    # — the audit sees its missing dfreq again and the repair heals it
    # and scrubs the sentinel
    from venus_spark.streaming import _read_zero_kv_batches

    assert set(_read_zero_kv_batches(sink)) == {2}
    reused = spark.createDataFrame(
        [("type=buy", 6), ("?type", 6)], "kv string, event_id long"
    )
    _write_idempotent(reused, os.path.join(sink, "events_kv_postings"), 2)
    assert audit_events_sink(sink)["dfreq_missing"] == [2]
    # VERDICT r8 #1 upgraded this resolution: the batch's commit
    # receipt (recorded kv fingerprint = absent) exposes the injected
    # postings as STALE, and the default repair re-derives the batch
    # from its FACTS — which derive zero entries — so the phantom
    # postings are REMOVED and the zero sentinel re-confirmed at the
    # current fingerprint (previously the repair trusted the present
    # partition and only recounted dfreq from it).
    assert audit_events_sink(sink)["stale"] == [2]
    out3 = repair_events_sink(spark, sink)
    assert out3["stale_repaired"] == [2]
    assert set(_read_zero_kv_batches(sink)) == {2}
    dfs3 = {r["kv"]: r["df"] for r in read_kv_dfreq(spark, sink).collect()}
    assert dfs3.get("type=buy", 0) == want_dfs.get("type=buy", 0)

    # review r8 pass-4 #1: a reused batch id that re-lands DIFFERENT
    # facts but crashes BEFORE its kv write must void the zero
    # confirmation via the facts fingerprint — without it, the one
    # crash window this machinery exists to close becomes undetectable
    zero_facts = spark.createDataFrame(
        [(9, None, 3, None, 9.0, None)],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    _write_idempotent(zero_facts, os.path.join(sink, "events"), 9)
    assert repair_events_sink(spark, sink)["kv_repaired"] == []
    assert 9 in _read_zero_kv_batches(sink)  # confirmed zero
    real_facts = spark.createDataFrame(
        [(9, None, 4, "click", 9.0, None)],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    _write_idempotent(real_facts, os.path.join(sink, "events"), 9)
    # facts rewritten, kv never landed (the crash): the audit must see
    # batch 9 as missing again — AND, because the first repair recorded
    # batch 9's commit receipt, the facts rewrite also flags it STALE,
    # so the stale pass (which re-derives everything from the current
    # facts) is the one that heals it; the per-table missing passes
    # skip stale batches to avoid double work (review r9 pass-3 #3)
    audit4 = audit_events_sink(sink)
    assert 9 in audit4["kv_missing"] and 9 in audit4["stale"]
    out4 = repair_events_sink(spark, sink)
    assert out4["stale_repaired"] == [9] and out4["kv_repaired"] == []
    assert 9 not in _read_zero_kv_batches(sink)
    assert ("type=click", 9) in {
        tuple(r) for r in read_kv_postings(spark, sink).collect()
    }

    # review r8 pass-5 #3: a reused batch id whose facts were rewritten
    # AFTER its entry-bearing derived writes leaves PRESENT-but-stale
    # partitions the partition-set audit cannot see — only deep
    # (value-level) repair converges them
    rewritten = spark.createDataFrame(
        [(7, None, 7, "scroll", 7.0, None)],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    # a PRE-UPGRADE sink: no commit receipts, so the partition-set
    # audit (and the receipt-driven stale pass) cannot see the rewrite
    # — deep repair remains the only cure there. The receipt-present
    # path is pinned by test_sink_fingerprint_guard_excludes_orphans.
    os.remove(os.path.join(sink, "_batch_fingerprints.json"))
    _write_idempotent(rewritten, os.path.join(sink, "events"), 0)
    shallow = repair_events_sink(spark, sink)
    assert shallow["kv_repaired"] == []  # the blind spot, by design
    assert shallow["stale_repaired"] == []  # no receipts -> no claim
    assert ("type=scroll", 7) not in {
        tuple(r) for r in read_kv_postings(spark, sink).collect()
    }
    deep = repair_events_sink(spark, sink, deep=True)
    assert sorted(deep["deep_rewritten"]) == audit_events_sink(sink)["events"]
    facts_now = spark.read.parquet(os.path.join(sink, "events")).drop(
        "_batch_id"
    )
    assert sorted(
        tuple(r) for r in read_kv_postings(spark, sink).collect()
    ) == sorted(
        tuple(r)
        for r in _events_kv_rows(
            facts_now, allow_missing_props=True
        ).collect()
    )
    got_roll = {
        r["bucket_ts"]: (r["n"], r["total_value"])
        for r in read_hourly_rollup(spark, sink).collect()
    }
    from venus_spark.functions import dsum as _dsum

    want_roll2 = {
        r["bucket_ts"]: (r["n"], r["total_value"])
        for r in facts_now.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        )
        .agg(F.count("*").alias("n"), _dsum("value").alias("total_value"))
        .collect()
    }
    assert got_roll == want_roll2


def test_streaming_kv_postings_empty_batch_and_reader_fallback(
    spark, tmp_path
):
    """Review r7 pass-4 #1: a NON-empty batch can derive ZERO kv rows
    (every key absent: null event_type, uid-absent users, no props) —
    the kv write must be skipped (an empty dynamic-overwrite write
    lands no data files and breaks schema inference), the reader must
    serve an empty TYPED relation in the meantime, and the fact table
    and rollup must land normally."""
    import json as _json

    from venus_spark.streaming import (
        read_kv_postings,
        read_sink_table,
        start_events_rollup_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    # null event_type + user_id % 3 == 0 -> no entries at all
    (landing / "b0.jsonl").write_text(
        _json.dumps(
            {"event_id": 1, "ts": "2024-01-01 10:10:00", "user_id": 3,
             "event_type": None, "value": 1.0}
        )
        + "\n"
    )
    sink = str(tmp_path / "sink")
    q = start_events_rollup_ingest(
        read_event_stream(spark, landing),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    assert q.awaitTermination(180)
    assert read_sink_table(spark, sink, "events").count() == 1
    post = read_kv_postings(spark, sink)  # must not raise
    assert post.count() == 0
    assert [f.name for f in post.schema.fields] == ["kv", "event_id"]

    # the next batch's postings land and the reader switches over
    (landing / "b1.jsonl").write_text(
        _json.dumps(
            {"event_id": 2, "ts": "2024-01-01 10:20:00", "user_id": 4,
             "event_type": "click", "value": 1.0}
        )
        + "\n"
    )
    q = start_events_rollup_ingest(
        read_event_stream(spark, landing),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    assert q.awaitTermination(180)
    got = sorted(tuple(r) for r in read_kv_postings(spark, sink).collect())
    assert got == [("?type", 2), ("?uid", 2), ("type=click", 2), ("uid=4", 2)]


def test_sink_fingerprint_guard_excludes_orphans(spark, tmp_path, monkeypatch):
    """VERDICT r8 #1 (the always-on orphan/stale guard): the key plans
    answer from the postings with no fact-table recheck, and the sink's
    kv-FIRST write ordering means a crash between the kv and facts
    writes whose checkpoint is never replayed leaves ORPHAN presence
    rows — which used to inflate json_key_discovery_live /
    json_key_frequency_live until an explicit repair ran. The per-batch
    commit receipt + partition listing now detect orphan AND stale kv
    partitions at read time and exclude them; the repair heals both
    permanently. The containment plan stays on the UNguarded read by
    design (its recheck needs postings ⊇ landed facts)."""
    import json as _json
    import os

    from venus_spark import prepared
    from venus_spark.plans import all_plans
    from venus_spark.plans import venus_surface as vs
    from venus_spark.streaming import (
        EVENTS_STREAM_SCHEMA,
        _write_idempotent,
        audit_events_sink,
        events_stream_sink_dir,
        read_kv_postings,
        read_kv_postings_guarded,
        repair_events_sink,
        sink_kv_exclusions,
        start_events_rollup_ingest,
    )

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    sf = str(tmp_path / "sf")
    spark.read.parquet(os.path.join(src, "events.parquet")).write.parquet(
        os.path.join(sf, "events.parquet")
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b0.jsonl").write_text(
        "\n".join(
            _json.dumps(
                {
                    "event_id": 2_000_000 + i,
                    "ts": f"2024-01-01 10:0{i}:00",
                    "user_id": 7,
                    "event_type": "click",
                    "value": 1.0,
                    "props": '{"k": 7}',
                }
            )
            for i in (1, 2)
        )
    )
    sink = events_stream_sink_dir(sf)
    q = start_events_rollup_ingest(
        spark.readStream.schema(EVENTS_STREAM_SCHEMA).json(str(landing)),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    assert q.awaitTermination(180)
    # the stream recorded the batch's commit receipt
    assert os.path.exists(os.path.join(sink, "_batch_fingerprints.json"))

    plans = all_plans()
    vs._KV_DF_CACHE.clear()

    def freqs():
        return {
            r["key"]: r["n_docs"]
            for r in plans["json_key_frequency_live"].fn(spark, sf).collect()
        }

    def keys():
        return {
            r["key"]
            for r in plans["json_key_discovery_live"].fn(spark, sf).collect()
        }

    healthy = freqs()
    assert sink_kv_exclusions(sink) == set()

    # THE CRASH: a batch's kv postings landed (kv-first), its facts
    # never did, and the checkpoint that would replay them is lost —
    # orphan presence rows for events that do not exist
    _write_idempotent(
        spark.createDataFrame(
            [("?phantom", 9_000_001), ("phantom=1", 9_000_001)],
            "kv string, event_id long",
        ),
        os.path.join(sink, "events_kv_postings"),
        77,
    )
    # the raw (unguarded) postings DO contain the orphan rows — this is
    # what used to inflate the key plans
    assert ("?phantom", 9_000_001) in {
        tuple(r) for r in read_kv_postings(spark, sink).collect()
    }
    # ...but the guard names the orphan batch and the guarded read and
    # both live key plans exclude it
    assert sink_kv_exclusions(sink) == {77}
    assert ("?phantom", 9_000_001) not in {
        tuple(r) for r in read_kv_postings_guarded(spark, sink).collect()
    }
    assert "phantom" not in keys()
    assert freqs() == healthy
    assert audit_events_sink(sink)["orphans"] == {
        "events_kv_postings": [77]
    }
    # containment soundness is unaffected: the phantom needle rechecks
    # against the facts and returns empty (never an invented row)
    vs._KV_DF_CACHE.clear()
    assert (
        plans["json_containment_indexed_live"].fn(spark, sf).count() >= 0
    )

    # THE STALE REWRITE: a reused batch id (checkpoint loss) rewrites
    # the streamed batch's kv partition — new file set ≠ the commit
    # receipt — while its facts stay the landed generation
    _write_idempotent(
        spark.createDataFrame(
            [("?phantom2", 9_000_002)], "kv string, event_id long"
        ),
        os.path.join(sink, "events_kv_postings"),
        0,
    )
    excl = sink_kv_exclusions(sink)
    assert excl == {0, 77}
    assert "phantom2" not in keys()
    # snapshot semantics: the stale batch's (legitimate) contributions
    # drop out too until the repair — bounded under-report, never an
    # invented key
    assert freqs()["k"] <= healthy["k"]
    assert audit_events_sink(sink)["stale"] == [0]

    # the repair heals both permanently: orphan removed, stale batch
    # re-derived from its facts, receipts refreshed
    rep = repair_events_sink(spark, sink)
    assert rep["orphans_removed"] == {"events_kv_postings": [77]}
    assert rep["stale_repaired"] == [0]
    assert sink_kv_exclusions(sink) == set()
    vs._KV_DF_CACHE.clear()
    assert freqs() == healthy
    assert "phantom" not in keys() and "phantom2" not in keys()


def test_malformed_receipt_entries_degrade_never_crash(tmp_path):
    """Review r10 pass-3 #1: receipts are ADVISORY — a foreign or
    hand-repaired entry shape (dict missing 'rows'/'files', non-list
    files, the short-lived 'xor' field) must degrade to names-only /
    conservative-stale, never raise into the query path or the
    nightly audit. Pure-metadata test: no Spark session needed."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from venus_spark.streaming import (
        _sink_receipt_divergence,
        sink_kv_exclusions,
    )

    sink = str(tmp_path / "sink")
    for table, bid in (("events", 0), ("events_kv_postings", 0)):
        part = os.path.join(sink, table, f"_batch_id={bid}")
        os.makedirs(part)
        pq.write_table(
            pa.table({"kv": ["k=1"], "event_id": [1]}),
            os.path.join(part, "data.parquet"),
        )

    _UNSET = object()

    def write_record(entry, batch_level=_UNSET):
        with open(os.path.join(sink, "_batch_fingerprints.json"), "w") as f:
            # the events entry NAME-MATCHES the on-disk partition so
            # the malformed kv entry is what drives classification —
            # without it every case short-circuits to stale on the
            # missing events claim and the code under test never runs
            # (review r10 pass-4 #2: the first version of this test
            # was vacuous exactly that way)
            _json.dump(
                {
                    "0": batch_level
                    if batch_level is not _UNSET
                    else {
                        "events": ["data.parquet"],
                        "events_kv_postings": entry,
                    }
                },
                f,
            )

    # every malformed ENTRY shape: no crash, batch reads as stale
    # (name-mismatch with no usable digest = conservative)
    for entry in (
        {"sum": 1},                               # missing files + rows
        {"files": ["other.parquet"], "sum": 2},   # missing rows
        {"files": ["other.parquet"], "rows": 1, "xor": 3},  # old field
        {"files": "not-a-list", "rows": 1, "sum": 4},
        None,
        "garbage",
    ):
        write_record(entry)
        stale, drift = _sink_receipt_divergence(sink)
        assert stale == {0} and drift == set()
        assert 0 in sink_kv_exclusions(sink)

    # malformed BATCH-level values (bid mapped to a non-dict) degrade
    # the same way (review r10 pass-4 #1)
    for batch_level in (["data.parquet"], None, "garbage", 7):
        write_record(None, batch_level=batch_level)
        stale, drift = _sink_receipt_divergence(sink)
        assert stale == {0} and drift == set()
        assert 0 in sink_kv_exclusions(sink)

    # a well-formed digest entry at WRONG row count short-circuits to
    # stale via the footer gate (no data pages read to prove it)
    write_record({"files": ["other.parquet"], "rows": 99, "sum": 5})
    stale, drift = _sink_receipt_divergence(sink)
    assert stale == {0} and drift == set()

    # and a well-formed entry whose names + digest MATCH reality is
    # healthy — proving the loop really reaches the kv entry (the
    # non-vacuity check for everything above)
    from venus_spark.streaming import _partition_content_digest

    good = _partition_content_digest(
        sink, "events_kv_postings", 0, ["data.parquet"]
    )
    write_record({"files": ["data.parquet"], **good})
    stale, drift = _sink_receipt_divergence(sink)
    assert stale == set() and drift == set()
    # same rows recorded under DIFFERENT names -> drift (digest clears)
    write_record({"files": ["old-name.parquet"], **good})
    stale, drift = _sink_receipt_divergence(sink)
    assert stale == set() and drift == {0}


def test_replay_rewrite_same_rows_not_stale_phantom_excluded(
    spark, tmp_path, monkeypatch
):
    """VERDICT r9 #1 (content-digest receipts close the r9 KNOWN
    CONSERVATIVE WINDOW): a checkpoint REPLAY of a fully-landed batch
    rewrites its partitions with fresh uuid file names but byte-
    identical rows — a query running MID-replay (receipt not yet
    refreshed) must KEEP the replayed batch's keys, because the
    receipt's row-content digest distinguishes the replay from a
    reused id's phantom injection, which must STAY excluded. Legacy
    names-only receipts (pre-digest sinks) keep the conservative r9
    behavior. Reference intent: GIN entries are MVCC-consistent with
    their heap rows — a re-landed identical row serves identically
    (migration 37716151a213 :37,52,73)."""
    import json as _json
    import os

    from venus_spark import prepared
    from venus_spark.plans import all_plans
    from venus_spark.plans import venus_surface as vs
    from venus_spark.streaming import (
        EVENTS_STREAM_SCHEMA,
        _read_batch_fp_record,
        _table_partition_fp,
        _write_batch_fp_record,
        _write_idempotent,
        events_stream_sink_dir,
        sink_kv_exclusions,
        start_events_rollup_ingest,
    )

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    sf = str(tmp_path / "sf")
    spark.read.parquet(os.path.join(src, "events.parquet")).write.parquet(
        os.path.join(sf, "events.parquet")
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b0.jsonl").write_text(
        "\n".join(
            _json.dumps(
                {
                    "event_id": 2_000_000 + i,
                    "ts": f"2024-01-01 10:0{i}:00",
                    "user_id": 7,
                    "event_type": "click",
                    "value": 1.0,
                    "props": '{"k": 7}',
                }
            )
            for i in (1, 2)
        )
    )
    sink = events_stream_sink_dir(sf)
    q = start_events_rollup_ingest(
        spark.readStream.schema(EVENTS_STREAM_SCHEMA).json(str(landing)),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    assert q.awaitTermination(180)

    plans = all_plans()

    def freqs():
        vs._KV_DF_CACHE.clear()
        return {
            r["key"]: r["n_docs"]
            for r in plans["json_key_frequency_live"].fn(spark, sf).collect()
        }

    healthy = freqs()
    assert sink_kv_exclusions(sink) == set()
    rec0 = _read_batch_fp_record(sink)[0]
    assert isinstance(rec0["events_kv_postings"], dict)  # digest-bearing

    # THE MID-REPLAY STATE: both the kv and facts partitions rewritten
    # with the SAME rows under fresh names (and a different file
    # layout), the end-of-batch receipt refresh not yet run
    for table in ("events_kv_postings", "events"):
        part = os.path.join(sink, table, "_batch_id=0")
        rows = spark.read.parquet(part)
        _write_idempotent(
            rows.repartition(2), os.path.join(sink, table), 0
        )
    assert (
        _table_partition_fp(sink, "events_kv_postings", 0)
        != rec0["events_kv_postings"]["files"]
    )  # names DID change — only the digest can clear the batch
    # NOT stale: the digest matches, the batch's keys stay served
    assert sink_kv_exclusions(sink) == set()
    assert freqs() == healthy

    # ...but the audit names the drift and the repair refreshes the
    # receipt (review r10 #2: without this, a replay that crashed
    # before its own receipt refresh would leave every future check
    # re-paying the digest read forever)
    from venus_spark.streaming import audit_events_sink, repair_events_sink

    audit = audit_events_sink(sink)
    assert audit["receipt_drift"] == [0] and audit["stale"] == []
    rep0 = repair_events_sink(spark, sink)
    assert rep0["receipts_refreshed"] == [0]
    audit = audit_events_sink(sink)
    assert audit["receipt_drift"] == [] and audit["stale"] == []
    assert sink_kv_exclusions(sink) == set()
    assert freqs() == healthy

    # THE PHANTOM: the same reused id re-lands DIFFERENT kv rows —
    # digest mismatch, excluded exactly as before
    _write_idempotent(
        spark.createDataFrame(
            [("?phantom", 9_000_009)], "kv string, event_id long"
        ),
        os.path.join(sink, "events_kv_postings"),
        0,
    )
    assert sink_kv_exclusions(sink) == {0}
    assert "phantom" not in freqs()

    # LEGACY receipt (names-only, pre-digest sink): restore the real
    # rows + receipt, then downgrade the receipt format — a same-rows
    # fresh-name rewrite now reads as stale (the conservative r9 rule;
    # absent a digest the record cannot clear it)
    from venus_spark.streaming import _record_batch_fps

    facts0 = spark.read.parquet(os.path.join(sink, "events", "_batch_id=0"))
    from venus_spark.prepared import _events_kv_rows

    _write_idempotent(
        _events_kv_rows(facts0, allow_missing_props=True),
        os.path.join(sink, "events_kv_postings"),
        0,
    )
    _record_batch_fps(sink, [0])
    assert sink_kv_exclusions(sink) == set()
    legacy = {
        bid: {
            t: (rec["files"] if isinstance(rec, dict) else rec)
            for t, rec in fps.items()
        }
        for bid, fps in _read_batch_fp_record(sink).items()
    }
    _write_batch_fp_record(sink, legacy)
    part = os.path.join(sink, "events_kv_postings", "_batch_id=0")
    _write_idempotent(
        spark.read.parquet(part).repartition(2),
        os.path.join(sink, "events_kv_postings"),
        0,
    )
    assert sink_kv_exclusions(sink) == {0}


def test_maintain_auto_heals_sink_divergence(spark, tmp_path, monkeypatch, capsys):
    """VERDICT r8 #5: the nightly (`maintain auto`) runs the sink
    audit+repair step — it heals the lost-checkpoint orphan end-to-end
    and reports 'consistent' on the healthy re-run."""
    import json as _json
    import os

    from venus_spark import prepared
    from venus_spark.__main__ import main
    from venus_spark.streaming import (
        EVENTS_STREAM_SCHEMA,
        _write_idempotent,
        events_stream_sink_dir,
        sink_kv_exclusions,
        start_events_rollup_ingest,
    )

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("events", "documents", "embeddings"):
        os.symlink(
            os.path.join(src, f"{t}.parquet"),
            os.path.join(sf, f"{t}.parquet"),
        )
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "b0.jsonl").write_text(
        _json.dumps(
            {
                "event_id": 2_000_001,
                "ts": "2024-01-01 10:01:00",
                "user_id": 7,
                "event_type": "click",
                "value": 1.0,
                "props": '{"k": 7}',
            }
        )
    )
    sink = events_stream_sink_dir(sf)
    q = start_events_rollup_ingest(
        spark.readStream.schema(EVENTS_STREAM_SCHEMA).json(str(landing)),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    assert q.awaitTermination(180)
    # the crash-window orphan
    _write_idempotent(
        spark.createDataFrame(
            [("?phantom", 9_000_001)], "kv string, event_id long"
        ),
        os.path.join(sink, "events_kv_postings"),
        55,
    )
    assert sink_kv_exclusions(sink) == {55}
    rc = main(["maintain", "auto", "--sf", sf])
    out = capsys.readouterr().out
    assert rc == 0, out
    assert "sink-repair repaired" in out and "orphans=1" in out
    assert sink_kv_exclusions(sink) == set()
    assert not os.path.isdir(
        os.path.join(sink, "events_kv_postings", "_batch_id=55")
    )
    # healthy re-run: the step reports consistency, nothing to do
    rc2 = main(["maintain", "auto", "--sf", sf])
    assert "sink-repair consistent" in capsys.readouterr().out
    assert rc2 == 0


def test_zero_entry_replay_clears_prior_generation_kv(
    spark, tmp_path, monkeypatch
):
    """Review r9 pass-4 #1: a REUSED batch id (checkpoint loss) whose
    new generation derives ZERO kv entries used to skip the kv write
    and leave the prior generation's kv/dfreq partitions behind — and
    the end-of-batch commit receipt then fingerprinted those stale
    files as current, certifying phantom postings invisibly to the
    guard, the audit, AND the default repair. The zero-entry branch
    now removes its own bid's leftover partitions before the receipt."""
    import json as _json
    import os

    from venus_spark import prepared
    from venus_spark.plans import all_plans
    from venus_spark.plans import venus_surface as vs
    from venus_spark.streaming import (
        EVENTS_STREAM_SCHEMA,
        audit_events_sink,
        events_stream_sink_dir,
        sink_kv_exclusions,
        start_events_rollup_ingest,
    )

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    sf = str(tmp_path / "sf")
    spark.read.parquet(os.path.join(src, "events.parquet")).write.parquet(
        os.path.join(sf, "events.parquet")
    )

    def run_stream(landing, ckpt):
        q = start_events_rollup_ingest(
            spark.readStream.schema(EVENTS_STREAM_SCHEMA).json(str(landing)),
            sink_dir=sink,
            checkpoint_dir=str(ckpt),
            trigger_seconds=None,
        )
        assert q.awaitTermination(180)

    # generation 1 of batch id 0: entry-bearing (phantom-to-be)
    landing1 = tmp_path / "landing1"
    landing1.mkdir()
    (landing1 / "b0.jsonl").write_text(
        _json.dumps(
            {
                "event_id": 9_000_001,
                "ts": "2024-01-01 10:01:00",
                "user_id": 7,
                "event_type": "click",
                "value": 1.0,
                "props": '{"k": 7}',
            }
        )
    )
    sink = events_stream_sink_dir(sf)
    run_stream(landing1, tmp_path / "ckpt1")
    assert os.path.isdir(os.path.join(sink, "events_kv_postings", "_batch_id=0"))

    # THE CRASH: checkpoint lost; the restarted stream reuses batch id
    # 0 for DIFFERENT rows that derive zero kv entries (null type,
    # uid-absent user, null props)
    landing2 = tmp_path / "landing2"
    landing2.mkdir()
    (landing2 / "b0.jsonl").write_text(
        _json.dumps(
            {
                "event_id": 9_000_009,
                "ts": "2024-01-01 11:01:00",
                "user_id": 3,
                "event_type": None,
                "value": 2.0,
                "props": None,
            }
        )
    )
    run_stream(landing2, tmp_path / "ckpt2")

    # the prior generation's kv/dfreq partitions are GONE — no phantom
    # postings for event 9_000_001 (whose facts no longer exist)
    for t in ("events_kv_postings", "events_kv_dfreq"):
        assert not os.path.isdir(os.path.join(sink, t, "_batch_id=0")), t
    # and therefore: nothing for the guard or the audit to flag, and
    # the live key plans report base-only keys
    assert sink_kv_exclusions(sink) == set()
    audit = audit_events_sink(sink)
    assert audit["stale"] == [] and audit["orphans"] == {}
    plans = all_plans()
    vs._KV_DF_CACHE.clear()
    live = {
        r["key"]: r["n_docs"]
        for r in plans["json_key_frequency_live"].fn(spark, sf).collect()
    }
    cold = {
        r["key"]: r["n_docs"]
        for r in plans["json_key_frequency"].fn(spark, sf).collect()
    }
    assert live == cold  # the streamed generation-2 batch derives nothing


def test_maintain_auto_heals_orphan_only_sink(spark, tmp_path, monkeypatch, capsys):
    """Review r9 pass-6 #2: a first-ever batch that crashed between the
    kv-first write and the facts write (checkpoint lost) leaves a sink
    holding ONLY orphan kv partitions — no events table at all. The
    nightly's sink-repair gate must still fire and heal it."""
    import json as _json
    import os

    from venus_spark import prepared
    from venus_spark.__main__ import main
    from venus_spark.streaming import _write_idempotent, events_stream_sink_dir

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    src = "/root/testdata/sf0.001"
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("events", "documents", "embeddings"):
        os.symlink(
            os.path.join(src, f"{t}.parquet"),
            os.path.join(sf, f"{t}.parquet"),
        )
    sink = events_stream_sink_dir(sf)
    _write_idempotent(
        spark.createDataFrame(
            [("?phantom", 9_000_001)], "kv string, event_id long"
        ),
        os.path.join(sink, "events_kv_postings"),
        0,
    )
    assert not os.path.isdir(os.path.join(sink, "events"))
    rc = main(["maintain", "auto", "--sf", sf])
    out = capsys.readouterr().out
    assert rc == 0, out
    assert "sink-repair repaired" in out and "orphans=1" in out
    assert not os.path.isdir(
        os.path.join(sink, "events_kv_postings", "_batch_id=0")
    )


def _drift_receipt_sink(tmp_path) -> str:
    """A sink whose batch 0 carries a DRIFT receipt: the kv partition's
    file names differ from the receipt's but its rows digest-match (a
    replay that crashed after its rewrite, before its receipt
    refresh)."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from venus_spark import streaming as st

    sink = str(tmp_path / "sink")
    for table in ("events", "events_kv_postings"):
        part = os.path.join(sink, table, "_batch_id=0")
        os.makedirs(part)
        pq.write_table(
            pa.table({"kv": ["k=1"], "event_id": [1]}),
            os.path.join(part, "data.parquet"),
        )
    good = st._partition_content_digest(
        sink, "events_kv_postings", 0, ["data.parquet"]
    )
    with open(os.path.join(sink, "_batch_fingerprints.json"), "w") as f:
        _json.dump(
            {
                "0": {
                    "events": ["data.parquet"],
                    # drifted names, matching digest: the replay state
                    "events_kv_postings": {
                        "files": ["old-name.parquet"],
                        **good,
                    },
                }
            },
            f,
        )
    return sink


def test_drift_receipt_served_on_every_check_and_none_digest_stale(
    tmp_path, monkeypatch
):
    """ADVICE r10 #3 / review r10 #2: a drift batch classifies as drift
    (served, flagged for a receipt refresh), never stale, on every
    check until the repair refreshes the receipt. A None digest
    (unreadable partition, a rewrite's commit instant) makes no claim:
    the batch reads as stale."""
    from venus_spark import streaming as st

    sink = _drift_receipt_sink(tmp_path)
    for _ in range(3):
        stale, drift = st._sink_receipt_divergence(sink)
        assert stale == set() and drift == {0}

    monkeypatch.setattr(
        st, "_partition_content_digest", lambda *a, **kw: None
    )
    for _ in range(2):
        stale, drift = st._sink_receipt_divergence(sink)
        assert stale == {0} and drift == set()


def test_drift_checks_write_nothing_into_the_sink(spark, tmp_path):
    """The query-side guard and the audit only READ the sink: on a
    drift receipt, neither the guarded kv read nor the audit adds,
    removes or rewrites a file under the sink directory."""
    import os

    from venus_spark.streaming import audit_events_sink, read_kv_postings_guarded

    sink = _drift_receipt_sink(tmp_path)

    def listing() -> list[tuple[str, int]]:
        paths = [os.path.join(d, f) for d, _, fs in os.walk(sink) for f in fs]
        return sorted((os.path.relpath(p, sink), os.stat(p).st_mtime_ns) for p in paths)

    before = listing()
    rows = read_kv_postings_guarded(spark, sink).collect()
    assert [(r["kv"], r["event_id"]) for r in rows] == [("k=1", 1)]
    assert audit_events_sink(sink)["receipt_drift"] == [0]
    assert listing() == before


def test_audit_receipt_drift_excludes_orphaned_batches(tmp_path):
    """ADVICE r10 #2: a drift batch whose EVENTS partition vanished is
    an orphan — it must be reported in the orphans class only, not
    also in receipt_drift (one batch, one audit class; the repair's
    orphan removal + receipt prune handles it)."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from venus_spark import streaming as st

    sink = str(tmp_path / "sink")
    # kv partition exists; events partition does NOT -> orphan
    part = os.path.join(sink, "events_kv_postings", "_batch_id=0")
    os.makedirs(part)
    pq.write_table(
        pa.table({"kv": ["k=1"], "event_id": [1]}),
        os.path.join(part, "data.parquet"),
    )
    good = st._partition_content_digest(
        sink, "events_kv_postings", 0, ["data.parquet"]
    )
    with open(os.path.join(sink, "_batch_fingerprints.json"), "w") as f:
        _json.dump(
            {
                "0": {
                    "events": [],
                    # drifted names, digest-matched: would classify as
                    # drift — but the facts are gone, so it's an orphan
                    "events_kv_postings": {
                        "files": ["old-name.parquet"],
                        **good,
                    },
                }
            },
            f,
        )
    audit = st.audit_events_sink(sink)
    assert audit["receipt_drift"] == []
    assert audit["stale"] == []
    assert audit["orphans"] == {"events_kv_postings": [0]}
