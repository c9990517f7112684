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
    committed batch (the crash between the sink commit and the
    checkpoint commit) must leave every reader's rows unchanged."""
    from pyspark.sql import functions as F

    from venus_spark.functions import dsum
    from venus_spark.streaming import (
        read_hourly_rollup,
        read_kv_dfreq,
        read_kv_postings,
        read_sink_events,
        start_events_rollup_ingest,
        write_events_batch,
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
    all_events = read_sink_events(spark, sink)
    want = {
        r["bucket_ts"]: (r["n"], r["total_value"])
        for r in all_events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        )
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .collect()
    }
    assert got == want and len(got) == 3

    def readers():
        return (
            snapshot(),
            _rows(read_sink_events(spark, sink)),
            _rows(read_kv_postings(spark, sink)),
            _rows(read_kv_dfreq(spark, sink)),
        )

    # replay the second batch verbatim: no reader's rows change
    before = readers()
    write_events_batch(all_events.filter(F.col("event_id") >= 4), sink, 1)
    assert readers() == before


def test_rollup_stream_restart_is_exactly_once(spark, tmp_path):
    """Checkpoint restart of the rollup-maintaining stream must not
    double-count: the second run picks up only the new file, and the
    merged rollup still equals the one-shot aggregate over everything
    streamed — on both the fact table and its continuous aggregate."""
    from pyspark.sql import functions as F

    from venus_spark.functions import dsum
    from venus_spark.streaming import (
        read_hourly_rollup,
        read_sink_events,
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

    events = read_sink_events(spark, str(tmp_path / "sink"))
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
    """The events ingest maintains the jsonb-GIN analog per
    micro-batch — the streamed sink's kv postings equal the derivation
    over everything streamed, a verbatim replay adds nothing, and a
    containment intersection over the postings returns exactly the
    events whose composed document contains the queried entries. Also
    exercises the props-less tolerance: this stream's schema carries
    no props column, so no ``k=``/``?k`` entries exist — absent-key
    semantics, not an error."""
    from pyspark.sql import functions as F

    from venus_spark.prepared import _events_kv_rows
    from venus_spark.streaming import (
        read_kv_postings,
        read_sink_events,
        start_events_rollup_ingest,
        write_events_batch,
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

    events = read_sink_events(spark, sink)
    want = sorted(
        tuple(r)
        for r in _events_kv_rows(events, allow_missing_props=True).collect()
    )
    got = rows()
    assert got == want
    assert not any(kv.startswith(("k=", "?k")) for kv, _ in got)  # props-less

    # verbatim replay of batch 1: no duplication
    write_events_batch(events.filter(F.col("event_id") >= 3), sink, 1)
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
    """End to end: with the PROPS-BEARING stream schema,
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
        events_stream_sink_dir,
        read_kv_dfreq,
        read_kv_postings,
        read_sink_events,
        start_events_rollup_ingest,
        write_events_batch,
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
                    read_sink_events(spark, sink), allowMissingColumns=True
                )
            ).collect(),
        )
    )
    assert live == want

    # the sink's ts column is NTZ like the base table — an LTZ column
    # would silently coerce the whole base-∪-sink union
    streamed = read_sink_events(spark, sink)
    assert dict(streamed.dtypes)["ts"] == "timestamp_ntz"

    # verbatim replay of the batch: its dfreq partials do not double
    write_events_batch(streamed, sink, 0)
    assert {
        r["kv"]: r["df"] for r in read_kv_dfreq(spark, sink).collect()
    } == dfs

    # overlap safety net: an operator re-lands a streamed event into
    # the base table without dropping its sink manifest entry — the
    # live plan's indexed recheck dedups by event_id,
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
    # carry the pushed prefix filter (the sink-less shape test cannot
    # see the union branch)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plans["json_key_frequency_live"].fn(spark, sf).explain("formatted")
    assert buf.getvalue().count("StringStartsWith(kv") >= 2, buf.getvalue()[
        :2000
    ]


def test_streaming_kv_postings_empty_batch_and_reader_fallback(
    spark, tmp_path
):
    """A NON-empty batch can derive ZERO kv rows (every key absent: null
    event_type, uid-absent users, no props): the postings reader serves
    an empty TYPED relation, the dfreq write is skipped, and the fact
    table and rollup land normally."""
    import json as _json

    from venus_spark.streaming import (
        events_sink_commits,
        read_kv_dfreq,
        read_kv_postings,
        read_sink_events,
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
    assert read_sink_events(spark, sink).count() == 1
    post = read_kv_postings(spark, sink)  # must not raise
    assert post.count() == 0
    assert [f.name for f in post.schema.fields] == ["kv", "event_id"]
    assert events_sink_commits(sink)["0"]["events_kv_dfreq"] == []
    assert read_kv_dfreq(spark, sink).count() == 0

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


# ---------------------------------------------------------------------------
# The events sink's commit manifest: a batch's four tables (facts, hourly
# rollup, kv postings, dfreq) become visible together or not at all.
# ---------------------------------------------------------------------------

LIVE_EVENT_PLANS = (
    "json_containment_indexed_live",
    "json_key_discovery_live",
    "json_key_frequency_live",
)


def _events_corpus(spark, tmp_path, monkeypatch) -> str:
    """A corpus dir holding the sf0.001 base events, with its prepared
    layouts built under ``tmp_path``."""
    import os

    from venus_spark import prepared

    monkeypatch.setattr(prepared, "PREPARED_ROOT", str(tmp_path / "prep"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("events", "documents", "embeddings"):
        os.symlink(
            os.path.join("/root/testdata/sf0.001", f"{t}.parquet"),
            os.path.join(sf, f"{t}.parquet"),
        )
    return sf


def _stream_batch(spark, first_id: int, n: int, kv: bool = True):
    """``n`` props-bearing streamed events from ``first_id`` on. Each
    derives kv entries (``k=7``, ``type=click``, and ``uid`` unless its
    user id is a multiple of 3); with ``kv=False`` every key is absent
    and the batch derives none."""
    import datetime as dt

    from venus_spark.streaming import EVENTS_STREAM_SCHEMA

    rows = [
        (
            first_id + i,
            dt.datetime(2024, 1, 1, 10 + i % 3, i),
            7 + i if kv else 3 * (i + 1),
            "click" if kv else None,
            1.0 + i,
            '{"k": 7}' if kv else None,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _sink_view(spark, sf: str) -> dict:
    """Everything a reader of the corpus's events sink sees: the four
    sink readers and the live containment and key plans."""
    from venus_spark.plans import all_plans
    from venus_spark.plans import venus_surface as vs
    from venus_spark.streaming import (
        events_stream_sink_dir,
        read_hourly_rollup,
        read_kv_dfreq,
        read_kv_postings,
        read_sink_events,
    )

    sink = events_stream_sink_dir(sf)
    plans = all_plans()
    vs._KV_DF_CACHE.clear()
    view = {
        "events": _rows(read_sink_events(spark, sink)),
        "postings": _rows(read_kv_postings(spark, sink)),
        "dfreq": _rows(read_kv_dfreq(spark, sink)),
        "rollup": _rows(read_hourly_rollup(spark, sink)),
    }
    for name in LIVE_EVENT_PLANS:
        view[name] = _rows(plans[name].fn(spark, sf))
    return view


def _attempt_dirs(sink: str) -> set[tuple[str, str]]:
    import os

    return {
        (table, d)
        for table in os.listdir(sink)
        if os.path.isdir(os.path.join(sink, table))
        for d in os.listdir(os.path.join(sink, table))
    }


def test_uncommitted_batch_is_invisible_until_retry(spark, tmp_path, monkeypatch):
    """A crash inside a batch, after some of its table writes and before
    its manifest commit (the checkpoint never replays it), leaves the
    batch invisible to the containment plan, the key plans and the
    rollup. The retry lands it exactly once."""
    from venus_spark import prepared
    from venus_spark import streaming as st

    sf = _events_corpus(spark, tmp_path, monkeypatch)
    sink = st.events_stream_sink_dir(sf)
    b0 = _stream_batch(spark, 2_000_000, 6)
    b1 = _stream_batch(spark, 2_000_100, 6)
    st.write_events_batch(b0, sink, 0)
    before = _sink_view(spark, sf)

    def crash(*_a, **_kw):
        raise RuntimeError("crash")

    # after the facts and rollup writes, before the postings write
    with monkeypatch.context() as m:
        m.setattr(prepared, "_events_kv_rows", crash)
        with pytest.raises(RuntimeError):
            st.write_events_batch(b1, sink, 1)
    assert _sink_view(spark, sf) == before
    # after all four writes, before the commit
    with monkeypatch.context() as m:
        m.setattr(st, "write_json_atomic", crash)
        with pytest.raises(RuntimeError):
            st.write_events_batch(b1, sink, 1)
    assert _sink_view(spark, sf) == before
    assert len({d for t, d in _attempt_dirs(sink) if t == "events"}) == 3

    st.write_events_batch(b1, sink, 1)
    after = _sink_view(spark, sf)
    assert after["events"] == sorted(before["events"] + _rows(b1))
    assert sum(r[1] for r in after["rollup"]) == 12
    streamed = [
        r[0] for r in after["json_containment_indexed_live"] if r[0] >= 2_000_000
    ]
    # k=7, click, uid present: user ids 7, 8, 10, 11 of each batch
    assert streamed == [
        b + i for b in (2_000_000, 2_000_100) for i in (0, 1, 3, 4)
    ]
    cold_type = dict(before["json_key_frequency_live"])["type"]
    assert dict(after["json_key_frequency_live"])["type"] == cold_type + 6


def test_replay_rewrite_same_rows_not_stale_phantom_excluded(
    spark, tmp_path, monkeypatch
):
    """A replay that rewrites a committed batch with the same rows leaves
    every reader's rows unchanged. A reused batch id with different rows
    (a restart after checkpoint loss) shows only the new generation in
    all four tables: no phantom posting, partial or fact row of the old
    one stays visible to any reader."""
    from venus_spark import streaming as st

    sf = _events_corpus(spark, tmp_path, monkeypatch)
    sink = st.events_stream_sink_dir(sf)
    st.write_events_batch(_stream_batch(spark, 2_000_000, 6), sink, 0)
    st.write_events_batch(_stream_batch(spark, 2_000_100, 6), sink, 1)
    view = _sink_view(spark, sf)

    st.write_events_batch(_stream_batch(spark, 2_000_100, 6), sink, 1)
    assert _sink_view(spark, sf) == view

    st.write_events_batch(_stream_batch(spark, 2_000_500, 3), sink, 1)
    new = _sink_view(spark, sf)
    ids = {r[0] for r in new["events"]}
    assert ids == set(range(2_000_000, 2_000_006)) | set(range(2_000_500, 2_000_503))
    assert {r[1] for r in new["postings"]} == ids
    assert sum(r[1] for r in new["rollup"]) == 9
    assert dict(new["dfreq"])["type=click"] == 9
    streamed = [
        r[0] for r in new["json_containment_indexed_live"] if r[0] >= 2_000_000
    ]
    assert streamed == [2_000_000, 2_000_001, 2_000_003, 2_000_004, 2_000_500, 2_000_501]
    assert dict(new["json_key_frequency_live"])["type"] == (
        dict(view["json_key_frequency_live"])["type"] - 3
    )


def test_zero_entry_replay_clears_prior_generation_kv(spark, tmp_path):
    """A reused batch id whose new generation derives ZERO kv entries
    leaves no posting or dfreq partial of the old generation visible;
    its facts and rollup are the new generation's alone."""
    from venus_spark.streaming import (
        read_hourly_rollup,
        read_kv_dfreq,
        read_kv_postings,
        read_sink_events,
        write_events_batch,
    )

    sink = str(tmp_path / "sink")
    write_events_batch(_stream_batch(spark, 100, 4), sink, 0)
    assert read_kv_postings(spark, sink).count() > 0
    write_events_batch(_stream_batch(spark, 200, 3, kv=False), sink, 0)
    assert read_kv_postings(spark, sink).count() == 0
    assert read_kv_dfreq(spark, sink).count() == 0
    assert [r[0] for r in _rows(read_sink_events(spark, sink))] == [200, 201, 202]
    assert sum(r["n"] for r in read_hourly_rollup(spark, sink).collect()) == 3


def test_maintain_auto_sweeps_unreferenced_attempts(
    spark, tmp_path, monkeypatch, capsys
):
    """The nightly (``maintain auto``) deletes exactly the sink's attempt
    dirs no manifest entry names (a crashed attempt and a generation a
    reused batch id superseded), no reader's result changes, and a
    second run deletes nothing."""
    from venus_spark import streaming as st
    from venus_spark.__main__ import main

    sf = _events_corpus(spark, tmp_path, monkeypatch)
    sink = st.events_stream_sink_dir(sf)
    st.write_events_batch(_stream_batch(spark, 2_000_000, 6), sink, 0)
    st.write_events_batch(_stream_batch(spark, 2_000_100, 6), sink, 1)
    live = _attempt_dirs(sink)
    # superseded: batch 1 lands a new generation
    st.write_events_batch(_stream_batch(spark, 2_000_200, 4), sink, 1)
    superseded = {(t, d) for t, d in live if d.startswith("1-")}
    live = _attempt_dirs(sink) - superseded

    def crash(*_a, **_kw):
        raise RuntimeError("crash")

    with monkeypatch.context() as m:
        m.setattr(st, "write_json_atomic", crash)
        with pytest.raises(RuntimeError):
            st.write_events_batch(_stream_batch(spark, 2_000_300, 4), sink, 2)
    crashed = _attempt_dirs(sink) - live - superseded
    assert len(superseded) == 4 and len(crashed) == 4
    view = _sink_view(spark, sf)

    assert main(["maintain", "auto", "--sf", sf]) == 0
    assert "sink-sweep 8 dir(s)" in capsys.readouterr().out
    assert _attempt_dirs(sink) == live
    assert _sink_view(spark, sf) == view

    assert main(["maintain", "auto", "--sf", sf]) == 0
    assert "sink-sweep 0 dir(s)" in capsys.readouterr().out
    assert _attempt_dirs(sink) == live


def test_reader_during_a_batch_sees_all_of_it_or_none(spark, tmp_path, monkeypatch):
    """A reader planned while a micro-batch is half written (paused after
    its facts write, before its rollup write) sees the batch in all four
    tables or in none: the rollup's total count equals the fact count,
    and the postings name exactly the fact ids."""
    import threading

    from venus_spark import prepared
    from venus_spark.streaming import (
        read_hourly_rollup,
        read_kv_postings,
        read_sink_events,
        start_events_rollup_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    write_jsonl(landing / "b0.jsonl", [event(i, "2024-01-01 10:00:00", user=4) for i in (1, 2, 3)])
    write_jsonl(landing / "b1.jsonl", [event(i, "2024-01-01 11:00:00", user=4) for i in (4, 5, 6)])
    sink = str(tmp_path / "sink")

    paused, resume = threading.Event(), threading.Event()
    partials = prepared._hourly_partial_rows
    calls = []

    def pausing(batch):
        calls.append(batch)
        if len(calls) == 2:  # the second batch, after its facts landed
            paused.set()
            resume.wait(120)
        return partials(batch)

    monkeypatch.setattr(prepared, "_hourly_partial_rows", pausing)
    q = start_events_rollup_ingest(
        read_event_stream(spark, landing),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    try:
        assert paused.wait(180), "the second batch never reached its rollup write"
        ids = {r["event_id"] for r in read_sink_events(spark, sink).collect()}
        n = sum(r["n"] for r in read_hourly_rollup(spark, sink).collect())
        posted = {r["event_id"] for r in read_kv_postings(spark, sink).collect()}
    finally:
        resume.set()
        assert q.awaitTermination(180)
    assert ids in ({1, 2, 3}, {1, 2, 3, 4, 5, 6})
    assert n == len(ids)
    assert posted == ids


def test_events_batch_and_live_plans_start_no_more_jobs(
    spark, tmp_path, monkeypatch, jobs_in_group
):
    """Spark jobs, each call counted in its own job group, stay at or
    under the counts of the sink design that wrote its four tables in
    order and probed the postings for emptiness with a count: 9 jobs
    for a batch that derives kv entries and 5 for one that derives
    none; 11 for ``json_containment_indexed_live`` and 3 for
    ``json_key_discovery_live`` (warm, construction plus collect) over
    a 2-batch sink. The manifest sink runs 6, 4, 8 and 2."""
    from venus_spark.plans import all_plans
    from venus_spark.plans import venus_surface as vs
    from venus_spark.streaming import events_stream_sink_dir, write_events_batch

    sf = _events_corpus(spark, tmp_path, monkeypatch)
    sink = events_stream_sink_dir(sf)
    b0 = _stream_batch(spark, 2_000_000, 20)
    b1 = _stream_batch(spark, 2_000_100, 20, kv=False)
    assert jobs_in_group("pin-batch-kv", lambda: write_events_batch(b0, sink, 0)) <= 9
    assert jobs_in_group("pin-batch-nokv", lambda: write_events_batch(b1, sink, 1)) <= 5

    plans = all_plans()
    for name, bound in (
        ("json_containment_indexed_live", 11),
        ("json_key_discovery_live", 3),
    ):
        plans[name].fn(spark, sf).collect()  # builds the prepared layouts
        vs._KV_DF_CACHE.clear()
        got = jobs_in_group(f"pin-{name}", lambda: plans[name].fn(spark, sf).collect())
        assert got <= bound, (name, got)
