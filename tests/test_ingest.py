"""Ingest pipeline tests — the reference's test strategy (SURVEY.md §5)
reproduced: synthesize LogRecord JSON, run the pipeline, read the sink,
assert superset presence + field fidelity (reference
tests/test_sender.py:37-61,97-136).
"""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from venus_spark.ingest import (
    DROP_FIELDS,
    good_records,
    log_record_schema,
    parse_records,
    quarantined_records,
)
from venus_spark.streaming import read_log_stream, start_logs_ingest


def make_record(i: int, corr: str | None = None, **extra) -> dict:
    """A LogRecord-as-JSON like reference README.rst:35-61 /
    tests/sender.py:48 produce."""
    return {
        "name": "svc",
        "msg": "work %d",
        "levelname": "INFO",
        "levelno": 20,
        "pathname": "/app/sender.py",
        "filename": "sender.py",
        "module": "sender",
        "exc_text": None,
        "stack_info": None,
        "lineno": 60,
        "funcName": "main",
        "created": 1700000000.0 + i * 3600,
        "msecs": 123.0,
        "relativeCreated": 45.0,
        "thread": 1,
        "threadName": "MainThread",
        "processName": "MainProcess",
        "process": 99,
        "correlation_id": corr or str(uuid.uuid4()),
        "message": f"work {i}",
        "created_iso": "2023-11-14T22:13:20+00:00",
        **extra,
    }


def raw_df(spark, lines: list[str]):
    return spark.createDataFrame([(ln,) for ln in lines], "value string")


def test_parse_field_fidelity(spark):
    corr = "ABCDEF01-2345-6789-abcd-ef0123456789"
    rec = make_record(0, corr=corr, random_timing_data=1.23)
    schema = log_record_schema((("random_timing_data", T.DoubleType()),))
    parsed = parse_records(raw_df(spark, [json.dumps(rec)]), schema=schema)
    row = good_records(parsed).collect()[0]
    assert row["message"] == "work 0"
    # UUID canonicalized to lowercase (reference parses via UUID()).
    assert row["correlation_id"] == corr.lower()
    # time derives from `created` epoch seconds, UTC.
    assert row["time"].isoformat() == "2023-11-14T22:13:20"
    data = json.loads(row["data"])
    # DROP_FIELDS pruned; promoted fields popped (venus/db/write.py:41-52).
    for f in DROP_FIELDS + ("message", "correlation_id"):
        assert f not in data
    # residual payload retained, including declared extras.
    assert data["filename"] == "sender.py"
    assert data["pathname"] == "/app/sender.py"
    assert data["random_timing_data"] == 1.23
    assert data["levelno"] == 20


def test_parse_quarantine_split(spark):
    lines = [
        json.dumps(make_record(1)),
        "{not json at all",                                   # A4: bad JSON
        json.dumps({"message": "no created field"}),          # A6: no `created`
        json.dumps(make_record(2)),
    ]
    parsed = parse_records(raw_df(spark, lines))
    assert good_records(parsed).count() == 2
    quarantined = {r["raw"] for r in quarantined_records(parsed).collect()}
    assert quarantined == {lines[1], lines[2]}


def test_malformed_uuid_nulls_not_drops(spark):
    rec = make_record(3, corr="not-a-uuid")
    row = good_records(parse_records(raw_df(spark, [json.dumps(rec)]))).collect()[0]
    # Reference would raise in UUID() and drop via extract_safe -> None;
    # the row still lands with a NULL correlation_id.
    assert row["correlation_id"] is None
    assert row["message"] == "work 3"


def test_streaming_end_to_end(spark, tmp_path):
    """File-landing stream -> parse -> partitioned parquet logs +
    quarantine; superset assertion like reference tests/test_sender.py:61."""
    landing = tmp_path / "landing"
    landing.mkdir()
    sent = [make_record(i) for i in range(50)]
    # Two files = two source splits; one malformed line for quarantine.
    (landing / "a.jsonl").write_text("\n".join(json.dumps(r) for r in sent[:25]))
    (landing / "b.jsonl").write_text(
        "\n".join([*(json.dumps(r) for r in sent[25:]), "xx-broken"])
    )

    source = read_log_stream(spark, str(landing), max_files_per_trigger=1)
    q = start_logs_ingest(
        source,
        sink_dir=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,  # availableNow: drain and stop
    )
    q.awaitTermination(120)

    logs = spark.read.parquet(str(tmp_path / "sink" / "logs"))
    got = {r["message"] for r in logs.select("message").collect()}
    assert got >= {r["message"] for r in sent}  # logged ⊇ sent
    # Partitioned by date (hypertable-chunk analog): directories exist.
    parts = [p for p in os.listdir(tmp_path / "sink" / "logs") if p.startswith("date=")]
    assert parts, "expected date= partition directories"
    # Time predicates prune partitions: filter one day only.
    one_day = logs.filter(F.col("date") == F.lit("2023-11-15")).count()
    assert 0 < one_day < len(sent)
    quarantine = spark.read.parquet(str(tmp_path / "sink" / "quarantine"))
    assert quarantine.count() == 1


def test_streaming_restart_is_exactly_once(spark, tmp_path):
    """Checkpoint restart must not duplicate rows (A11 upgraded to
    exactly-once; reference tolerates dupes, superset still holds)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.jsonl").write_text(
        "\n".join(json.dumps(make_record(i)) for i in range(10))
    )
    kwargs = dict(
        sink_dir=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    q = start_logs_ingest(read_log_stream(spark, str(landing)), **kwargs)
    q.awaitTermination(120)
    # New data lands; restart from checkpoint picks up only the delta.
    (landing / "b.jsonl").write_text(
        "\n".join(json.dumps(make_record(i)) for i in range(10, 15))
    )
    q = start_logs_ingest(read_log_stream(spark, str(landing)), **kwargs)
    q.awaitTermination(120)

    logs = spark.read.parquet(str(tmp_path / "sink" / "logs"))
    assert logs.count() == 15
    assert logs.select("message").distinct().count() == 15


def test_backlog_drain_at_the_admission_bound_runs_two_jobs(spark, tmp_path):
    """A micro-batch of DEFAULT_MAX_FILES_PER_TRIGGER files lists them on
    the driver: the query's run-id job group holds only the two sink
    writes (logs, quarantine), no file-listing job beside them."""
    from venus_spark.streaming import DEFAULT_MAX_FILES_PER_TRIGGER

    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert spark.conf.get(threshold) == str(DEFAULT_MAX_FILES_PER_TRIGGER)
    landing = tmp_path / "landing"
    landing.mkdir()
    n_files, bad_every = DEFAULT_MAX_FILES_PER_TRIGGER, 32
    for k in range(n_files):
        lines = [json.dumps(make_record(2 * k + j)) for j in range(2)]
        if k % bad_every == 0:
            lines.append(f"broken-{k}")
        (landing / f"f{k:04d}.jsonl").write_text("\n".join(lines))

    sink = tmp_path / "sink"
    q = start_logs_ingest(
        read_log_stream(spark, str(landing)),
        sink_dir=str(sink),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
    )
    assert q.awaitTermination(120)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    batches = [p for p in q.recentProgress if p["numInputRows"]]
    assert len(batches) == 1
    assert len(sc.statusTracker().getJobIdsForGroup(str(q.runId))) == 2
    assert spark.read.parquet(str(sink / "logs")).count() == 2 * n_files
    quarantine = spark.read.parquet(str(sink / "quarantine"))
    assert quarantine.count() == n_files // bad_every


def test_health_listener_reports_batch_durations(spark, tmp_path):
    """IngestHealthListener turns healthy after a drain, and its last
    progress says where the micro-batch's time went."""
    import time

    from venus_spark.streaming import IngestHealthListener

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.jsonl").write_text(
        "\n".join(json.dumps(make_record(i)) for i in range(5))
    )
    listener = IngestHealthListener()
    spark.streams.addListener(listener)
    try:
        q = start_logs_ingest(
            read_log_stream(spark, str(landing)),
            sink_dir=str(tmp_path / "sink"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            trigger_seconds=None,
            query_name="health_probe_ingest",
        )
        assert q.awaitTermination(120)
        phases = {"getBatch", "addBatch", "triggerExecution"}
        deadline = time.time() + 60
        while time.time() < deadline:
            last = listener.last_progress("health_probe_ingest")
            if last is not None and phases <= set(last["durationMs"]):
                break
            time.sleep(0.1)
        assert listener.healthy("health_probe_ingest")
        last = listener.last_progress("health_probe_ingest")
        assert last["numInputRows"] == 5
        assert phases <= set(last["durationMs"])
    finally:
        spark.streams.removeListener(listener)


def test_socket_source_end_to_end(spark, tmp_path):
    """TCP push source (reference ZMQ-PULL analog): a sender thread
    writes JSON lines into a socket; the same parse pipeline lands them
    in the logs table. At-most-once, like the reference's admission."""
    import socket
    import threading
    import time as _time

    from venus_spark.streaming import read_log_stream_socket

    records = [make_record(i) for i in range(10)]
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]

    def serve():
        conn, _ = server.accept()
        with conn:
            payload = "".join(json.dumps(r) + "\n" for r in records)
            conn.sendall(payload.encode())
            _time.sleep(8)  # keep the pipe open past a few triggers

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    source = read_log_stream_socket(spark, "127.0.0.1", port)
    sink = tmp_path / "sink"
    q = start_logs_ingest(
        source,
        sink_dir=str(sink),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=1,
    )
    try:
        deadline = _time.time() + 60
        got: set[str] = set()
        want = {r["message"] for r in records}
        while _time.time() < deadline and not want <= got:
            _time.sleep(2)
            try:
                got = {
                    r["message"]
                    for r in spark.read.parquet(str(sink / "logs"))
                    .select("message")
                    .collect()
                }
            except Exception:  # sink not created / no committed files yet
                continue
        assert want <= got  # logged ⊇ sent (reference tests/test_sender.py:61)
    finally:
        q.stop()
        server.close()


def test_parse_context_span_metric(spark):
    """Aux-table ingest paths (reference migration :45-78): typed rows,
    UUID canonicalization, NOT NULL quarantine, span durations."""
    from venus_spark.ingest import parse_context, parse_metric, parse_span

    ctx_rows = parse_context(
        raw_df(
            spark,
            [
                json.dumps(
                    {
                        "correlation_id": "ABCDEF01-2345-6789-abcd-ef0123456789",
                        "tenant": "acme",
                        "plan": "pro",
                        "quota": 5,
                        "beta": True,
                        "limits": {"rps": [10, 20]},
                    }
                ),
                json.dumps({"tenant": "no-key"}),  # missing PK -> quarantine
            ],
        )
    ).collect()
    ok = [r for r in ctx_rows if r["_ok"]]
    assert len(ok) == 1
    assert ok[0]["correlation_id"] == "abcdef01-2345-6789-abcd-ef0123456789"
    # JSON types survive the strip-and-reserialize (reference keeps the
    # parsed dict's types through json.dumps): numbers stay numbers,
    # booleans stay booleans, nested objects stay nested.
    assert json.loads(ok[0]["data"]) == {
        "tenant": "acme",
        "plan": "pro",
        "quota": 5,
        "beta": True,
        "limits": {"rps": [10, 20]},
    }
    assert sum(not r["_ok"] for r in ctx_rows) == 1

    span_rows = parse_span(
        raw_df(
            spark,
            [
                json.dumps(
                    {
                        "span_id": "11111111-2222-3333-4444-555555555555",
                        "correlation_id": "abcdef01-2345-6789-abcd-ef0123456789",
                        "description": "db query",
                        "time_start": 1700000000.0,
                        "time_end": 1700000001.5,
                    }
                ),
                json.dumps({"span_id": "bad", "time_start": 1.0}),  # no end
            ],
        )
    ).collect()
    ok = [r for r in span_rows if r["_ok"]]
    assert len(ok) == 1
    dur = (ok[0]["time_end"] - ok[0]["time_start"]).total_seconds()
    assert dur == 1.5
    assert sum(not r["_ok"] for r in span_rows) == 1

    metric_rows = parse_metric(
        raw_df(
            spark,
            [
                json.dumps({"time": 1700000000.0, "cpu": 0.5, "host": "a1"}),
                json.dumps({"cpu": 0.9}),  # no time -> quarantine
            ],
        )
    ).collect()
    ok = [r for r in metric_rows if r["_ok"]]
    assert len(ok) == 1
    assert str(ok[0]["date"]) == "2023-11-14"
    assert json.loads(ok[0]["data"]) == {"cpu": 0.5, "host": "a1"}
    assert sum(not r["_ok"] for r in metric_rows) == 1


def test_streaming_aux_metric_ingest(spark, tmp_path):
    """Metric stream -> date-partitioned parquet + quarantine, via the
    generic aux-table wiring (all four reference tables now have a
    streaming path)."""
    from venus_spark.ingest import parse_metric
    from venus_spark.streaming import start_aux_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    lines = [
        json.dumps({"time": 1700000000.0 + i * 86400, "cpu": i / 10}) for i in range(3)
    ] + ["not json"]
    (landing / "a.jsonl").write_text("\n".join(lines))

    q = start_aux_ingest(
        read_log_stream(spark, str(landing)),
        parse_metric,
        sink_dir=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        table="metric",
        partition_cols=("date",),
        trigger_seconds=None,
    )
    q.awaitTermination(120)

    metric = spark.read.parquet(str(tmp_path / "sink" / "metric"))
    assert metric.count() == 3
    days = {str(r["date"]) for r in metric.select("date").collect()}
    assert len(days) == 3  # one partition per day (hypertable-chunk analog)
    quarantine = spark.read.parquet(str(tmp_path / "sink" / "metric_quarantine"))
    assert quarantine.count() == 1


def test_aux_ingest_replay_is_idempotent(spark, tmp_path):
    """Batch replay (crash between parquet write and checkpoint commit)
    must not duplicate aux rows: rerunning the same input with a FRESH
    checkpoint — the worst case, every batch replays — overwrites each
    batch's own ``_batch_id`` partition instead of appending."""
    import shutil

    from venus_spark.ingest import parse_metric
    from venus_spark.streaming import read_sink_table, start_aux_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    lines = [
        json.dumps({"time": 1700000000.0 + i * 86400, "cpu": i / 10}) for i in range(3)
    ] + ["not json"]
    (landing / "a.jsonl").write_text("\n".join(lines))

    def run(ckpt: str) -> None:
        q = start_aux_ingest(
            read_log_stream(spark, str(landing)),
            parse_metric,
            sink_dir=str(tmp_path / "sink"),
            checkpoint_dir=str(tmp_path / ckpt),
            table="metric",
            partition_cols=("date",),
            trigger_seconds=None,
        )
        q.awaitTermination(120)
        assert q.exception() is None

    run("ckpt1")
    shutil.rmtree(tmp_path / "ckpt1")  # lose the commit log -> full replay
    run("ckpt2")

    metric = read_sink_table(spark, str(tmp_path / "sink"), "metric")
    assert metric.count() == 3  # replayed, not duplicated
    assert "_batch_id" not in metric.columns
    quarantine = spark.read.parquet(str(tmp_path / "sink" / "metric_quarantine"))
    assert quarantine.count() == 1


def test_compact_closed_partition_preserves_rows(spark, tmp_path):
    """Compacting a closed date partition must preserve rows exactly,
    collapse the per-batch small files into one, keep the layout
    readable as one table, and be idempotent under crash-retry."""
    import shutil

    from venus_spark.streaming import (
        _write_idempotent,
        compact_closed_partition,
        read_sink_table,
    )

    table_dir = str(tmp_path / "logs")
    for batch_id in range(4):
        batch = spark.createDataFrame(
            [(batch_id * 10 + i, "2024-01-01" if i % 2 else "2024-01-02")
             for i in range(6)],
            "event_id long, date string",
        )
        _write_idempotent(batch, table_dir, batch_id, partition_cols=("date",))

    before = {r["event_id"] for r in read_sink_table(spark, str(tmp_path), "logs").collect()}
    assert len(before) == 24

    n = compact_closed_partition(spark, table_dir, "date=2024-01-01")
    assert n == 4
    after = {r["event_id"] for r in read_sink_table(spark, str(tmp_path), "logs").collect()}
    assert after == before

    part = tmp_path / "logs" / "date=2024-01-01"
    subdirs = [d for d in os.listdir(part) if d.startswith("_batch_id=")]
    assert subdirs == ["_batch_id=-1"]

    # crash-retry: a half-written compacted dir from a failed run is
    # cleared and rebuilt from the remaining batch dirs
    shutil.rmtree(part / "_batch_id=-1")
    for batch_id in (7, 8):
        batch = spark.createDataFrame(
            [(1000 + batch_id, "2024-01-01")], "event_id long, date string"
        )
        _write_idempotent(batch, table_dir, batch_id, partition_cols=("date",))
    (part / "_batch_id=-1").mkdir()  # simulate torn compacted output
    assert compact_closed_partition(spark, table_dir, "date=2024-01-01") == 2
    final = {r["event_id"] for r in read_sink_table(spark, str(tmp_path), "logs").collect()}
    # even ids live in the untouched 2024-01-02 partition; the rebuilt
    # 2024-01-01 partition holds exactly the two retry batches
    assert final == {e for e in before if e % 2 == 0} | {1007, 1008}


def test_compact_retry_after_success_is_noop(spark, tmp_path):
    """A retried compaction after a fully successful run (compacted dir
    with _SUCCESS is the ONLY dir left) must not delete the partition —
    the committed compacted output is authoritative."""
    from venus_spark.streaming import (
        _write_idempotent,
        compact_closed_partition,
        read_sink_table,
    )

    table_dir = str(tmp_path / "logs")
    for batch_id in range(3):
        batch = spark.createDataFrame(
            [(batch_id * 10 + i, "2024-01-01") for i in range(4)],
            "event_id long, date string",
        )
        _write_idempotent(batch, table_dir, batch_id, partition_cols=("date",))
    before = {r["event_id"] for r in read_sink_table(spark, str(tmp_path), "logs").collect()}

    assert compact_closed_partition(spark, table_dir, "date=2024-01-01") == 3
    # the retry: nothing left to compact, and — critically — no data loss
    assert compact_closed_partition(spark, table_dir, "date=2024-01-01") == 0
    after = {r["event_id"] for r in read_sink_table(spark, str(tmp_path), "logs").collect()}
    assert after == before


def test_compact_crash_mid_cleanup_keeps_all_rows(spark, tmp_path):
    """Crash between the committed compacted write (_SUCCESS present)
    and batch-dir cleanup: the rerun must keep the compacted output as
    authoritative and only remove the leftover (duplicate) batch dirs —
    rebuilding from the survivors alone would silently drop the rows of
    the batch dirs the crashed run already removed."""
    import shutil

    from venus_spark.streaming import (
        _write_idempotent,
        compact_closed_partition,
        read_sink_table,
    )

    table_dir = str(tmp_path / "logs")
    for batch_id in range(3):
        batch = spark.createDataFrame(
            [(batch_id * 10 + i, "2024-01-01") for i in range(4)],
            "event_id long, date string",
        )
        _write_idempotent(batch, table_dir, batch_id, partition_cols=("date",))
    before = {r["event_id"] for r in read_sink_table(spark, str(tmp_path), "logs").collect()}

    part = tmp_path / "logs" / "date=2024-01-01"
    # simulate: compacted write committed, then crash after removing only
    # batch dir 0 — batch dirs 1 and 2 survive as duplicates
    assert compact_closed_partition(spark, table_dir, "date=2024-01-01") == 3
    for batch_id in range(3):
        batch = spark.createDataFrame(
            [(batch_id * 10 + i, "2024-01-01") for i in range(4)],
            "event_id long, date string",
        )
        _write_idempotent(batch, table_dir, batch_id, partition_cols=("date",))
    shutil.rmtree(part / "_batch_id=0")

    assert compact_closed_partition(spark, table_dir, "date=2024-01-01") == 2
    after = {r["event_id"] for r in read_sink_table(spark, str(tmp_path), "logs").collect()}
    assert after == before
    subdirs = sorted(d for d in os.listdir(part) if d.startswith("_batch_id="))
    assert subdirs == ["_batch_id=-1"]


def test_cli_query_and_sql_smoke(tmp_path):
    """The console entry point (reference setup.py:42-45 analog) must
    run a plan and a SQL statement end-to-end in a fresh process."""
    import subprocess
    import sys

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    out = subprocess.run(
        [sys.executable, "-m", "venus_spark", "query", "q6_forecast_revenue",
         "--sf", "/root/testdata/sf0.001", "--limit", "5"],
        capture_output=True, text=True, timeout=180, env=env,
        cwd=os.path.join(os.path.dirname(__file__), ".."),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "revenue" in out.stdout
    out = subprocess.run(
        [sys.executable, "-m", "venus_spark", "sql",
         "SELECT COUNT(*) AS n FROM region", "--sf", "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=180, env=env,
        cwd=os.path.join(os.path.dirname(__file__), ".."),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "5" in out.stdout
    # unknown plan -> clean error, not a traceback
    out = subprocess.run(
        [sys.executable, "-m", "venus_spark", "query", "nope"],
        capture_output=True, text=True, timeout=180, env=env,
        cwd=os.path.join(os.path.dirname(__file__), ".."),
    )
    assert out.returncode == 2 and "unknown plan" in out.stderr


def test_logs_sink_stores_payload_as_variant(spark, tmp_path):
    """The landed logs table must carry the payload as VARIANT parsed
    at ingest (the JSONB-at-INSERT analog): variant_get over data_v
    answers the B3-style field access without any JsonPath over text,
    agreeing with the JSON-string column it shadows."""
    from pyspark.sql import functions as F

    from venus_spark.streaming import (
        read_log_stream,
        read_sink_table,
        start_logs_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    recs = [make_record(i, pathname=f"/srv/app_{i}.py") for i in range(6)]
    (landing / "b0.json").write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    q = start_logs_ingest(
        read_log_stream(spark, str(landing)),
        sink_dir=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ck"),
        trigger_seconds=None,
    )
    q.awaitTermination()

    logs = read_sink_table(spark, str(tmp_path / "sink"), "logs")
    assert dict(logs.dtypes)["data_v"] == "variant"
    got = logs.select(
        F.expr("variant_get(data_v, '$.pathname', 'string')").alias("v"),
        F.get_json_object("data", "$.pathname").alias("j"),
    ).collect()
    assert len(got) == 6
    for r in got:
        assert r["v"] is not None and r["v"] == r["j"]


def test_compact_then_late_batch_is_merged_not_deleted(spark, tmp_path):
    """A batch the stream lands AFTER a committed compaction is NOT a
    crash duplicate and must survive the next compaction run merged
    into the output — the manifest distinguishes the two cases (the
    pre-manifest code deleted any surviving batch dir once _SUCCESS
    existed, silently losing late rows)."""
    from venus_spark.streaming import (
        _write_idempotent,
        compact_closed_partition,
        read_sink_table,
    )

    table_dir = str(tmp_path / "logs")
    for batch_id in range(3):
        batch = spark.createDataFrame(
            [(batch_id * 10 + i, "2024-01-01") for i in range(4)],
            "event_id long, date string",
        )
        _write_idempotent(batch, table_dir, batch_id, partition_cols=("date",))
    assert compact_closed_partition(spark, table_dir, "date=2024-01-01") == 3
    before = {r["event_id"] for r in read_sink_table(spark, str(tmp_path), "logs").collect()}

    # late-arriving micro-batch AFTER the commit
    late = spark.createDataFrame(
        [(900 + i, "2024-01-01") for i in range(3)], "event_id long, date string"
    )
    _write_idempotent(late, table_dir, 9, partition_cols=("date",))

    assert compact_closed_partition(spark, table_dir, "date=2024-01-01") == 1
    after = {r["event_id"] for r in read_sink_table(spark, str(tmp_path), "logs").collect()}
    assert after == before | {900, 901, 902}
    part = tmp_path / "logs" / "date=2024-01-01"
    subdirs = [d for d in os.listdir(part) if d.startswith("_batch_id=")]
    assert subdirs == ["_batch_id=-1"]
    # and the retry after THAT is a clean no-op
    assert compact_closed_partition(spark, table_dir, "date=2024-01-01") == 0
    assert {r["event_id"] for r in read_sink_table(spark, str(tmp_path), "logs").collect()} == after


def test_promoted_fields_always_popped_from_data(spark):
    """The three promoted fields must never leak into the payload even
    when a live drop_fields override omits them — `created` was only
    excluded by its accidental presence in the default DROP_FIELDS."""
    rec = make_record(0)
    parsed = parse_records(
        raw_df(spark, [json.dumps(rec)]), drop_fields=("thread", "threadName")
    )
    data = json.loads(good_records(parsed).first()["data"])
    for promoted in ("created", "message", "correlation_id"):
        assert promoted not in data
    # the override is still honored for the non-promoted fields
    assert "thread" not in data and "module" in data


def test_logs_schema_evolution_promoted_column_across_boundary(
    spark, tmp_path
):
    """VERDICT r10 #4 — the alembic-migration analog for the streamed
    fact table: a deployment promotes a payload field (``levelname``)
    to a real column by restarting the stream with ``promote=``. Old
    date-partitioned batches keep their narrower files; the
    ``read_logs_table`` contract (mergeSchema + schema-rev check)
    NULL-fills them; the B1 (projection+filter), B5 (record-ize) and
    B13 (key discovery) query shapes stay green across the boundary;
    and the promoted field is popped from the new rows' payload exactly
    like the built-in PROMOTED trio."""
    from venus_spark.streaming import (
        _LOGS_SCHEMA_REV,
        read_logs_table,
        start_logs_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    sink = str(tmp_path / "sink")

    def run(promote=()):
        q = start_logs_ingest(
            read_log_stream(spark, str(landing), max_files_per_trigger=1),
            sink_dir=sink,
            checkpoint_dir=str(tmp_path / "ckpt"),
            trigger_seconds=None,
            promote=promote,
        )
        q.awaitTermination(120)

    # generation 1: pre-evolution batches
    old = [make_record(i) for i in range(4)]
    (landing / "g1.jsonl").write_text("\n".join(json.dumps(r) for r in old))
    run()

    # THE MIGRATION: restart with levelname promoted; generation 2 lands
    new = [make_record(100 + i) for i in range(3)]
    (landing / "g2.jsonl").write_text("\n".join(json.dumps(r) for r in new))
    run(promote=("levelname",))

    logs = read_logs_table(spark, sink)
    assert "levelname" in logs.columns
    assert logs.count() == 7
    # old rows NULL-fill; new rows carry the promoted value
    assert logs.filter(F.col("levelname").isNull()).count() == 4
    assert (
        logs.filter(F.col("levelname") == "INFO").count() == 3
    )
    # B1-shape: projection + eq filter across the boundary
    assert logs.filter(F.col("message") == "work 2").count() == 1
    assert logs.filter(F.col("message") == "work 101").count() == 1
    # B5-shape: record-ize the payload across both generations
    lvl = logs.select(
        "message",
        F.get_json_object("data", "$.levelno").cast("int").alias("levelno"),
        F.get_json_object("data", "$.levelname").alias("lvl_in_payload"),
    )
    assert lvl.filter(F.col("levelno") == 20).count() == 7
    # the promoted field is POPPED from new payloads, kept in old ones
    assert lvl.filter(F.col("lvl_in_payload").isNotNull()).count() == 4
    # B13-shape: key discovery over the payload sees the key only where
    # it still lives (old generation)
    import json as _json

    keys_new = set()
    keys_old = set()
    for r in logs.select("levelname", "data").collect():
        (keys_old if r["levelname"] is None else keys_new).update(
            _json.loads(r["data"]).keys()
        )
    assert "levelname" in keys_old and "levelname" not in keys_new

    # schema-rev record: monotone across a promote-less restart
    with open(os.path.join(sink, _LOGS_SCHEMA_REV)) as f:
        rec = json.load(f)
    # rev 1: the record is written AFTER the first promoted batch
    # lands (review r11 pass-1 #1 — recording at start() could poison
    # read_logs_table if the stream died before landing anything)
    assert rec["promoted_extra"] == ["levelname"] and rec["rev"] == 1
    (landing / "g3.jsonl").write_text(json.dumps(make_record(200)))
    run()  # restart WITHOUT promote: record must not shrink
    with open(os.path.join(sink, _LOGS_SCHEMA_REV)) as f:
        rec2 = json.load(f)
    assert rec2["promoted_extra"] == ["levelname"]
    logs2 = read_logs_table(spark, sink)
    assert logs2.count() == 8 and "levelname" in logs2.columns

    # a record claiming a column the merged read lacks fails LOUDLY
    with open(os.path.join(sink, _LOGS_SCHEMA_REV), "w") as f:
        json.dump({"rev": 9, "promoted_extra": ["levelname", "ghost"]}, f)
    with pytest.raises(ValueError, match="ghost"):
        read_logs_table(spark, sink)


def test_promote_requires_declared_schema_field(spark):
    """promote names must exist in the declared record schema — a typo
    must fail at plan-build time, not land NULL columns forever."""
    with pytest.raises(ValueError, match="not_a_field"):
        parse_records(
            raw_df(spark, ["{}"]), promote=("not_a_field",)
        )


def test_events_kv_guards_tolerate_novel_streamed_key(spark, tmp_path, monkeypatch):
    """The events-sink half of the schema-evolution story: a streamed
    batch whose props carries an UNDECLARED key must flow through the
    kv-postings maintenance and commit like any other batch.
    The kv index is over the COMPOSED document (declared keys k/type/
    uid — the jsonb_to_record 'know which names you're looking for'
    contract, reference README.rst:92-100), so the unknown payload key
    derives no entry; what evolution must NOT do is wedge the
    maintenance, leave the batch uncommitted, or corrupt the live key
    plans' counts for the declared keys."""
    from venus_spark import prepared
    from venus_spark.plans import all_plans
    from venus_spark.plans import venus_surface as vs
    from venus_spark.streaming import (
        EVENTS_STREAM_SCHEMA,
        events_sink_commits,
        events_stream_sink_dir,
        read_kv_postings,
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
        json.dumps(
            {
                "event_id": 3_000_001,
                "ts": "2024-01-01 10:01:00",
                "user_id": 7,
                "event_type": "click",
                "value": 1.0,
                "props": '{"brand_new_key_xyz": 1}',
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
    assert list(events_sink_commits(sink)) == ["0"]
    plans = all_plans()
    vs._KV_DF_CACHE.clear()
    # the undeclared key derives no posting (declared-universe
    # contract) and the declared keys the event DOES carry (type, uid)
    # count live exactly +1 over the prepared twin
    kv = {r["kv"] for r in read_kv_postings(spark, sink).collect()}
    assert kv == {"?type", "?uid", "type=click", "uid=7"}
    disc = {
        r["key"]
        for r in plans["json_key_discovery_live"].fn(spark, sf).collect()
    }
    assert "brand_new_key_xyz" not in disc and {"type", "uid"} <= disc

    def freqs(name):
        return {
            r["key"]: r["n_docs"]
            for r in plans[name].fn(spark, sf).collect()
        }

    cold, live = freqs("json_key_frequency"), freqs("json_key_frequency_live")
    assert live["type"] == cold["type"] + 1
    assert live["uid"] == cold["uid"] + 1
    assert live.get("k", 0) == cold.get("k", 0)  # unknown key added none


def test_compaction_preserves_promoted_column_across_boundary(
    spark, tmp_path
):
    """Review r11 pass-2 #1 (data loss): a logs date partition spanning
    a schema-evolution boundary holds mixed-generation batch dirs; the
    compaction read must MERGE schemas — a plain read samples one
    file's schema, so the compacted output could silently drop a
    promoted column and then delete the only files that carried it.
    Covers both compaction forms: fresh and re-compaction (the second
    fold reads the committed output + a late batch)."""
    from venus_spark.streaming import (
        compact_closed_partition,
        read_log_stream,
        read_logs_table,
        start_logs_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    sink = str(tmp_path / "sink")

    def run(promote=()):
        q = start_logs_ingest(
            read_log_stream(spark, str(landing), max_files_per_trigger=1),
            sink_dir=sink,
            checkpoint_dir=str(tmp_path / "ckpt"),
            trigger_seconds=None,
            promote=promote,
        )
        q.awaitTermination(120)

    # same created hour -> same date partition for both generations
    old = [make_record(0, message="gen1")]
    old[0]["message"] = "gen1"
    (landing / "g1.jsonl").write_text(json.dumps(old[0]))
    run()
    new = make_record(0)
    new["message"] = "gen2"
    (landing / "g2.jsonl").write_text(json.dumps(new))
    run(promote=("levelname",))

    logs_dir = os.path.join(sink, "logs")
    [date_part] = [d for d in os.listdir(logs_dir) if d.startswith("date=")]
    # fresh compaction folds gen1 + gen2 batch dirs
    moved = compact_closed_partition(spark, logs_dir, date_part)
    assert moved >= 2
    logs = read_logs_table(spark, sink)  # schema-rev check must hold
    assert logs.count() == 2
    got = {r["message"]: r["levelname"] for r in logs.collect()}
    assert got == {"gen1": None, "gen2": "INFO"}

    # re-compaction: a late narrow batch folds into the wide output
    late = make_record(0)
    late["message"] = "gen3"
    (landing / "g3.jsonl").write_text(json.dumps(late))
    run()  # promote-less restart: narrow generation again
    moved = compact_closed_partition(spark, logs_dir, date_part)
    assert moved >= 1
    logs = read_logs_table(spark, sink)
    assert logs.count() == 3
    got = {r["message"]: r["levelname"] for r in logs.collect()}
    assert got == {"gen1": None, "gen2": "INFO", "gen3": None}


def test_promote_reserved_and_malformed_record_hardening(spark, tmp_path):
    """Review r11 pass-3: (#1) promoting '_batch_id' or 'data_v' must
    fail with a targeted error (the sink writer would overwrite one,
    good_records duplicates the other); (#2) a foreign/hand-edited
    schema-rev record — non-dict top level, string promoted_extra —
    degrades to a fresh chain instead of killing the ingest stream or
    writing character-columns back; (#3) prune_logs_schema_rev heals
    the record after retention removed a retired column's last files."""
    import shutil as _sh

    from venus_spark.streaming import (
        _LOGS_SCHEMA_REV,
        _record_logs_schema_rev,
        prune_logs_schema_rev,
        read_log_stream,
        read_logs_table,
        start_logs_ingest,
    )

    # (#1) reserved collisions refused at parse AND at stream start
    schema = log_record_schema((("data_v", T.StringType()),))
    with pytest.raises(ValueError, match="collide"):
        parse_records(raw_df(spark, ["{}"]), schema=schema, promote=("data_v",))
    with pytest.raises(ValueError, match="collide"):
        start_logs_ingest(
            read_log_stream(spark, str(tmp_path)),
            sink_dir=str(tmp_path / "s"),
            checkpoint_dir=str(tmp_path / "c"),
            schema=log_record_schema((("_batch_id", T.LongType()),)),
            promote=("_batch_id",),
        )

    # (#2) malformed records: every shape degrades to a fresh chain
    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    rev_path = os.path.join(sink, _LOGS_SCHEMA_REV)
    for bad in ('["levelname"]', '{"promoted_extra": "levelname"}',
                '{"promoted_extra": [1, 2]}', "garbage{"):
        with open(rev_path, "w") as f:
            f.write(bad)
        _record_logs_schema_rev(sink, ("levelname",))
        with open(rev_path) as f:
            rec = json.load(f)
        assert rec["promoted_extra"] == ["levelname"], bad

    # (#3) retention heal: land two generations, delete the promoted
    # generation's files, prune — the record shrinks and reads recover
    _sh.rmtree(sink)
    landing = tmp_path / "landing"
    landing.mkdir()

    def run(promote=()):
        q = start_logs_ingest(
            read_log_stream(spark, str(landing), max_files_per_trigger=1),
            sink_dir=sink,
            checkpoint_dir=str(tmp_path / "ckpt"),
            trigger_seconds=None,
            promote=promote,
        )
        q.awaitTermination(120)

    r_old = make_record(0)
    (landing / "g1.jsonl").write_text(json.dumps(r_old))
    run()
    r_new = make_record(100)  # 100h later: its own date partition
    (landing / "g2.jsonl").write_text(json.dumps(r_new))
    run(promote=("levelname",))
    assert "levelname" in read_logs_table(spark, sink).columns
    # retention drops the promoted generation's date partition
    logs_dir = os.path.join(sink, "logs")
    new_date = [
        d for d in os.listdir(logs_dir)
        if d.startswith("date=") and d != "date=2023-11-14"
    ]
    for d in new_date:
        _sh.rmtree(os.path.join(logs_dir, d))
    with pytest.raises(ValueError, match="prune_logs_schema_rev"):
        read_logs_table(spark, sink)
    assert prune_logs_schema_rev(spark, sink) == ["levelname"]
    assert prune_logs_schema_rev(spark, sink) == []  # idempotent
    logs = read_logs_table(spark, sink)  # recovered
    assert logs.count() == 1 and "levelname" not in logs.columns


def test_promote_builtin_name_does_not_poison_schema_rev(spark, tmp_path):
    """Review r11 pass-5 #1: a promote tuple containing a built-in
    PROMOTED name is legal (validate_promote documents it as a no-op),
    but ``created`` lands aliased as ``time`` — so the schema-rev
    record must hold the VALIDATED extra list, not the raw tuple.
    Recording the raw tuple would claim a ``created`` column no parquet
    file ever carries, and read_logs_table would fail forever on a
    perfectly legal stream start."""
    from venus_spark.streaming import (
        _LOGS_SCHEMA_REV,
        read_logs_table,
        start_logs_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    sink = str(tmp_path / "sink")
    (landing / "g1.jsonl").write_text(json.dumps(make_record(0)))
    q = start_logs_ingest(
        read_log_stream(spark, str(landing), max_files_per_trigger=1),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
        promote=("created", "levelname"),
    )
    q.awaitTermination(120)
    logs = read_logs_table(spark, sink)  # must not raise
    assert "levelname" in logs.columns and "created" not in logs.columns
    assert logs.count() == 1
    with open(os.path.join(sink, _LOGS_SCHEMA_REV)) as f:
        rec = json.load(f)
    assert rec["promoted_extra"] == ["levelname"]


def test_prune_logs_schema_rev_propagates_transient_failure(spark, tmp_path):
    """Review r11 pass-5 #2: prune_logs_schema_rev may degrade to
    'no columns' ONLY when retention removed every data file. A read
    failure while data files still exist (torn parquet from a crashed
    compaction, transient FS error) must propagate — rewriting the
    record to empty on a transient error would silently drop
    read_logs_table's verification of columns still on disk."""
    from venus_spark.streaming import (
        _LOGS_SCHEMA_REV,
        prune_logs_schema_rev,
        start_logs_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    sink = str(tmp_path / "sink")
    (landing / "g1.jsonl").write_text(json.dumps(make_record(0)))
    q = start_logs_ingest(
        read_log_stream(spark, str(landing), max_files_per_trigger=1),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
        promote=("levelname",),
    )
    q.awaitTermination(120)
    logs_dir = os.path.join(sink, "logs")
    date_dir = next(
        d for d in os.listdir(logs_dir) if d.startswith("date=")
    )
    torn = os.path.join(logs_dir, date_dir, "torn-compaction.parquet")
    with open(torn, "wb") as f:
        f.write(b"PAR1 this is not a parquet footer")
    with pytest.raises(Exception):
        prune_logs_schema_rev(spark, sink)
    with open(os.path.join(sink, _LOGS_SCHEMA_REV)) as f:
        rec = json.load(f)
    assert rec["promoted_extra"] == ["levelname"]  # record untouched


def test_prune_logs_schema_rev_walk_error_propagates(
    spark, tmp_path, monkeypatch
):
    """Review r11 pass-8 #2: os.walk swallows scandir errors by default,
    so a transient FS outage during the empty-table probe would yield
    no files and masquerade as 'retention removed every file' — the
    prune must propagate a non-FileNotFoundError walk failure instead
    of silently emptying the record."""
    import os as _os

    from venus_spark import streaming as st
    from venus_spark.streaming import (
        _LOGS_SCHEMA_REV,
        prune_logs_schema_rev,
        start_logs_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    sink = str(tmp_path / "sink")
    (landing / "g1.jsonl").write_text(json.dumps(make_record(0)))
    q = start_logs_ingest(
        read_log_stream(spark, str(landing), max_files_per_trigger=1),
        sink_dir=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_seconds=None,
        promote=("levelname",),
    )
    q.awaitTermination(120)
    logs_dir = os.path.join(sink, "logs")
    date_dir = next(d for d in os.listdir(logs_dir) if d.startswith("date="))
    with open(os.path.join(logs_dir, date_dir, "torn.parquet"), "wb") as f:
        f.write(b"PAR1 not a footer")  # make the Spark read fail first

    real_walk = _os.walk

    def outage_walk(top, onerror=None, **kw):
        # simulate a scandir failure the default os.walk would swallow
        if onerror is not None:
            onerror(PermissionError(13, "transient outage", str(top)))
        return iter(())

    monkeypatch.setattr(st.os, "walk", outage_walk)
    with pytest.raises(PermissionError):
        prune_logs_schema_rev(spark, sink)
    monkeypatch.setattr(st.os, "walk", real_walk)
    with open(os.path.join(sink, _LOGS_SCHEMA_REV)) as f:
        rec = json.load(f)
    assert rec["promoted_extra"] == ["levelname"]  # record untouched
