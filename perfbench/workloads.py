"""The benchmark's workloads. Each one has:

- ``inputs(rep)``: untimed; write the generated inputs of one set-up
  into fresh directories;
- ``setup(rep)``: build the starting state from those inputs (timed;
  run ``setup_repeats`` times, the last one is kept);
- ``warmup()``: untimed work after the last set-up that leaves its state
  as it was, so the measured operations are not the first of their kind
  in the JVM;
- ``measure(seconds)``: the timed loop; returns pass and operation times;
- ``check()``: untimed correctness checks; returns ``(attempted, failed)``.

Every call into the program is a public function: ``prepared.*``
builders and appends, plan functions from ``all_plans()``, the noop
materialize, and ``streaming.start_logs_ingest``.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
import threading
import time
import traceback
from datetime import datetime

import duckdb

import gen
from spans import COUNTERS, sum_counts

LIVE_PLANS = (
    "bm25_topk_live fuzzy_trgm_postings_live dedup_minhash_lsh_live "
    "sim_ivf_topk_live sim_pq_adc_live boolean_search_live"
).split()
APPENDS = ("append_documents_batch", "append_embeddings_batch")


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, round(q / 100 * len(s) + 0.5) - 1))]


def materialize(df) -> None:
    # noop sink: runs the whole plan on the executors, collects nothing
    df.write.format("noop").mode("overwrite").save()


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


def _sink_select(table_dir: str, columns: str) -> list[tuple]:
    """``SELECT columns`` over a streaming-sink table (hive-partitioned
    parquet), read with DuckDB rather than with the program."""
    files = os.path.join(table_dir, "**", "*.parquet")
    if not glob.glob(files, recursive=True):
        return []
    return duckdb.sql(
        f"SELECT {columns} FROM read_parquet('{files}', hive_partitioning=true)"
    ).fetchall()


class Workload:
    """Shared set-up: generated base tables, warmed through the
    program's loader, plus prepared artifacts under a fresh root."""

    tables: tuple[str, ...] = ()
    artifacts: tuple[str, ...] = ()
    setup_repeats = 2

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work
        self.sf = ""
        self.layer: dict[str, float] = {}  # per-layer metrics of this run
        self.setup_spans: list[list[dict]] = []
        self.plan_spans: dict[str, list[tuple[dict, dict]]] = {}

    def inputs(self, rep: int) -> None:
        self.sf = os.path.join(self.work, f"sf-{rep}")
        with self.tracer.span("generator.tables"):
            gen.write_tables(self.sf, self.seed, self.tables)

    def setup(self, rep: int) -> None:
        import venus_spark.prepared as prepared
        from venus_spark.sources import load_table

        prepared.PREPARED_ROOT = os.path.join(self.work, f"prepared-{rep}")
        t = self.tracer
        with t.span("sources.warm", counted=True) as warm:
            for name in self.tables:
                load_table(self.spark, self.sf, name).count()
        steps = []
        for art in self.artifacts:
            with t.span(f"prepared.{art}", counted=True) as s:
                getattr(prepared, art)(self.spark, self.sf)
            steps.append(s)
        self.setup_spans.append([warm, *steps])

    def warmup(self) -> None:
        pass

    def setup_layer_metrics(self) -> None:
        """Medians over the set-up repeats of the warm-up and build spans."""
        reps = self.setup_spans
        if not reps:  # a workload whose set-up loads no table
            return
        self.layer["sources.warm_s"] = statistics.median(r[0]["s"] for r in reps)
        self.layer["sources.warm_jobs"] = reps[-1][0].get("jobs", 0)
        builds = [r[1:] for r in reps]
        self.layer["prepared.build_s"] = statistics.median(
            sum(s["s"] for s in b) for b in builds)
        self.layer["prepared.build_jobs"] = sum(s.get("jobs", 0) for s in builds[-1])
        for i, art in enumerate(self.artifacts):
            self.layer[f"prepared.{art}.build_s"] = statistics.median(
                b[i]["s"] for b in builds)
            self.layer[f"prepared.{art}.jobs"] = builds[-1][i].get("jobs", 0)

    def run_plan(self, plans, name: str) -> tuple[dict, dict]:
        """Build and materialize one plan: ``(build_span, exec_span)``."""
        t = self.tracer
        with t.span(f"op:{name}"):
            with t.span("build", counted=True) as b:
                df = plans[name].fn(self.spark, self.sf)
            with t.span("exec", counted=True) as e:
                materialize(df)
        return b, e

    def plan_pass(self, names: list[str], pass_no: int, per_pass: list[dict]) -> int:
        """One pass over ``names`` in seeded order; returns failures."""
        from venus_spark.plans import all_plans

        plans = all_plans()
        failed = 0
        builds, execs = [], []
        for name in gen.plan_order(names, self.seed, pass_no):
            try:
                b, e = self.run_plan(plans, name)
            except Exception:  # noqa: BLE001 - one failed op, keep measuring
                _log_failure(name)
                failed += 1
                continue
            builds.append(b)
            execs.append(e)
            self.plan_spans.setdefault(name, []).append((b, e))
        per_pass.append({
            "build_s": sum(b["s"] for b in builds),
            "build_jobs": sum(b.get("jobs", 0) for b in builds),
            "exec_wall_s": sum(e["s"] for e in execs),
            **sum_counts(execs),
        })
        return failed

    def pass_layer_metrics(self, per_pass: list[dict]) -> None:
        med = lambda k: statistics.median(p[k] for p in per_pass)  # noqa: E731
        self.layer["plans.build_s"] = med("build_s")
        self.layer["plans.build_jobs"] = med("build_jobs")
        self.layer["exec.wall_s"] = med("exec_wall_s")
        for k in COUNTERS:
            self.layer[f"exec.{k}"] = med(k)
        for name, spans in self.plan_spans.items():
            self.layer[f"plan.{name}.build_s"] = statistics.median(b["s"] for b, _ in spans)
            self.layer[f"plan.{name}.exec_s"] = statistics.median(e["s"] for _, e in spans)
            self.layer[f"plan.{name}.jobs"] = statistics.median(
                b.get("jobs", 0) + e.get("jobs", 0) for b, e in spans)


class IndexIngest(Workload):
    """Writes beside reads on the prepared indexes: each cycle appends
    one document batch and one vector batch, then runs the six
    live-view plans once. Closed loop, one client. A client waits on
    three steps a cycle: each append, and the read of all six live
    views; those are the timed operations."""

    tables = ("documents", "embeddings")
    artifacts = (
        "documents_trgm", "documents_trgm_postings", "documents_minhash",
        "documents_postings", "embeddings_ivf", "embeddings_pq",
    )
    # Per-append batch sizes (README, "Workloads").
    docs_per_batch = 200
    vecs_per_batch = 100

    # One set-up: a second one costs 13-15 s a run, which the time
    # budget cannot take beside the warm-up pass (README).
    setup_repeats = 1

    def setup(self, rep: int) -> None:
        super().setup(rep)
        import numpy as np
        import pyarrow.parquet as pq

        # Base rows the batch generators copy and perturb, read from the
        # generated files.
        docs = pq.read_table(os.path.join(self.sf, "documents.parquet"))
        self.base_texts = docs.column("text").to_pylist()
        emb = pq.read_table(os.path.join(self.sf, "embeddings.parquet"))
        self.base_vecs = np.array(emb.column("embedding").to_pylist(), np.float32)
        self.base_labels = emb.column("label").to_pylist()
        self.batches = 0
        self.appended_docs: list[int] = []
        self.appended_vecs: list[int] = []
        self.exact_dups: list[tuple[int, int]] = []
        self.append_spans: dict[str, list[dict]] = {a: [] for a in APPENDS}

    def warmup(self) -> None:
        """One pass of the live plans. It only reads, so the measured
        state stays the set-up's. The appends are not warmed: a warm-up
        append would change that state."""
        self.plan_pass(LIVE_PLANS, 0, [])

    def _append(self, kind: str, ops: list[float]) -> None:
        import venus_spark.prepared as prepared

        k = self.batches
        if kind == "append_documents_batch":
            rows, dups = gen.doc_batch(self.seed, k, self.base_texts,
                                       self.docs_per_batch)
            df = self.spark.createDataFrame(
                rows, "doc_id long, text string, lang string, source string, "
                "n_chars long")
        else:
            rows = gen.vec_batch(self.seed, k, self.base_vecs, self.base_labels,
                                 self.vecs_per_batch)
            df = self.spark.createDataFrame(
                rows, "vec_id long, embedding array<float>, label int")
        t0 = time.perf_counter()
        with self.tracer.span(f"prepared.{kind}", counted=True) as s:
            getattr(prepared, kind)(self.spark, self.sf, df, batch_id=k)
        ops.append(time.perf_counter() - t0)
        self.append_spans[kind].append(s)
        ids = [r[0] for r in rows]
        if kind == "append_documents_batch":
            self.appended_docs += ids
            self.exact_dups += dups
        else:
            self.appended_vecs += ids

    def cycle(self, ops: list[float], per_pass: list[dict]) -> int:
        failed = 0
        for kind in APPENDS:
            try:
                self._append(kind, ops)
            except Exception:  # noqa: BLE001 - one failed op, keep measuring
                _log_failure(kind)
                failed += 1
        t0 = time.perf_counter()
        pass_failed = self.plan_pass(LIVE_PLANS, self.batches, per_pass)
        if not pass_failed:
            ops.append(time.perf_counter() - t0)
        failed += pass_failed
        self.batches += 1
        return failed

    def measure(self, seconds: float) -> dict:
        ops, cycles, per_pass = [], [], []
        self.plan_spans = {}
        failed = 0
        deadline = time.perf_counter() + seconds
        while not cycles or time.perf_counter() < deadline:
            with self.tracer.span("pass") as p:
                failed += self.cycle(ops, per_pass)
            cycles.append(p["s"])
        self.pass_layer_metrics(per_pass)
        for kind, spans in self.append_spans.items():
            self.layer[f"prepared.{kind}.s"] = statistics.median(s["s"] for s in spans)
            self.layer[f"prepared.{kind}.jobs"] = statistics.median(
                s.get("jobs", 0) for s in spans)
        return {"passes": cycles, "ops": ops,
                "attempted": len(cycles) * (len(APPENDS) + len(LIVE_PLANS)),
                "failed": failed}

    def check(self) -> tuple[int, int]:
        """The live views hold exactly the base ids plus the appended
        ids, and every injected exact duplicate is reported."""
        import pyspark.sql.functions as F
        import venus_spark.prepared as prepared
        from venus_spark.plans import all_plans

        spark, sf = self.spark, self.sf

        def ids(df, col):
            return {r[0] for r in df.select(col).distinct().collect()}

        def layout(name):
            return spark.read.parquet(prepared.prepared_path(sf, name))

        want_docs = set(range(gen.SIZES["documents"])) | set(self.appended_docs)
        want_vecs = set(range(gen.SIZES["embeddings"])) | set(self.appended_vecs)
        post, _dfreq, _stats = prepared.documents_postings_live(spark, sf)
        views = {
            "documents_minhash_live": (prepared.documents_minhash_live(spark, sf), "doc_id", want_docs),
            "documents_postings_live": (post, "doc_id", want_docs),
            "documents_trgm": (prepared.documents_trgm(spark, sf), "doc_id", want_docs),
            "documents_trgm_postings_live": (
                prepared.documents_trgm_postings_live(spark, sf), "doc_id", want_docs),
            "embeddings_ivf": (layout("embeddings_ivf.parquet"), "vec_id", want_vecs),
            "embeddings_pq_codes": (layout("embeddings_pq_codes.parquet"), "vec_id", want_vecs),
        }
        failed = 0
        for view, (df, col, want) in views.items():
            got = ids(df, col)
            if got != want:
                print(f"perfbench: {view} holds {len(got)} ids, expected "
                      f"{len(want)} (missing {sorted(want - got)[:5]}, extra "
                      f"{sorted(got - want)[:5]})", file=sys.stderr)
                failed += 1
        pairs = {
            (r.id_a, r.id_b)
            for r in all_plans()["dedup_minhash_lsh_live"].fn(spark, sf)
            .filter(F.col("id_b") >= gen.FRESH_ID_BASE).collect()
        }
        missing = [p for p in self.exact_dups if p not in pairs]
        if missing:
            print(f"perfbench: exact duplicates not found: {missing[:5]}",
                  file=sys.stderr)
            failed += 1
        return len(views) + 1, failed


class LogIngest(Workload):
    """The reference's own dataflow: F1 JSON-lines files landed in a
    directory, consumed by ``start_logs_ingest``. Two timed phases:
    drains of a pre-written backlog (``availableNow``), then an open
    loop that lands ``files_per_trigger`` files per interval of the
    program's default ``processingTime`` trigger, on a fixed schedule."""

    rows_per_file = 100  # one file per flush of the reference's sender
    backlog_files = 128  # one micro-batch at the default maxFilesPerTrigger
    # The tail lands 15 files (1,500 rows) per trigger interval, 0.3 s
    # apart from 0.1 s after the interval opens: every micro-batch holds
    # one file of each phase, so the median lag is a median over batches
    # and every seed sees the same distribution.
    files_per_trigger = 15
    file_gap_s = 0.3
    drain_share = 0.4  # of --seconds; the tail schedule gets the rest
    warmup_drains = 3
    min_drains = 5
    min_tail_triggers = 2

    def __init__(self, *a, **kw):
        from venus_spark.streaming import DEFAULT_TRIGGER_SECONDS

        super().__init__(*a, **kw)
        self.trigger_s = DEFAULT_TRIGGER_SECONDS
        self.drain_no = 0
        self.backlog: list[tuple[int, list[str], int, int]] = []
        self.expected: dict[str, tuple[int, int]] = {}  # sink -> (good, bad)
        self.progress: list[dict] = []
        self.run_ids: list[str] = []
        self.landed: tuple[str, str, str] | None = None

    def _write_file(self, landing: str, k: int, lines: list[str]) -> None:
        tmp = os.path.join(self.work, f"f{k}.json.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(landing, f"f{k:06d}.json"))

    def _files(self, first: int, n: int) -> list[tuple[int, list[str], int, int]]:
        """Generated files ``first .. first+n-1``: ``(number, lines, good, bad)``."""
        return [(k, *gen.log_lines(self.seed, k, self.rows_per_file))
                for k in range(first, first + n)]

    def _dirs(self, tag: str) -> tuple[str, str, str]:
        base = os.path.join(self.work, "ingest", tag)
        landing = os.path.join(base, "landing")
        os.makedirs(landing)
        return landing, os.path.join(base, "sink"), os.path.join(base, "checkpoint")

    def _start(self, landing, sink, ckpt, **trigger):
        from venus_spark.streaming import read_log_stream, start_logs_ingest

        q = start_logs_ingest(read_log_stream(self.spark, landing), sink, ckpt,
                              **trigger)
        self.run_ids.append(str(q.runId))
        return q

    def _keep_progress(self, q) -> list[dict]:
        prog = [p for p in q.recentProgress if p["numInputRows"]]
        self.progress += prog
        return prog

    def land(self) -> tuple[str, str, str]:
        """Land the backlog in fresh directories; returns
        ``(landing, sink, checkpoint)``."""
        landing, sink, ckpt = self._dirs(f"drain-{self.drain_no}")
        self.drain_no += 1
        if not self.backlog:
            self.backlog = self._files(0, self.backlog_files)
        files = self.backlog
        for k, lines, _, _ in files:
            self._write_file(landing, k, lines)
        self.expected[sink] = (sum(f[2] for f in files), sum(f[3] for f in files))
        return landing, sink, ckpt

    def drain(self, dirs: tuple[str, str, str]) -> float:
        """Time one ``availableNow`` drain of a landed backlog."""
        with self.tracer.span("streaming.drain") as s:
            q = self._start(*dirs, trigger_seconds=None)
            q.awaitTermination()
        self._keep_progress(q)
        return s["s"]

    def inputs(self, rep: int) -> None:
        self.landed = self.land()

    def setup(self, rep: int) -> None:
        # The log path reads no base table and no prepared index: its
        # set-up drains one landed backlog from a cold stream (query
        # start, micro-batches, sink creation).
        self.drain(self.landed)

    def warmup(self) -> None:
        """More drains, untimed, each into fresh directories: drain times
        keep falling for the first ten or so in a JVM."""
        for _ in range(self.warmup_drains):
            self.drain(self.land())

    def tail(self, seconds: float) -> tuple[list[float], int]:
        """Open loop: land files on a fixed schedule while the stream
        runs. Returns the per-file lags (due -> commit of the micro-batch
        holding the file) and the file count; records the per-batch
        figures and how late the generator ran."""
        landing, sink, ckpt = self._dirs("tail")
        per = self.files_per_trigger
        n = per * max(self.min_tail_triggers, round(seconds / self.trigger_s))
        files = self._files(self.backlog_files, n)
        self.expected[sink] = (sum(f[2] for f in files), sum(f[3] for f in files))
        q = self._start(landing, sink, ckpt)  # the program's default trigger
        # Triggers fire on multiples of trigger_s since the epoch; the
        # schedule starts on the next one at least 0.3 s away.
        start = (int(time.time() + 0.3) // self.trigger_s + 1) * self.trigger_s
        due = [start + (i // per) * self.trigger_s + 0.1 + (i % per) * self.file_gap_s
               for i in range(n)]
        late: list[float] = []

        def generator() -> None:
            for (k, lines, _, _), t in zip(files, due):
                delay = t - time.time()
                if delay > 0:
                    time.sleep(delay)
                self._write_file(landing, k, lines)
                late.append(time.time() - t)

        g = threading.Thread(target=generator, name="perfbench-generator")
        want = self.rows_per_file * n
        with self.tracer.span("streaming.tail"):
            g.start()
            g.join(timeout=seconds + 60)
            deadline = time.time() + 60
            while (sum(p["numInputRows"] for p in q.recentProgress) < want
                   and time.time() < deadline):
                time.sleep(0.05)
            q.stop()
        if g.is_alive():
            raise RuntimeError("log generator did not finish")
        prog = self._keep_progress(q)
        commits = {
            p["batchId"]: datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            + p["durationMs"]["triggerExecution"] / 1e3
            for p in prog
        }
        batch_of = dict(_sink_select(
            os.path.join(sink, "logs"),
            "DISTINCT CAST(regexp_extract(message, '^f(\\d+)-', 1) AS INT), _batch_id"))
        commit_of = [commits.get(batch_of.get(f[0]), float("inf")) for f in files]
        self.layer.update({
            "streaming.trigger_s_p50": statistics.median(
                p["durationMs"]["triggerExecution"] / 1e3 for p in prog),
            "streaming.add_batch_s_p50": statistics.median(
                p["durationMs"]["addBatch"] / 1e3 for p in prog),
            "streaming.rows_per_batch": statistics.median(p["numInputRows"] for p in prog),
            "streaming.backlog_files_end": sum(1 for c in commit_of if c > due[-1]),
            "generator.late_s": max(late),
        })
        return [c - t for c, t in zip(commit_of, due) if c != float("inf")], n

    def measure(self, seconds: float) -> dict:
        drains = []
        t_end = time.perf_counter() + seconds * self.drain_share
        while len(drains) < self.min_drains or time.perf_counter() < t_end:
            drains.append(self.drain(self.land()))
        lags, n_tail = self.tail(seconds * (1 - self.drain_share))
        self.layer["streaming.drain_rows_per_s"] = (
            self.backlog_files * self.rows_per_file / statistics.median(drains))
        if self.tracer.counting:
            jobs = sum(self.tracer.group_counts(r)["jobs"] for r in self.run_ids)
            self.layer["streaming.jobs_per_batch"] = jobs / len(self.progress)
        return {"passes": drains, "ops": lags,
                "attempted": len(drains) * self.backlog_files + n_tail,
                "failed": n_tail - len(lags)}

    def check(self) -> tuple[int, int]:
        """Per sink: good rows plus quarantined rows equal the generated
        rows, and the quarantine holds exactly the injected bad rows."""
        failed = 0
        for sink, (good, bad) in self.expected.items():
            got = tuple(
                sum(n for (n,) in _sink_select(os.path.join(sink, t), "count(*)"))
                for t in ("logs", "quarantine"))
            if got != (good, bad):
                print(f"perfbench: {sink}: landed {got[0]} good / {got[1]} "
                      f"quarantined rows, expected {good} / {bad}", file=sys.stderr)
                failed += 1
        return len(self.expected), failed


WORKLOADS = {
    "index_ingest": IndexIngest,
    "log_ingest": LogIngest,
}
