#!/usr/bin/env python3
"""venus-spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload index_ingest --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The program runs on ``local[<cpus>]`` in
this process, with every file it writes (generated inputs, prepared
indexes, warehouse, Spark local dirs, stream sinks and checkpoints)
under ``.perfbench/run-<pid>/``, deleted at exit. The last line of
stdout is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs every call under its own Spark job group and
reports the per-layer metrics instead, and writes the spans to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _peak_rss_mb() -> float:
    """Peak resident memory of this process plus its direct children
    (the driver JVM), from /proc."""
    def hwm_kb(pid: str) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    me = str(os.getpid())
    total = hwm_kb(me)
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            total += hwm_kb(pid)
    return total / 1024


def _isolate(work: str) -> dict[str, str]:
    """Point every writer at ``work``; returns extra Spark confs."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_PREPARED_DIR"] = os.path.join(work, "prepared")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # No hsperfdata file in /tmp, and JVM temp files under ``work``, for
    # both the launcher JVM and the driver JVM.
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"{jvm_opts} -Dderby.system.home={work}",
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    import workloads
    from spans import Tracer

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    conf = _isolate(work)
    from venus_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, counting=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](spark, tracer, args.seed, work)
        setups = []
        for rep in range(wl.setup_repeats):
            wl.inputs(rep)
            with tracer.span("setup") as s:
                wl.setup(rep)
            setups.append(s["s"])
        with tracer.span("warmup"):
            wl.warmup()
        with tracer.span("measure"):
            m = wl.measure(args.seconds)
        with tracer.span("check"):
            checked, check_failed = wl.check()
        e2e = {
            "pass_s": (statistics.median(m["passes"]), "s"),
            "op_p50_s": (statistics.median(m["ops"]), "s"),
            "setup_s": (statistics.median(setups), "s"),
        }
        if args.trace:
            wl.setup_layer_metrics()
            layer = {
                "session.start_s": session_s,
                "trace.pass_s": e2e["pass_s"][0],
                "measure.ops": len(m["ops"]),
                "op_p90_s": workloads.pct(m["ops"], 90),
                "peak_rss_mb": _peak_rss_mb(),
                **wl.layer,
            }
            metrics = {k: (layer.get(k, 0), u) for k, u in per_layer_units().items()}
            tracer.write(os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = e2e
        failed = m["failed"] + check_failed
        return {
            "correct": failed == 0,
            "attempted": m["attempted"] + checked,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import venus_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program ({exc}); run from the "
              "root of a venus-spark checkout", file=sys.stderr)
        sys.exit(2)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        sys.exit(2)
    result = run(args)
    print(json.dumps(result, separators=(",", ":")))
