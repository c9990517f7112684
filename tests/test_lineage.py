"""The shared lineage-cut helper (VERDICT r15 #5): every checkpoint
site must honor a configured RELIABLE checkpoint directory — on a
cluster, localCheckpoint blocks die with their executor — while the
single-node default keeps the exact localCheckpoint behavior the r15
measurements were taken under."""

from __future__ import annotations

import glob
import os

from venus_spark.lineage import ckpt


def test_ckpt_local_by_default(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    df = ckpt(spark.range(10).withColumnRenamed("id", "x"))
    assert [r["x"] for r in df.orderBy("x").collect()] == list(range(10))
    # localCheckpoint leaves nothing on disk and truncates the plan
    assert "LogicalRDD" in df._jdf.queryExecution().logical().toString()


def test_ckpt_reliable_when_dir_configured(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    cp = str(tmp_path / "ckpt")
    sc.setCheckpointDir(cp)
    try:
        df = ckpt(spark.range(7).withColumnRenamed("id", "x"))
        assert sorted(r["x"] for r in df.collect()) == list(range(7))
        # the reliable checkpoint actually wrote to the configured dir
        written = glob.glob(os.path.join(cp, "**", "rdd-*"), recursive=True)
        assert written, f"no reliable checkpoint under {cp}"
    finally:
        # the session is shared across the test module — restore the
        # single-node default so later tests see localCheckpoint
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty()
        )
    assert sc.getCheckpointDir() is None


def test_every_checkpoint_site_uses_the_shared_helper():
    """Grep-level pin: no raw localCheckpoint call may appear outside
    venus_spark/lineage.py (comments/docstrings excluded)."""
    root = os.path.join(os.path.dirname(__file__), "..", "venus_spark")
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        if os.path.basename(path) == "lineage.py":
            continue
        for i, line in enumerate(open(path), 1):
            code = line.split("#", 1)[0]
            if ".localCheckpoint(" in code:
                offenders.append(f"{path}:{i}")
    assert not offenders, offenders
