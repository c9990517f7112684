"""walk_strict contract: exactly one quiet case (absent root); every
other scandir failure — including a SUBDIRECTORY vanishing mid-walk —
propagates (ADVICE r12 #3: the silent-subset class of review r8 #3).
write_json_atomic is the one tmp + rename JSON writer."""

from __future__ import annotations

import ast
import glob
import json
import os
import shutil

import pytest

from venus_spark.fsutil import walk_strict, write_json_atomic


def test_absent_root_is_quiet_empty(tmp_path):
    gone = str(tmp_path / "never_created")
    assert list(walk_strict(gone)) == []


def test_subdir_vanishing_mid_walk_raises(tmp_path):
    """A date= partition removed by concurrent retention between the
    parent's listing and the subdir's own scandir must NOT yield a
    silently short listing."""
    root = tmp_path / "sink"
    for d in ("date=2026-01-01", "date=2026-01-02"):
        (root / d).mkdir(parents=True)
        (root / d / "part-0.parquet").write_text("x")
    walker = walk_strict(str(root))
    dirpath, dirnames, _ = next(walker)  # root listing taken
    assert sorted(dirnames) == ["date=2026-01-01", "date=2026-01-02"]
    shutil.rmtree(root / "date=2026-01-01")  # the concurrent vacuum
    with pytest.raises(FileNotFoundError):
        list(walker)


def test_other_errors_still_raise(tmp_path, monkeypatch):
    """Non-FileNotFoundError scandir failures propagate regardless of
    depth (the original strict contract)."""
    root = tmp_path / "p"
    (root / "sub").mkdir(parents=True)
    real_scandir = os.scandir

    def deny_sub(p="."):
        if os.fspath(p).endswith("sub"):
            raise PermissionError(13, "denied", os.fspath(p))
        return real_scandir(p)

    monkeypatch.setattr(os, "scandir", deny_sub)
    with pytest.raises(PermissionError):
        list(walk_strict(str(root)))


def test_full_walk_intact(tmp_path):
    root = tmp_path / "ok"
    (root / "a" / "b").mkdir(parents=True)
    (root / "a" / "f.txt").write_text("x")
    seen = [
        (os.path.relpath(d, root), sorted(dn), sorted(fn))
        for d, dn, fn in walk_strict(str(root))
    ]
    assert seen == [
        (".", ["a"], []),
        ("a", ["b"], ["f.txt"]),
        (os.path.join("a", "b"), [], []),
    ]


def test_spark_staging_dirs_pruned_not_raced(tmp_path):
    """Spark job commits create and REMOVE _temporary/.spark-staging-*
    under live-written table roots: the strict walk must neither list
    their uncommitted part files as data nor raise when one vanishes
    mid-walk — it prunes them from descent entirely. Partition dirs
    (_batch_id=N) contain '=' and are never pruned."""
    root = tmp_path / "events"
    (root / "_batch_id=0").mkdir(parents=True)
    (root / "_batch_id=0" / "part-0.parquet").write_text("x")
    (root / "_temporary" / "0").mkdir(parents=True)
    (root / "_temporary" / "0" / "part-inflight.parquet").write_text("x")
    (root / ".spark-staging-abc123").mkdir()
    (root / ".spark-staging-abc123" / "part-staged.parquet").write_text("x")
    seen_files = [
        f for _d, _dn, fns in walk_strict(str(root)) for f in fns
    ]
    assert seen_files == ["part-0.parquet"]
    # vanish race: staging removed after the parent listing -> quiet,
    # because the walker never descends into it at all
    walker = walk_strict(str(root))
    _dirpath, dirnames, _f = next(walker)
    assert "_temporary" not in dirnames and "_batch_id=0" in dirnames
    shutil.rmtree(root / "_temporary")
    shutil.rmtree(root / ".spark-staging-abc123")
    list(walker)  # completes without raising


def test_write_json_atomic_bytes_and_torn_rename(tmp_path, monkeypatch):
    """Same bytes as ``json.dump`` with the caller's keywords; a crash
    between the tmp write and the rename leaves the old file intact."""
    p = str(tmp_path / "m.json")
    obj = {"b": [3, 1], "a": True}
    write_json_atomic(p, obj, sort_keys=True, indent=1)
    assert open(p).read() == json.dumps(obj, sort_keys=True, indent=1)
    assert not os.path.exists(p + ".tmp")

    def killed(src, dst):
        raise RuntimeError("killed between tmp write and rename")

    monkeypatch.setattr(os, "replace", killed)
    with pytest.raises(RuntimeError, match="killed"):
        write_json_atomic(p, {"new": 1})
    assert json.load(open(p)) == obj
    assert json.load(open(p + ".tmp")) == {"new": 1}


def test_every_json_rename_uses_the_shared_writer():
    """AST-level pin: no ``os.replace(`` call in ``venus_spark`` outside
    ``fsutil.py``."""
    root = os.path.join(os.path.dirname(__file__), "..", "venus_spark")
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)
        if rel == "fsutil.py":
            continue
        for node in ast.walk(ast.parse(open(path).read())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "replace"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "os"
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders
