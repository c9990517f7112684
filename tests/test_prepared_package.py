"""The prepared/ package decomposition contract (VERDICT r12 #2): the
public AND private surface re-exports unchanged, the PREPARED_ROOT
override point keeps working across submodule call paths, and
cross-module references stay patchable. Pure import-level — no Spark."""

from __future__ import annotations

import os
import types


def test_package_reexports_every_submodule_symbol():
    import venus_spark.prepared as p
    from venus_spark.prepared import (
        buckets, core, docs, events, postings, trgm, vectors,
    )

    for mod in (core, trgm, docs, postings, events, vectors, buckets):
        own = [
            n for n, v in vars(mod).items()
            if not n.startswith("__")
            and not isinstance(v, types.ModuleType)
            and getattr(v, "__module__", mod.__name__) == mod.__name__
            and (callable(v) or n.isupper() or n.startswith("_"))
        ]
        for n in own:
            if n.lstrip("_") in (
                "core", "trgm", "docs", "postings", "events", "vectors",
                "buckets",
            ):
                continue  # the sibling-module aliases themselves
            assert hasattr(p, n), f"{mod.__name__}.{n} not re-exported"
            assert getattr(p, n) is getattr(mod, n), f"{n} identity broken"


def test_prepared_root_override_reaches_all_submodules(monkeypatch):
    """86 call sites patch prepared.PREPARED_ROOT on the PACKAGE; the
    resolution must go through the package attribute at call time no
    matter which submodule calls prepared_path."""
    import venus_spark.prepared as p
    from venus_spark.prepared import core

    monkeypatch.setattr(p, "PREPARED_ROOT", "/tmp/override-probe")
    # via the package re-export AND via the home module directly
    assert p.prepared_path("/data/sf9", "x.parquet") == (
        "/tmp/override-probe/sf9/x.parquet"
    )
    assert core.prepared_path("/data/sf9", "x.parquet") == (
        "/tmp/override-probe/sf9/x.parquet"
    )


def test_no_module_regrows_past_the_split_bound():
    """The split exists to bound blast radius; a module creeping back
    toward the old 4,078-line monolith defeats it. Soft bound: 1,500
    source lines (the VERDICT r12 done-criterion)."""
    import venus_spark.prepared as p

    pkg_dir = os.path.dirname(p.__file__)
    for f in os.listdir(pkg_dir):
        if f.endswith(".py"):
            n = sum(1 for _ in open(os.path.join(pkg_dir, f)))
            assert n <= 1500, f"prepared/{f} has {n} lines (bound 1500)"


def test_internal_crash_points_stay_patchable():
    """The crash-injection tests patch core._staged_refresh /
    core._merge_pending / vectors._write_train_meta on their HOME
    modules; the cross-module callers must resolve those through
    module attributes (not import-time bindings) or the patches stop
    intercepting. Probe: rebind on the home module, observe through
    the calling module's alias."""
    from venus_spark.prepared import core, docs, vectors

    probe = object()
    orig = core._merge_pending
    try:
        core._merge_pending = probe
        # docs.merge_minhash_pending resolves _core._merge_pending at
        # call time; its view of the attribute must be the patch
        assert docs._core._merge_pending is probe
    finally:
        core._merge_pending = orig
    orig_w = vectors._write_train_meta
    try:
        vectors._write_train_meta = probe
        assert vectors._write_train_meta is probe
    finally:
        vectors._write_train_meta = orig_w


def test_one_exclusive_flock_call_site():
    """Every lock in the package — the prepared-swap lock and the
    warehouse bucket lock — goes through the one ``flock`` body,
    ``core._swap_flock``: ``venus_spark/`` holds exactly one
    ``fcntl.flock(..., fcntl.LOCK_EX)`` call."""
    import ast
    import glob

    import venus_spark

    root = os.path.dirname(venus_spark.__file__)
    sites = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        for node in ast.walk(ast.parse(open(path).read())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "flock"
                and any(
                    isinstance(a, ast.Attribute) and a.attr == "LOCK_EX"
                    for a in node.args
                )
            ):
                sites.append(f"{os.path.relpath(path, root)}:{node.lineno}")
    assert len(sites) == 1 and sites[0].startswith(
        os.path.join("prepared", "core.py") + ":"
    ), sites
