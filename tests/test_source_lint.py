"""Static checks over the package source that need no linter install."""

from __future__ import annotations

import ast
import pathlib

import skiliopay_datapipeline_customer_spark as pkg

PKG_DIR = pathlib.Path(pkg.__file__).parent


def test_no_repeated_constant_keys_in_dict_literals():
    """A dict literal that repeats a constant key keeps only the last
    value; every earlier entry is dead code that reads as live (pyflakes
    F601)."""
    repeats = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Dict):
                continue
            seen = set()
            for key in node.keys:
                if not isinstance(key, ast.Constant):
                    continue
                if key.value in seen:
                    rel = path.relative_to(PKG_DIR.parent)
                    repeats.append(f"{rel}:{key.lineno} {key.value!r}")
                seen.add(key.value)
    assert not repeats, "repeated dict keys:\n" + "\n".join(repeats)


def test_no_literal_lists_registered_queries():
    """Query order and query sets are derived (registry declaration order,
    CORRECTNESS records), never kept by hand: no list, set, tuple or dict
    literal in the package may name 3 or more registered queries."""
    from skiliopay_datapipeline_customer_spark.queries import QUERIES, load_all

    load_all()
    found = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict):
                elts = [*node.keys, *node.values]
            elif isinstance(node, (ast.List, ast.Set, ast.Tuple)):
                elts = node.elts
            else:
                continue
            named = {
                e.value
                for e in elts
                if isinstance(e, ast.Constant) and e.value in QUERIES
            }
            if len(named) >= 3:
                rel = path.relative_to(PKG_DIR.parent)
                found.append(f"{rel}:{node.lineno} names {len(named)} queries")
    assert not found, "hand-kept query lists:\n" + "\n".join(found)


_THREAD_MODULES = ("threading", "concurrent", "_thread")


def _imported_modules(tree) -> list[tuple[int, str]]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            out.append((node.lineno, node.module))
    return out


def test_threads_only_in_the_parallel_helper():
    """``parallel.py`` owns the package's only thread pool: no other module
    imports ``threading``, ``concurrent.futures`` or ``_thread``. A thread
    started elsewhere would run its Spark jobs without the caller's job
    group and local properties."""
    found = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        if path == PKG_DIR / "parallel.py":
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for lineno, mod in _imported_modules(tree):
            if mod.split(".")[0] in _THREAD_MODULES:
                found.append(f"{path.relative_to(PKG_DIR.parent)}:{lineno} {mod}")
    assert not found, "thread use outside parallel.py:\n" + "\n".join(found)


_JOB_READS = ("statusTracker", "getJobIdsForGroup", "getMemoryPoolMXBeans")


def test_job_group_reads_only_in_run_record():
    """``plans/run_record.py`` is the one place that reads job groups, the
    status tracker and the JVM memory pools: no other file in the package,
    ``bench.py``, ``selfcheck.py``, ``scripts/`` or ``tests/conftest.py``
    calls them, so every count comes off one measurement path. The
    benchmark (``perfbench/``) keeps its own reader."""
    repo = PKG_DIR.parent
    paths = [
        *PKG_DIR.rglob("*.py"),
        repo / "bench.py",
        repo / "selfcheck.py",
        *(repo / "scripts").rglob("*.py"),
        repo / "tests" / "conftest.py",
    ]
    found = []
    for path in sorted(paths):
        if path == PKG_DIR / "plans" / "run_record.py":
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", getattr(node.func, "id", None))
                in _JOB_READS
            ):
                found.append(f"{path.relative_to(repo)}:{node.lineno}")
    assert not found, "job-group reads outside run_record.py:\n" + "\n".join(
        found
    )


def test_parallel_helper_wraps_every_target():
    """Every callable ``parallel.py`` hands to a thread goes through
    ``inheritable_thread_target(...)`` at the submit call itself; without
    it, pool jobs silently lose the caller's job group. No ``Thread`` or
    ``map`` entry point exists beside ``submit``."""
    tree = ast.parse((PKG_DIR / "parallel.py").read_text(encoding="utf-8"))
    submits = 0
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = getattr(node.func, "attr", getattr(node.func, "id", None))
        assert name not in ("Thread", "map", "start_new_thread"), node.lineno
        if name != "submit":
            continue
        submits += 1
        (arg,) = node.args
        wrapper = arg.func if isinstance(arg, ast.Call) else None
        assert (
            isinstance(wrapper, ast.Call)
            and getattr(wrapper.func, "id", None) == "inheritable_thread_target"
        ), f"parallel.py:{node.lineno} submits an unwrapped target"
    assert submits >= 1
