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
