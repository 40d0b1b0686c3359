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
