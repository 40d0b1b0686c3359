"""Round-numbered driver artifacts (BENCH_r{N}.json, CORRECTNESS_r{N}.json).

One place owns the repo-root glob / round-parse / corruption-tolerance so
the two feedback loops that read these files — bench.py's per-query deltas
and the registry's rotation in queries/__init__.py — can never drift onto
different naming or error-handling rules.
"""

from __future__ import annotations

import glob
import json
import os
import re
from typing import Callable, Iterator

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def round_artifacts(
    prefix: str, root: str | None = None
) -> Iterator[tuple[int, dict]]:
    """Yield (round, payload) for every parseable ``{prefix}_r{N}.json``
    under ``root`` (repo root by default). The driver wraps our JSON line
    under a "parsed" envelope for BENCH records — unwrap it, keeping the
    envelope's ``cpus`` (the core count the run had) unless the line
    carries its own. Corrupt or unreadable files are skipped, matching
    both original call sites."""
    root = root or REPO_ROOT
    for path in glob.glob(os.path.join(root, f"{prefix}_r*.json")):
        m = re.search(rf"{re.escape(prefix)}_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        if isinstance(data.get("parsed"), dict):
            envelope = {"cpus": data["cpus"]} if "cpus" in data else {}
            data = {**envelope, **data["parsed"]}
        yield int(m.group(1)), data


def latest_round_artifact(
    prefix: str,
    root: str | None = None,
    require: Callable[[dict], bool] | None = None,
) -> tuple[int | None, dict | None]:
    """The highest-round artifact (optionally filtered by ``require``), or
    (None, None) when no usable record exists."""
    best_rnd, best = -1, None
    for rnd, data in round_artifacts(prefix, root):
        if rnd > best_rnd and (require is None or require(data)):
            best_rnd, best = rnd, data
    return (best_rnd, best) if best is not None else (None, None)
