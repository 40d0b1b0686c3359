"""Seeded fixtures with the schema and distributions of scripts/gen_sf.py.

``scripts/gen_sf.py`` is the repo's one fixture generator, but it pins its
numpy seed to 42 and copies the SF-invariant region/nation tables from the
driver fixture. This module runs that same ``generate`` with the numpy seed
taken from the benchmark's ``--seed`` and with region/nation written from
their fixed contents, so the benchmark needs no data outside its checkout.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _SeededNumpy:
    """numpy as gen_sf.py sees it, except that ``random.default_rng``
    ignores the generator's pinned seed and uses ours."""

    def __init__(self, seed: int):
        self.random = SimpleNamespace(
            default_rng=lambda _pinned: np.random.default_rng(seed)
        )

    def __getattr__(self, name):
        return getattr(np, name)


def _load_gen_sf(seed: int, invariant_root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen_sf", os.path.join(ROOT, "scripts", "gen_sf.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.np = _SeededNumpy(seed)
    mod.SRC = invariant_root
    return mod


def _write_invariant_tables(root: str) -> None:
    """region/nation: 5 regions and 25 NATION_i rows (nation i in region
    i % 5), the SF-invariant contents every driver fixture carries."""
    d = os.path.join(root, "sf0.1")
    os.makedirs(d, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(regions),
        }),
        os.path.join(d, "region.parquet"),
    )
    pq.write_table(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        os.path.join(d, "nation.parquet"),
    )


def generate(sf: float, seed: int, out_dir: str) -> dict[str, int]:
    """Write one seeded fixture (the ten tables of io.TABLES) to ``out_dir``
    and return its row counts. The same (sf, seed) gives the same data."""
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    invariant = out_dir.rstrip("/") + ".invariant"
    _write_invariant_tables(invariant)
    try:
        return _load_gen_sf(seed, invariant).generate(sf, out_dir)
    finally:
        shutil.rmtree(invariant, ignore_errors=True)


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's _SUCCESS and .crc
    side files excluded)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total
