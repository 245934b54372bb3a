"""Named queries + DuckDB oracles — the correctness surface of the engine.

Each submodule registers queries into QUERIES/ORACLES via `register`.
A query callable takes (spark, sf_dir) and returns a DataFrame; its
oracle is ANSI SQL DuckDB runs on the same parquet tables. Column names
and float rounding are kept identical on both sides (driver hash gate).

Registration is eager: the import pass at the bottom of this module
imports every public submodule it finds on disk, so QUERIES and ORACLES
are plain dicts holding the whole surface as soon as the package is
imported. A new query module needs no index or list entry.
"""

from __future__ import annotations

import importlib
import pkgutil

QUERIES: dict = {}
ORACLES: dict = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


for _m in pkgutil.iter_modules(__path__):
    if not _m.name.startswith("_"):
        importlib.import_module(f"{__name__}.{_m.name}")
