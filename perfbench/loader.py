"""Registry loader: query lists from the per-module dicts.

``flatterer_spark.registry.all_queries()`` imports every query module,
including ``flatten_queries``, which opens the reference fixture files
named by ``flatten_queries.BASIC`` / ``GOLDEN_FIELDS`` at import time
(``flatten_queries.py:18,82``) and raises ``FileNotFoundError`` where that
fixture directory is absent -- and so does ``python bench.py``, which calls
it.  The benchmark therefore reads the
``*_QUERIES`` / ``*_ORACLE`` dicts of the modules it measures directly and
never imports ``flatten_queries``.

``stream_flatten_child`` is excluded: it reads the same missing fixture
(``streaming/gate_queries.py:216,967``).
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass

#: layer name -> (module, dict prefix)
MODULES = {
    "queries": ("flatterer_spark.queries", "CORE"),
    "tpch_queries": ("flatterer_spark.tpch_queries", "TPCH"),
    "ext_queries": ("flatterer_spark.ext_queries", "EXT"),
    "curation": ("flatterer_spark.curation", "CURATION"),
    "gate_queries": ("flatterer_spark.streaming.gate_queries", "STREAM_GATE"),
}

#: query name -> why the benchmark never runs it
EXCLUDED = {
    "stream_flatten_child": "reads the reference fixture flatten_queries.BASIC, which may be absent",
}


@dataclass(frozen=True)
class Query:
    name: str
    layer: str  # key of MODULES
    fn: object  # (spark, sf_dir) -> DataFrame
    oracle: str  # DuckDB SQL over the ten tables


def load(names: list[str]) -> list[Query]:
    """The named queries, in the given order, each with its oracle.

    Raises ValueError for an excluded name, a name no measured module
    registers, or a query without an oracle (its output could not be
    checked)."""
    bad = [n for n in names if n in EXCLUDED]
    if bad:
        raise ValueError(f"excluded queries requested: {bad}")
    found: dict[str, Query] = {}
    for layer, (module, prefix) in MODULES.items():
        mod = importlib.import_module(module)
        queries = getattr(mod, f"{prefix}_QUERIES")
        oracles = getattr(mod, f"{prefix}_ORACLE")
        for n in names:
            if n in queries:
                if n not in oracles:
                    raise ValueError(f"{n} has no oracle")
                found[n] = Query(n, layer, queries[n], oracles[n])
    missing = [n for n in names if n not in found]
    if missing:
        raise ValueError(f"unknown queries: {missing}")
    return [found[n] for n in names]
