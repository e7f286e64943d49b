"""Central operator registry.

Each operator module registers ``name -> fn(spark, sf_dir) -> DataFrame`` plus
(optionally) an equivalent ANSI-SQL string runnable by DuckDB on the same
parquet tables.  ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin
wrappers over these dicts, and the pytest suite replays the driver's
Spark-vs-DuckDB comparison for every registered pair.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_OPERATOR_MODULES = [
    "lakefs_iceberg_catalog_spark.operators.relational",
    "lakefs_iceberg_catalog_spark.operators.tpch_extra",
    "lakefs_iceberg_catalog_spark.operators.tpch_extra2",
    "lakefs_iceberg_catalog_spark.operators.joins",
    "lakefs_iceberg_catalog_spark.operators.windows",
    "lakefs_iceberg_catalog_spark.operators.scalars",
    "lakefs_iceberg_catalog_spark.operators.advanced",
    "lakefs_iceberg_catalog_spark.operators.sources",
    "lakefs_iceberg_catalog_spark.operators.dedup",
    "lakefs_iceberg_catalog_spark.operators.similarity",
    "lakefs_iceberg_catalog_spark.operators.text",
    "lakefs_iceberg_catalog_spark.operators.multimodal",
    "lakefs_iceberg_catalog_spark.operators.pipeline",
    "lakefs_iceberg_catalog_spark.operators.versioned",
    "lakefs_iceberg_catalog_spark.operators.versioned_dml",
    "lakefs_iceberg_catalog_spark.streaming.batch_equiv",
]


def register(name: str, oracle: str | None = None):
    """Decorator: register a query callable (and its DuckDB oracle SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate operator key: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco



# Manual override hook ONLY (normally empty): keys listed here pin to the
# front of the sweep window ahead of the computed staleness order below.
_SWEEP_OVERRIDE: list[str] = []


def correctness_ages(repo_root: str | None = None) -> dict[str, int]:
    """``key -> newest round whose CORRECTNESS_r*.json holds a row for it``
    — the driver writes one artifact per round covering the FIRST 50
    registry keys, so a key's newest artifact round IS its staleness.
    Keys absent from every artifact (brand-new operators) are omitted."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    root = repo_root or _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    ages: dict[str, int] = {}
    for path in _glob.glob(_os.path.join(root, "CORRECTNESS_r*.json")):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = _json.load(f)
        except (OSError, ValueError):
            continue  # unreadable artifact: ignore, never crash the registry
        if not isinstance(rows, dict):
            continue
        for key in rows:
            ages[key] = max(ages.get(key, 0), rnd)
    return ages


def _staleness_order(keys: list[str], ages: dict[str, int]) -> list[str]:
    """Sweep order: manual overrides first, then never-driver-checked keys
    (new operators need their first driver row before anything else —
    VERDICT r10 #1), then oldest-artifact-round first; alphabetical
    tie-break keeps the order deterministic across processes."""
    pinned = [k for k in _SWEEP_OVERRIDE if k in keys]
    rest = [k for k in keys if k not in set(pinned)]
    return pinned + sorted(rest, key=lambda k: (ages.get(k, -1), k))


def _apply_sweep_priority() -> None:
    """Rebuild QUERIES/ORACLES in sweep-priority order (dicts keep insertion
    order, and ``__spark_entry__.queries()`` returns QUERIES as-is): the
    driver checks the FIRST 50 keys each round, so ordering by artifact
    staleness makes the rotation self-serving — no hand-edited list to
    forget (the round-10 red gate's root cause, VERDICT r11 #8)."""
    ages = correctness_ages()
    # no artifact visible (package imported outside its repo): keep
    # registration order
    ordered = _staleness_order(list(QUERIES), ages) if ages else list(QUERIES)
    for d in (QUERIES, ORACLES):
        snapshot = {k: d[k] for k in ordered if k in d}
        d.clear()
        d.update(snapshot)


def load_all() -> None:
    """Import every operator module (idempotent) so the registry is full."""
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    _apply_sweep_priority()
