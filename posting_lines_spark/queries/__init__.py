"""Query registry: every implemented operator from SURVEY.md §2 gets a
named (PySpark callable, DuckDB oracle SQL) pair here. The driver contract
(`__spark_entry__.py`) is a thin view over this registry.

Oracle parity rules every query in this package follows:
  1. Float literals in shared SQL are e-notation (DOUBLE in both engines).
  2. Trig-derived math goes through functions/geo.py's deterministic
     kernels (bit-identical across Spark/DuckDB/Python).
  3. Aggregates over doubles are order-dependent in floating point, so
     sums/avgs are computed in DECIMAL (exact, associative) and cast back
     to DOUBLE — see `parity.dsum`/`parity.davg`.
  4. Every computed column is aliased identically on both sides (the
     driver sorts columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # ANSI SQL for DuckDB
    description: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str, description: str = ""):
    def deco(fn):
        # Duplicate registration is a silent OVERWRITE of an existing
        # query — round 13 nearly shipped one (a second
        # "stats_runs_test" shadowed the round-8 original and the
        # registry count quietly stayed flat). Fail loudly instead.
        if name in REGISTRY:
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                f"registered ({REGISTRY[name].fn.__module__})"
            )
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, description=description)
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: fills REGISTRY).

    Returns the registry in plain registration order; any harness-specific
    ordering or sampling policy belongs in the harness contract file
    (`__spark_entry__.py`), not here.
    """
    from posting_lines_spark.queries import (  # noqa: F401
        analytics_q,
        array_q,
        curation_q,
        dedup_q,
        extra_q,
        ml_q,
        geo_q,
        graph_q,
        lake_q,
        pandas_q,
        pipeline_q,
        relational_q,
        scalar_q,
        schema_q,
        search_q,
        sketch_q,
        spatial_q,
        stream_q,
        temporal_q,
        text_q,
        tpch_q,
        vectors_q,
        windows_q,
    )

    return dict(REGISTRY)
