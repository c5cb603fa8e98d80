"""Query registry — the single source of truth for the declared query
surface (SURVEY.md §2.6) and the north-star pipeline operators.

Each entry pairs a PySpark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an equivalent DuckDB oracle SQL string (or ``None`` for operators that
are not SQL-expressible; the driver then records a rows-only check).

Exactness rules used throughout the operator modules so that Spark and
DuckDB results hash-identically:
  * Sums over double columns go through exact DECIMAL casts on BOTH sides
    (float summation order is engine-dependent; decimal addition is not),
    then cast back to DOUBLE.
  * Timestamps are emitted as timestamp_ntz or formatted strings — never
    session-timezone-dependent TIMESTAMP.
  * Every LIMIT/window sits on a total order (unique-key tiebreakers).
  * Transcendental results (ln, pow) are snapped to DECIMAL(28,6) before
    the final DOUBLE cast to absorb last-ulp libm differences.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Oracle SQL is either a static string or — for queries whose builders
# derive geometry from corpus size (LSH bits, SemDeDup cluster bits,
# IVF k) — a callable ``(spark | None, sf_dir) -> str`` that regenerates
# the SQL from the SAME derived parameters at check time (r9 verdict #1:
# a floor-geometry string baked at import silently compares different
# bucketings once the corpus crosses the derivation threshold).
OracleFn = Callable[[SparkSession | None, str], str]

# Default corpus the driver's correctness gate compares against; callable
# oracles resolve here when no sf_dir is given (``__spark_entry__
# .oracle_sql()`` takes no arguments by contract).
DRIVER_ORACLE_SF_DIR = "/root/testdata/sf0.01"


@dataclass(frozen=True)
class Query:
    name: str
    category: str
    doc: str
    build: QueryFn
    oracle: str | OracleFn | None = None

    def oracle_sql(
        self, spark: SparkSession | None = None, sf_dir: str | None = None
    ) -> str | None:
        """The DuckDB oracle SQL for this query against ``sf_dir`` (the
        driver's sf0.01 corpus by default) — resolves geometry-parametric
        oracles with the same derivation the builder runs.  Geometry is a
        function of the corpus alone (its parquet footer row count); no
        session conf flows into it, so builder and oracle cannot
        disagree.  ``spark`` (default: the active session, if any) serves
        only the fallback that counts the corpus with Spark when its
        footer is unreadable."""
        if self.oracle is None:
            return None
        if callable(self.oracle):
            import os

            if spark is None:
                spark = SparkSession.getActiveSession()
            return self.oracle(
                spark,
                sf_dir
                or os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
                or DRIVER_ORACLE_SF_DIR,
            )
        return self.oracle


_REGISTRY: dict[str, Query] = {}

_OPERATOR_MODULES = (
    "arrow_experiments_spark.operators.relational",
    "arrow_experiments_spark.operators.scalar",
    "arrow_experiments_spark.operators.events",
    "arrow_experiments_spark.operators.dedup",
    "arrow_experiments_spark.operators.similarity",
    "arrow_experiments_spark.operators.text",
    "arrow_experiments_spark.operators.multimodal",
    "arrow_experiments_spark.operators.asof",
    "arrow_experiments_spark.operators.tpch",
    "arrow_experiments_spark.operators.udfs",
    "arrow_experiments_spark.operators.scale",
    "arrow_experiments_spark.operators.analytics",
    "arrow_experiments_spark.streaming.stateful",
)


def register(
    name: str, category: str, doc: str = "", oracle: str | None = None
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name, category, doc, fn, oracle)
        return fn

    return deco


def _load_operators() -> None:
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)


# Driver-verification rotation (r9 verdict #3): the driver harness checks a
# bounded prefix of the registry per round, so the registry orders queries
# least-recently-verified first.  The ledger is derived from the committed
# CORRECTNESS_r*.json files (name -> last round a driver row exists for,
# 0 for never-checked), so the sample rotates the whole registry every few
# rounds instead of re-checking the same frozen prefix.  Heavily-refactored
# long-green queries (the r4-era TPC-H / join / window rows) re-earn fresh
# rows this way.


def _verification_ledger() -> dict[str, int]:
    import glob
    import json
    import os
    import re

    ledger: dict[str, int] = {}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name in rows:
            ledger[name] = max(ledger.get(name, 0), rnd)
    return ledger


def all_queries() -> dict[str, Query]:
    _load_operators()
    ledger = _verification_ledger()
    ordered = sorted(_REGISTRY, key=lambda n: (ledger.get(n, 0), n))
    return {n: _REGISTRY[n] for n in ordered}


def get_query(name: str) -> Query:
    _load_operators()
    return _REGISTRY[name]
