"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()`` exposes
every implemented operator from SURVEY.md §2.6 + §7; ``oracle_sql()`` gives
the DuckDB-equivalent SQL per query — every registered query has one (the
HLL sketch pair emits exact counts plus a sketch-accuracy bound that the
oracle reproduces, so even the engine-specific sketches hash-check).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from arrow_experiments_spark.registry import all_queries  # noqa: E402
from arrow_experiments_spark.session import tune_session  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    tune_session(spark)
    q = all_queries()["q1_pricing_summary"]
    return q.build(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, q in all_queries().items():
        # bind loop variable; also tune the (driver-owned) session so the
        # nanos-timestamp events table is readable.
        def run(spark: SparkSession, sf_dir: str, _q=q) -> DataFrame:
            tune_session(spark)
            return _q.build(spark, sf_dir)

        out[name] = run
    return out


def oracle_sql() -> dict[str, str]:
    # Geometry-parametric oracles (callables) resolve against the driver's
    # correctness corpus (sf0.01 by default; SPARK_GRAFT_ORACLE_SF_DIR
    # overrides) using the same bits/k derivation the builders run, from
    # the corpus's parquet footer row count.  No conf flows into the
    # geometry; an ACTIVE session, if any, serves only to count a corpus
    # whose footer is unreadable.
    return {
        name: q.oracle_sql()
        for name, q in all_queries().items()
        if q.oracle is not None
    }
