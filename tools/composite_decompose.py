#!/usr/bin/env python
"""Job-log decomposition of the curate composites (r17, VERDICT item 3).

For each named query: run build + noop write once (warm) and once
recorded, and print the recorded run's wall time, the number of Spark
jobs it scheduled and the stages of each job (from the status tracker).

Usage: python tools/composite_decompose.py <query> [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from arrow_experiments_spark.registry import all_queries
from arrow_experiments_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    queries = all_queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = build_session(app_name="composite-decompose")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    from arrow_experiments_spark.operators import dedup

    for name in names:
        for leg in ("warm", "recorded"):
            spark.catalog.clearCache()
            dedup._CURATE_CACHE.clear()
            jobs_before = set(tracker.getJobIdsForGroup() or [])
            t0 = time.perf_counter()
            sc.setJobGroup(f"{name}-{leg}", name)
            queries[name].build(spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            wall = time.perf_counter() - t0
            sc.setJobGroup("", "")
            job_ids = sorted(
                set(tracker.getJobIdsForGroup(f"{name}-{leg}") or [])
                - jobs_before
            )
            spans = []
            for jid in job_ids:
                ji = tracker.getJobInfo(jid)
                if ji is None:
                    continue
                n_stages = len(ji.stageIds)
                spans.append((jid, n_stages))
            if leg == "recorded":
                print(
                    f"{name}: wall={wall:.3f}s jobs={len(job_ids)} "
                    f"stages/job={[s for _, s in spans]}"
                )
    spark.stop()


if __name__ == "__main__":
    main()
