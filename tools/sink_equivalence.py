#!/usr/bin/env python
"""Check that two source trees' snapshot sinks commit the same data.

Usage: python tools/sink_equivalence.py BASE_TREE CHANGED_TREE

Runs the sink fixtures of ``tests/test_streaming.py`` (the near-dup,
embedding and IVF gate fixtures with their re-delivery runs, the
decontamination fixture, both crash-heal fixtures and the curation
re-delivery fixture) once per tree, each tree in a fresh process with its
own Spark session (``local[8]``, as the test suite runs) importing that
tree's package and tests.  For every committed snapshot it prints the
sha256 of the sorted rows, ``_GEOMETRY.json``, the committed
``_LAYOUT.json`` and LATEST, and per fixture the Spark jobs of each
micro-batch.  Exits 1 when rows, geometry or LATEST differ, or when a
fixture fails in either tree; layouts and job counts are only printed.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

FIXTURES = [
    ("neardup-gate", "test_incremental_neardup_sink_gates_exact_and_near", None),
    ("embedding-gate", "test_incremental_embedding_dedup_sink_gates_by_cosine", None),
    ("ivf-gate", "test_incremental_ivf_index_sink_and_probe", None),
    ("decontamination", "test_incremental_neardup_sink_composed_with_decontamination", None),
    ("heal-neardup", "test_dedup_sink_index_leg_heals_after_crash", "neardup"),
    ("heal-embedding", "test_dedup_sink_index_leg_heals_after_crash", "embedding"),
    ("curation-redelivery", "test_curation_sink_commits_only_novel_hashes", None),
]
COMPARED = ("rows_sha256", "geometry", "latest")


def _snapshots(root: Path, egress) -> dict:
    """Every committed snapshot under ``root``, keyed by relative path."""
    out = {}
    for latest in sorted(root.rglob("LATEST")):
        sdir = latest.parent
        version = latest.read_text().strip()
        rows = egress.snapshot_reader_factory(str(sdir))().read_all().to_pylist()
        blob = "\n".join(sorted(repr(sorted(r.items())) for r in rows))
        geo = sdir.parent / "_GEOMETRY.json"
        out[str(sdir.relative_to(root))] = {
            "rows": len(rows),
            "rows_sha256": hashlib.sha256(blob.encode()).hexdigest(),
            "geometry": json.loads(geo.read_text()) if geo.exists() else None,
            "layout": json.loads((sdir / version / "_LAYOUT.json").read_text()),
            "latest": version,
        }
    return out


def run_tree(tree: str) -> dict:
    """Run every fixture against ``tree``'s package and tests."""
    sys.path[:0] = [tree, os.path.join(tree, "tests")]
    from arrow_experiments_spark.session import build_session
    from arrow_experiments_spark.streaming import egress
    import test_streaming

    spark = build_session(
        app_name="sink-equivalence", master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    sc = spark.sparkContext._jsc.sc()

    def newest_job() -> int:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return max(jobs.head().jobId(), jobs.last().jobId()) if jobs.size() else -1

    run_foreach_batch = egress._run_foreach_batch
    jobs: list[int] = []

    def counted(stream_df, merge, *args):
        def merge_counted(batch_df, batch_id):
            before = newest_job()
            merge(batch_df, batch_id)
            jobs.append(newest_job() - before)

        return run_foreach_batch(stream_df, merge_counted, *args)

    egress._run_foreach_batch = counted
    results = {}
    for name, test, kind in FIXTURES:
        jobs.clear()
        with tempfile.TemporaryDirectory(prefix="sink-eq-") as tmp:
            fn = getattr(test_streaming, test)
            args = {"spark": spark, "tmp_path": Path(tmp), "kind": kind, "sink_jobs": jobs}
            error = None
            try:
                fn(**{p: args[p] for p in inspect.signature(fn).parameters})
            except Exception as e:  # noqa: BLE001 — reported, and fails the comparison
                error = f"{type(e).__name__}: {e}"[:300]
            results[name] = {
                "error": error, "jobs": list(jobs), "snapshots": _snapshots(Path(tmp), egress),
            }
    spark.stop()
    return results


def main() -> int:
    if len(sys.argv) == 2:  # child: one tree, JSON on the last stdout line
        print(json.dumps(run_tree(os.path.abspath(sys.argv[1]))))
        return 0
    if len(sys.argv) != 3:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    runs = []
    for tree in sys.argv[1:]:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), tree],
            capture_output=True, text=True, cwd=tree,
        )
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        runs.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    base, changed = runs
    differ = False
    for name, _test, _kind in FIXTURES:
        b, c = base[name], changed[name]
        print(f"== {name}: jobs per micro-batch {b['jobs']} -> {c['jobs']}")
        for side, r in (("base", b), ("changed", c)):
            if r["error"]:
                differ = True
                print(f"   {side} FAILED: {r['error']}")
        for snap in sorted(set(b["snapshots"]) | set(c["snapshots"])):
            sb, sc_ = b["snapshots"].get(snap), c["snapshots"].get(snap)
            same = sb is not None and sc_ is not None and all(
                sb[k] == sc_[k] for k in COMPARED
            )
            differ |= not same
            print(f"   {snap}: {'same' if same else 'DIFFERENT'}")
            for side, s in (("base", sb), ("changed", sc_)):
                if s is None:
                    print(f"     {side}: missing")
                    continue
                print(
                    f"     {side}: {s['rows']} rows sha256 {s['rows_sha256'][:16]} "
                    f"LATEST {s['latest']} geometry {s['geometry']} layout {s['layout']}"
                )
    print("RESULT:", "DIFFERENT" if differ else "identical rows, geometry and LATEST")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
