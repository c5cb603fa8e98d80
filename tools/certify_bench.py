#!/usr/bin/env python
"""Quiet-window certification: the one writer of the certified-floor
ledger (bench.LEDGER, BENCH_FLOORS.json), keyed by (key, cpus).

Two modes, one protocol and one ledger:

  python tools/certify_bench.py                  # headline: runs bench.py
  python tools/certify_bench.py --registry [key ...]
      # non-headline keys (default: every registered key with no
      # committed timing), measured in-process by bench.measure_keys

Window verification (conservative — refusing to certify is the safe
direction):
  - 1-min loadavg below LOAD_MAX before the run starts (the box idle);
  - the key's committed quality tag is "clean" (every leg bracketed by
    the loopback sentinel, bench.WindowQualifier);
  - SPREAD TIGHTNESS: max/min across the recorded passes within
    SPREAD_BAND (+ an absolute slack for ms-scale keys) — a phase that
    hit one pass shows as a wide spread even when every probe missed it.
    Keys failing a gate stay uncertified but recorded, so one phase does
    not block the rest.

Every record is stamped with the cpus of the live session that measured
it (bench.session_cpus; in headline mode, bench.py's BENCH_DETAIL
``cpus``).  Records accrue per (key, cpus) with bench.accrue_certified:
a key keeps its lowest certified floor, and a carried floor expires
after STALE_LIMIT consecutive measured failures.  Prints one JSON
summary line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

import bench  # noqa: E402

LOAD_MAX = 1.0
SPREAD_BAND = 1.6
SPREAD_SLACK_SEC = 0.02  # scheduler jitter floor for ms-scale serves
STALE_LIMIT = 3
# registry mode: three untimed warm passes (r15: on sub-0.4 s keys one
# warm pass leaves a monotone C2-compilation decay across the recorded
# passes — scalar_timezone 0.337 -> 0.178 over six clean legs)
WARM_PASSES = 3
# certified registry keys slower than this at sf0.1 are listed for a
# manual plan review (most are sub-second plans)
REVIEW_ABOVE_SEC = 2.0
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# r15: events_session_window's spread is JIT-intrinsic, not box noise —
# its executed AQE plans are byte-identical between fast and slow
# samples, and its first sample of a pass runs slowest (SCALE.md,
# "bench.py's re-warm re-measured").  It certifies on a relaxed band;
# its committed floor is still min-over-clean.
RELAXED_BANDS = {"events_session_window": 2.0}


def certify(
    timings: dict[str, float],
    quality: dict[str, str],
    spread: dict[str, list],
    cpus: int,
) -> dict[str, dict]:
    """One run's ledger records, each stamped with ``cpus``.  A key with
    no window evidence does not certify."""
    keys: dict[str, dict] = {}
    for k, v in timings.items():
        q = quality.get(k, "unknown")
        sp = spread.get(k)
        band = RELAXED_BANDS.get(k, SPREAD_BAND)
        spread_ok = sp is None or sp[1] <= band * sp[0] + SPREAD_SLACK_SEC
        keys[k] = {
            "sec": v,
            "cpus": cpus,
            "quality": q,
            "spread": sp,
            "spread_ok": spread_ok,
            **({"spread_band": band} if k in RELAXED_BANDS else {}),
            "certified": q == "clean" and spread_ok,
        }
    return keys


def record_run(path: Path, keys: dict[str, dict], cpus: int, run: dict) -> dict:
    """Accrue ``keys`` into the ledger at ``cpus``, append the run summary
    and write the ledger back.  Records of keys this run did not measure
    stay as they are.  Returns the accrued records."""
    try:
        ledger = json.loads(path.read_text())
    except (OSError, ValueError):
        ledger = {"metric": "certified_floors", "keys": {}, "runs": []}
    at = str(cpus)
    prev = {
        k: ledger["keys"][k][at]
        for k in keys if at in ledger["keys"].get(k, {})
    }
    bench.accrue_certified(keys, prev, stale_limit=STALE_LIMIT)
    for k, r in keys.items():
        ledger["keys"].setdefault(k, {})[at] = r
    ledger["keys"] = dict(sorted(ledger["keys"].items()))
    n_cert = sum(1 for r in keys.values() if r["certified"])
    ledger["runs"].append({
        **run,
        "cpus": cpus,
        "certified": n_cert == len(keys),
        "n_certified": n_cert,
        "n_keys": len(keys),
    })
    path.write_text(json.dumps(ledger, indent=1) + "\n")
    return keys


def _headline() -> tuple[dict, dict, dict, int, dict]:
    """Run bench.py and read back its committed numbers and window
    evidence.  SPARK_GRAFT_DRIFT_GATE=0: certification is itself the
    remediation path for a drift breach, so a breach must not stop it."""
    proc = subprocess.run(
        [sys.executable, str(_REPO / "bench.py")],
        capture_output=True, text=True, cwd=str(_REPO),
        env={**os.environ, "SPARK_GRAFT_DRIFT_GATE": "0"},
    )
    if proc.returncode != 0:
        raise SystemExit(json.dumps({
            "metric": "certify_bench", "certified": False,
            "reason": f"bench.py exit {proc.returncode}",
            "stderr_tail": proc.stderr[-400:],
        }))
    line = [
        ln for ln in proc.stdout.splitlines()
        if ln.startswith("{") and '"headline_queries_total"' in ln
    ][-1]
    out = json.loads(line)
    detail = json.loads((_REPO / "BENCH_DETAIL.json").read_text())
    evidence = {
        "sentinel_median": detail["sentinel"]["median"],
        "loopback_gibs": detail["loopback_gibs"],
        "flagged": detail["window"]["flagged"],
    }
    return (out["queries"], detail["window"]["quality"],
            detail.get("spread", {}), int(detail["cpus"]), evidence)


def _registry(targets: list[str]) -> tuple[dict, dict, dict, int, dict]:
    """Measure non-headline keys in-process through bench.measure_keys:
    WARM_PASSES untimed passes, then bench's three bracketed passes."""
    from arrow_experiments_spark.registry import all_queries
    from arrow_experiments_spark.session import build_session

    spark = build_session(app_name="certify_bench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        queries = all_queries()
        bad = [t for t in targets if t not in queries]
        if bad:
            raise SystemExit(f"unknown query keys: {bad}")
        if not targets:
            certified, best = bench.drift_anchors(str(_REPO))
            targets = sorted(set(queries) - set(certified) - set(best))
        measure = bench.query_timer(spark, SF_DIR, queries)
        qual = bench.WindowQualifier(
            lambda: bench._bench_transport(spark, "s2_serve_1m_identity")
        )
        for _ in range(3):  # seed the floor; the first pays the server fill
            qual.probe()
        for _ in range(WARM_PASSES):
            for name in targets:
                measure(name)
        _, timings, _, quality, spread = bench.measure_keys(qual, measure, targets)
        evidence = {"sentinel_probe_floor": round(qual.floor, 4),
                    "warm_passes": WARM_PASSES}
        return timings, quality, spread, bench.session_cpus(spark), evidence
    finally:
        spark.stop()


def main(argv: list[str]) -> None:
    registry = argv[:1] == ["--registry"]
    load_before = os.getloadavg()[0]
    if load_before >= LOAD_MAX:
        print(json.dumps({
            "metric": "certify_bench", "certified": False,
            "reason": f"load1 {load_before:.2f} >= {LOAD_MAX} before run "
                      "— not a quiet window; try later",
        }))
        sys.exit(1)
    t0 = time.time()
    timings, quality, spread, cpus, evidence = (
        _registry(argv[1:]) if registry else _headline()
    )
    if not timings:
        print(json.dumps({"metric": "certify_bench", "n_keys": 0,
                          "reason": "nothing to certify"}))
        return
    keys = certify(timings, quality, spread, cpus)
    review = sorted(
        k for k, r in keys.items()
        if registry and r["certified"] and r["sec"] > REVIEW_ABOVE_SEC
    )
    keys = record_run(_REPO / bench.LEDGER, keys, cpus, {
        "mode": "registry" if registry else "headline",
        "sf_dir": SF_DIR,
        "wall_min": round((time.time() - t0) / 60, 1),
        "evidence": {
            "load1_before": round(load_before, 2),
            "load1_after": round(os.getloadavg()[0], 2),
            "load_max": LOAD_MAX,
            "spread_band": SPREAD_BAND,
            "spread_slack_sec": SPREAD_SLACK_SEC,
            "statistic": "min over window-qualified clean samples"
                         " (bench.commit_stat)",
            **evidence,
        },
        **({"review": review} if registry else {}),
    })
    print(json.dumps({
        "metric": "certify_bench",
        "cpus": cpus,
        "n_certified": sum(1 for r in keys.values() if r["certified"]),
        "n_keys": len(keys),
        "uncertified": sorted(k for k, r in keys.items() if not r["certified"]),
        "review": review,
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
