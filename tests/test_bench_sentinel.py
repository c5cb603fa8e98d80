"""In-leg bandwidth sentinel (r12 verdict Wrong #2).

The loopback sentinel brackets each measurement leg but is
cache-resident, so the box's memory-bandwidth co-tenant phases are
invisible to it even when probed during them — r12 committed 46-138 s
"clean"-tagged outlier batches on 6-12 s code.  ``BandwidthSentinel``
closes that: ~1 Hz DRAM-copy probes DURING each leg, median-vs-run-
reference verdict.  These tests pin the verdict logic (pure) and the
sampling context manager (real probes, no Spark)."""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

import bench


def _stub_sentinel(ref_bw: float = 16.0) -> bench.BandwidthSentinel:
    s = bench.BandwidthSentinel.__new__(bench.BandwidthSentinel)
    s.samples = [(float(i), ref_bw, ref_bw / 8) for i in range(10)]
    return s


def test_leg_clean_verdicts():
    s = _stub_sentinel(16.0)  # run reference (p90) = 16 GB/s
    # too few in-leg probes: no verdict — the brackets govern
    assert s.leg_clean([]) is None
    assert s.leg_clean([15.0]) is None
    # isolated engine dip (measured shape: the engine's own shuffle /
    # Arrow bursts momentarily saturate DRAM) does not drag the median
    assert s.leg_clean([15.0, 3.7, 15.5]) is True
    # sustained depression = a co-tenant phase inside the leg
    assert s.leg_clean([4.0, 3.0, 5.0]) is False
    # boundary: median exactly at REL_BAND x reference is clean
    band = bench.BandwidthSentinel.REL_BAND * 16.0
    assert s.leg_clean([band, band]) is True


def test_leg_clean_full_gather_promotion():
    """GATHER_BAND=None keeps the gather series recorded-only (verdict
    = the copy verdict); a promoted band ANDs the two medians, and a
    too-short gather series defers to copy alone."""
    s = _stub_sentinel(16.0)  # copy ref 16, gather ref max(2.0, floor)
    good_copy, bad_gather = [15.0, 15.5], [0.1, 0.1]
    assert s.leg_clean_full(good_copy, bad_gather) is True  # recorded-only
    try:
        bench.BandwidthSentinel.GATHER_BAND = 0.4
        ref = s.gather_reference
        assert s.leg_clean_full(good_copy, bad_gather) is False
        assert s.leg_clean_full(good_copy, [0.9 * ref, 0.9 * ref]) is True
        # short gather series: copy verdict governs
        assert s.leg_clean_full(good_copy, [0.1]) is True
        # copy unknown + gather known: gather governs
        assert s.leg_clean_full([], bad_gather) is False
    finally:
        bench.BandwidthSentinel.GATHER_BAND = None


def test_between_selects_interval():
    s = _stub_sentinel()
    assert s.between(2.0, 4.0) == [16.0, 16.0, 16.0]
    assert s.between(100.0, 200.0) == []
    assert s.gather_between(2.0, 3.0) == [2.0, 2.0]


def test_window_samples_during_leg():
    s = bench.BandwidthSentinel()
    with s.window() as w:
        time.sleep(1.2)  # > INTERVAL_SEC: at least one probe lands
    assert len(w.bws) >= 1
    assert all(b > 0 for b in w.bws)
    # the probes joined the run series (reference accrues from them)
    assert len(s.samples) >= len(w.bws)


def test_qualified_legs_inleg_flag_overrides_clean_brackets():
    """A leg whose brackets are quiet but whose in-leg bandwidth is
    depressed is contended — the exact blind spot of r12."""

    class QuietQual:
        def __init__(self):
            self.samples = []

        def probe(self):
            self.samples.append(0.01)
            return len(self.samples) - 1

        def clean(self, b, a):
            return True

    class DepressedBw:
        class _W:
            bws = [1.0, 1.0]

            def __enter__(self):
                return self

            def __exit__(self, *exc):
                return False

        def window(self):
            return self._W()

        def leg_clean_full(self, bws, gathers):
            return False

    sec, tag, legs = bench.qualified_legs(
        QuietQual(), [lambda: 0.5, lambda: 0.6], bw=DepressedBw()
    )
    assert tag == "contended"
    assert [g["window"] for g in legs] == ["contended", "contended"]
    assert sec == 0.5  # min of everything, flagged


class _QuietQual:
    def __init__(self):
        self.samples = []

    def probe(self):
        self.samples.append(0.01)
        return len(self.samples) - 1

    def clean(self, b, a):
        return True


def test_qualified_legs_retro_flag_consumes_remaining_supply():
    """r13 ADVICE: the end-of-run re-derivation can only get stricter,
    so a retro-flagged leg can drop the clean count below min_clean —
    the function must then keep consuming leg_fns instead of committing
    'clean' over a thinner-than-promised sample.  This stub flags every
    leg EXCEPT the most recent one at re-derivation time (the rising-
    reference shape), so the run must consume the whole 4-leg supply
    and, still one short of min_clean=2, downgrade to clean_partial."""

    class RetroBw:
        def __init__(self):
            self.latest = -1

        def window(self):
            self.latest += 1
            outer = self

            class W:
                bws = [float(outer.latest), float(outer.latest)]

                def __enter__(self):
                    return self

                def __exit__(self, *exc):
                    return False

                def gathers(self):
                    return []

            return W()

        def leg_clean_full(self, bws, gathers):
            return bool(bws) and bws[0] == float(self.latest)

    runs = []

    def make_leg(sec):
        def leg():
            runs.append(sec)
            return sec

        return leg

    sec, tag, legs = bench.qualified_legs(
        _QuietQual(),
        [make_leg(s) for s in (0.5, 0.6, 0.7, 0.4)],
        bw=RetroBw(),
    )
    assert len(runs) == 4  # supply consumed past the early break
    assert tag == "clean_partial"  # exhausted with 1 < min_clean survivors
    assert sec == 0.4  # min over the legs that FINALIZED clean
    assert [g["window"] for g in legs] == [
        "contended", "contended", "contended", "clean",
    ]


def test_qualified_legs_stable_verdicts_stop_at_min_clean():
    """When the re-derivation agrees with the in-flight verdicts the
    early break holds: two clean legs commit, the rest never run."""

    class SteadyBw:
        def window(self):
            class W:
                bws = [16.0, 16.0]

                def __enter__(self):
                    return self

                def __exit__(self, *exc):
                    return False

                def gathers(self):
                    return []

            return W()

        def leg_clean_full(self, bws, gathers):
            return True

    runs = []

    def make_leg(sec):
        def leg():
            runs.append(sec)
            return sec

        return leg

    sec, tag, legs = bench.qualified_legs(
        _QuietQual(),
        [make_leg(s) for s in (0.5, 0.6, 0.7)],
        bw=SteadyBw(),
    )
    assert len(runs) == 2
    assert (sec, tag) == (0.5, "clean")


def test_commit_and_drift_stats():
    """r14 verdict #1: the committed statistic is the MIN of the clean
    samples; the lower-middle (r11-r13's committed statistic) continues
    as the BENCH_DETAIL drift_watch series."""
    assert bench.commit_stat([0.61, 0.41, 0.52]) == 0.41
    assert bench.drift_stat([0.61, 0.41, 0.52]) == 0.52
    assert bench.drift_stat([0.61, 0.41]) == 0.41  # lower-middle of 2 = min
    assert bench.commit_stat([0.7]) == bench.drift_stat([0.7]) == 0.7


def test_drift_anchors_and_vs_floor(tmp_path):
    """r14 verdict #5: the formal drift anchor is the certified floor
    (BENCH_QUIET.json), falling back to best-ever committed (BENCH_r*,
    headline AND tail sections) only for never-certified keys; a key
    with neither gets an explicit 'none' anchor, not a silent skip."""
    import json

    (tmp_path / "BENCH_QUIET.json").write_text(json.dumps({
        "keys": {
            "a": {"sec": 0.5, "certified": True},
            "b": {"sec": 9.9, "certified": False},  # uncertified: ignored
        }
    }))
    (tmp_path / "BENCH_r01.json").write_text(json.dumps({
        "parsed": {"queries": {"a": 0.8, "b": 2.0},
                   "tail_queries": {"c": 1.5}}
    }))
    (tmp_path / "BENCH_r02.json").write_text(json.dumps({
        "parsed": {"queries": {"b": 1.0}}
    }))

    (tmp_path / "BENCH_BULK.json").write_text(json.dumps({
        "keys": {
            "a": {"sec": 0.1, "certified": True},   # QUIET wins on overlap
            "e": {"sec": 0.7, "certified": True},
            "f": {"sec": 0.2, "certified": False},
        }
    }))

    certified, best = bench.drift_anchors(str(tmp_path))
    assert certified == {"a": 0.5, "e": 0.7}
    assert best == {"a": 0.8, "b": 1.0, "c": 1.5}

    out = bench.vs_floor(
        {"a": 0.6, "b": 1.2, "c": 1.5, "d": 3.0}, certified, best
    )
    # certified floor wins over a lower best-ever? no — certified is the
    # FORMAL anchor even when best-ever is lower (provenance beats luck)
    assert out["a"] == {"ratio": 1.2, "anchor": "certified",
                        "floor_sec": 0.5}
    assert out["b"] == {"ratio": 1.2, "anchor": "best_ever",
                        "floor_sec": 1.0}
    assert out["c"]["ratio"] == 1.0
    assert out["d"] == {"ratio": None, "anchor": "none"}


def test_accrue_certified_ledger_semantics():
    """The shared certification-ledger merge (certify_bench + bulk_bench,
    ADVICE r14): lowest certified floor wins; a slower re-certification
    resets the carry; a failing run is recorded alongside the carry; a
    floor carried past stale_limit consecutive failing runs expires; an
    uncertified prior record stays visible only when not re-measured."""

    def run(new, prev, stale=3):
        return bench.accrue_certified(dict(new), prev, stale_limit=stale)

    cert = {"sec": 0.5, "certified": True}

    # new lower certified floor replaces the old one
    out = run({"a": {"sec": 0.4, "certified": True}}, {"a": cert})
    assert out["a"]["sec"] == 0.4 and "carried_from_prior_run" not in out["a"]

    # slower re-certification keeps the old floor, carry is FRESH
    out = run({"a": {"sec": 0.6, "certified": True, "quality": "clean",
                     "spread": [0.6, 0.7]}}, {"a": cert})
    assert out["a"]["sec"] == 0.5
    assert out["a"]["carried_runs"] == 0
    assert out["a"]["current_run"]["certified"] is True

    # failing run: floor carried, failure recorded, counter increments
    fail = {"sec": 0.9, "certified": False, "quality": "clean",
            "spread": [0.9, 2.0]}
    out = run({"a": fail}, {"a": cert})
    assert out["a"]["sec"] == 0.5 and out["a"]["certified"]
    assert out["a"]["carried_runs"] == 1
    assert out["a"]["current_run"]["certified"] is False

    # ... and expires after stale_limit consecutive carries
    carried = dict(cert, carried_runs=3)
    out = run({"a": fail}, {"a": carried})
    assert out["a"]["certified"] is False and out["a"]["stale_floor"]

    # dropped key (not re-measured): carried with current_run=None and
    # the staleness counter UNTOUCHED — a targeted single-key run must
    # not age (and eventually expire) floors of keys it never measured
    out = run({}, {"a": dict(cert, carried_runs=3)})
    assert out["a"]["certified"] and out["a"]["current_run"] is None
    assert out["a"]["carried_runs"] == 3

    # uncertified prior record: visible when dropped, replaced when re-run
    uncert = {"sec": 1.0, "certified": False}
    assert run({}, {"b": uncert})["b"] == uncert
    out = run({"b": {"sec": 0.8, "certified": True}}, {"b": uncert})
    assert out["b"]["sec"] == 0.8 and out["b"]["certified"]


def test_accrue_certified_ages_beyond_drift_band():
    """ADVICE r15: a certified-but->2x-slower result is an AGING event,
    not a fresh carry — otherwise a floor could be carried forever on
    occasional certifications at arbitrarily slow values, and the
    stale_limit would never bite.  Within the 2x band the carry still
    resets (ordinary slower-but-certified churn)."""

    cert = {"sec": 0.5, "certified": True}
    beyond = {"sec": 1.2, "certified": True, "quality": "clean",
              "spread": [1.2, 1.3]}

    # >2x certified: floor kept, but the carry AGES like a failure
    out = bench.accrue_certified({"a": dict(beyond)}, {"a": dict(cert)})
    assert out["a"]["sec"] == 0.5 and out["a"]["certified"]
    assert out["a"]["carried_runs"] == 1
    assert out["a"]["current_run"]["certified"] is True

    # ... and expires after stale_limit consecutive such runs
    aged = dict(cert, carried_runs=3)
    out = bench.accrue_certified({"a": dict(beyond)}, {"a": aged})
    assert out["a"]["certified"] is False and out["a"]["stale_floor"]

    # within the band (<=2x): carry resets as before
    within = {"sec": 0.9, "certified": True}
    out = bench.accrue_certified(
        {"a": dict(within)}, {"a": dict(cert, carried_runs=2)}
    )
    assert out["a"]["certified"] and out["a"]["carried_runs"] == 0


def test_drift_gate_is_core_count_aware(tmp_path):
    """r16 verdict #2: certified floors carry cpus provenance, and the
    2x gate only fires against SAME-cpus anchors — an 8-core run must
    not breach on a 32-core floor for a key whose genuine 8/32 scaling
    ratio approaches 2 (BENCH_r16_c8 false-fired rc 2 on
    agg_hll_sketch_exchange at 2.97x a 32-core floor; its real scaling
    ratio is 2.46).  A same-cpus breach still reds the run."""
    import json

    (tmp_path / "BENCH_QUIET.json").write_text(json.dumps({
        "cpus": 32,
        "keys": {
            "a": {"sec": 0.5, "certified": True},          # file cpus: 32
            "b": {"sec": 0.2, "cpus": 8, "certified": True},  # per-key wins
        }
    }))
    # legacy file with NO cpus field anywhere: defaults to 32
    (tmp_path / "BENCH_r01.json").write_text(json.dumps({
        "parsed": {"queries": {"c": 1.0}}
    }))
    # an 8-core committed run CAN own a best-ever min (fixed-overhead
    # keys run faster at 8 cores); its provenance must ride along
    (tmp_path / "BENCH_r02.json").write_text(json.dumps({
        "cpus": 8, "parsed": {"queries": {"d": 0.3}}
    }))

    certified, best = bench.drift_anchors(str(tmp_path))
    cert_cpus, best_cpus = bench.anchor_cpus(str(tmp_path))
    assert cert_cpus == {"a": 32, "b": 8}
    assert best_cpus == {"c": 32, "d": 8}

    # an 8-core run: "a"/"c" anchors are 32-core → never breach even at
    # 3x; "b"/"d" anchors are 8-core → breach normally
    vals = {"a": 1.5, "b": 0.9, "c": 9.0, "d": 0.31}
    out = bench.vs_floor(vals, certified, best, run_cpus=8,
                         certified_cpus=cert_cpus, best_cpus=best_cpus)
    assert out["a"]["cpus_match"] is False and out["a"]["ratio"] == 3.0
    assert out["b"]["cpus_match"] is True
    assert out["c"]["cpus_match"] is False
    assert out["d"]["cpus_match"] is True
    assert bench.drift_breaches(out) == ["b"]

    # the same values judged at 32 cores: now "a"/"c" gate and "b" does not
    out32 = bench.vs_floor(vals, certified, best, run_cpus=32,
                           certified_cpus=cert_cpus, best_cpus=best_cpus)
    assert bench.drift_breaches(out32) == ["a", "c"]

    # legacy records (no cpus_match field at all) gate as before
    assert bench.drift_breaches(
        {"x": {"ratio": 2.5, "anchor": "certified"}}
    ) == ["x"]
    # without run_cpus the vs_floor output shape is unchanged (pinned by
    # test_drift_anchors_and_vs_floor); spot-check no cpus keys leak in
    legacy = bench.vs_floor(vals, certified, best)
    assert "cpus_match" not in legacy["a"]


def test_best_ever_anchor_is_kept_per_cpus(tmp_path):
    """Best-ever minima are kept per (key, cpus): a key whose 8-core
    minimum beats its 32-core one is still gated by a 32-core run against
    its 32-core minimum, and an 8-core run against the 8-core one.  A key
    with only 8-core history stays visible to a 32-core run without
    gating it."""
    import json

    (tmp_path / "BENCH_r01.json").write_text(json.dumps({
        "cpus": 32, "parsed": {"queries": {"e": 1.0, "g": 2.0}}
    }))
    (tmp_path / "BENCH_r01_c8.json").write_text(json.dumps({
        "cpus": 8, "parsed": {"queries": {"e": 0.5, "h": 0.4}}
    }))
    certified, best = bench.drift_anchors(str(tmp_path))
    cert_cpus, best_cpus = bench.anchor_cpus(str(tmp_path))
    best_at = bench.best_by_cpus(str(tmp_path))
    assert best == {"e": 0.5, "g": 2.0, "h": 0.4}
    assert best_cpus == {"e": 8, "g": 32, "h": 8}
    assert best_at == {"e": {32: 1.0, 8: 0.5}, "g": {32: 2.0}, "h": {8: 0.4}}

    kw = dict(certified_cpus=cert_cpus, best_cpus=best_cpus, best_at=best_at)
    vals = {"e": 2.5, "g": 2.1, "h": 1.2}
    out32 = bench.vs_floor(vals, certified, best, run_cpus=32, **kw)
    assert out32["e"] == {"ratio": 2.5, "anchor": "best_ever", "floor_sec": 1.0,
                          "anchor_cpus": 32, "cpus_match": True}
    assert out32["h"]["cpus_match"] is False and out32["h"]["ratio"] == 3.0
    assert bench.drift_breaches(out32) == ["e"]

    out8 = bench.vs_floor(vals, certified, best, run_cpus=8, **kw)
    assert out8["e"]["floor_sec"] == 0.5 and out8["e"]["cpus_match"] is True
    assert out8["g"]["cpus_match"] is False
    assert bench.drift_breaches(out8) == ["e", "h"]


def test_drift_gate_rc_forced_breach():
    """r15 verdict #7: the 2x drift clause is machine-enforced — a
    synthetic breach makes the run exit nonzero; an empty breach list
    (and the documented env escape hatch) exits clean."""
    assert bench.drift_gate_rc([]) == 0
    assert bench.drift_gate_rc(["dedup_exact"], env={}) == 2
    assert (
        bench.drift_gate_rc(
            ["dedup_exact"], env={"SPARK_GRAFT_DRIFT_GATE": "0"}
        )
        == 0
    )


def test_loopback_nstream_probe_measures_aggregate():
    """r16 (r15 verdict Wrong #3): the x4 replay qualifies against its
    own same-shape ceiling — n concurrent streams, threaded sender,
    one receiver subprocess per stream.  Small volume here: the test
    pins the mechanics (all bytes arrive, a sane positive rate), not
    the box's absolute bandwidth."""
    gibs = bench._loopback_gibs_nstream(n_streams=2, n_bytes_per=32 << 20)
    assert gibs > 0.01, gibs


def test_bw_floor_env_read_at_construction(monkeypatch):
    """r13 ADVICE: the env floors must be read when the sentinel is
    BUILT, not when bench is imported — sweep tools set the env var
    after importing bench."""
    monkeypatch.setenv("SPARK_GRAFT_BW_REF_FLOOR", "34.5")
    monkeypatch.setenv("SPARK_GRAFT_GATHER_REF_FLOOR", "5.25")
    s = bench.BandwidthSentinel()
    assert s.REF_FLOOR_GBS == 34.5
    assert s.GATHER_REF_FLOOR_GBS == 5.25
    # class defaults untouched (the __new__-built stubs elsewhere in
    # this file rely on them)
    assert bench.BandwidthSentinel.REF_FLOOR_GBS == 12.0
    assert bench.BandwidthSentinel.GATHER_REF_FLOOR_GBS == 1.0
