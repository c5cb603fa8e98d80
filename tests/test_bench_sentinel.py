"""The bench harness's measurement and gating logic, without Spark:
the committed statistic, the per-key bracketed measurement, the
certified-floor ledger (one file keyed by (key, cpus)) and the drift
gate read from it, and the certify tool that writes the ledger.  One
test runs a real leg to check its per-key codegen compilation count."""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

import bench


def _certify_tool():
    spec = importlib.util.spec_from_file_location(
        "certify_bench", REPO / "tools" / "certify_bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _ledger(path, floors):
    """Write a ledger: ``floors`` is ``{(key, cpus): (sec, certified)}``."""
    keys: dict = {}
    for (k, cpus), (sec, cert) in floors.items():
        keys.setdefault(k, {})[str(cpus)] = {
            "sec": sec, "cpus": cpus, "certified": cert,
        }
    (path / bench.LEDGER).write_text(json.dumps({"keys": keys, "runs": []}))


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
    (the ledger), falling back to best-ever committed (BENCH_r*, headline
    AND tail sections) only for never-certified keys; a key with neither
    gets an explicit 'none' anchor, not a silent skip."""
    _ledger(tmp_path, {
        ("a", 32): (0.5, True),
        ("b", 32): (9.9, False),  # uncertified: ignored
        ("e", 32): (0.7, True),
        ("f", 32): (0.2, False),
    })
    (tmp_path / "BENCH_r01.json").write_text(json.dumps({
        "cpus": 32,
        "parsed": {"queries": {"a": 0.8, "b": 2.0},
                   "tail_queries": {"c": 1.5}},
    }))
    (tmp_path / "BENCH_r02.json").write_text(json.dumps({
        "cpus": 32, "parsed": {"queries": {"b": 1.0}}
    }))

    certified, best = bench.drift_anchors(str(tmp_path))
    assert certified == {"a": {32: 0.5}, "e": {32: 0.7}}
    assert best == {"a": {32: 0.8}, "b": {32: 1.0}, "c": {32: 1.5}}

    out = bench.vs_floor(
        {"a": 0.6, "b": 1.2, "c": 1.5, "d": 3.0}, certified, best
    )
    # certified is the FORMAL anchor even when best-ever is lower
    # (provenance beats luck)
    assert out["a"] == {"ratio": 1.2, "anchor": "certified",
                        "floor_sec": 0.5}
    assert out["b"] == {"ratio": 1.2, "anchor": "best_ever",
                        "floor_sec": 1.0}
    assert out["c"]["ratio"] == 1.0
    assert out["d"] == {"ratio": None, "anchor": "none"}


def test_accrue_certified_ledger_semantics():
    """The shared certification-ledger merge (tools/certify_bench.py,
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
    """r16 verdict #2: floors carry cpus provenance, and the 2x gate only
    fires against SAME-cpus anchors — an 8-core run must not breach on a
    32-core floor for a key whose genuine 8/32 scaling ratio approaches
    2 (BENCH_r16_c8 false-fired rc 2 on agg_hll_sketch_exchange at 2.97x
    a 32-core floor; its real scaling ratio is 2.46).  A same-cpus
    breach still reds the run."""
    _ledger(tmp_path, {("a", 32): (0.5, True), ("b", 8): (0.2, True)})
    (tmp_path / "BENCH_r01.json").write_text(json.dumps({
        "cpus": 32, "parsed": {"queries": {"c": 1.0}}
    }))
    # an 8-core committed run CAN own a best-ever min (fixed-overhead
    # keys run faster at 8 cores); its provenance must ride along
    (tmp_path / "BENCH_r02.json").write_text(json.dumps({
        "cpus": 8, "parsed": {"queries": {"d": 0.3}}
    }))
    # a record with no cpus field has no provenance: it does not anchor
    (tmp_path / "BENCH_r03.json").write_text(json.dumps({
        "parsed": {"queries": {"g": 0.1}}
    }))

    certified, best = bench.drift_anchors(str(tmp_path))
    assert certified == {"a": {32: 0.5}, "b": {8: 0.2}}
    assert best == {"c": {32: 1.0}, "d": {8: 0.3}}

    # an 8-core run: "a"/"c" anchors are 32-core → never breach even at
    # 3x; "b"/"d" anchors are 8-core → breach normally
    vals = {"a": 1.5, "b": 0.9, "c": 9.0, "d": 0.31}
    out = bench.vs_floor(vals, certified, best, run_cpus=8)
    assert out["a"]["cpus_match"] is False and out["a"]["ratio"] == 3.0
    assert out["a"]["anchor_cpus"] == 32
    assert out["b"]["cpus_match"] is True
    assert out["c"]["cpus_match"] is False
    assert out["d"]["cpus_match"] is True
    assert bench.drift_breaches(out) == ["b"]

    # the same values judged at 32 cores: now "a"/"c" gate and "b" does not
    out32 = bench.vs_floor(vals, certified, best, run_cpus=32)
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
    (tmp_path / "BENCH_r01.json").write_text(json.dumps({
        "cpus": 32, "parsed": {"queries": {"e": 1.0, "g": 2.0}}
    }))
    (tmp_path / "BENCH_r01_c8.json").write_text(json.dumps({
        "cpus": 8, "parsed": {"queries": {"e": 0.5, "h": 0.4}}
    }))
    certified, best = bench.drift_anchors(str(tmp_path))
    assert certified == {}
    assert best == {"e": {32: 1.0, 8: 0.5}, "g": {32: 2.0}, "h": {8: 0.4}}

    vals = {"e": 2.5, "g": 2.1, "h": 1.2}
    out32 = bench.vs_floor(vals, certified, best, run_cpus=32)
    assert out32["e"] == {"ratio": 2.5, "anchor": "best_ever", "floor_sec": 1.0,
                          "anchor_cpus": 32, "cpus_match": True}
    assert out32["h"]["cpus_match"] is False and out32["h"]["ratio"] == 3.0
    assert bench.drift_breaches(out32) == ["e"]

    out8 = bench.vs_floor(vals, certified, best, run_cpus=8)
    assert out8["e"]["floor_sec"] == 0.5 and out8["e"]["cpus_match"] is True
    assert out8["g"]["cpus_match"] is False
    assert bench.drift_breaches(out8) == ["e", "h"]
    # without run_cpus a key is anchored at its lowest floor
    assert bench.vs_floor(vals, certified, best)["e"]["floor_sec"] == 0.5


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


class _ScriptedQual:
    """A WindowQualifier stand-in: probe ``i`` is contended when ``i`` is
    in ``bad``; a leg is clean unless BOTH its probes are contended."""

    def __init__(self, bad):
        self.bad, self.samples = set(bad), []

    def probe(self):
        self.samples.append(0.01)
        return len(self.samples) - 1

    def clean(self, before, after):
        return not (before in self.bad and after in self.bad)


def _scripted_measure(values):
    it = {k: iter(v) for k, v in values.items()}
    return lambda name: next(it[name])


def test_measure_keys_commits_min_over_clean_legs_and_reruns_contended():
    """Items x, y over three alternating passes: probes 0 x 1 y 2 | 3 y 4
    x 5 | 6 x 7 y 8.  Every y leg sits between two contended probes, so
    y re-runs between fresh probes (9-10 contended, 11-12 clean) and
    commits the clean re-run — not its faster contended pass samples."""
    qual = _ScriptedQual({1, 2, 3, 4, 7, 8, 9, 10})
    measure = _scripted_measure(
        {"x": [0.5, 0.4, 0.6], "y": [0.3, 0.2, 0.25, 0.9, 0.7]}
    )
    legs, timings, drift, quality, spread = bench.measure_keys(
        qual, measure, ["x", "y"]
    )
    assert [v for v, _, _ in legs["x"]] == [0.5, 0.4, 0.6]
    assert timings == {"x": 0.4, "y": 0.7}
    assert drift == {"x": 0.5, "y": 0.7}
    assert quality == {"x": "clean", "y": "rerun_clean"}
    assert spread == {"x": [0.4, 0.6], "y": [0.2, 0.3]}

    # both re-runs contended: commit over everything, flagged
    qual = _ScriptedQual({1, 2, 3, 4, 7, 8, 9, 10, 11, 12})
    measure = _scripted_measure(
        {"x": [0.5, 0.4, 0.6], "y": [0.3, 0.2, 0.25, 0.9, 0.7]}
    )
    _, timings, drift, quality, _ = bench.measure_keys(qual, measure, ["x", "y"])
    assert (timings["y"], drift["y"], quality["y"]) == (0.2, 0.3, "contended")


class _Session:
    """The one attribute of a live session the harness reads."""

    class sparkContext:
        defaultParallelism = 4


def test_core_count_comes_from_the_live_session(tmp_path, monkeypatch):
    """The cpus a run gates at and stamps on its floors is the live
    session's core count, not SPARK_GRAFT_CPUS with a 32 default: a
    certify run on a 4-core box without the env var records cpus=4."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cpus = bench.session_cpus(_Session())
    assert cpus == 4
    tool = _certify_tool()
    keys = tool.certify({"k": 1.0}, {"k": "clean"}, {"k": [1.0, 1.1]}, cpus)
    tool.record_run(tmp_path / bench.LEDGER, keys, cpus, {"mode": "headline"})
    ledger = json.loads((tmp_path / bench.LEDGER).read_text())
    assert ledger["keys"]["k"]["4"]["cpus"] == 4
    assert ledger["runs"][-1]["cpus"] == 4
    assert bench.drift_anchors(str(tmp_path))[0] == {"k": {4: 1.0}}


@pytest.mark.parametrize(
    "floor_cpus, sec, rc",
    [
        (4, 2.5, 2),    # 2.5x its cpus=4 floor: breach, the run exits 2
        (4, 1.1, 0),    # a healthy 4-core run exits 0
        (32, 10.0, 0),  # a floor only at cpus=32 never gates a 4-core run
    ],
)
def test_gate_on_a_4_core_box(tmp_path, floor_cpus, sec, rc):
    """The drift gate on a 4-core run, from a floor certified through the
    certify tool into the ledger."""
    tool = _certify_tool()
    key = "q1_pricing_summary"
    keys = tool.certify({key: 1.0}, {key: "clean"}, {key: [1.0, 1.0]}, floor_cpus)
    tool.record_run(tmp_path / bench.LEDGER, keys, floor_cpus, {"mode": "registry"})
    certified, best = bench.drift_anchors(str(tmp_path))
    out = bench.vs_floor({key: sec}, certified, best, 4)
    assert out[key]["cpus_match"] is (floor_cpus == 4)
    assert bench.drift_gate_rc(bench.drift_breaches(out), env={}) == rc


def test_tail_rotation_reads_the_same_pass_as_the_anchors(tmp_path):
    """The tail rotation's ledger comes from read_anchors' one pass over
    BENCH_r*.json: never-benched keys first, then least recently benched,
    lexicographic tie-break.  Only ``BENCH_rN.json`` names carry a round;
    an 8-core ``BENCH_rN_c8.json`` still feeds the best-ever anchors."""
    (tmp_path / "BENCH_r01.json").write_text(json.dumps({
        "cpus": 32, "parsed": {"queries": {}, "tail_queries": {"t_a": 1.0}}
    }))
    (tmp_path / "BENCH_r02.json").write_text(json.dumps({
        "cpus": 32, "parsed": {"queries": {}, "tail_queries": {"t_b": 1.0}}
    }))
    (tmp_path / "BENCH_r02_c8.json").write_text(json.dumps({
        "cpus": 8, "parsed": {"queries": {}, "tail_queries": {"t_c": 0.5}}
    }))
    certified, best, last_round = bench.read_anchors(str(tmp_path))
    assert last_round == {"t_a": 1, "t_b": 2}
    assert best["t_c"] == {8: 0.5}
    queries = ["t_b", "t_a", "t_c", "t_d", bench.HEADLINE[0]]
    assert bench._tail_rotation(queries, last_round) == ["t_c", "t_d", "t_a", "t_b"]


def test_certify_accrues_per_cpus_and_leaves_unmeasured_keys(tmp_path):
    """The certify tool accrues a run into the ledger at its own cpus
    only: a slower re-certification keeps the lower floor at that cpus,
    another core count's floor and the records of keys the run did not
    measure are left exactly as they were."""
    tool = _certify_tool()
    path = tmp_path / bench.LEDGER

    def run(timings, cpus):
        keys = tool.certify(
            timings, {k: "clean" for k in timings},
            {k: [v, v] for k, v in timings.items()}, cpus,
        )
        return tool.record_run(path, keys, cpus, {"mode": "registry"})

    run({"a": 1.0, "b": 2.0}, 4)
    run({"a": 0.4}, 32)
    before = json.loads(path.read_text())["keys"]["b"]
    out = run({"a": 1.2}, 4)
    assert out["a"]["sec"] == 1.0 and out["a"]["carried_from_prior_run"]
    ledger = json.loads(path.read_text())
    assert ledger["keys"]["b"] == before
    assert ledger["keys"]["a"]["32"]["sec"] == 0.4
    assert [r["cpus"] for r in ledger["runs"]] == [4, 32, 4]
    assert bench.drift_anchors(str(tmp_path))[0] == {
        "a": {4: 1.0, 32: 0.4}, "b": {4: 2.0},
    }


def test_key_records_carry_codegen_compiles(spark, monkeypatch):
    """Each key's BENCH_DETAIL record carries ``codegen_compiles``: the
    generated-code compilations of its measured legs as an int, or None
    when Spark's counter is unavailable."""
    from arrow_experiments_spark.registry import all_queries
    from conftest import SF_DIR

    measure = bench.query_timer(spark, SF_DIR, all_queries())
    measure("q1_pricing_summary")  # warm: its plans are compiled now
    sec, n = bench.compiles_during(spark, lambda: measure("q1_pricing_summary"))
    assert sec > 0 and n == 0  # a steady leg hits the codegen cache
    monkeypatch.setattr(bench, "codegen_stats", lambda spark: None)
    _, missing = bench.compiles_during(spark, lambda: 1.0)
    assert missing is None

    compiles = {"q1_pricing_summary": n, "new_key": missing}
    out = bench.vs_floor(
        {"q1_pricing_summary": sec, "new_key": 1.0},
        {"q1_pricing_summary": {4: sec}}, {}, 4, compiles,
    )
    assert out["q1_pricing_summary"]["codegen_compiles"] == 0
    assert isinstance(out["q1_pricing_summary"]["codegen_compiles"], int)
    assert out["new_key"] == {"ratio": None, "anchor": "none", "codegen_compiles": None}
    assert "codegen_compiles" not in bench.vs_floor({"k": 1.0}, {}, {})["k"]
