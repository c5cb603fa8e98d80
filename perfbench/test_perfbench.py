"""Self-test of the benchmark: ``python -m pytest perfbench -q``.

The smoke runs start Spark once per workload and trace mode (a few
minutes in all); the rest are unit checks of the benchmark's own code.
"""

from __future__ import annotations

import json
import random
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import load  # noqa: E402
import run  # noqa: E402
from spans import Tracer  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SPAN_KEYS = {"name", "start", "end", "busy", "self", "parent", "op", "process"}


def _smoke(workload: str, trace: int, seed: int = 5) -> dict:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--smoke"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_spec_matches_the_code():
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.UNITS
    for m in SPEC["per_layer"]:
        assert run.layer_unit(m["name"]) == m["unit"], m


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_end_to_end(workload):
    out = _smoke(workload, trace=0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_traced(workload):
    out = _smoke(workload, trace=1)
    assert out["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    trace = json.loads((ROOT / ".perfbench" / "traces" / f"{workload}-seed5.json").read_text())
    assert set(trace) == {"workload", "seed", "cpus", "layers", "spans"}
    assert trace["layers"] == {k: v["value"] for k, v in out["metrics"].items()}
    assert trace["spans"] and all(set(s) == SPAN_KEYS for s in trace["spans"])
    assert out["metrics"]["transport.server.handler_s"]["value"] > 0
    assert 0.9 <= out["metrics"]["trace.attributed_share"]["value"] <= 1.0 + 1e-9
    if workload == "query_ingest":
        for name in ("operators.build_s", "sources.arrow_ipc.spill_s",
                     "streaming.egress.batch_s", "spark.jobs"):
            assert out["metrics"][name]["value"] > 0, name


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", "serve_replay", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, cwd=tmp_path, timeout=170,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_tail_is_the_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert run.tail(xs) == (90.0, 90.0)
    assert run.tail(xs[:20]) == (10.0, 50.0)
    assert run.tail(xs[:11]) == (6.0, 50.0)


def test_self_time_subtracts_nested_iterator_layers():
    tr = Tracer()

    def inner():
        yield from range(3)

    def outer():
        for x in tr.iterate("inner", inner()):
            yield x

    assert tr.call("root", lambda: list(tr.iterate("outer", outer()))) == [0, 1, 2]
    names = [s[0] for s in tr.spans]
    assert names == ["root", "outer", "inner"]
    root, outer_s, inner_s = tr.spans
    assert outer_s[4] == 0 and inner_s[4] == 1
    selfs = tr.self_times()
    assert abs(sum(selfs) - root[3]) < 1e-9


def test_serve_deck_keeps_its_mix():
    cols = {"trading": ["ticker", "price", "volume"], "flight": list("abcd"),
            "lineitem": ["l_orderkey", "l_tax"]}
    deck = load.serve_deck(random.Random(3), cols)
    assert len(deck) == 40
    plain = [d for d in deck if d["kind"] == "get" and "columns" not in d
             and not d.get("multipart")]
    assert len(plain) == 30
    assert sum("columns" in d for d in deck) == 8
    assert sum(bool(d.get("multipart")) for d in deck) == 1
    assert sum(d["kind"] == "sockets" for d in deck) == 1


def test_query_deck_has_every_query_once_half_in_each_coding():
    deck = load.query_deck(random.Random(4))
    assert sorted(d["name"] for d in deck) == sorted([*load.QUERIES, *load.SQL])
    codings = [d["strategy"] for d in deck]
    assert abs(codings.count("identity") - codings.count("zstd")) <= 1


def test_curation_reference_drops_redelivered_documents():
    text = " ".join(["a", "spark", "the"] + [f"w{i}" for i in range(30)])
    ref = load.CurationReference()
    first = pa.table({"doc_id": [5, 3], "text": [text, text]})
    assert ref.apply(first) == 1 and ref.snapshot == {load.content_hash(text): 3}
    assert ref.apply(pa.table({"doc_id": [1], "text": [text]})) == 0
    assert ref.apply(pa.table({"doc_id": [9], "text": ["too short"]})) == 0
    assert ref.batch_funnel_hashes() == {load.content_hash(text)}
