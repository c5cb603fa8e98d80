"""The scripts under tools/ stay importable against the current bench.

Every ``tools/*.py`` byte-compiles, and every ``bench.<name>`` that a
tool or a test references exists on the ``bench`` module, so deleting a
harness helper that something still calls fails here rather than at the
next certification run.  The engine's session-conf surface is pinned
here too."""

from __future__ import annotations

import ast
import py_compile
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

import bench

TOOLS = sorted((REPO / "tools").glob("*.py"))


def test_every_tool_byte_compiles(tmp_path):
    assert TOOLS
    for path in TOOLS:
        py_compile.compile(
            str(path), cfile=str(tmp_path / (path.stem + ".pyc")), doraise=True
        )


def test_every_bench_attribute_referenced_exists():
    missing = []
    for path in TOOLS + sorted((REPO / "tests").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == "bench"
                and not hasattr(bench, node.attr)
            ):
                missing.append(f"{path.name}:{node.lineno} bench.{node.attr}")
    assert not missing, missing


def test_engine_conf_surface_is_three_deployment_confs():
    """The package names exactly three ``spark.arrowExperimentsSpark.*``
    confs: two deployment paths and the gate sinks' retention window.
    Geometry and scorer limits come from the corpus and module
    constants, so a new tuning conf fails here."""
    found: set[str] = set()
    for path in (REPO / "arrow_experiments_spark").rglob("*.py"):
        found.update(
            re.findall(r"spark\.arrowExperimentsSpark\.([A-Za-z.]+)", path.read_text())
        )
    assert found == {"hll.sketchDir", "ivf.indexDir", "snapshot.retainVersions"}
