"""The traced benchmark run (``perfbench/run.py --trace 1``) wraps engine
seams by their module and class attribute names (``perfbench/spans.py``
``install``), and its engine process dies when one is gone.  This guards
those seams: a child process installs the tracer (it patches classes and
modules in place, so it must not run in the test process), serves every
replay seat and the live paths through the threaded server, decodes
each body, and reports the spans and counters the tracer recorded.
"""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

CHILD = textwrap.dedent(
    """
    import json, shutil, sys, tempfile, urllib.request
    from collections import Counter

    repo = sys.argv[1]
    sys.path[:0] = [repo, repo + "/perfbench"]
    from spans import Tracer, install

    tracer = Tracer()
    install(tracer)

    import pyarrow as pa

    from arrow_experiments_spark.sources.arrow_ipc import register_spilled_files
    from arrow_experiments_spark.transport.client import fetch_arrow
    from arrow_experiments_spark.transport.multipart import (
        parse_multipart, read_arrow_part,
    )
    from arrow_experiments_spark.transport.server import DatasetRegistry, serve

    n = 20_000
    table = pa.table({"a": pa.array(range(n), pa.int64()),
                      "s": pa.array([f"row{i}" for i in range(n)])})
    tmp = tempfile.mkdtemp()
    spill = f"{tmp}/part-0.arrows"
    with open(spill, "wb") as f, pa.ipc.new_stream(f, table.schema) as w:
        w.write_table(table, max_chunksize=4096)

    registry = DatasetRegistry()
    registry.register_table("tbl", table)
    registry.register("fac", lambda: pa.RecordBatchReader.from_batches(
        table.schema, table.to_batches(max_chunksize=4096)))
    registry.enable_encoded_artifact("fac", f"{tmp}/fac")
    assert register_spilled_files(registry, "sp", [spill], table.schema)
    registry.enable_encoded_artifact("sp", f"{tmp}/sp")
    httpd = serve(registry)
    base = "http://%s:%d" % httpd.server_address
    gets = 0

    def fetch(path, accept_encoding=None, accept=None, rows=n):
        global gets
        gets += 1
        got, m = fetch_arrow(base + path, accept=accept,
                             accept_encoding=accept_encoding)
        if path.endswith(("/tbl", "/fac", "/sp")):
            assert got.equals(table), path
        assert m.rows == rows, (path, m.rows)

    fetch("/datasets/tbl", "identity")
    fetch("/datasets/tbl", "br")
    fetch("/datasets/tbl",
          accept='application/vnd.apache.arrow.stream; codecs="zstd"')
    for _ in range(2):  # the disk seat: fill, then replay
        fetch("/datasets/fac", "zstd")
        fetch("/datasets/fac", "br")
        fetch("/datasets/sp", "br")
    fetch("/datasets/sp?columns=s&limit=10", "identity", rows=10)
    gets += 1
    with urllib.request.urlopen(base + "/datasets/tbl?multipart=1") as resp:
        parts = parse_multipart(resp.read(), resp.headers["Content-Type"])
    assert read_arrow_part(parts).equals(table)
    httpd.shutdown()
    shutil.rmtree(tmp)

    counts = Counter()
    for (name, _op), value in tracer.counts.items():
        counts[name] += value
    print(json.dumps({
        "gets": gets,
        "spans": Counter(s[0] for s in tracer.spans),
        "counts": counts,
    }))
    """
)


def test_traced_engine_seams():
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, str(REPO)],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    spans, counts = out["spans"], out["counts"]
    assert spans["transport.server.handler"] == out["gets"]
    assert spans["transport.negotiation"] == out["gets"] - 1  # multipart skips it
    # identity, br and ipc+zstd bodies of the table, then the zstd and
    # br artifacts of the factory and the br artifact of the splice
    assert spans["transport.server.cache_fill"] == 6
    # the live GET and the factory's two fills; the splice's br fill is
    # one shot, not a streaming encode
    assert spans["transport.ipc_stream.encode"] == 3
    assert spans["transport.ipc_stream.send"] == out["gets"]
    assert spans["transport.multipart.encode"] == 1
    assert spans["sources.arrow_ipc.stream"] >= 1  # the projected splice
    # every plain GET looked up a replay seat; all hit but the first
    # zstd and br requests of the factory and the first br of the splice
    assert counts["transport.server.cache_lookups"] == 9
    assert counts["transport.server.cache_hits"] == 6
    assert counts["transport.server.cache_MB"] > 0
    assert counts["transport.negotiation.calls"] == out["gets"] - 1
