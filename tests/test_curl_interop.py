"""Cross-implementation interop: drive the engine's HTTP egress with the
system ``curl`` binary — the first non-Python consumer — replaying the
reference's scripted header matrices verbatim:

* compression matrix: http/get_compressed/curl/client/client.sh:20-45
  (HTTP/1.0 plain + per-coding, HTTP/1.1 default-gzip/identity-refusal/
  per-coding, IPC buffer codecs via Accept codecs=...)
* range matrix: http/get_range/curl/client/client.sh:21-49 (HEAD for
  length, two-part download + concatenate, interrupted-download resume
  via ``-C``)

The interop rule being honored is the reference's client×server matrix
(http/get_simple/README.md:32-37): every server must be consumed by a
client it was not written against.  Decoded bytes must equal what the
in-process pyarrow client sees.
"""

from __future__ import annotations

import io
import shutil
import subprocess

import pyarrow as pa
import pytest

from arrow_experiments_spark.transport.ipc_stream import decode_body
from arrow_experiments_spark.transport.server import DatasetRegistry, serve

pytestmark = pytest.mark.skipif(
    shutil.which("curl") is None, reason="curl not installed"
)


@pytest.fixture(scope="module")
def table() -> pa.Table:
    n = 10_000
    return pa.table(
        {
            "a": pa.array(range(n), pa.int64()),
            "b": pa.array([i * 3 for i in range(n)], pa.int64()),
            "s": pa.array([f"row{i}" for i in range(n)]),
        }
    )


@pytest.fixture(scope="module")
def server(table):
    registry = DatasetRegistry()
    registry.register_table("bench", table, meta={"description": "curl interop"})
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        for b in table.to_batches(max_chunksize=1000):
            w.write_batch(b)
    registry.register_file("random.arrows", sink.getvalue())
    httpd = serve(registry)
    host, port = httpd.server_address
    yield f"http://{host}:{port}"
    httpd.shutdown()


def _curl(args: list[str], tmp_path) -> tuple[dict[str, str], bytes]:
    """Run curl, return (response headers lower-cased, body bytes)."""
    hdr = tmp_path / "headers.txt"
    body = tmp_path / "body.bin"
    proc = subprocess.run(
        ["curl", "-sS", "-D", str(hdr), "-o", str(body), *args],
        capture_output=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    headers: dict[str, str] = {}
    for line in hdr.read_text().splitlines():
        if ":" in line:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        elif line.startswith("HTTP/"):
            headers["_status_line"] = line.strip()
    return headers, body.read_bytes()


# ---- get_compressed matrix (client.sh:20-45) -----------------------------

# (curl extra args, strategy the body must decode under, expectations)
_COMPRESSED_MATRIX = [
    # HTTP/1.0: response is not chunked and not compressed...
    pytest.param(["--http1.0"], "identity", dict(coding=None, http10=True),
                 id="http10-plain"),
    # ...but may be compressed with an explicit Accept-Encoding...
    pytest.param(["--http1.0", "-H", "Accept-Encoding: gzip, *;q=0"],
                 "gzip", dict(coding="gzip", http10=True), id="http10-gzip"),
    pytest.param(["--http1.0", "-H", "Accept-Encoding: zstd, *;q=0"],
                 "zstd", dict(coding="zstd", http10=True), id="http10-zstd"),
    pytest.param(["--http1.0", "-H", "Accept-Encoding: br, *;q=0"],
                 "br", dict(coding="br", http10=True), id="http10-br"),
    # ...or with IPC buffer compression if Accept specifies codecs.
    pytest.param(
        ["--http1.0", "-H",
         'Accept: application/vnd.apache.arrow.stream; codecs="zstd, lz4"'],
        "identity+zstd", dict(coding=None, http10=True), id="http10-ipc-zstd"),
    pytest.param(
        ["--http1.0", "-H",
         "Accept: application/vnd.apache.arrow.stream; codecs=lz4"],
        "identity+lz4", dict(coding=None, http10=True), id="http10-ipc-lz4"),
    # HTTP/1.1: compression on by default, refusable via identity...
    pytest.param(["-H", "Accept-Encoding: identity"], "identity",
                 dict(coding=None, chunked=True), id="http11-identity"),
    # ...gzip if no Accept-Encoding header is set...
    pytest.param([], "gzip", dict(coding="gzip", chunked=True),
                 id="http11-default-gzip"),
    # ...or the algorithm specified in Accept-Encoding...
    pytest.param(["-H", "Accept-Encoding: zstd, *;q=0"], "zstd",
                 dict(coding="zstd", chunked=True), id="http11-zstd"),
    pytest.param(["-H", "Accept-Encoding: br, *;q=0"], "br",
                 dict(coding="br", chunked=True), id="http11-br"),
    # ...or IPC buffer compression via Accept codecs.
    pytest.param(
        ["-H", 'Accept: application/vnd.apache.arrow.stream; codecs="zstd, lz4"'],
        "identity+zstd", dict(coding=None, chunked=True), id="http11-ipc-zstd"),
    pytest.param(
        ["-H", "Accept: application/vnd.apache.arrow.stream; codecs=lz4"],
        "identity+lz4", dict(coding=None, chunked=True), id="http11-ipc-lz4"),
]


@pytest.mark.parametrize("extra,strategy,expect", _COMPRESSED_MATRIX)
def test_curl_compression_matrix(server, table, tmp_path, extra, strategy, expect):
    headers, body = _curl([*extra, f"{server}/datasets/bench"], tmp_path)
    assert headers["_status_line"].split()[1] == "200"
    assert headers["content-type"].startswith("application/vnd.apache.arrow.stream")
    assert headers.get("content-encoding") == expect.get("coding")
    if expect.get("http10"):
        # unchunked: no chunked framing; body runs to connection close
        # (the reference's HTTP/1.0 contract — Content-Length optional)
        assert headers.get("transfer-encoding") is None
        if "content-length" in headers:
            assert int(headers["content-length"]) == len(body)
    if expect.get("chunked"):
        assert headers.get("transfer-encoding") == "chunked"
    got = decode_body(body, strategy).read_all()
    assert got.equals(table)
    if strategy.startswith("identity+"):
        # buffer compression is inside the IPC frames: raw bytes must be
        # smaller than the uncompressed stream they decode to
        assert len(body) < got.get_total_buffer_size()


@pytest.mark.parametrize("coding", ["gzip", "br"])
def test_curl_decodes_stored_bodies(tmp_path, coding):
    """An incompressible table (random int64) is served in the coding's
    stored form; curl's own zlib/brotli decoder reads it back to the
    identity body byte for byte."""
    import numpy as np

    rng = np.random.default_rng(3)
    table = pa.table({c: rng.integers(-(2**62), 2**62, 100_000) for c in "xy"})
    registry = DatasetRegistry()
    registry.register_table("random", table)
    identity = bytes(registry.identity_body("random"))
    httpd = serve(registry)
    host, port = httpd.server_address
    try:
        headers, body = _curl(
            ["--compressed", "-H", f"Accept-Encoding: {coding}",
             f"http://{host}:{port}/datasets/random"],
            tmp_path,
        )
    finally:
        httpd.shutdown()
    assert headers.get("content-encoding") == coding
    assert body == identity


# ---- get_range matrix (client.sh:21-49) ----------------------------------

def test_curl_range_two_part_download(server, table, tmp_path):
    # curl -I: length of random.arrows in bytes
    headers, _ = _curl(["-I", f"{server}/files/random.arrows"], tmp_path)
    total = int(headers["content-length"])
    assert headers.get("accept-ranges") == "bytes"
    mid = total // 2
    # two halves, then concatenate
    h1, part1 = _curl(["-r", f"0-{mid}", f"{server}/files/random.arrows"], tmp_path)
    h2, part2 = _curl(
        ["-r", f"{mid + 1}-{total - 1}", f"{server}/files/random.arrows"], tmp_path
    )
    assert h1["_status_line"].split()[1] == "206"
    assert h1["content-range"] == f"bytes 0-{mid}/{total}"
    assert h2["content-range"] == f"bytes {mid + 1}-{total - 1}/{total}"
    data = part1 + part2
    assert len(data) == total
    got = pa.ipc.open_stream(io.BytesIO(data)).read_all()
    assert got.equals(table)


def test_curl_range_resume_interrupted(server, table, tmp_path):
    """The interrupted-download scenario, deterministically: keep a
    truncated prefix on disk, then ``curl -C -`` continues from its
    size (the reference interrupts with timeout+limit-rate instead)."""
    headers, full = _curl([f"{server}/files/random.arrows",
                           "-H", "Accept-Encoding: identity"], tmp_path)
    out = tmp_path / "random.arrows"
    out.write_bytes(full[: len(full) // 3])
    proc = subprocess.run(
        ["curl", "-sS", "-C", "-", "-o", str(out),
         f"{server}/files/random.arrows"],
        capture_output=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    data = out.read_bytes()
    assert data == full
    got = pa.ipc.open_stream(io.BytesIO(data)).read_all()
    assert got.equals(table)


# ---- get_indirect matrix (curl/client/client.sh) --------------------------

def test_curl_indirect_catalog_parallel_fetch(server, table, tmp_path):
    """The reference's indirect client: GET the JSON catalog, extract
    `arrow_stream_files[].uri`, fetch every URI with one parallel curl
    invocation (`--parallel --remote-name-all`), decode each."""
    import json

    headers, body = _curl([f"{server}/catalog"], tmp_path)
    assert headers["content-type"].startswith("application/json")
    uris = [e["uri"] for e in json.loads(body)["arrow_stream_files"]]
    assert uris, "catalog advertised no streams"
    proc = subprocess.run(
        ["curl", "-sS", "--parallel", "--remote-name-all",
         "-H", "Accept-Encoding: identity", *uris],
        capture_output=True,
        cwd=tmp_path,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    for uri in uris:
        name = uri.rsplit("/", 1)[-1]
        data = (tmp_path / name).read_bytes()
        got = pa.ipc.open_stream(io.BytesIO(data)).read_all()
        assert got.equals(table)
