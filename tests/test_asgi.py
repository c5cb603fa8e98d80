"""One parity suite over both HTTP front-ends.

The reference ships two server postures for the same protocol
(http.server and FastAPI/uvicorn — fastapi_uvicorn/server.py:60-75); the
engine mirrors that with ``serve()`` (threaded) and ``make_asgi_app``
(ASGI 3 callable), two adapters over one request core
(``server.respond``).  Every route runs against both: a test taking
``fetch`` runs once per front-end, and a test taking ``fronts`` sends
each request to both and checks that they agree.  Either way a request
returns ``(status, lower-cased headers, body)``.  No ASGI server is
required: the ASGI app is driven in-process.
"""

from __future__ import annotations

import asyncio
import contextlib
import http.client
import io
import json
import os
import socket

import pyarrow as pa
import pytest

from arrow_experiments_spark.transport.asgi import make_asgi_app
from arrow_experiments_spark.transport.ipc_stream import decode_body
from arrow_experiments_spark.transport.server import DatasetRegistry, serve

FRONTS = ("threaded", "asgi")
HOST = "arrow.test"  # both fetchers send it, so catalog/describe URIs match


def asgi_fetch(app):
    def fetch(method, path, headers=None, body=b""):
        raw_path, _, query = path.partition("?")
        headers = {"Host": HOST, **(headers or {})}
        scope = {
            "type": "http",
            "asgi": {"version": "3.0"},
            "http_version": "1.1",
            "method": method,
            "path": raw_path,
            "query_string": query.encode(),
            "headers": [(k.lower().encode(), v.encode()) for k, v in headers.items()],
        }
        sent = {"body": b"", "status": None, "headers": None}
        received = {"done": False}

        async def receive():
            if received["done"]:
                return {"type": "http.disconnect"}
            received["done"] = True
            return {"type": "http.request", "body": body, "more_body": False}

        async def send(msg):
            if msg["type"] == "http.response.start":
                sent["status"] = msg["status"]
                sent["headers"] = {k.decode().lower(): v.decode() for k, v in msg["headers"]}
            elif msg["type"] == "http.response.body":
                sent["body"] += msg.get("body", b"")

        asyncio.run(app(scope, receive, send))
        return sent["status"], sent["headers"], sent["body"]

    return fetch


def http_send(conn, method, path, headers=None, body=b""):
    """Send exactly the given headers (plus Host and, for a body,
    Content-Length): urllib would inject ``Accept-Encoding: identity``
    and defeat the default-coding matrix row."""
    headers = {"Host": HOST, **(headers or {})}
    if body:
        headers.setdefault("Content-Length", str(len(body)))
    conn.putrequest(method, path, skip_host=True, skip_accept_encoding=True)
    for k, v in headers.items():
        conn.putheader(k, v)
    conn.endheaders(body or None)
    resp = conn.getresponse()
    return resp.status, {k.lower(): v for k, v in resp.getheaders()}, resp.read()


def threaded_fetch(port):
    def fetch(method, path, headers=None, body=b""):
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        try:
            return http_send(conn, method, path, headers, body)
        finally:
            conn.close()

    return fetch


@contextlib.contextmanager
def front_ends(registry, **kw):
    httpd = serve(registry, **kw)
    try:
        yield {
            "threaded": threaded_fetch(httpd.server_address[1]),
            "asgi": asgi_fetch(make_asgi_app(registry, **kw)),
        }
    finally:
        httpd.shutdown()
        httpd.server_close()


def each(fronts, method, path, headers=None, body=b""):
    """The same request through both front-ends; statuses must agree."""
    results = [fetch(method, path, headers, body) for fetch in fronts.values()]
    assert results[0][0] == results[1][0], (path, [r[0] for r in results])
    return results


def ipc_bytes(table, **kw) -> bytes:
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        for b in table.to_batches(**kw):
            w.write_batch(b)
    return sink.getvalue()


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
def registry(table) -> DatasetRegistry:
    r = DatasetRegistry()
    r.register_table("bench", table, meta={"description": "asgi parity"})
    r.register_file("random.arrows", ipc_bytes(table, max_chunksize=1000))
    return r


def sql_runner(sql: str) -> pa.RecordBatchReader:
    """A stand-in planner: knows one statement, rejects the rest."""
    if sql.lower() != "select 1":
        raise ValueError(f"cannot plan {sql!r}\nsecond line")
    return pa.table({"1": [1]}).to_reader()


@pytest.fixture(scope="module")
def fronts(registry):
    with front_ends(registry, sql_runner=sql_runner) as f:
        yield f


@pytest.fixture(params=FRONTS)
def fetch(request, fronts):
    return fronts[request.param]


# the HTTP/1.1 rows of the curl negotiation matrix
# (get_compressed/curl/client/client.sh:31-45)
MATRIX = [
    ({}, "gzip"),  # 1.1 default coding
    ({"Accept-Encoding": "identity"}, "identity"),
    ({"Accept-Encoding": "gzip"}, "gzip"),
    ({"Accept-Encoding": "zstd"}, "zstd"),
    ({"Accept-Encoding": "br"}, "br"),
    ({"Accept-Encoding": "zstd;q=0.5, gzip;q=1.0"}, "gzip"),
    (
        {"Accept": 'application/vnd.apache.arrow.stream; codecs="zstd"'},
        "identity+zstd",
    ),
    (
        {"Accept": 'application/vnd.apache.arrow.stream; codecs="lz4"'},
        "identity+lz4",
    ),
]


@pytest.mark.parametrize("req_headers,strategy", MATRIX)
def test_negotiation_parity(fronts, table, req_headers, strategy):
    (t_status, t_headers, t_body), (_, a_headers, a_body) = each(
        fronts, "GET", "/datasets/bench", req_headers
    )
    assert t_status == 200
    assert a_headers["content-type"] == t_headers["content-type"]
    assert a_headers.get("content-encoding") == t_headers.get("content-encoding")
    assert decode_body(io.BytesIO(a_body), strategy).read_all().equals(table)
    assert decode_body(io.BytesIO(t_body), strategy).read_all().equals(table)


def test_406_parity(fronts):
    for hdrs in (
        {"Accept-Encoding": "gzip;q=banana"},
        {"Accept-Encoding": "*;q=0"},
    ):
        (status, _, t_body), (_, _, a_body) = each(fronts, "GET", "/datasets/bench", hdrs)
        assert status == 406
        assert t_body == a_body


def test_404_unknown_dataset(fronts):
    for method, path in (
        ("GET", "/datasets/nope"),
        ("GET", "/datasets/nope/describe"),
        ("GET", "/datasets/nope/meta?want_data=nope"),
        ("GET", "/files/nope.arrows"),
        ("HEAD", "/datasets/bench"),
        ("GET", "/nowhere"),
        ("POST", "/datasets/bench"),
    ):
        for status, headers, body in each(fronts, method, path):
            assert status == 404, (method, path)
            assert headers["content-length"] == "0" and body == b""


def test_unknown_method_is_501(fetch):
    assert fetch("PUT", "/datasets/bench")[0] == 501
    assert fetch("DELETE", "/files/random.arrows")[0] == 501


def test_catalog_and_describe_parity(fronts):
    docs = {}
    for path in ("/catalog", "/datasets/bench/describe"):
        (status, _, t_body), (_, _, a_body) = each(fronts, "GET", path)
        assert status == 200
        docs[path] = json.loads(t_body)
        assert docs[path] == json.loads(a_body)
    uris = docs["/catalog"]["arrow_stream_files"]
    assert {"uri": f"http://{HOST}/files/random.arrows"} in uris
    assert {"uri": f"http://{HOST}/datasets/bench"} in uris
    assert docs["/datasets/bench/describe"]["endpoints"][1]["meta_uri"] == (
        f"http://{HOST}/datasets/bench/meta?want_data=bench"
    )


def test_projection_slice_rebatch(fronts):
    for status, _, body in each(
        fronts,
        "GET",
        "/datasets/bench?columns=a,s&limit=2500&batch_rows=512",
        {"Accept-Encoding": "identity"},
    ):
        assert status == 200
        reader = decode_body(io.BytesIO(body), "identity")
        got = reader.read_all()
        assert got.column_names == ["a", "s"]
        assert got.num_rows == 2500
        assert max(len(c) for c in got.column("a").chunks) == 512
    for bad in ("columns=zz", "limit=-1", "limit=x", "batch_rows=0"):
        assert each(fronts, "GET", f"/datasets/bench?{bad}")[0][0] == 400, bad


def test_multipart(fronts):
    from arrow_experiments_spark.transport.multipart import (
        parse_multipart,
        read_arrow_part,
    )

    for status, headers, body in each(fronts, "GET", "/datasets/bench?multipart=1"):
        assert status == 200
        assert headers["content-type"].startswith("multipart/mixed")
        parts = parse_multipart(body, headers["content-type"])
        meta = json.loads(parts["application/json"][0])
        assert meta == {"name": "bench", "description": "asgi parity"}
        assert read_arrow_part(parts).num_rows == 10_000


def test_dissociated_streams(fronts, table):
    from arrow_experiments_spark.transport.dissociated import (
        parse_body_stream,
        parse_meta_stream,
        reassemble,
    )

    for path in ("/datasets/bench/meta", "/datasets/bench/body?want_data=other"):
        denied = each(fronts, "GET", path)[0]
        assert denied[0] == 400
        assert json.loads(denied[2])["expected"] == "bench"
    metas = each(fronts, "GET", "/datasets/bench/meta?want_data=bench")
    bodies = each(fronts, "GET", "/datasets/bench/body?want_data=bench")
    for (_, _, meta_raw), (_, _, body_raw) in zip(metas, bodies):
        got = reassemble(parse_meta_stream(meta_raw), parse_body_stream(body_raw))
        assert got.equals(table)


def test_file_range_parity(fronts, registry):
    data = registry.file("random.arrows")
    total = len(data)
    for status, headers, body in each(fronts, "HEAD", "/files/random.arrows"):
        assert status == 200
        assert int(headers["content-length"]) == total
        assert headers["accept-ranges"] == "bytes"
        assert body == b""
    for status, headers, body in each(fronts, "GET", "/files/random.arrows"):
        assert status == 200 and body == data
    # two-part split + concatenate (the get_range curl script's shape)
    mid = total // 2
    heads = each(fronts, "GET", "/files/random.arrows", {"Range": f"bytes=0-{mid - 1}"})
    tails = each(fronts, "GET", "/files/random.arrows", {"Range": f"bytes={mid}-"})
    for (s1, _, part1), (s2, h2, part2) in zip(heads, tails):
        assert s1 == s2 == 206
        assert h2["content-range"] == f"bytes {mid}-{total - 1}/{total}"
        assert part1 + part2 == data
    for status, _, tail in each(fronts, "GET", "/files/random.arrows", {"Range": "bytes=-100"}):
        assert status == 206 and tail == data[-100:]
    # unsatisfiable and malformed ranges: 416 with a framed empty body
    for rng in (f"bytes={total}-", "bytes=-", "bytes=5-2", "items=0-1"):
        for status, headers, body in each(fronts, "GET", "/files/random.arrows", {"Range": rng}):
            assert status == 416, rng
            assert headers["content-range"] == f"bytes */{total}"
            assert headers["content-length"] == "0" and body == b""


def test_query(fetch, registry):
    for coding in ("identity", "gzip"):
        status, headers, body = fetch(
            "GET", "/query?sql=select+1", {"Accept-Encoding": coding}
        )
        assert status == 200
        assert headers.get("content-encoding", "identity") == coding
        assert decode_body(io.BytesIO(body), coding).read_all().to_pydict() == {"1": [1]}
    for sql in ("", "+", "select+2"):
        status, _, body = fetch("GET", f"/query?sql={sql}")
        assert status == 400, sql
        assert "\n" not in json.loads(body)["error"]
    assert fetch("GET", "/query")[0] == 400
    with front_ends(registry) as no_runner:
        for f in no_runner.values():
            assert f("GET", "/query?sql=select+1")[0] == 404


def test_post_ingest_roundtrip(fronts, table):
    for i, fetch in enumerate(fronts.values()):
        status, _, body = fetch(
            "POST",
            f"/ingest/uploaded{i}",
            {"Content-Type": "application/vnd.apache.arrow.stream"},
            ipc_bytes(table),
        )
        assert status == 200
        assert json.loads(body)["rows"] == table.num_rows
        # the upload is visible to both front-ends
        for status, _, got in each(
            fronts, "GET", f"/datasets/uploaded{i}", {"Accept-Encoding": "identity"}
        ):
            assert status == 200
            assert decode_body(io.BytesIO(got), "identity").read_all().equals(table)


def test_chunked_post_ingest_parity(fronts, registry, table):
    """A ``Transfer-Encoding: chunked`` POST registers the same rows on
    both front-ends (an ASGI server hands the app the dechunked body),
    and the threaded connection stays usable for the next request.  A
    malformed chunk size is a 400 that closes the connection."""
    body = ipc_bytes(table)
    arrow = {"Content-Type": "application/vnd.apache.arrow.stream"}
    status, _, ack = fronts["asgi"]("POST", "/ingest/chunked_asgi", arrow, body)
    assert status == 200 and json.loads(ack)["rows"] == table.num_rows

    httpd = serve(registry)
    host, port = httpd.server_address
    conn = http.client.HTTPConnection(host, port, timeout=30)
    try:
        pieces = (body[i:i + 1000] for i in range(0, len(body), 1000))
        conn.request(
            "POST", "/ingest/chunked_threaded", body=pieces,
            headers={**arrow, "Host": HOST}, encode_chunked=True,
        )
        resp = conn.getresponse()
        assert resp.status == 200, resp.read()
        assert json.loads(resp.read())["rows"] == table.num_rows
        sock = conn.sock
        status, got, reply = http_send(
            conn, "GET", "/datasets/chunked_threaded", {"Accept-Encoding": "identity"}
        )
        assert status == 200 and conn.sock is sock
        assert decode_body(io.BytesIO(reply), "identity").read_all().equals(table)

        with socket.create_connection((host, port), timeout=30) as raw:
            raw.sendall(
                b"POST /ingest/bad_chunks HTTP/1.1\r\nHost: x\r\n"
                b"Transfer-Encoding: chunked\r\n\r\nzz\r\nabc\r\n0\r\n\r\n"
            )
            buf = b""
            while chunk := raw.recv(1 << 16):  # ends only when the server closes
                buf += chunk
        assert buf.startswith(b"HTTP/1.1 400")
        assert b"error" in buf.partition(b"\r\n\r\n")[2]
    finally:
        conn.close()
        httpd.shutdown()
        httpd.server_close()
    for name in ("chunked_threaded", "chunked_asgi"):
        for status, _, got in each(
            fronts, "GET", f"/datasets/{name}", {"Accept-Encoding": "identity"}
        ):
            assert status == 200
            assert decode_body(io.BytesIO(got), "identity").read_all().equals(table)
    assert fronts["threaded"]("GET", "/datasets/bad_chunks")[0] == 404


def test_post_multipart_ingest(fetch, table):
    from arrow_experiments_spark.transport.multipart import (
        encode_form_data,
        form_data_content_type,
        make_boundary,
    )

    boundary = make_boundary()
    meta = {"source": "parity", "license": "CC0"}
    body = b"".join(encode_form_data(boundary, meta, table.schema, table.to_batches()))
    status, _, ack = fetch(
        "POST", "/ingest/with_meta",
        {"Content-Type": form_data_content_type(boundary)}, body,
    )
    assert status == 200
    assert json.loads(ack) == {
        "name": "with_meta", "rows": table.num_rows, "columns": 3, "metadata": meta,
    }
    status, _, doc = fetch("GET", "/datasets/with_meta/describe")
    assert json.loads(doc)["metadata"] == meta


def test_post_malformed_is_400(fetch, table):
    arrow = {"Content-Type": "application/vnd.apache.arrow.stream"}
    for headers, body in (
        (arrow, b"not an arrow stream"),
        ({"Content-Type": 'multipart/form-data; boundary="nope"'},
         b"--nope\r\nnot a real part\r\n"),
        ({**arrow, "Content-Length": "abc"}, ipc_bytes(table)),
        ({**arrow, "Content-Length": "-5"}, ipc_bytes(table)),
    ):
        status, resp_headers, reply = fetch("POST", "/ingest/bad", headers, body)
        assert status == 400, headers
        assert "error" in json.loads(reply)
        assert resp_headers["content-type"] == "application/json"
    assert fetch("GET", "/datasets/bad")[0] == 404


def test_cors_on_every_reply(registry):
    cors = {
        "access-control-allow-origin": "*",
        "access-control-allow-methods": "GET, POST",
        "access-control-allow-headers": "Content-Type",
    }
    requests = [
        ("GET", "/datasets/bench", {}, 200),
        ("GET", "/datasets/bench?multipart=1", {}, 200),
        ("GET", "/datasets/bench/meta?want_data=bench", {}, 200),
        ("GET", "/catalog", {}, 200),
        ("GET", "/datasets/nope", {}, 404),
        ("GET", "/datasets/bench", {"Accept-Encoding": "*;q=0"}, 406),
        ("GET", "/files/random.arrows", {}, 200),
        ("HEAD", "/files/random.arrows", {}, 200),
        ("GET", "/files/random.arrows", {"Range": "bytes=0-9"}, 206),
        ("GET", "/files/random.arrows", {"Range": "bytes=-0"}, 416),
        ("POST", "/ingest/cors", {"Content-Type": "text/plain"}, 400),
    ]
    with front_ends(registry, cors=True) as on, front_ends(registry) as off:
        for method, path, headers, expect in requests:
            for status, got, _ in each(on, method, path, headers):
                assert status == expect, path
                assert {k: got.get(k) for k in cors} == cors, (method, path)
            for status, got, _ in each(off, method, path, headers):
                assert not any(k in got for k in cors), (method, path)


def test_threaded_keep_alive(registry, table):
    """HTTP/1.1 requests share one connection, whatever the status;
    HTTP/1.0 streams stay close-delimited even when keep-alive is asked."""
    httpd = serve(registry)
    host, port = httpd.server_address
    conn = http.client.HTTPConnection(host, port, timeout=30)
    try:
        sock = None
        for path, headers, expect in (
            ("/datasets/bench", {}, 200),
            ("/datasets/nope", {}, 404),
            ("/files/random.arrows", {"Range": "bytes=999999999-"}, 416),
            ("/datasets/bench", {"Accept-Encoding": "identity"}, 200),
        ):
            status, got, body = http_send(conn, "GET", path, headers)
            assert status == expect, path
            sock = sock or conn.sock
            assert conn.sock is sock, f"connection dropped before {path}"
            if status == 200:
                coding = got.get("content-encoding", "identity")
                assert decode_body(io.BytesIO(body), coding).read_all().equals(table)

        with socket.create_connection((host, port), timeout=30) as raw:
            raw.sendall(
                b"GET /datasets/bench HTTP/1.0\r\nHost: x\r\n"
                b"Connection: keep-alive\r\n\r\n"
            )
            buf = b""
            while chunk := raw.recv(1 << 16):  # ends only when the server closes
                buf += chunk
        head, _, body = buf.partition(b"\r\n\r\n")
        assert b"Transfer-Encoding" not in head and b"Content-Length" not in head
        assert pa.ipc.open_stream(io.BytesIO(body)).read_all().equals(table)
    finally:
        conn.close()
        httpd.shutdown()
        httpd.server_close()


def test_raw_spill_parity_with_threaded(tmp_path, table):
    """The file-backed raw serve path (spliced spill bytes) must produce
    byte-identical plain-identity payloads from BOTH server forms, and
    param'd requests must fall back to the reader path in both."""
    from arrow_experiments_spark.sources.arrow_ipc import register_spilled_files

    files = []
    for i, lo in enumerate(range(0, table.num_rows, 2500)):
        p = str(tmp_path / f"part-{i:08d}.arrows")
        with open(p, "wb") as f:
            f.write(ipc_bytes(table.slice(lo, 2500), max_chunksize=1000))
        files.append(p)
    reg = DatasetRegistry()
    assert register_spilled_files(reg, "spilled", files, table.schema, batch_rows=1000)

    with front_ends(reg) as fronts:
        (status, _, threaded_body), (_, _, asgi_body) = each(
            fronts, "GET", "/datasets/spilled", {"Accept-Encoding": "identity"}
        )
        assert status == 200
        assert asgi_body == threaded_body
        got = pa.ipc.open_stream(io.BytesIO(asgi_body)).read_all()
        assert got.combine_chunks().equals(table.combine_chunks())
        # projection falls back to the batch reader on both forms
        for status, _, sub in each(
            fronts, "GET", "/datasets/spilled?columns=a&limit=7",
            {"Accept-Encoding": "identity"},
        ):
            assert status == 200
            t2 = pa.ipc.open_stream(io.BytesIO(sub)).read_all()
            assert t2.num_rows == 7 and t2.column_names == ["a"]


@pytest.mark.parametrize("coding", ["gzip", "br"])
def test_incompressible_table_stored_parity(coding):
    """A table of random int64 saves less than ``MIN_SAVING`` under gzip
    and br, so both forms send the coding's stored form of its identity
    body under the negotiated Content-Encoding, and it decodes whole."""
    import numpy as np

    from arrow_experiments_spark.transport.server import _stored

    rng = np.random.default_rng(7)
    table = pa.table({c: rng.integers(-(2**62), 2**62, 20_000) for c in "xy"})
    reg = DatasetRegistry()
    reg.register_table("r", table)
    want = _stored(coding, reg.identity_body("r")).to_pybytes()
    with front_ends(reg) as fronts:
        for status, headers, body in each(
            fronts, "GET", "/datasets/r", {"Accept-Encoding": coding}
        ):
            assert status == 200
            assert headers["content-encoding"] == coding
            assert body == want
            assert decode_body(io.BytesIO(body), coding).read_all().equals(table)


def test_snapshot_dataset_parity(tmp_path, table):
    """register_snapshot works identically behind both server forms: the
    LATEST pointer resolves per request, both forms serve the current
    version's rows, and both 404 before the first commit."""
    import pyarrow.parquet as pq

    from arrow_experiments_spark.streaming.egress import register_snapshot

    snap = str(tmp_path / "snap")
    os.makedirs(os.path.join(snap, "v0"))
    pq.write_table(table, os.path.join(snap, "v0", "part-0.parquet"))
    with open(os.path.join(snap, "LATEST"), "w") as f:
        f.write("v0")

    r = DatasetRegistry()
    register_snapshot(r, "curated", snap)
    register_snapshot(r, "empty", str(tmp_path / "nosnap"))
    with front_ends(r) as fronts:
        (status, _, t_body), (_, _, a_body) = each(
            fronts, "GET", "/datasets/curated", {"accept-encoding": "identity"}
        )
        assert status == 200
        got_asgi = decode_body(io.BytesIO(a_body), "identity").read_all()
        got_threaded = decode_body(io.BytesIO(t_body), "identity").read_all()
        assert got_asgi.equals(table.select(got_asgi.column_names))
        assert got_threaded.equals(got_asgi)
        assert each(fronts, "GET", "/datasets/empty")[0][0] == 404


def test_dissociated_handshake_refused_before_the_reader_opens(table):
    """A /meta or /body request without the right ``want_data`` answers
    400 on both front-ends without opening the dataset's reader (for a
    query dataset, a Spark job); a good handshake opens it once."""
    opens = []

    def factory():
        opens.append(1)
        return table.to_reader()

    r = DatasetRegistry()
    r.register("q", factory)
    with front_ends(r) as fronts:
        for path in (
            "/datasets/q/meta",
            "/datasets/q/body",
            "/datasets/q/meta?want_data=other",
            "/datasets/q/body?want_data=",
        ):
            for status, _, body in each(fronts, "GET", path):
                assert status == 400, path
                assert json.loads(body)["expected"] == "q"
        assert opens == []
        for status, _, _ in each(fronts, "GET", "/datasets/q/meta?want_data=q"):
            assert status == 200
    assert len(opens) == 2  # one per front-end
