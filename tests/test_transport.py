"""Protocol conformance tests (SURVEY.md §5 item 4): negotiation matrix,
chunked Arrow streaming, 406s, multipart, catalog/indirect, byte ranges,
POST ingest — all against the in-process server with pyarrow data (no
Spark needed)."""

from __future__ import annotations

import io
import urllib.error
import urllib.request

import pyarrow as pa
import pytest

from arrow_experiments_spark.transport.client import (
    fetch_arrow,
    fetch_catalog,
    fetch_indirect,
    fetch_range,
    fetch_resume,
)
from arrow_experiments_spark.transport.ipc_stream import encode_ipc_chunks
from arrow_experiments_spark.transport.multipart import parse_multipart, read_arrow_part
from arrow_experiments_spark.transport.negotiation import (
    NotAcceptable,
    choose_content_coding,
    choose_ipc_codec,
    choose_strategy,
    parse_list_header,
)
from arrow_experiments_spark.transport.server import DatasetRegistry, serve


@pytest.fixture(scope="module")
def table() -> pa.Table:
    n = 10_000
    return pa.table(
        {
            "a": pa.array(range(n), pa.int64()),
            "b": pa.array([i * 2 for i in range(n)], pa.int64()),
            "s": pa.array([f"row{i}" for i in range(n)]),
        }
    )


@pytest.fixture(scope="module")
def server(table):
    registry = DatasetRegistry()
    registry.register_table("bench", table, meta={"description": "test data"})
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        for b in table.to_batches(max_chunksize=1000):
            w.write_batch(b)
    registry.register_file("bench.arrows", sink.getvalue())
    httpd = serve(registry)
    host, port = httpd.server_address
    yield f"http://{host}:{port}"
    httpd.shutdown()


# ---- negotiation unit tests ----------------------------------------------


def test_parse_list_header_basic():
    got = parse_list_header("Accept", 'application/vnd.apache.arrow.stream; codecs="zstd, lz4"')
    assert got == [("application/vnd.apache.arrow.stream", {"codecs": "zstd, lz4"})]


def test_parse_list_header_multi():
    got = parse_list_header("Accept-Encoding", "gzip;q=0.5, br, *;q=0.1")
    assert got == [("gzip", {"q": "0.5"}), ("br", {}), ("*", {"q": "0.1"})]


def test_parse_list_header_malformed():
    with pytest.raises(NotAcceptable):
        parse_list_header("Accept", "application/json\x01")


def test_choose_ipc_codec():
    avail = ["zstd", "lz4"]
    accept = 'application/vnd.apache.arrow.stream; codecs="lz4"'
    assert choose_ipc_codec(accept, avail, None) == "lz4"
    # wildcard media range carries codecs too
    assert choose_ipc_codec('*/*; codecs="zstd"', avail, None) == "zstd"
    # no codecs param → default
    assert choose_ipc_codec("application/vnd.apache.arrow.stream", avail, "zstd") == "zstd"
    assert choose_ipc_codec(None, avail, None) is None
    # explicit empty codecs = refuse compression
    assert choose_ipc_codec('*/*; codecs=""', avail, "zstd") is None


def test_choose_content_coding():
    avail = ["zstd", "br", "gzip"]
    assert choose_content_coding("gzip", avail) == "gzip"
    # server preference among max-q
    assert choose_content_coding("gzip, zstd", avail) == "zstd"
    # q-values override preference
    assert choose_content_coding("gzip;q=1.0, zstd;q=0.5", avail) == "gzip"
    # identity always acceptable unless q=0
    assert choose_content_coding("nonexistent", avail) == "identity"
    assert choose_content_coding("*;q=0", avail) is None
    assert choose_content_coding("identity;q=0, *;q=0", avail) is None
    # wildcard enables everything → server preference
    assert choose_content_coding("*", avail) == "zstd"


def test_choose_strategy_merge():
    avail_ipc, avail_http = ["zstd", "lz4"], ["zstd", "br", "gzip"]
    headers = {"Accept": '*/*; codecs="zstd"', "Accept-Encoding": "gzip"}
    assert choose_strategy(headers, avail_ipc, avail_http, "gzip") == "identity+zstd"
    headers = {"Accept-Encoding": "br"}
    assert choose_strategy(headers, avail_ipc, avail_http, "gzip") == "br"
    assert choose_strategy({}, avail_ipc, avail_http, "gzip") == "gzip"


# ---- IPC chunk encoding ---------------------------------------------------


@pytest.mark.parametrize("strategy", ["identity", "identity+zstd", "identity+lz4", "gzip", "zstd", "br"])
def test_encode_decode_roundtrip(table, strategy):
    chunks = list(
        encode_ipc_chunks(table.schema, table.to_batches(max_chunksize=512), strategy)
    )
    assert chunks
    body = b"".join(chunks)
    from arrow_experiments_spark.transport.ipc_stream import decode_body

    got = decode_body(io.BytesIO(body), strategy).read_all()
    assert got.equals(table)


# ---- end-to-end over HTTP -------------------------------------------------


def test_get_identity(server, table):
    tbl, metrics = fetch_arrow(f"{server}/datasets/bench", accept_encoding="identity")
    assert tbl.equals(table)
    assert metrics.batches >= 1
    assert metrics.content_encoding == "identity"
    assert "record batches received" in metrics.summary()


@pytest.mark.parametrize("coding", ["gzip", "zstd", "br"])
def test_get_http_compressed(server, table, coding):
    tbl, metrics = fetch_arrow(f"{server}/datasets/bench", accept_encoding=coding)
    assert metrics.content_encoding == coding
    assert tbl.equals(table)


@pytest.mark.parametrize("codec", ["zstd", "lz4"])
def test_get_ipc_codec(server, table, codec):
    tbl, metrics = fetch_arrow(
        f"{server}/datasets/bench",
        accept=f'application/vnd.apache.arrow.stream; codecs="{codec}"',
    )
    assert f"codecs={codec}" in metrics.content_type
    assert metrics.content_encoding == "identity"
    assert tbl.equals(table)


def test_406_on_unacceptable(server):
    req = urllib.request.Request(
        f"{server}/datasets/bench", headers={"Accept-Encoding": "identity;q=0, *;q=0"}
    )
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        urllib.request.urlopen(req)
    assert exc_info.value.code == 406
    body = exc_info.value.read().decode()
    assert "Accept-Encoding" in body


def test_406_on_malformed_header(server):
    req = urllib.request.Request(
        f"{server}/datasets/bench", headers={"Accept-Encoding": "gzip;q=banana"}
    )
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        urllib.request.urlopen(req)
    assert exc_info.value.code == 406


def test_404_on_unknown_dataset(server):
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        urllib.request.urlopen(f"{server}/datasets/nope")
    assert exc_info.value.code == 404


def test_catalog_and_indirect(server, table):
    uris = fetch_catalog(f"{server}/catalog")
    assert any(u.endswith("/files/bench.arrows") for u in uris)
    assert any(u.endswith("/datasets/bench") for u in uris)
    results = fetch_indirect(f"{server}/catalog")
    got = results["bench"][0]
    assert got.equals(table)


def test_describe(server):
    import json

    with urllib.request.urlopen(f"{server}/datasets/bench/describe") as resp:
        doc = json.loads(resp.read())
    assert doc["name"] == "bench"
    assert [f["name"] for f in doc["schema"]] == ["a", "b", "s"]
    assert doc["endpoints"][0]["uri"].endswith("/datasets/bench")
    assert doc["metadata"]["description"] == "test data"


def test_range_fetch(server, table):
    data, total = fetch_range(f"{server}/files/bench.arrows", n_parts=4)
    assert len(data) == total
    got = pa.ipc.open_stream(io.BytesIO(data)).read_all()
    assert got.equals(table)


def test_projection_and_limit(server, table):
    got, _ = fetch_arrow(
        f"{server}/datasets/bench?columns=a,s&limit=100",
        accept_encoding="identity",
    )
    assert got.column_names == ["a", "s"]
    assert got.num_rows == 100
    assert got.column("a").to_pylist() == table.column("a").to_pylist()[:100]
    # limit alone keeps the full schema
    got2, _ = fetch_arrow(
        f"{server}/datasets/bench?limit=7", accept_encoding="identity"
    )
    assert got2.column_names == table.column_names and got2.num_rows == 7
    # unknown column / bad limit → 400
    for bad in ("columns=nope", "limit=-1", "limit=banana"):
        with pytest.raises(urllib.error.HTTPError) as exc_info:
            urllib.request.urlopen(f"{server}/datasets/bench?{bad}")
        assert exc_info.value.code == 400


def test_rebatch_param(server, table):
    # serve-time re-chunking to fixed 128-row batches (reference rebatch op)
    url = f"{server}/datasets/bench?batch_rows=128"
    req = urllib.request.Request(url, headers={"Accept-Encoding": "identity"})
    with urllib.request.urlopen(req) as resp:
        got_batches = list(pa.ipc.open_stream(resp))
    n = table.num_rows
    assert [b.num_rows for b in got_batches] == [128] * (n // 128) + (
        [n % 128] if n % 128 else []
    )
    assert pa.Table.from_batches(got_batches).equals(table)
    # composes with projection+limit; bad value → 400
    got, _ = fetch_arrow(
        f"{server}/datasets/bench?columns=a&limit=300&batch_rows=100",
        accept_encoding="identity",
    )
    assert got.num_rows == 300 and got.column_names == ["a"]
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        urllib.request.urlopen(f"{server}/datasets/bench?batch_rows=0")
    assert exc_info.value.code == 400


def test_resume_fetch(server, table):
    # interrupt after 1000 bytes, then resume from that offset (curl -C -)
    full, total = fetch_range(f"{server}/files/bench.arrows", n_parts=1)
    partial = full[:1000]
    data, total2 = fetch_resume(f"{server}/files/bench.arrows", partial)
    assert total2 == total and len(data) == total
    got = pa.ipc.open_stream(io.BytesIO(data)).read_all()
    assert got.equals(table)
    # already-complete partial: no extra GET needed, returns as-is
    data2, _ = fetch_resume(f"{server}/files/bench.arrows", full)
    assert data2 == full


def test_range_suffix_and_416(server):
    # suffix range
    req = urllib.request.Request(
        f"{server}/files/bench.arrows", headers={"Range": "bytes=-100"}
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 206
        assert len(resp.read()) == 100
    # unsatisfiable
    req = urllib.request.Request(
        f"{server}/files/bench.arrows", headers={"Range": "bytes=999999999-"}
    )
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        urllib.request.urlopen(req)
    assert exc_info.value.code == 416


def test_multipart(server, table):
    with urllib.request.urlopen(f"{server}/datasets/bench?multipart=1") as resp:
        ctype = resp.headers["Content-Type"]
        assert ctype.startswith("multipart/mixed")
        body = resp.read()
    parts = parse_multipart(body, ctype)
    import json

    meta = json.loads(parts["application/json"][0])
    assert meta["name"] == "bench"
    got = read_arrow_part(parts)
    assert got.equals(table)
    footnotes = parts["text/plain"][0].decode()
    assert "batches:" in footnotes and "elapsed:" in footnotes


def test_post_ingest_roundtrip(server, table):
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    req = urllib.request.Request(
        f"{server}/ingest/uploaded",
        data=sink.getvalue(),
        headers={"Content-Type": "application/vnd.apache.arrow.stream"},
        method="POST",
    )
    import json

    with urllib.request.urlopen(req) as resp:
        doc = json.loads(resp.read())
    assert doc["rows"] == table.num_rows
    got, _ = fetch_arrow(f"{server}/datasets/uploaded", accept_encoding="identity")
    assert got.equals(table)


def test_post_multipart_ingest_roundtrip(server, table):
    """post_multipart (reference http/post_multipart/README.md:22):
    multipart/form-data body with a JSON metadata part + Arrow stream
    part; metadata lands on the registered dataset."""
    from arrow_experiments_spark.transport.client import post_arrow

    meta = {"source": "unit-test", "license": "CC0"}
    ack = post_arrow(f"{server}/ingest/with_meta", table, meta=meta)
    assert ack["rows"] == table.num_rows
    assert ack["metadata"] == meta
    got, _ = fetch_arrow(f"{server}/datasets/with_meta", accept_encoding="identity")
    assert got.equals(table)
    # metadata is discoverable through the describe endpoint
    import json

    with urllib.request.urlopen(f"{server}/datasets/with_meta/describe") as resp:
        doc = json.loads(resp.read())
    assert doc["metadata"] == meta


def test_post_multipart_malformed_is_400(server):
    req = urllib.request.Request(
        f"{server}/ingest/bad",
        data=b"--nope\r\nnot a real part\r\n",
        headers={"Content-Type": 'multipart/form-data; boundary="nope"'},
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        urllib.request.urlopen(req)
    assert exc_info.value.code == 400


def test_fetch_close_connection(server, table):
    got, _ = fetch_arrow(
        f"{server}/datasets/bench", accept_encoding="identity", close_connection=True
    )
    assert got.equals(table)


def test_http10_unchunked(server):
    # raw HTTP/1.0 request: no Transfer-Encoding, identity default
    import socket

    host, port = server[len("http://") :].split(":")
    with socket.create_connection((host, int(port))) as sock:
        sock.sendall(b"GET /datasets/bench HTTP/1.0\r\nHost: x\r\n\r\n")
        buf = b""
        while True:
            data = sock.recv(65536)
            if not data:
                break
            buf += data
    head, _, body = buf.partition(b"\r\n\r\n")
    assert b"Transfer-Encoding" not in head
    got = pa.ipc.open_stream(io.BytesIO(body)).read_all()
    assert got.num_rows == 10_000


# ---- dissociated IPC analog (SURVEY.md §2.5) ------------------------------


def test_dissociated_roundtrip(server, table):
    """Full protocol: describe → tagged URIs (want_data handshake) →
    split-stream fetch → reassembly."""
    import json

    from arrow_experiments_spark.transport.dissociated import fetch_dissociated

    with urllib.request.urlopen(f"{server}/datasets/bench/describe") as resp:
        doc = json.loads(resp.read())
    pair = doc["endpoints"][1]
    got = fetch_dissociated(pair["meta_uri"], pair["body_uri"])
    assert got.equals(table)


def test_dissociated_requires_want_data_handshake(server):
    """Without (or with a wrong) want_data ident neither stream is served —
    the reference server probes the ident tag before streaming."""
    for url in (
        f"{server}/datasets/bench/meta",
        f"{server}/datasets/bench/body?want_data=other",
    ):
        with pytest.raises(urllib.error.HTTPError) as exc_info:
            urllib.request.urlopen(url)
        assert exc_info.value.code == 400


def test_dissociated_wire_format(server, table):
    """The split streams obey the protocol: seq-contiguous metadata with a
    bodiless schema at seq 0, body frames tagged with the body bit and
    8-byte-aligned payloads."""
    from arrow_experiments_spark.transport.dissociated import (
        parse_body_stream,
        parse_meta_stream,
        reassemble,
    )

    meta_raw = urllib.request.urlopen(
        f"{server}/datasets/bench/meta?want_data=bench"
    ).read()
    body_raw = urllib.request.urlopen(
        f"{server}/datasets/bench/body?want_data=bench"
    ).read()
    meta = parse_meta_stream(meta_raw)
    body = parse_body_stream(body_raw)
    assert sorted(meta) == list(range(len(meta)))
    assert 0 not in body  # schema message has no body
    assert set(body) == set(meta) - {0}
    assert all(len(b) % 8 == 0 for b in body.values())
    assert reassemble(meta, body).equals(table)


def test_dissociated_endpoints_advertised(server):
    import json

    with urllib.request.urlopen(f"{server}/datasets/bench/describe") as resp:
        doc = json.loads(resp.read())
    pair = doc["endpoints"][1]
    assert pair["meta_uri"].endswith("/datasets/bench/meta?want_data=bench")
    assert pair["body_uri"].endswith("/datasets/bench/body?want_data=bench")


def test_dictionary_encoded_egress(table):
    """Egress-boundary dictionary encoding (get_compressed's ticker model):
    one unified dictionary for the whole stream, transparent decode on the
    client, values identical after dictionary_decode."""
    from arrow_experiments_spark.sources.arrow_ipc import dictionary_encode_columns
    from arrow_experiments_spark.transport.client import fetch_arrow
    from arrow_experiments_spark.transport.server import DatasetRegistry, serve

    enc = dictionary_encode_columns(table, ["s"])
    assert pa.types.is_dictionary(enc.schema.field("s").type)
    registry = DatasetRegistry()
    registry.register_table("dict", enc)
    httpd = serve(registry)
    host, port = httpd.server_address
    try:
        got, metrics = fetch_arrow(
            f"http://{host}:{port}/datasets/dict", accept_encoding="identity"
        )
        assert pa.types.is_dictionary(got.schema.field("s").type)
        # single unified dictionary across all batches
        dicts = {id(c.dictionary) for c in got.column("s").chunks}
        assert len({c.dictionary.to_pylist()[0] for c in got.column("s").chunks}) == 1
        decoded = got.set_column(
            got.schema.get_field_index("s"),
            "s",
            got.column("s").combine_chunks().dictionary_decode(),
        )
        assert decoded.equals(table)
    finally:
        httpd.shutdown()


def test_fetch_metrics_ipc_stats(server):
    _, metrics = fetch_arrow(f"{server}/datasets/bench", accept_encoding="identity")
    st = metrics.extra["ipc_stats"]
    assert st["num_record_batches"] == metrics.batches
    assert st["num_messages"] >= st["num_record_batches"] + 1  # schema msg
    assert st["num_dictionary_batches"] == 0


def test_concurrent_clients_all_decode_intact(server, table):
    """ThreadingHTTPServer claim: 16 concurrent fetches across mixed
    codings and both the reader and raw-file endpoints must each decode
    the complete dataset — no cross-talk between per-connection writers."""
    from concurrent.futures import ThreadPoolExecutor

    jobs = [
        (f"{server}/datasets/bench", enc)
        for enc in ("identity", "gzip", "zstd", "identity")
    ] * 3 + [(f"{server}/files/bench.arrows", "identity")] * 4

    def one(job):
        url, enc = job
        got, metrics = fetch_arrow(url, accept_encoding=enc)
        return got, metrics.batches

    with ThreadPoolExecutor(max_workers=16) as pool:
        results = list(pool.map(one, jobs))
    for got, batches in results:
        assert got.num_rows == table.num_rows
        assert batches >= 1
        assert got.select(["a", "b", "s"]).equals(table)


def test_taxi_dissociated_serving_scenario(spark, tmp_path):
    """The reference's actual dissociated serving scenario reproduced
    (dissociated-ipc/cudf-flight-server.cc:68-93): a taxi-data parquet
    (synthesized same-shape — the reference's train.parquet is an LFS
    stub), read in ~1 MiB-bounded chunks, served as meta+body streams,
    reassembled client-side and verified equal to the source file."""
    import json

    import pyarrow.parquet as pq

    from arrow_experiments_spark.sources.arrow_ipc import (
        chunked_parquet_reader,
        register_parquet_chunked,
    )
    from arrow_experiments_spark.sources.generators import gen_taxi
    from arrow_experiments_spark.transport.dissociated import fetch_dissociated
    from arrow_experiments_spark.transport.server import DatasetRegistry, serve

    path = str(tmp_path / "train.parquet")
    pq.write_table(gen_taxi(spark, rows=60_000).toArrow(), path)
    want = pq.read_table(path)

    # chunk bound: every batch decodes to ~<= 1 MiB (2x slack for pyarrow
    # buffer rounding), and the file yields multiple chunks like the
    # reference's chunked reader does on its 38.5 MB file
    batches = list(chunked_parquet_reader(path, chunk_bytes=1 << 20))
    assert len(batches) > 1
    assert all(b.nbytes <= 2 * (1 << 20) for b in batches)
    assert sum(b.num_rows for b in batches) == want.num_rows

    registry = DatasetRegistry()
    register_parquet_chunked(registry, "train.parquet", path)
    httpd = serve(registry)
    host, port = httpd.server_address
    base = f"http://{host}:{port}"
    try:
        with urllib.request.urlopen(
            f"{base}/datasets/train.parquet/describe"
        ) as resp:
            doc = json.loads(resp.read())
        pair = doc["endpoints"][1]
        got = fetch_dissociated(pair["meta_uri"], pair["body_uri"])
        assert got.num_rows == want.num_rows
        assert got.schema.equals(want.schema)
        assert got.equals(want)
    finally:
        httpd.shutdown()


def test_parallel_zstd_frames_decode_as_one_stream():
    """The zstd strategy emits independently-compressed frames; a stock
    streaming decoder must consume the concatenation as one body
    (RFC 8878 §3), and the first chunk must arrive eagerly (one frame,
    before the in-flight window fills)."""
    import pyarrow as pa

    from arrow_experiments_spark.transport.ipc_stream import (
        decode_body,
        encode_ipc_chunks,
    )

    t = pa.table(
        {
            "x": pa.array(range(3_000_000), pa.int64()),
            "s": pa.array([f"tick{i % 60}" for i in range(3_000_000)]),
        }
    )
    batches = t.to_batches(max_chunksize=6144)
    chunks = encode_ipc_chunks(t.schema, iter(batches), "zstd")
    first = next(chunks)
    assert first  # eager first frame
    body = first + b"".join(chunks)
    got = decode_body(body, "zstd").read_all()
    assert got.equals(t)


def test_identity_body_cache_matches_streamed_body(server, table):
    """The cached identity body a register_table dataset serves must be
    byte-decodable to the same table as the per-request streamed path,
    and projection/limit params must bypass the cache."""
    import urllib.request

    with urllib.request.urlopen(
        urllib.request.Request(
            f"{server}/datasets/bench",
            headers={"Accept-Encoding": "identity"},
        )
    ) as resp:
        got = pa.ipc.open_stream(resp.read()).read_all()
    assert got.equals(table)
    with urllib.request.urlopen(
        urllib.request.Request(
            f"{server}/datasets/bench?limit=10",
            headers={"Accept-Encoding": "identity"},
        )
    ) as resp:
        sliced = pa.ipc.open_stream(resp.read()).read_all()
    assert sliced.num_rows == 10


def test_identity_body_cache_invalidated_on_reregistration():
    """Re-registering a name (the POST /ingest path) must drop the cached
    identity body — the old table's bytes must not survive."""
    from arrow_experiments_spark.transport.server import DatasetRegistry

    reg = DatasetRegistry()
    t1 = pa.table({"x": pa.array([1, 2, 3], pa.int64())})
    reg.register_table("d", t1)
    body1 = reg.identity_body("d")
    assert pa.ipc.open_stream(bytes(body1)).read_all().equals(t1)
    t2 = pa.table({"x": pa.array([10, 20], pa.int64())})
    reg.register_table("d", t2)
    body2 = reg.identity_body("d")
    assert pa.ipc.open_stream(bytes(body2)).read_all().equals(t2)


def test_adhoc_sql_endpoint_with_pluggable_runner(table):
    """The /query endpoint is engine-agnostic: any str -> reader runner
    plugs in (DuckDB here, Catalyst in the CLI); bad SQL maps to 400 and
    a missing runner to 404."""
    import urllib.error
    import urllib.request
    from urllib.parse import quote_plus

    import duckdb

    con = duckdb.connect()
    con.register("bench", table.to_pandas())

    def runner(sql: str) -> pa.RecordBatchReader:
        tbl = con.execute(sql).arrow()
        if isinstance(tbl, pa.RecordBatchReader):
            return tbl
        return pa.RecordBatchReader.from_batches(tbl.schema, tbl.to_batches())

    registry = DatasetRegistry()
    httpd = serve(registry, sql_runner=runner)
    host, port = httpd.server_address
    try:
        sql = quote_plus("SELECT a, b FROM bench WHERE a < 5 ORDER BY a")
        req = urllib.request.Request(
            f"http://{host}:{port}/query?sql={sql}",
            headers={"Accept-Encoding": "identity"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.headers["Content-Type"].startswith(
                "application/vnd.apache.arrow.stream"
            )
            got = pa.ipc.open_stream(resp.read()).read_all()
        assert got.num_rows == 5
        assert got.column_names == ["a", "b"]
        with pytest.raises(urllib.error.HTTPError) as exc_info:
            urllib.request.urlopen(
                f"http://{host}:{port}/query?sql={quote_plus('SELECT nope')}"
            )
        assert exc_info.value.code == 400
    finally:
        httpd.shutdown()
    # no runner → 404
    httpd2 = serve(DatasetRegistry())
    host2, port2 = httpd2.server_address
    try:
        with pytest.raises(urllib.error.HTTPError) as exc_info:
            urllib.request.urlopen(f"http://{host2}:{port2}/query?sql=SELECT%201")
        assert exc_info.value.code == 404
    finally:
        httpd2.shutdown()


@pytest.mark.parametrize("strategy", ["identity", "gzip", "zstd", "br"])
@pytest.mark.parametrize("nrows", [0, 1])
def test_encode_decode_degenerate_geometries(strategy, nrows):
    """Schema-only (0-row) and single-row streams must round-trip under
    every coding — the gzip branch in particular must emit a valid
    member when the eager-first-chunk flush fires before any batch
    bytes exist."""
    import pyarrow as pa

    from arrow_experiments_spark.transport.ipc_stream import (
        decode_body,
        encode_ipc_chunks,
    )

    t = pa.table({"a": pa.array(range(nrows)), "b": pa.array(["x"] * nrows)})
    body = b"".join(encode_ipc_chunks(t.schema, t.to_batches(), strategy))
    got = decode_body(io.BytesIO(body), strategy).read_all()
    assert got.equals(t)


def test_gzip_first_chunk_carries_schema():
    """ADVICE r7: GzipFile writes its 10-byte member header at
    construction, so the old ``sink.tell() == 0`` eager-flush guard never
    fired and the first chunk was the bare header.  The fixed guard
    compares against the post-init header offset; the first yielded chunk
    must now sync-flush a decompressible prefix that already contains the
    complete IPC schema message (time-to-first-byte semantic, reference
    get_compressed server force-flush)."""
    import zlib

    import pyarrow as pa

    from arrow_experiments_spark.transport.ipc_stream import encode_ipc_chunks

    t = pa.table({"a": pa.array(range(200_000))})
    chunks = encode_ipc_chunks(t.schema, t.to_batches(max_chunksize=20_000), "gzip")
    try:
        first = next(chunks)
    finally:
        chunks.close()
    plain = zlib.decompressobj(wbits=31).decompress(first)
    assert plain, "first gzip chunk decompressed to nothing — flush did not fire"
    msg = pa.ipc.read_message(pa.BufferReader(plain))
    assert msg.type == "schema"


def test_multipart_streaming_parse_matches_buffered(server, table):
    """The incremental parser must agree with the buffered one on the
    server's real multipart output: same metadata, same Arrow table."""
    from arrow_experiments_spark.transport.multipart import (
        parse_multipart,
        read_arrow_part,
        stream_multipart_arrow,
    )

    with urllib.request.urlopen(f"{server}/datasets/bench?multipart=1") as resp:
        ctype = resp.headers["Content-Type"]
        body = resp.read()
    parts = parse_multipart(body, ctype)
    want = read_arrow_part(parts)
    import json as _json

    want_meta = _json.loads(parts["application/json"][0])

    def chunks():
        for i in range(0, len(body), 4096):
            yield body[i : i + 4096]

    meta, reader = stream_multipart_arrow(chunks(), ctype)
    got = reader.read_all()
    assert meta == want_meta
    assert got.equals(want)


def test_multipart_streaming_parse_is_bounded_and_incremental():
    """r7 verdict #5: a >64 MiB Arrow part must stream batch-by-batch
    with peak buffering O(part-header + chunk) — the first batch decodes
    long before the body is fully consumed, and no single buffered run
    exceeds chunk + holdback."""
    import pyarrow as pa

    from arrow_experiments_spark.transport.multipart import (
        encode_multipart,
        iter_multipart_events,
        make_boundary,
        content_type as multipart_content_type,
        stream_multipart_arrow,
    )

    # ~80 MiB of data in 40 × 2 MiB batches
    batch = pa.record_batch({"x": pa.array([bytes(1024)] * 2048)})
    boundary = make_boundary()
    ctype = multipart_content_type(boundary)
    body_chunks = list(
        encode_multipart(
            boundary, {"rows": 2048 * 40}, batch.schema, [batch] * 40
        )
    )
    total = sum(len(c) for c in body_chunks)
    assert total > 64 * 1024 * 1024

    max_chunk = max(len(c) for c in body_chunks)
    holdback = len(boundary) + 10
    biggest = 0
    for kind, payload in iter_multipart_events(iter(body_chunks), ctype):
        if kind == "data":
            biggest = max(biggest, len(payload))
    assert biggest <= max_chunk + holdback  # never part-sized buffering

    consumed = 0

    def counting():
        nonlocal consumed
        for c in body_chunks:
            consumed += 1
            yield c

    meta, reader = stream_multipart_arrow(counting(), ctype)
    first = reader.read_next_batch()
    assert first.num_rows == 2048
    assert consumed < len(body_chunks) // 2, (consumed, len(body_chunks))
    rest = sum(b.num_rows for b in reader)
    assert 2048 + rest == 2048 * 40
    assert meta == {"rows": 2048 * 40}


def test_multipart_streaming_parse_truncated_raises():
    """A body cut off mid-part must raise ValueError, not silently EOF."""
    import pytest as _pytest

    from arrow_experiments_spark.transport.multipart import (
        iter_multipart_events,
        content_type as multipart_content_type,
    )

    b = "bnd123"
    body = (
        f"--{b}\r\nContent-Type: text/plain\r\n\r\npartial data with no clo"
    ).encode()
    with _pytest.raises(ValueError, match="truncated"):
        list(iter_multipart_events(iter([body]), multipart_content_type(b)))


def test_fetch_multipart_client(server, table):
    """The client-side streaming multipart fetch: metadata decoded, Arrow
    part equal to the dataset, metrics populated (time-to-first-batch ≤
    elapsed, bytes counted)."""
    from arrow_experiments_spark.transport.client import fetch_multipart

    meta, got, metrics = fetch_multipart(f"{server}/datasets/bench?multipart=1")
    assert got.equals(table)
    assert meta.get("name") == "bench" or meta  # server meta shape
    assert metrics.batches >= 1
    assert metrics.rows == table.num_rows
    assert 0 < metrics.time_to_first_batch_sec <= metrics.elapsed_sec
    assert metrics.bytes_received > 0


def test_br_cached_replay(server, table):
    """Pre-materialized tables serve brotli from the compress-once cache
    (the streaming encoder's default level burns ~34× the CPU for the
    same ratio): two requests return byte-identical bodies, the payload
    decodes to the full table, and curl's decoder accepts it."""
    import subprocess

    from arrow_experiments_spark.transport.ipc_stream import decode_body

    req = urllib.request.Request(
        f"{server}/datasets/bench", headers={"Accept-Encoding": "br"}
    )
    bodies = []
    for _ in range(2):
        with urllib.request.urlopen(req) as resp:
            assert resp.headers["Content-Encoding"] == "br"
            bodies.append(resp.read())
    assert bodies[0] == bodies[1]  # the cached body, replayed
    got = decode_body(io.BytesIO(bodies[0]), "br").read_all()
    assert got.equals(table)
    out = subprocess.run(
        ["curl", "-sS", "--compressed", "-H", "Accept-Encoding: br",
         f"{server}/datasets/bench"],
        capture_output=True,
    )
    assert out.returncode == 0
    got_curl = pa.ipc.open_stream(out.stdout).read_all()
    assert got_curl.equals(table)


@pytest.mark.parametrize("codec", ["zstd", "lz4"])
def test_ipc_codec_cached_replay(server, table, codec):
    """r8 verdict #2: the IPC-buffer-compressed strategies
    (identity+zstd / identity+lz4) of a pre-materialized table serve
    from the encode-once cache like the HTTP codings do — two requests
    return byte-identical bodies, no Content-Encoding header (the
    compression is inside the stream, declared by the codecs
    content-type parameter), and pyarrow stream-decodes it to the full
    table."""
    req = urllib.request.Request(
        f"{server}/datasets/bench",
        headers={
            "Accept": f'application/vnd.apache.arrow.stream; codecs="{codec}"'
        },
    )
    bodies = []
    for _ in range(2):
        with urllib.request.urlopen(req) as resp:
            assert resp.headers.get("Content-Encoding") is None
            assert f"codecs={codec}" in resp.headers["Content-Type"]
            bodies.append(resp.read())
    assert bodies[0] == bodies[1]  # the cached body, replayed
    got = pa.ipc.open_stream(bodies[0]).read_all()
    assert got.equals(table)


@pytest.mark.bigmem
def test_multipart_streams_gib_scale_with_bounded_client_memory():
    """r8 verdict #8 (stretch): the incremental multipart parser at
    reference scale — a >1 GiB Arrow part (70M rows x 16 B) streamed
    through the live server's multipart endpoint and drained
    batch-by-batch (collect_table=False).  Client-side decode must not
    accumulate: the Arrow pool's net growth across the whole stream
    stays under 64 MiB (vs the ~1.1 GiB part), which is only possible
    if both the encoded-side feed parser and the decoded batches are
    O(chunk)/O(batch).  The JSON meta part arrives intact first."""
    import numpy as np

    from arrow_experiments_spark.transport.client import fetch_multipart
    from arrow_experiments_spark.transport.server import DatasetRegistry, serve

    rows = 70_000_000
    big = pa.table(
        {
            "id": pa.array(np.arange(rows, dtype=np.int64)),
            "v": pa.array(np.arange(rows, dtype=np.float64) * 0.5),
        }
    )
    assert big.nbytes > (1 << 30)
    registry = DatasetRegistry()
    registry.register_table("big", big, meta={"rows": rows})
    httpd = serve(registry)
    host, port = httpd.server_address
    try:
        before = pa.total_allocated_bytes()
        meta, none_t, m = fetch_multipart(
            f"http://{host}:{port}/datasets/big?multipart=1",
            collect_table=False,
        )
        growth = pa.total_allocated_bytes() - before
        assert none_t is None
        assert m.rows == rows
        assert m.bytes_received > (1 << 30)  # the part really was >1 GiB
        assert meta.get("rows") == rows
        assert growth < (64 << 20), f"client accumulated {growth} bytes"
    finally:
        httpd.shutdown()


def test_encoded_artifact_replay_for_opted_in_factory(tmp_path, table):
    """Disk-backed encode-once (the gzip_static pattern for spill-scale
    factory datasets): a dataset opted in via enable_encoded_artifact
    serves its first zstd response while teeing the encoded bytes to a
    cache file; the second response replays the file byte-identically
    and still stream-decodes to the full table.  A dataset NOT opted in
    never writes an artifact, and re-registering an opted-in name drops
    the cache."""
    import os

    from arrow_experiments_spark.transport.ipc_stream import decode_body
    from arrow_experiments_spark.transport.server import DatasetRegistry, serve

    def factory():
        return pa.RecordBatchReader.from_batches(table.schema, table.to_batches())

    registry = DatasetRegistry()
    registry.register("art", factory)
    registry.register("no_art", factory)
    cache_dir = registry.enable_encoded_artifact("art", str(tmp_path / "cache"))
    httpd = serve(registry)
    host, port = httpd.server_address
    try:
        def get(name):
            req = urllib.request.Request(
                f"http://{host}:{port}/datasets/{name}",
                headers={"Accept-Encoding": "zstd"},
            )
            with urllib.request.urlopen(req) as resp:
                assert resp.headers["Content-Encoding"] == "zstd"
                return resp.read()

        b1 = get("art")
        assert os.path.exists(os.path.join(cache_dir, "zstd.bin"))
        b2 = get("art")
        assert b1 == b2  # the artifact, replayed
        got = decode_body(io.BytesIO(b2), "zstd").read_all()
        assert got.equals(table)

        get("no_art")
        # nothing cached anywhere for the un-opted dataset
        assert registry.encoded_artifact_stream("no_art", "zstd") is None

        # re-registration invalidates the artifact cache
        registry.register("art", factory)
        assert not os.path.exists(os.path.join(cache_dir, "zstd.bin"))
    finally:
        httpd.shutdown()


def test_encoded_artifact_aborted_encode_leaves_no_artifact(tmp_path, table):
    """A consumer that stops mid-stream must not commit a truncated
    artifact: the tee only renames into place on clean completion."""
    import os

    from arrow_experiments_spark.transport.server import DatasetRegistry

    registry = DatasetRegistry()
    registry.register("d", lambda: pa.RecordBatchReader.from_batches(
        table.schema, table.to_batches()))
    cache_dir = registry.enable_encoded_artifact("d", str(tmp_path / "c"))
    chunks = registry.tee_encoded("d", "zstd", iter([b"a" * 100, b"b" * 100]))
    next(chunks)  # consume one chunk, then abandon
    chunks.close()
    assert not os.path.exists(os.path.join(cache_dir, "zstd.bin"))
    assert not [f for f in os.listdir(cache_dir) if f.endswith(".bin")]


def _register_spliced(registry, name, table, tmp_path) -> None:
    """``table`` as two spill files behind the raw splice."""
    from arrow_experiments_spark.sources.arrow_ipc import register_spilled_files

    files = []
    for i, part in enumerate((table.slice(0, 6000), table.slice(6000))):
        path = str(tmp_path / f"part-{i}.arrows")
        with open(path, "wb") as f, pa.ipc.new_stream(f, table.schema) as w:
            w.write_table(part, max_chunksize=1000)
        files.append(path)
    assert register_spilled_files(registry, name, files, table.schema, 1000)


def _get_body(base: str, name: str, coding: str) -> bytes:
    req = urllib.request.Request(
        f"{base}/datasets/{name}", headers={"Accept-Encoding": coding}
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.headers["Content-Encoding"] == coding
        return resp.read()


def test_br_artifact_fills_in_one_shot(tmp_path, table, monkeypatch):
    """The first ``br`` request of an opted-in spliced dataset compresses
    the whole identity stream once at BR_CACHE_LEVEL, with no streaming
    encode; the second replays the artifact byte for byte.  Other
    codings keep the streaming tee."""
    import os

    from arrow_experiments_spark.transport import server as srv
    from arrow_experiments_spark.transport.ipc_stream import decode_body

    registry = DatasetRegistry()
    _register_spliced(registry, "sp", table, tmp_path)
    cache_dir = registry.enable_encoded_artifact("sp", str(tmp_path / "cache"))
    assert registry.one_shot_fill("sp", "gzip") is None
    assert registry.one_shot_fill("sp", "zstd") is None

    def no_stream(*args, **kwargs):
        raise AssertionError("the br fill streamed")

    monkeypatch.setattr(srv, "encode_ipc_chunks", no_stream)
    httpd = serve(registry)
    base = "http://%s:%d" % httpd.server_address
    try:
        b1 = _get_body(base, "sp", "br")
        assert decode_body(io.BytesIO(b1), "br").read_all().equals(table)
        b2 = _get_body(base, "sp", "br")
        assert b2 == b1
    finally:
        httpd.shutdown()
    identity = b"".join(bytes(c) for c in registry.identity_stream("sp"))
    want = pa.Codec(
        "brotli", compression_level=DatasetRegistry.BR_CACHE_LEVEL
    ).compress(identity, asbytes=True)
    assert os.path.getsize(os.path.join(cache_dir, "br.bin")) == len(want)
    assert b1 == want


@pytest.mark.parametrize("case", ["over_cap", "unknown_size"])
def test_br_artifact_streams_without_known_size(tmp_path, table, monkeypatch, case):
    """A ``br`` artifact whose identity size is over the cap, or unknown
    before encoding (a plain factory), streams and tees as before."""
    import os

    from arrow_experiments_spark.transport import server as srv
    from arrow_experiments_spark.transport.ipc_stream import decode_body

    registry = DatasetRegistry()
    if case == "over_cap":
        _register_spliced(registry, "d", table, tmp_path)
        monkeypatch.setattr(DatasetRegistry, "IDENTITY_CACHE_MAX_BYTES", 1024)
    else:
        registry.register("d", lambda: pa.RecordBatchReader.from_batches(
            table.schema, table.to_batches()))
    cache_dir = registry.enable_encoded_artifact("d", str(tmp_path / "cache"))
    assert registry.one_shot_fill("d", "br") is None
    streamed = []
    real_encode = srv.encode_ipc_chunks

    def spy(schema, batches, strategy, *args, **kwargs):
        streamed.append(strategy)
        return real_encode(schema, batches, strategy, *args, **kwargs)

    monkeypatch.setattr(srv, "encode_ipc_chunks", spy)
    httpd = serve(registry)
    base = "http://%s:%d" % httpd.server_address
    try:
        b1 = _get_body(base, "d", "br")
        assert streamed == ["br"]
        assert decode_body(io.BytesIO(b1), "br").read_all().equals(table)
        with open(os.path.join(cache_dir, "br.bin"), "rb") as f:
            assert f.read() == b1
        assert _get_body(base, "d", "br") == b1
        assert streamed == ["br"]  # the second one replayed the artifact
    finally:
        httpd.shutdown()


def test_br_one_shot_fill_aborted_leaves_no_artifact(tmp_path, table):
    """A first ``br`` response dropped after its first chunk commits no
    artifact and leaves no temporary file."""
    import os

    from arrow_experiments_spark.transport.server import respond

    registry = DatasetRegistry()
    _register_spliced(registry, "sp", table, tmp_path)
    cache_dir = registry.enable_encoded_artifact("sp", str(tmp_path / "cache"))
    registry.ARTIFACT_SLICE_BYTES = 1024  # a body of many chunks
    resp = respond(
        "GET", "/datasets/sp", "", {"Accept-Encoding": "br"}, b"", False,
        registry=registry, cors=False, sql_runner=None,
    )
    assert ("Content-Encoding", "br") in resp.headers
    chunks = iter(resp.chunks)
    assert len(next(chunks)) == 1024
    chunks.close()
    assert os.listdir(cache_dir) == []


def test_ipc_codec_cache_invalidated_on_reregister():
    """Re-registering a name must drop its cached IPC-codec body along
    with the other cached bytes."""
    from arrow_experiments_spark.transport.server import DatasetRegistry

    reg = DatasetRegistry()
    t1 = pa.table({"x": [1, 2, 3]})
    t2 = pa.table({"x": [9, 9, 9, 9]})
    reg.register_table("d", t1)
    b1 = reg.ipc_codec_body("d", "zstd")
    assert b1 is not None
    assert pa.ipc.open_stream(bytes(b1)).read_all().equals(t1)
    reg.register_table("d", t2)
    b2 = reg.ipc_codec_body("d", "zstd")
    assert pa.ipc.open_stream(bytes(b2)).read_all().equals(t2)
    # unknown codec and factory-only datasets fall through to streaming
    assert reg.ipc_codec_body("d", "snappy") is None
    reg.register("f", lambda: pa.RecordBatchReader.from_batches(
        t1.schema, t1.to_batches()))
    assert reg.ipc_codec_body("f", "zstd") is None


_STRATEGY_HEADERS = {
    "identity": {"Accept-Encoding": "identity"},
    "identity+zstd": {
        "Accept": 'application/vnd.apache.arrow.stream; codecs="zstd"',
        "Accept-Encoding": "identity",
    },
    "identity+lz4": {
        "Accept": 'application/vnd.apache.arrow.stream; codecs="lz4"',
        "Accept-Encoding": "identity",
    },
    "gzip": {"Accept-Encoding": "gzip"},
    "br": {"Accept-Encoding": "br"},
    "zstd": {"Accept-Encoding": "zstd"},
}


def _reader_opens(seat: str, strategy: str) -> tuple[int, int]:
    """How often a cell's first and second GET open the dataset's reader:
    the memory seat never does; the splice answers identity, and fills
    ``br`` in one shot, without it; any other first GET of an opted-in
    dataset, identity of a factory too, encodes the reader and tees the
    artifact its second GET replays."""
    if seat == "table" or (seat == "spliced" and strategy in ("identity", "br")):
        return 0, 0
    return 1, 0


@pytest.mark.parametrize("strategy", list(_STRATEGY_HEADERS))
@pytest.mark.parametrize("seat", ["table", "spliced", "factory"])
def test_replay_seat_strategy_matrix(tmp_path, table, seat, strategy):
    """Every replay seat under every strategy: two GETs each decode to the
    source table, a stored cell's second body is byte-identical to its
    first, and a replay hit never opens the dataset's reader.  The
    spliced and factory seats are opted into encoded artifacts, so their
    gzip and IPC-codec artifacts are filled and replayed too."""
    from arrow_experiments_spark.transport.ipc_stream import decode_body

    registry = DatasetRegistry()
    if seat == "table":
        registry.register_table("d", table)
    else:
        if seat == "spliced":
            _register_spliced(registry, "d", table, tmp_path)
        else:
            registry.register("d", lambda: pa.RecordBatchReader.from_batches(
                table.schema, table.to_batches(max_chunksize=1000)))
        registry.enable_encoded_artifact("d", str(tmp_path / "cache"))
    opens = []
    factory = registry._factories["d"]
    registry._factories["d"] = lambda: opens.append(1) or factory()
    codec = strategy.partition("+")[2]
    httpd = serve(registry)
    base = "http://%s:%d" % httpd.server_address
    bodies, per_get = [], []
    try:
        for _ in range(2):
            before = len(opens)
            req = urllib.request.Request(
                f"{base}/datasets/d", headers=_STRATEGY_HEADERS[strategy]
            )
            with urllib.request.urlopen(req) as resp:
                assert resp.headers.get("Content-Encoding") == (
                    None if strategy.startswith("identity") else strategy
                )
                assert resp.headers["Content-Type"].endswith(f"codecs={codec}") == bool(codec)
                body = resp.read()
            per_get.append(len(opens) - before)
            assert decode_body(io.BytesIO(body), strategy).read_all().equals(table)
            bodies.append(body)
    finally:
        httpd.shutdown()
    expected = _reader_opens(seat, strategy)
    assert tuple(per_get) == expected, f"reader opened {per_get}, want {expected}"
    if expected[1] == 0:  # a stored cell: replayed byte for byte
        assert bodies[1] == bodies[0]


# ---- stored forms: incompressible bodies under gzip and br ---------------

_STORED_SIZES = [0, 1, 65_535, 65_536, 65_537, 1 << 24, (1 << 24) + 1]


def _stored_overhead(coding: str, n: int) -> int:
    """The most framing a stored body may add to ``n`` bytes: a gzip
    member's 18 bytes plus 5 per stored block (one at least), or the
    brotli stream's last byte plus 4 per uncompressed meta-block."""
    if coding == "gzip":
        return 18 + 5 * max(1, -(-n // 65_535))
    return 1 + 4 * -(-n // (1 << 24))


@pytest.mark.parametrize("coding", ["gzip", "br"])
@pytest.mark.parametrize("n", _STORED_SIZES)
def test_stored_framing_roundtrips(coding, n):
    """``_stored`` frames any length, block boundaries included, as a body
    both decoders read back whole, within the framing overhead."""
    import gzip

    import numpy as np

    from arrow_experiments_spark.transport.server import _stored

    data = np.random.default_rng(n).bytes(n)
    body = _stored(coding, data)
    assert len(body) - n <= _stored_overhead(coding, n)
    codec = "brotli" if coding == "br" else coding
    assert pa.CompressedInputStream(pa.BufferReader(body), codec).read() == data
    if coding == "gzip":
        assert gzip.decompress(body) == data


def _random_table(rows: int) -> pa.Table:
    """Random int64 columns: their IPC body saves far less than 1/8 under
    any coding."""
    import numpy as np

    rng = np.random.default_rng(rows)
    return pa.table({c: rng.integers(-(2**62), 2**62, rows) for c in "xy"})


def _ipc_body(table: pa.Table) -> pa.Buffer:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue()


@pytest.mark.parametrize("coding", ["gzip", "br"])
def test_stored_ipc_body_decodes_across_meta_blocks(coding):
    """A stored IPC stream of more than one brotli meta-block (2^24 bytes)
    decodes through the client's ``decode_body`` to its table."""
    from arrow_experiments_spark.transport.ipc_stream import decode_body
    from arrow_experiments_spark.transport.server import _stored

    table = _random_table(1_100_000)
    identity = _ipc_body(table)
    assert identity.size > 1 << 24
    body = _stored(coding, identity)
    assert len(body) - identity.size <= _stored_overhead(coding, identity.size)
    assert decode_body(pa.BufferReader(body), coding).read_all().equals(table)


@pytest.mark.parametrize("coding", ["gzip", "br"])
def test_memory_seat_keeps_the_knee_of_a_compressible_table(table, coding):
    """The fixture table saves far more than ``MIN_SAVING`` under both
    codings, so its bodies are the knees: brotli level 2, and deflate
    level 4 in a gzip member with MTIME 0."""
    import zlib

    registry = DatasetRegistry()
    registry.register_table("t", table)
    identity = bytes(registry.identity_body("t"))
    if coding == "br":
        want = pa.Codec("brotli", compression_level=2).compress(identity, asbytes=True)
    else:
        want = zlib.compress(identity, 4, wbits=31)
    assert bytes(registry.encoded_body("t", coding)) == want
    assert len(want) < len(identity) * (1 - DatasetRegistry.MIN_SAVING)


@pytest.mark.parametrize("coding", ["gzip", "br"])
def test_memory_seat_stores_an_incompressible_table(coding):
    """A table whose knee would save less than ``MIN_SAVING`` is served in
    the coding's stored form, under the coding it negotiated, and the
    second GET replays it."""
    from arrow_experiments_spark.transport.ipc_stream import decode_body
    from arrow_experiments_spark.transport.server import _stored

    table = _random_table(20_000)
    registry = DatasetRegistry()
    registry.register_table("r", table)
    identity = registry.identity_body("r")
    httpd = serve(registry)
    base = "http://%s:%d" % httpd.server_address
    try:
        bodies = [_get_body(base, "r", coding) for _ in range(2)]
    finally:
        httpd.shutdown()
    assert bodies[0] == bodies[1] == _stored(coding, identity).to_pybytes()
    assert decode_body(io.BytesIO(bodies[0]), coding).read_all().equals(table)


def test_br_one_shot_fill_of_an_incompressible_splice_is_stored(tmp_path):
    """The one-shot ``br`` fill of an opted-in spliced dataset applies the
    same floor: random data lands in the artifact in its stored form."""
    import os

    from arrow_experiments_spark.transport.ipc_stream import decode_body
    from arrow_experiments_spark.transport.server import _stored

    table = _random_table(20_000)
    registry = DatasetRegistry()
    _register_spliced(registry, "sp", table, tmp_path)
    cache_dir = registry.enable_encoded_artifact("sp", str(tmp_path / "cache"))
    httpd = serve(registry)
    base = "http://%s:%d" % httpd.server_address
    try:
        body = _get_body(base, "sp", "br")
        assert _get_body(base, "sp", "br") == body
    finally:
        httpd.shutdown()
    identity = b"".join(bytes(c) for c in registry.identity_stream("sp"))
    assert body == _stored("br", identity).to_pybytes()
    with open(os.path.join(cache_dir, "br.bin"), "rb") as f:
        assert f.read() == body
    assert decode_body(io.BytesIO(body), "br").read_all().equals(table)
