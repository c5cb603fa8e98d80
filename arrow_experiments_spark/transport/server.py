"""Arrow-over-HTTP egress service (SURVEY.md §2.3 / §3.1-3.2).

Endpoints (the union of the reference's protocol patterns):
  GET  /datasets/{name}               Arrow IPC stream, negotiated
                                      compression, chunked on HTTP/1.1
                                      (get_simple + get_compressed)
  GET  /datasets/{name}?multipart=1   multipart/mixed: JSON meta + Arrow
                                      stream + footnotes (get_multipart)
  GET  /datasets/{name}?columns=a,b&limit=N&batch_rows=M
                                      serve-time projection + row slice +
                                      fixed-size re-chunking (drop_column /
                                      slice / rebatch at the egress
                                      boundary; 400 on unknown column)
  GET  /catalog                       {"arrow_stream_files": [{"uri":…}]}
                                      (get_indirect)
  GET  /files/{name}                  static .arrows artifact with
  HEAD /files/{name}                  Content-Length, Accept-Ranges and
                                      byte-range support (get_range)
  POST /ingest/{name}                 Arrow IPC stream body → registered
                                      dataset (post_simple; README-only in
                                      the reference, defined here)
  GET  /datasets/{name}/describe      JSON schema + endpoint URIs — the
                                      Flight GetFlightInfo analog
                                      (dissociated-ipc control plane,
                                      SURVEY.md §3.3)
  GET  /datasets/{name}/meta          dissociated metadata stream: seq-
                                      numbered Flatbuffer message metadata
                                      (SURVEY.md §2.5; transport/dissociated.py)
  GET  /datasets/{name}/body          dissociated body stream: tagged,
                                      8-byte-padded body buffers
  GET  /query?sql=...                 ad-hoc SQL through the engine's
                                      sql_runner (enabled by
                                      serve(sql_runner=...); Catalyst-
                                      planned when fronting Spark), same
                                      negotiated Arrow egress

The server is engine-agnostic: datasets are callables returning a
``pa.RecordBatchReader`` so it can front Spark DataFrames (see
sources/arrow_ipc.py for queries and spilled results, streaming/egress.py
for micro-batches and snapshots) or plain pyarrow data in tests.
Pre-materialize-once, serve-many (reference server.py:552-555) is the
registry's caching default; its class docstring describes the two replay
seats.

One core, two front-ends: :func:`respond` holds the routes, the
content negotiation, the 406/416/CORS rules and the replay ladder, and
returns a :class:`Response` of status, headers and body chunks.  The
threaded ``http.server`` form (:class:`ArrowHttpHandler`, started by
:func:`serve`) and the ASGI form (transport/asgi.py) only read requests
and frame replies.  The threaded form speaks HTTP/1.1 with keep-alive:
fixed bodies carry Content-Length, streams are chunked, and HTTP/1.0
requests get close-delimited streams.  Request bodies arrive with a
Content-Length or chunked (:func:`read_chunked`), as an ASGI server
hands them over dechunked.
"""

from __future__ import annotations

import contextlib
import gzip
import io
import json
import mmap
import os
import re
import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa

from arrow_experiments_spark.transport.ipc_stream import (
    GZIP_LEVEL,
    decode_body,
    encode_ipc_chunks,
    write_chunked,
)
from arrow_experiments_spark.transport.multipart import (
    content_type as multipart_content_type,
    encode_multipart,
    make_boundary,
)
from arrow_experiments_spark.transport.negotiation import (
    ARROW_STREAM_CONTENT_TYPE,
    NotAcceptable,
    choose_strategy,
)

AVAILABLE_IPC_CODECS = ["zstd", "lz4"]
AVAILABLE_CODINGS = ["zstd", "br", "gzip"]

ReaderFactory = Callable[[], pa.RecordBatchReader]


def project_reader(
    reader: pa.RecordBatchReader,
    columns: list[str] | None = None,
    limit: int | None = None,
) -> pa.RecordBatchReader:
    """Egress-boundary projection + slice: select ``columns`` and stop
    after ``limit`` rows, streaming batch-by-batch (the reference's
    drop_column and slice ops applied at serve time; SURVEY.md §4 notes
    Accept-driven projection is a ``select``, never a planner rule).
    Raises KeyError on an unknown column, ValueError on a negative limit."""
    schema = reader.schema
    if columns is not None:
        missing = [c for c in columns if schema.get_field_index(c) < 0]
        if missing:
            raise KeyError(f"unknown column(s): {', '.join(missing)}")
        schema = pa.schema(
            [schema.field(c) for c in columns], metadata=schema.metadata
        )
    if limit is not None and limit < 0:
        raise ValueError("limit must be >= 0")

    def gen():
        remaining = limit
        for batch in reader:
            if remaining is not None and remaining <= 0:
                break
            if columns is not None:
                batch = batch.select(columns)
            if remaining is not None:
                if batch.num_rows > remaining:
                    batch = batch.slice(0, remaining)
                remaining -= batch.num_rows
            yield batch

    return pa.RecordBatchReader.from_batches(schema, gen())


def rebatch_iter(batches, n: int):
    """Re-chunk an iterable of record batches to fixed ``n``-row batches
    — the ONE rebatch implementation, shared by :func:`rebatch_reader`
    (serve boundary) and the executor-side spill writer
    (sources/arrow_ipc.py spill_dataframe).  Streams with O(n) memory:
    buffered rows never exceed one incoming batch + n."""
    buf: pa.Table | None = None
    for batch in batches:
        # fast path: stream already batched at n (the common case when
        # the spill writer and the serve boundary agree) — zero-copy
        if (buf is None or buf.num_rows == 0) and batch.num_rows == n:
            yield batch
            continue
        t = pa.Table.from_batches([batch])
        buf = t if buf is None else pa.concat_tables([buf, t])
        while buf.num_rows >= n:
            head = buf.slice(0, n).combine_chunks()
            yield from head.to_batches(max_chunksize=n)
            buf = buf.slice(n)
    if buf is not None and buf.num_rows:
        yield from buf.combine_chunks().to_batches(max_chunksize=n)


def rebatch_reader(reader: pa.RecordBatchReader, n: int) -> pa.RecordBatchReader:
    """Re-chunk a stream to fixed ``n``-row batches (the reference's
    rebatch op: arrow-commits.R:48-55 re-batches to 1024 rows before
    writing; servers pick 4096/6144).  Raises ValueError if ``n <= 0``."""
    if n <= 0:
        raise ValueError("batch_rows must be >= 1")
    return pa.RecordBatchReader.from_batches(reader.schema, rebatch_iter(reader, n))


class DatasetRegistry:
    """name → RecordBatchReader factory (+ optional metadata dict), and
    the one replay store in front of the factories.

    The store keeps "the bytes of dataset X under strategy S" in two
    seats, and :meth:`replay` is the one ladder over them:

    * **memory**: one ``(name, strategy)`` body map for pre-materialized
      tables (:meth:`register_table`) up to ``IDENTITY_CACHE_MAX_BYTES``,
      filled by :meth:`_memory_body`.  The identity body and its IPC
      buffer-compressed twins (``identity+zstd``/``identity+lz4``) come
      from one IPC writer; each content coding is compressed once from
      the identity body (:meth:`_compress_once`).  Concurrent requests
      send zero-copy slices of one immutable buffer: the reference's
      serve-many model (get_simple server.py:144), with no writer loop
      or encoder per request.
    * **disk**: for factory datasets.  A raw identity source spliced
      from spill files (:meth:`register_raw`), and, for datasets opted
      in with :meth:`enable_encoded_artifact`, one encoded artifact per
      strategy, teed from the first request (:meth:`tee_encoded`) or,
      for ``br`` of known identity size, compressed in one shot
      (:meth:`one_shot_fill`): nginx's gzip_static applied to spill-scale
      serves.

    A projected, re-chunked or multipart request, and a miss of every
    seat, stream from the factory's reader instead.  The lookups
    (``identity_stream``, ``encoded_slices``, ``ipc_codec_slices``,
    ``encoded_artifact_stream``) and the memory-seat entry points
    (``identity_body``, ``encoded_body``, ``ipc_codec_body``) stay
    separate methods: the traced benchmark (perfbench/spans.py) wraps
    each by name to attribute cache fills, misses and hits."""

    # pre-materialized tables up to this size keep their bodies in the
    # memory seat, and a br artifact of at most this identity size fills
    # in one shot; anything larger streams
    IDENTITY_CACHE_MAX_BYTES = 1 << 30
    # every replayed body, in memory or on disk, goes out in slices of
    # this size
    ARTIFACT_SLICE_BYTES = 1 << 20
    # The encoders are the measured knees: brotli one-shot level 2 gives
    # sf0.1 lineitem's 47 MB identity body as 12.85 MB in 0.45 s, against
    # 11.08 MB in 7.2 s at level 8, the level the streaming
    # CompressedOutputStream is stuck at (it has no level knob); gzip
    # uses the same level-4 knee the streaming path does; zstd its
    # pyarrow default.
    BR_CACHE_LEVEL = 2

    def __init__(self) -> None:
        self._factories: dict[str, ReaderFactory] = {}
        self._meta: dict[str, dict] = {}
        self._schemas: dict[str, pa.Schema] = {}
        self._files: dict[str, bytes] = {}
        self._tables: dict[str, pa.Table] = {}
        self._bodies: dict[tuple[str, str], pa.Buffer | bytes] = {}  # memory seat
        self._raw: dict[str, Callable[[], "Iterable[bytes]"]] = {}
        self._artifacts: dict[str, str] = {}  # name -> encoded-artifact dir
        self._lock = threading.Lock()

    def __contains__(self, name: str) -> bool:
        return name in self._factories

    def register(
        self,
        name: str,
        factory: ReaderFactory,
        meta: dict | None = None,
        schema: pa.Schema | None = None,
    ) -> None:
        """``schema`` lets /describe answer without invoking the factory —
        essential when the factory runs a full Spark job (a lazy query
        dataset must not execute just to report its columns)."""
        with self._lock:
            self._factories[name] = factory
            self._meta[name] = meta or {}
            if schema is not None:
                self._schemas[name] = schema
            else:
                self._schemas.pop(name, None)
            # re-registration (e.g. POST /ingest over an existing name)
            # must not keep serving the previous table's cached bytes
            self._tables.pop(name, None)
            self._bodies = {k: v for k, v in self._bodies.items() if k[0] != name}
            self._raw.pop(name, None)
            artifact_dir = self._artifacts.pop(name, None)
        if artifact_dir is not None:
            shutil.rmtree(artifact_dir, ignore_errors=True)

    def register_table(self, name: str, table: pa.Table, meta: dict | None = None) -> None:
        def factory() -> pa.RecordBatchReader:
            return pa.RecordBatchReader.from_batches(table.schema, table.to_batches())

        self.register(name, factory, meta, schema=table.schema)
        with self._lock:
            self._tables[name] = table

    def register_raw(self, name: str, raw_factory: Callable[[], Iterable[bytes]]) -> None:
        """Supplement an existing dataset with a pre-encoded identity-IPC
        byte source (e.g. mmap'd spill artifacts spliced into one stream —
        sources/arrow_ipc.py raw_spill_stream).  Plain uncompressed GETs
        then stream these bytes zero-copy instead of re-running the
        per-batch IPC writer loop; every other request shape (projection,
        rebatch, compression, multipart, dissociated) still goes through
        the batch-reader factory.  A source that also has ``nbytes`` (the
        stream's length) and ``read()`` (the whole stream, one buffer)
        lets a ``br`` artifact fill in one shot (:meth:`one_shot_fill`).
        Call AFTER register() — re-registering the name drops the raw
        source."""
        with self._lock:
            if name not in self._factories:
                raise KeyError(f"register() {name!r} before register_raw()")
            self._raw[name] = raw_factory

    def register_file(self, name: str, data: bytes) -> None:
        """Static .arrows artifact served with range support."""
        with self._lock:
            self._files[name] = data

    # ---- the ladder --------------------------------------------------------

    def replay(self, name: str, strategy: str):
        """Chunks of ``name``'s whole stream under ``strategy`` that need
        no reader, or None: the memory seat, then the raw splice (identity)
        or the encoded artifact, then a one-shot ``br`` fill teed into the
        artifact.  On None the caller encodes the factory's reader (and
        tees it, for any strategy but identity)."""
        if strategy == "identity":
            return self.identity_stream(name)
        if strategy.startswith("identity+"):
            chunks = self.ipc_codec_slices(name, strategy[len("identity+") :])
        else:
            chunks = self.encoded_slices(name, strategy)
        if chunks is None:
            chunks = self.encoded_artifact_stream(name, strategy)
        if chunks is None and (fill := self.one_shot_fill(name, strategy)) is not None:
            chunks = self.tee_encoded(name, strategy, fill)
        return chunks

    def _slices(self, body):
        """``body`` in ``ARTIFACT_SLICE_BYTES`` slices (zero-copy for a
        memoryview), or None for None: the one slicer of every seat."""
        if body is None:
            return None
        step = self.ARTIFACT_SLICE_BYTES
        return (body[i : i + step] for i in range(0, len(body), step))

    def identity_stream(self, name: str):
        """Identity-IPC byte chunks of a plain request, or None: the
        memory seat's body, else a registered raw (file-backed) source."""
        chunks = self._slices(self.identity_body(name))
        if chunks is None and (raw := self._raw.get(name)) is not None:
            chunks = raw()
        return chunks

    def encoded_slices(self, name: str, coding: str):
        """Slices of the memory seat's ``coding``-compressed body, or None."""
        return self._slices(self.encoded_body(name, coding))

    def ipc_codec_slices(self, name: str, codec: str):
        """Slices of the memory seat's IPC-``codec`` body, or None."""
        return self._slices(self.ipc_codec_body(name, codec))

    # ---- memory seat -------------------------------------------------------

    def identity_body(self, name: str) -> memoryview | None:
        """The memory seat's identity IPC body, or None."""
        return self._memory_body(name, "identity")

    def encoded_body(self, name: str, coding: str) -> memoryview | None:
        """The memory seat's body under content ``coding``, or None."""
        return self._memory_body(name, coding) if coding in AVAILABLE_CODINGS else None

    def ipc_codec_body(self, name: str, codec: str) -> memoryview | None:
        """The memory seat's IPC buffer-compressed body, or None."""
        if codec not in AVAILABLE_IPC_CODECS:
            return None
        return self._memory_body(name, f"identity+{codec}")

    def _memory_body(self, name: str, strategy: str) -> memoryview | None:
        """``name``'s body under ``strategy``, built on its first request
        and shared by every later one; None for factory datasets and
        tables over ``IDENTITY_CACHE_MAX_BYTES``."""
        key = (name, strategy)
        with self._lock:
            body = self._bodies.get(key)
            table = self._tables.get(name)
        if body is not None:
            return memoryview(body)
        if table is None or table.nbytes > self.IDENTITY_CACHE_MAX_BYTES:
            return None
        if strategy in AVAILABLE_CODINGS:
            identity = self.identity_body(name)
            if identity is None:
                return None
            body = self._compress_once(strategy, identity)
        else:  # identity, or identity+codec: compressed inside the stream
            sink = pa.BufferOutputStream()
            opts = pa.ipc.IpcWriteOptions(compression=strategy.partition("+")[2] or None)
            with pa.ipc.new_stream(sink, table.schema, options=opts) as writer:
                for batch in table.to_batches():
                    writer.write_batch(batch)
            body = sink.getvalue()
        with self._lock:
            # a table re-registered meanwhile gets this body, not the map
            if self._tables.get(name) is table:
                body = self._bodies.setdefault(key, body)
        return memoryview(body)

    def _compress_once(self, coding: str, identity) -> bytes:
        """The whole ``coding`` body of the ``identity`` IPC bytes,
        compressed in one call at the coding's knee (above)."""
        if coding == "br":
            return pa.Codec(
                "brotli", compression_level=self.BR_CACHE_LEVEL
            ).compress(identity, asbytes=True)
        if coding == "gzip":
            return gzip.compress(bytes(identity), compresslevel=GZIP_LEVEL)
        return pa.Codec("zstd").compress(identity, asbytes=True)

    # ---- disk seat ---------------------------------------------------------
    #
    # OPT-IN ONLY: a factory may be non-deterministic (live query, stream
    # snapshot), so no encoded artifact is written unless the caller
    # asserts determinism via enable_encoded_artifact().  Every artifact
    # lands by atomic rename when its stream completes.

    def enable_encoded_artifact(self, name: str, cache_dir: str | None = None) -> str:
        """Opt ``name`` into encoded-artifact replay; the caller asserts
        the factory's encoded output is deterministic.  Returns the cache
        dir: ``cache_dir`` when passed, else a new tempdir.  Either way
        the registry removes the dir, with everything in it, when ``name``
        is registered again, so pass a dir that holds nothing else.  Call
        AFTER register()."""
        with self._lock:
            if name not in self._factories:
                raise KeyError(f"register() {name!r} before enabling artifacts")
            if cache_dir is None:
                cache_dir = tempfile.mkdtemp(prefix=f"aes_artifact_{name}_")
            else:
                os.makedirs(cache_dir, exist_ok=True)
            self._artifacts[name] = cache_dir
        return cache_dir

    def _artifact_path(self, name: str, strategy: str) -> str | None:
        d = self._artifacts.get(name)
        if d is None:
            return None
        return os.path.join(d, re.sub(r"[^A-Za-z0-9+_-]", "_", strategy) + ".bin")

    def encoded_artifact_stream(self, name: str, strategy: str):
        """mmap'd slices of a completed encoded artifact, or None."""
        path = self._artifact_path(name, strategy)
        if path is None or not os.path.exists(path):
            return None

        def slices():
            with open(path, "rb") as fh:
                if os.fstat(fh.fileno()).st_size == 0:
                    return
                with mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as mm:
                    yield from self._slices(mm)

        return slices()

    def tee_encoded(self, name: str, strategy: str, chunks):
        """Pass ``chunks`` through while writing them to the artifact
        cache; the file lands atomically only when the stream completes
        (a broken/aborted encode leaves no artifact).  No-op passthrough
        for datasets not opted in."""
        path = self._artifact_path(name, strategy)
        if path is None:
            return chunks

        def tee():
            tmp = f"{path}.tmp{uuid.uuid4().hex[:8]}"
            ok = False
            try:
                with open(tmp, "wb") as fh:
                    for chunk in chunks:
                        fh.write(chunk)
                        yield chunk
                ok = True
            finally:
                if ok:
                    os.replace(tmp, path)
                else:
                    with contextlib.suppress(OSError):
                        os.unlink(tmp)

        return tee()

    def one_shot_fill(self, name: str, strategy: str):
        """Chunks of the ``br`` body of an opted-in dataset, compressed
        in one call at ``BR_CACHE_LEVEL`` from its whole identity stream
        read into one Arrow buffer; the caller tees them into the
        artifact.  None unless ``strategy`` is ``br``, ``name`` is opted
        in, and its identity stream's length is known before encoding
        (a raw source that reads itself whole: the spliced spill files)
        and at most ``IDENTITY_CACHE_MAX_BYTES``.  Other codings stream
        at their knees already; a pre-materialized table under the cap
        never gets here, the memory seat answers it first."""
        if strategy != "br" or self._artifact_path(name, strategy) is None:
            return None
        raw = self._raw.get(name)
        nbytes = getattr(raw, "nbytes", None)
        if nbytes is None or nbytes > self.IDENTITY_CACHE_MAX_BYTES:
            return None

        def chunks():
            yield from self._slices(memoryview(self._compress_once(strategy, raw.read())))

        return chunks()

    def reader(self, name: str) -> pa.RecordBatchReader | None:
        factory = self._factories.get(name)
        return factory() if factory else None

    def schema(self, name: str) -> pa.Schema | None:
        """Schema without side effects where known; falls back to opening
        the reader (which may execute the underlying query)."""
        if name in self._schemas:
            return self._schemas[name]
        reader = self.reader(name)
        return reader.schema if reader is not None else None

    def meta(self, name: str) -> dict:
        return self._meta.get(name, {})

    def names(self) -> list[str]:
        return sorted(self._factories)

    def file(self, name: str) -> bytes | None:
        return self._files.get(name)

    def file_names(self) -> list[str]:
        return sorted(self._files)


_RANGE_RE = re.compile(r"bytes=(\d*)-(\d*)$")


def resolve_range(header: str, total: int) -> tuple[int, int] | None:
    """Parse a single-range ``Range`` header against a ``total``-byte body.
    Returns (start, end) inclusive, or None for an unsatisfiable/malformed
    range (the caller answers 416 with ``Content-Range: bytes */total``)."""
    m = _RANGE_RE.match(header.strip())
    if not m or not any(m.groups()):
        return None
    start_s, end_s = m.groups()
    if start_s:
        start = int(start_s)
        end = int(end_s) if end_s else total - 1
    else:  # suffix range: last N bytes
        start = max(total - int(end_s), 0)
        end = total - 1
    end = min(end, total - 1)
    if start > end or start >= total:
        return None
    return start, end


_CONTENT_LENGTH_RE = re.compile(r"[0-9]+")


def content_length(headers) -> int | None:
    """The request body's length: 0 when ``Content-Length`` is absent,
    None when it is not a non-negative decimal integer."""
    value = headers.get("Content-Length", "0").strip()
    return int(value) if _CONTENT_LENGTH_RE.fullmatch(value) else None


_CHUNK_SIZE_RE = re.compile(rb"[0-9A-Fa-f]+")


def read_chunked(rfile) -> bytes | None:
    """An HTTP/1.1 chunked request body read off ``rfile`` (the inverse of
    ``write_chunked``): chunk extensions and trailer fields are dropped.
    None when the framing is malformed or the stream ends early."""
    parts = []
    while True:
        line = rfile.readline(1 << 16)
        size = line.split(b";", 1)[0].strip()
        if not line.endswith(b"\n") or not _CHUNK_SIZE_RE.fullmatch(size):
            return None
        n = int(size, 16)
        if n == 0:
            break
        data = rfile.read(n)
        if len(data) != n or rfile.readline(3) not in (b"\r\n", b"\n"):
            return None
        parts.append(data)
    while (trailer := rfile.readline(1 << 16)) not in (b"\r\n", b"\n"):
        if not trailer.endswith(b"\n"):
            return None
    return b"".join(parts)


# ---- the request core: routing, negotiation and the replay ladder ----------


@dataclass
class Response:
    """One reply of :func:`respond`.  ``chunks`` is the body as bytes-like
    pieces (a lazy stream for Arrow replies); ``length`` is the
    Content-Length when known up front — for HEAD it is the length of the
    body not sent — and None for a stream the front-end frames itself."""

    status: int
    headers: list[tuple[str, str]]
    chunks: Iterable
    length: int | None = None


CORS_HEADERS = [
    ("Access-Control-Allow-Origin", "*"),
    ("Access-Control-Allow-Methods", "GET, POST"),
    ("Access-Control-Allow-Headers", "Content-Type"),
]


def _fixed(status: int, headers=(), body=b"", length: int | None = None) -> Response:
    return Response(
        status, list(headers), [body] if body else [],
        len(body) if length is None else length,
    )


def _json(obj, status: int = 200) -> Response:
    return _fixed(status, [("Content-Type", "application/json")], json.dumps(obj).encode())


def _not_acceptable(why: str, headers) -> Response:
    msg = f"Not Acceptable: {why}\n"
    for h in ("Accept", "Accept-Encoding"):
        v = headers.get(h)
        if v is not None:
            msg += f"`{h}` header was {v!r}.\n"
    return _fixed(406, [("Content-Type", "text/plain")], msg.encode())


def respond(
    method: str,
    path: str,
    query: str,
    headers,
    body: bytes | None,
    http10: bool,
    *,
    registry: DatasetRegistry,
    cors: bool,
    sql_runner,
) -> Response:
    """Answer one request — the protocol both front-ends share.

    ``headers`` is any case-insensitive mapping with ``.get`` (the
    threaded form's ``HTTPMessage``, the ASGI form's ``Message``);
    ``query`` is the raw query string; ``http10`` selects the HTTP/1.0
    negotiation default (identity) over the HTTP/1.1 one (gzip); ``body``
    is None when the front-end could not decode the body's framing.  The
    front-end only frames the returned :class:`Response` on its wire."""
    try:
        if body is None:
            resp = _json({"error": "malformed chunked request body"}, status=400)
        else:
            resp = _route(
                method, path, query, headers, body, http10, registry, sql_runner
            )
    except NotAcceptable as e:
        resp = _not_acceptable(str(e), headers)
    if cors:
        resp.headers += CORS_HEADERS
    return resp


def _route(method, path, query, headers, body, http10, registry, sql_runner) -> Response:
    params = dict(p.split("=", 1) if "=" in p else (p, "1") for p in query.split("&") if p)
    if method not in ("GET", "HEAD", "POST"):
        return _fixed(501)
    if method == "POST" and path.startswith("/ingest/"):
        return _ingest(registry, path[len("/ingest/") :], headers, body)
    if method != "POST" and path.startswith("/files/"):
        return _file(registry, path[len("/files/") :], headers, head=method == "HEAD")
    if method != "GET":
        return _fixed(404)
    if path == "/query":
        return _query(sql_runner, params, headers, http10)
    if path == "/catalog":
        host = headers.get("Host", "localhost")
        return _json(
            {
                "arrow_stream_files": [
                    {"uri": f"http://{host}/files/{n}"} for n in registry.file_names()
                ]
                + [{"uri": f"http://{host}/datasets/{n}"} for n in registry.names()]
            }
        )
    if path.startswith("/datasets/"):
        name = path[len("/datasets/") :]
        if name.endswith("/describe"):
            return _describe(registry, name[: -len("/describe")], headers)
        if name.endswith(("/meta", "/body")):
            name, _, which = name.rpartition("/")
            return _dissociated(registry, name, which, params)
        return _dataset(registry, name, params, headers, http10)
    return _fixed(404)


def _describe(registry: DatasetRegistry, name: str, headers) -> Response:
    schema = registry.schema(name)
    if schema is None:
        return _fixed(404)
    host = headers.get("Host", "localhost")
    return _json(
        {
            "name": name,
            "schema": [
                {"name": f.name, "type": str(f.type), "nullable": f.nullable}
                for f in schema
            ],
            # FlightInfo carries one endpoint with *two* locations (ctrl
            # + data URI) — cudf-flight-server.cc:349-371; ours are the
            # single-stream URI plus the dissociated meta/body pair.
            # the meta/body URIs carry the want_data ident the client
            # must echo — the handshake of the dissociated protocol
            # (client sends the ident, server probes it to pick its
            # stream role: cudf-flight-server.cc:115-135, client :66-74)
            "endpoints": [
                {"uri": f"http://{host}/datasets/{name}"},
                {
                    "meta_uri": f"http://{host}/datasets/{name}/meta?want_data={name}",
                    "body_uri": f"http://{host}/datasets/{name}/body?want_data={name}",
                },
            ],
            "metadata": registry.meta(name),
            # serve-time query params the dataset endpoint accepts
            "params": ["columns", "limit", "batch_rows", "multipart"],
        }
    )


def _dissociated(registry: DatasetRegistry, name: str, which: str, params) -> Response:
    from arrow_experiments_spark.transport.dissociated import (
        encode_body_stream,
        encode_meta_stream,
    )

    if name not in registry:
        return _fixed(404)
    # want_data handshake: the client must echo the dataset ident from
    # the describe endpoint before either stream is served (the
    # reference's tag probe, cudf-flight-server.cc:115-135), and before
    # the reader opens: a query dataset's reader runs its Spark job.
    if params.get("want_data") != name:
        return _json(
            {
                "error": "want_data handshake required",
                "expected": name,
                "got": params.get("want_data"),
            },
            status=400,
        )
    reader = registry.reader(name)
    if reader is None:
        return _fixed(404)
    encode = encode_meta_stream if which == "meta" else encode_body_stream
    return Response(200, [("Content-Type", "application/octet-stream")], encode(reader))


def _query(sql_runner, params, headers, http10: bool) -> Response:
    """Ad-hoc SQL entry point (SURVEY.md §7 Phase 1): ``GET
    /query?sql=...`` plans the statement through the engine's
    ``sql_runner`` (Catalyst, when the server fronts a SparkSession)
    and streams the result with the same negotiated Arrow egress as
    any dataset.  404 when the server was started without a runner;
    400 with the planner's message on bad SQL."""
    if sql_runner is None:
        return _fixed(404)
    from urllib.parse import unquote_plus

    sql = unquote_plus(params.get("sql", "")).strip()
    if not sql:
        return _json({"error": "missing sql parameter"}, status=400)
    try:
        reader = sql_runner(sql)
    except Exception as e:  # noqa: BLE001 — planner errors → 400
        return _json({"error": str(e).split("\n")[0][:500]}, status=400)
    return _arrow_stream(reader, headers, http10)


def _dataset(registry: DatasetRegistry, name: str, params, headers, http10: bool) -> Response:
    if name not in registry:
        return _fixed(404)
    if not any(k in params for k in ("columns", "limit", "batch_rows", "multipart")):
        # the whole dataset: replayed when stored, with no reader opened
        return _arrow_stream(None, headers, http10, registry, name)
    reader = registry.reader(name)
    if reader is None:  # a factory with nothing to serve yet
        return _fixed(404)

    # ?columns=a,b&limit=N&batch_rows=M — serve-time projection, slice,
    # and re-chunking (applies to both plain-stream and multipart paths)
    if "columns" in params or "limit" in params or "batch_rows" in params:
        from urllib.parse import unquote

        try:
            cols = (
                [unquote(c) for c in params["columns"].split(",") if c]
                if "columns" in params
                else None
            )
            limit = int(params["limit"]) if "limit" in params else None
            if cols is not None or limit is not None:
                reader = project_reader(reader, cols, limit)
            if "batch_rows" in params:
                reader = rebatch_reader(reader, int(params["batch_rows"]))
        except (KeyError, ValueError) as e:
            return _json({"error": str(e)}, status=400)

    if params.get("multipart"):
        boundary = make_boundary()
        meta = {"name": name, **registry.meta(name)}
        return Response(
            200,
            [("Content-Type", multipart_content_type(boundary))],
            encode_multipart(boundary, meta, reader.schema, reader),
        )
    return _arrow_stream(reader, headers, http10)


def _arrow_stream(
    reader: pa.RecordBatchReader | None,
    headers,
    http10: bool,
    registry: DatasetRegistry | None = None,
    name: str | None = None,
) -> Response:
    """Negotiate a strategy and stream ``reader`` — the shared tail of
    the dataset and ad-hoc query routes.  Raises NotAcceptable (406).

    ``name`` marks a plain request for the whole registered dataset,
    answered by :meth:`DatasetRegistry.replay` when a stored form exists.
    Only on a miss is the reader (None here) opened from the registry
    (404 when its factory returns None); its stream is encoded live and,
    for any strategy but identity, teed into the artifact of an opted-in
    dataset."""
    default = "identity" if http10 else "gzip"
    strategy = choose_strategy(headers, AVAILABLE_IPC_CODECS, AVAILABLE_CODINGS, default)
    if strategy is None:
        raise NotAcceptable("no available coding is acceptable")
    chunks = registry.replay(name, strategy) if name is not None else None
    if chunks is None:
        if reader is None and (reader := registry.reader(name)) is None:
            return _fixed(404)
        chunks = encode_ipc_chunks(reader.schema, reader, strategy)
        if name is not None and strategy != "identity":
            chunks = registry.tee_encoded(name, strategy, chunks)

    if strategy.startswith("identity+"):
        # the compression is inside the IPC stream, declared by the
        # codecs content-type parameter — no Content-Encoding
        out = [("Content-Type", f"{ARROW_STREAM_CONTENT_TYPE}; codecs={strategy[9:]}")]
    else:
        out = [("Content-Type", ARROW_STREAM_CONTENT_TYPE)]
        if strategy != "identity":
            out.append(("Content-Encoding", strategy))
    out.append(("Content-Disposition", 'attachment; filename="output.arrows"'))
    return Response(200, out, chunks)


def _file(registry: DatasetRegistry, name: str, headers, head: bool) -> Response:
    data = registry.file(name)
    if data is None:
        return _fixed(404)
    total = len(data)
    rng = headers.get("Range")
    if rng and not head:
        resolved = resolve_range(rng, total)
        if resolved is None:
            return _fixed(416, [("Content-Range", f"bytes */{total}")])
        start, end = resolved
        return _fixed(
            206,
            [
                ("Content-Type", ARROW_STREAM_CONTENT_TYPE),
                ("Content-Range", f"bytes {start}-{end}/{total}"),
                ("Accept-Ranges", "bytes"),
            ],
            memoryview(data)[start : end + 1],
        )
    return _fixed(
        200,
        [("Content-Type", ARROW_STREAM_CONTENT_TYPE), ("Accept-Ranges", "bytes")],
        b"" if head else data,
        length=total,
    )


def _ingest(registry: DatasetRegistry, name: str, headers, body: bytes) -> Response:
    if content_length(headers) is None:
        return _json({"error": "malformed Content-Length"}, status=400)
    ctype = headers.get("Content-Type", "")
    meta: dict = {}
    try:
        if ctype.lower().startswith("multipart/form-data"):
            # post_multipart (http/post_multipart/README.md:22): JSON
            # metadata part + Arrow IPC stream part in one form body.
            from arrow_experiments_spark.transport.multipart import (
                parse_multipart,
                read_arrow_part,
            )

            parts = parse_multipart(body, ctype)
            if "application/json" in parts:
                meta = json.loads(parts["application/json"][0])
                if not isinstance(meta, dict):
                    raise ValueError("metadata part must be a JSON object")
            tbl = read_arrow_part(parts)
        else:
            # post_simple: the body IS the (optionally content-coded)
            # Arrow IPC stream.
            coding = headers.get("Content-Encoding", "identity")
            tbl = decode_body(io.BytesIO(body), coding).read_all()
    except Exception as e:  # malformed stream / malformed parts
        return _json({"error": str(e)}, status=400)
    registry.register_table(name, tbl, meta=meta or None)
    return _json(
        {
            "name": name,
            "rows": tbl.num_rows,
            "columns": tbl.num_columns,
            "metadata": meta,
        }
    )


# ---- the threaded front-end --------------------------------------------------


class ArrowHttpHandler(BaseHTTPRequestHandler):
    """Threaded adapter over :func:`respond`: reads the request, then frames
    the reply — Content-Length for fixed bodies, chunked streams on
    HTTP/1.1 (whose connections stay open for the next request), and
    close-delimited streams on HTTP/1.0.  Registry slices reach
    ``sendall`` as memoryviews, with no copy."""

    protocol_version = "HTTP/1.1"
    registry: DatasetRegistry  # set by serve()
    enable_cors: bool = False
    # optional ad-hoc SQL entry point: str -> RecordBatchReader (set by
    # serve(sql_runner=...); None disables GET /query)
    sql_runner = None

    def do_GET(self) -> None:  # noqa: N802 (stdlib API)
        self._reply("GET")

    def do_HEAD(self) -> None:  # noqa: N802
        self._reply("HEAD")

    def do_POST(self) -> None:  # noqa: N802
        self._reply("POST")

    def _reply(self, method: str) -> None:
        path, _, query = self.path.partition("?")
        http10 = self.request_version == "HTTP/1.0"
        if "chunked" in self.headers.get("Transfer-Encoding", "").lower():
            # chunked framing overrides any Content-Length (RFC 9112 §6.3)
            body = read_chunked(self.rfile)
            unread = body is None
        else:
            length = content_length(self.headers)
            body = self.rfile.read(length) if length else b""
            unread = length is None  # a body of unknown size is left unread
        resp = respond(
            method, path, query, self.headers, body, http10,
            registry=self.registry, cors=self.enable_cors, sql_runner=self.sql_runner,
        )
        self.send_response(resp.status)
        for k, v in resp.headers:
            self.send_header(k, v)
        if unread:  # the next request's start is unknown
            self.send_header("Connection", "close")
        if resp.length is not None:
            self.send_header("Content-Length", str(resp.length))
        elif not http10:
            self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()
        if http10:
            self.close_connection = True
        if resp.length is None and not http10:
            write_chunked(self.wfile, resp.chunks)
        else:
            for chunk in resp.chunks:
                self.wfile.write(chunk)

    def log_message(self, fmt: str, *args) -> None:  # quiet by default
        pass


def serve(
    registry: DatasetRegistry,
    host: str = "127.0.0.1",
    port: int = 0,
    cors: bool = False,
    sql_runner=None,
) -> ThreadingHTTPServer:
    """Start the server on a background thread; returns the server object
    (``server_address`` carries the bound port when port=0).  With
    ``sql_runner`` (str -> RecordBatchReader) the server also answers
    ``GET /query?sql=...``."""
    handler = type(
        "BoundArrowHttpHandler",
        (ArrowHttpHandler,),
        {"registry": registry, "enable_cors": cors, "sql_runner": staticmethod(sql_runner) if sql_runner else None},
    )
    httpd = ThreadingHTTPServer((host, port), handler)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    return httpd
