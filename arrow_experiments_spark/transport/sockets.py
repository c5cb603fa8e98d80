"""Raw-socket transport analog of the reference's UCX layer (SURVEY.md
§2.5 rows ucx_conn / ucx_server / ucx_client), carrying the Dissociated
IPC Protocol over two plain TCP connections.

The reference implements the dissociated protocol on UCX primitives:
tagged messages with probe/mask matching, Active Messages (AM) with
scatter-gather IOV sends, a listener thread feeding a pending-connection
queue with one worker per client, and a want_data handshake that lets one
server simulate a separate metadata server and body-data server
(dissociated-ipc/ucx_conn.h:29-90, ucx_server.h:34-88,
cudf-flight-server.cc:115-135).  RDMA and GPU memory do not survive a
CPU/TCP mapping (documented scope cut, SURVEY.md §3.3) — but every one of
those *messaging* semantics does, and this module reproduces them with
sockets so the dissociated path runs over a true two-connection data
plane rather than the HTTP analog's request/response pair
(transport/dissociated.py, which stays as the browser-reachable form):

  - ``SocketConn``   — ucx_conn analog: tagged send/recv with
    probe-by-mask (ucx_conn.cc ProbeForTagSync), AM send/recv, IOV
    scatter-gather sends (SendAMIov/SendTagIov), flush/close, and the
    reference's >2 GiB allocation guard (ucx_conn.cc:171-175).
  - ``SocketServer`` — ucx_server analog: listener thread → pending-
    connection queue → one worker thread per client, graceful shutdown
    via a self-connect wakeup (the ucp_worker_signal analog,
    ucx_server.cc:73-280).
  - ``connect``      — ucx_client analog (ucx_client.cc:24-73; context
    setup collapses to one socket on TCP).
  - ``DissociatedSocketServer`` / ``fetch_dissociated_sockets`` — the
    cudf-flight server/client pair: want_data handshake, seq-numbered
    5-byte-prefixed metadata AMs, body-bit tagged body frames padded to
    8 bytes, and a two-loop client (meta loop + data loop meeting in a
    seq-keyed map) that yields record batches in sequence order as soon
    as both halves of each message arrive (cudf-flight-client.cc:102-288).

Wire framing (this module's own, replacing UCX's): one frame per message,
``kind u8`` then a kind-specific header, little-endian throughout —
  AM  frame: ``<BIQ``  kind=1, am_id u32, length u64, payload
  TAG frame: ``<BQQ``  kind=2, tag u64,  length u64, payload
TCP preserves per-connection frame order; tag *matching* still works the
UCX way (mask compare against a pending queue) so out-of-order claims by
the application are honored even though the wire is ordered.
"""

from __future__ import annotations

import socket
import struct
import threading
from collections import deque
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.ipc as ipc

from arrow_experiments_spark.transport.dissociated import (
    MSG_EOS,
    MSG_METADATA,
    _BODY_BIT,
    _encapsulate,
    _messages,
    _pad8,
)

# want_data handshake tags — protocol constants of the reference
# (dissociated-ipc/cudf-flight-ucx.h:23-26): ctrl and data tag share the
# low 44 bits; the high-bits mask tells the server which role the client
# is requesting.
WANT_DATA_TAG = 0x00000DEADBA0BAB0
WANT_CTRL_TAG = 0xFFFFFDEADBA0BAB0
WANT_CTRL_MASK = 0xFFFFF00000000000

_KIND_AM = 1
_KIND_TAG = 2
_AM_HDR = struct.Struct("<BIQ")
_TAG_HDR = struct.Struct("<BQQ")

# the reference refuses AM allocations over 2 GiB (ucx_conn.cc:171-175)
_MAX_FRAME = (1 << 31) - 1

AM_ID_DISSOCIATED = 0x22  # arbitrary AM id for the metadata stream


class ConnectionClosed(ConnectionError):
    """Peer closed the connection mid-protocol."""


@dataclass(frozen=True)
class TagInfo:
    """Probe result — the ucp_tag_recv_info_t analog (sender_tag +
    length); the frame payload doubles as the recv 'handle'."""

    sender_tag: int
    length: int


class SocketConn:
    """One TCP connection with UCX-style tagged + AM messaging
    (ucx_conn.h Connection analog).

    Receive side: frames are pulled off the socket on demand and parked
    in per-kind pending queues, so an application may probe for a tag
    while AMs are in flight (and vice versa) — the socket stays ordered,
    matching stays tag/mask-based, exactly the split UCX gives you.
    Each connection is owned by one receiving loop (as in the reference:
    one worker per connection); sends are locked for multi-thread use.
    """

    def __init__(self, sock: socket.socket) -> None:
        try:
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        except OSError:
            pass  # non-TCP transports (e.g. AF_UNIX socketpair in tests)
        self._sock = sock
        self._send_lock = threading.Lock()
        self._pending_tags: deque[tuple[int, bytes]] = deque()
        self._pending_ams: deque[tuple[int, bytes]] = deque()
        self._closed = False

    # -- send side ---------------------------------------------------

    def _send_frame(self, header: bytes, buffers: tuple[bytes, ...]) -> None:
        if self._closed:
            raise ConnectionClosed("connection is closed")
        with self._send_lock:
            # scatter-gather compose, the SendAMIov/SendTagIov analog
            # (ucx_conn.cc:273-310): no concatenation of payload buffers.
            # One sendmsg writes at most the free send-buffer space, so
            # loop over the remainder — a frame larger than SO_SNDBUF
            # against a slow reader would otherwise silently truncate.
            iov = [memoryview(header), *(memoryview(b) for b in buffers)]
            while iov:
                sent = self._sock.sendmsg(iov)
                while iov and sent >= len(iov[0]):
                    sent -= len(iov[0])
                    iov.pop(0)
                if iov and sent:
                    iov[0] = iov[0][sent:]

    def send_am(self, am_id: int, *buffers: bytes) -> None:
        """Active-message send (Connection::SendAM / SendAMIov)."""
        total = sum(len(b) for b in buffers)
        if total > _MAX_FRAME:
            raise ValueError(
                f"cannot send AM greater than 2 GiB, requested: {total}"
            )
        self._send_frame(_AM_HDR.pack(_KIND_AM, am_id, total), buffers)

    def send_tag(self, tag: int, *buffers: bytes) -> None:
        """Tagged send (Connection::SendTagSync / SendTagIov)."""
        total = sum(len(b) for b in buffers)
        self._send_frame(_TAG_HDR.pack(_KIND_TAG, tag, total), buffers)

    def flush(self) -> None:
        """Connection::Flush analog — TCP sends above are synchronous, so
        nothing is buffered here; kept for API parity."""

    # -- receive side ------------------------------------------------

    def _recv_exact(self, n: int) -> bytes:
        chunks = []
        while n:
            chunk = self._sock.recv(min(n, 1 << 20))
            if not chunk:
                raise ConnectionClosed("peer closed the connection")
            chunks.append(chunk)
            n -= len(chunk)
        return b"".join(chunks)

    def _pump_one(self) -> None:
        """Read exactly one frame off the socket into its pending queue."""
        kind = self._recv_exact(1)[0]
        if kind == _KIND_AM:
            _, am_id, length = _AM_HDR.unpack(kind.to_bytes(1, "little") + self._recv_exact(_AM_HDR.size - 1))
            if length > _MAX_FRAME:
                # the RecvAM >2 GiB allocation guard (ucx_conn.cc:171-175)
                raise ValueError(
                    f"cannot allocate buffer greater than 2 GiB, requested: {length}"
                )
            self._pending_ams.append((am_id, self._recv_exact(length)))
        elif kind == _KIND_TAG:
            _, tag, length = _TAG_HDR.unpack(kind.to_bytes(1, "little") + self._recv_exact(_TAG_HDR.size - 1))
            self._pending_tags.append((tag, self._recv_exact(length)))
        else:
            raise ValueError(f"unknown frame kind: {kind}")

    def recv_am(self) -> tuple[int, bytes]:
        """Blocking AM receive → (am_id, payload) — the RecvAM analog
        (handler-callback style collapses to a pull on TCP)."""
        while not self._pending_ams:
            self._pump_one()
        return self._pending_ams.popleft()

    def probe_tag_sync(
        self, tag: int, mask: int, remove: bool = True
    ) -> tuple[TagInfo, bytes]:
        """Blocking probe for a tagged message matching ``tag`` under
        ``mask`` (Connection::ProbeForTagSync): matches when
        ``sender_tag & mask == tag & mask``.  With ``remove`` the message
        is claimed; the returned payload is the recv-handle-plus-
        RecvTagData collapsed (TCP already delivered the bytes)."""
        while True:
            for i, (sender, payload) in enumerate(self._pending_tags):
                if (sender & mask) == (tag & mask):
                    if remove:
                        del self._pending_tags[i]
                    return TagInfo(sender, len(payload)), payload
            self._pump_one()

    def close(self) -> None:
        if not self._closed:
            self._closed = True
            try:
                self._sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            self._sock.close()

    @property
    def is_closed(self) -> bool:
        return self._closed


def connect(host: str, port: int, timeout: float = 30.0) -> SocketConn:
    """ucx_client analog (ucx_client.cc:24-73): one connection, one
    'worker' — which on TCP is just the connected socket."""
    sock = socket.create_connection((host, port), timeout=timeout)
    sock.settimeout(timeout)
    return SocketConn(sock)


class SocketServer:
    """ucx_server analog: listener thread enqueues accepted connections;
    a drive thread pops the pending queue and spawns one worker thread
    per client running ``do_work`` (ucx_server.cc:73-280; the
    HandleIncomingConnection → EnqueueClient → DriveConnections →
    HandleConnection chain).  Subclass and override ``do_work``."""

    def __init__(self) -> None:
        self._listener: socket.socket | None = None
        self._listening = threading.Event()
        self._pending: deque[socket.socket] = deque()
        self._pending_lock = threading.Lock()
        self._pending_cv = threading.Condition(self._pending_lock)
        self._threads: list[threading.Thread] = []
        self._workers: list[threading.Thread] = []
        self._conns: list[SocketConn] = []

    # -- lifecycle ---------------------------------------------------

    def init(self, host: str = "127.0.0.1", port: int = 0) -> tuple[str, int]:
        self._listener = socket.create_server((host, port))
        self._listener.settimeout(0.2)
        self._listening.set()
        for fn in (self._listen_loop, self._drive_loop):
            t = threading.Thread(target=fn, daemon=True)
            t.start()
            self._threads.append(t)
        return self._listener.getsockname()[:2]

    @property
    def address(self) -> tuple[str, int]:
        assert self._listener is not None
        return self._listener.getsockname()[:2]

    def shutdown(self) -> None:
        """Graceful shutdown: stop listening, wake the drive loop (the
        ucp_worker_signal analog is the condition notify), join all
        threads, close surviving connections."""
        self._listening.clear()
        with self._pending_cv:
            self._pending_cv.notify_all()
        for t in self._threads:
            t.join(timeout=5)
        for t in list(self._workers):
            t.join(timeout=5)
        for conn in self._conns:
            conn.close()
        if self._listener is not None:
            self._listener.close()

    # -- internals ---------------------------------------------------

    def _listen_loop(self) -> None:
        assert self._listener is not None
        while self._listening.is_set():
            try:
                sock, _addr = self._listener.accept()
            except TimeoutError:
                continue
            except OSError:
                break
            with self._pending_cv:
                self._pending.append(sock)
                self._pending_cv.notify()

    def _drive_loop(self) -> None:
        while True:
            with self._pending_cv:
                while not self._pending and self._listening.is_set():
                    self._pending_cv.wait(timeout=0.2)
                if not self._pending and not self._listening.is_set():
                    return
                sock = self._pending.popleft()
            conn = SocketConn(sock)
            self._conns.append(conn)
            t = threading.Thread(target=self._handle, args=(conn,), daemon=True)
            t.start()
            self._workers.append(t)

    def _handle(self, conn: SocketConn) -> None:
        try:
            self.do_work(conn)
        except (ConnectionClosed, OSError):
            pass
        finally:
            conn.close()

    def do_work(self, conn: SocketConn) -> None:  # pragma: no cover
        raise NotImplementedError


class DissociatedSocketServer(SocketServer):
    """The cudf-flight-server analog over sockets: probe the want_data
    tag, branch metadata-vs-body on the tag's ctrl bits ('simulate two
    separate servers', cudf-flight-server.cc:115-135), then stream.

    Metadata stream — AM per message: 5-byte prefix (type u8 + LE u32
    seq) + flatbuffer bytes, schema at seq 0, EOS last
    (cudf-flight-server.cc:138-225).  Body stream — tagged frame per
    body-bearing message: tag = body bit | seq, payload padded to 8
    bytes (cudf-flight-server.cc:227-325)."""

    def __init__(self, registry) -> None:
        super().__init__()
        self._registry = registry

    def do_work(self, conn: SocketConn) -> None:
        info, ident_raw = conn.probe_tag_sync(
            WANT_DATA_TAG, ~WANT_CTRL_MASK & 0xFFFFFFFFFFFFFFFF, remove=True
        )
        ident = ident_raw.decode()
        reader = self._registry.reader(ident)
        if reader is None:
            # unknown dataset: EOS-only metadata stream / empty body stream
            if info.sender_tag & WANT_CTRL_MASK:
                conn.send_am(AM_ID_DISSOCIATED, struct.pack("<BI", MSG_EOS, 0))
            return
        if info.sender_tag & WANT_CTRL_MASK:
            self._send_metadata_stream(conn, reader)
        else:
            self._send_body_stream(conn, reader)

    @staticmethod
    def _send_metadata_stream(conn: SocketConn, reader: pa.RecordBatchReader) -> None:
        seq = 0
        for msg in _messages(reader):
            conn.send_am(
                AM_ID_DISSOCIATED,
                struct.pack("<BI", MSG_METADATA, seq),
                msg.metadata.to_pybytes(),
            )
            seq += 1
        conn.send_am(AM_ID_DISSOCIATED, struct.pack("<BI", MSG_EOS, seq))

    @staticmethod
    def _send_body_stream(conn: SocketConn, reader: pa.RecordBatchReader) -> None:
        for seq, msg in enumerate(_messages(reader)):
            body = msg.body
            if body is None or body.size == 0:
                continue
            raw = body.to_pybytes()
            # IOV send: payload + shared zero padding, 8-byte aligned
            # (RoundUpToMultipleOf8, cudf-flight-server.cc:273-303)
            conn.send_tag(_BODY_BIT | seq, raw, b"\x00" * _pad8(len(raw)))


def _fb_body_length(metadata: bytes) -> int:
    """Read ``bodyLength`` out of an Arrow IPC Message flatbuffer without
    a flatbuffers runtime.

    Arrow's Message.fbs declares ``table Message { version; header;
    bodyLength: long; custom_metadata }`` — field id 3 once the union's
    hidden type field is counted (version=0, header_type=1, header=2,
    bodyLength=3).  Flatbuffer layout: root uoffset at byte 0; the root
    table starts with an i32 soffset *back* to its vtable; vtable =
    [u16 vtable_bytes, u16 table_bytes, u16 voffset per field id]; a zero
    voffset means default (0).  This is how the reference client knows
    whether a metadata message expects a body frame before that frame
    arrives (cudf-flight-client.cc:203-262)."""
    root = struct.unpack_from("<I", metadata, 0)[0]
    vtab = root - struct.unpack_from("<i", metadata, root)[0]
    vtab_bytes = struct.unpack_from("<H", metadata, vtab)[0]
    field_slot = vtab + 4 + 2 * 3  # field id 3 (bodyLength)
    if field_slot >= vtab + vtab_bytes:
        return 0
    voff = struct.unpack_from("<H", metadata, field_slot)[0]
    if voff == 0:
        return 0
    return struct.unpack_from("<q", metadata, root + voff)[0]


class _Reassembler:
    """The client's seq-keyed meeting point for the meta and data loops
    (cudf-flight-client.cc:102-288): the meta loop files flatbuffers and
    expected-body flags, the data loop files body frames, and
    ``next_messages`` blocks per-seq until both halves are present —
    ordered delivery without barriers between messages."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        self._meta: dict[int, tuple[bytes, int]] = {}  # seq → (fb, bodyLength)
        self._body: dict[int, bytes] = {}
        self._eos_seq: int | None = None
        self._error: BaseException | None = None

    # meta-loop side
    def put_meta(self, seq: int, fb: bytes) -> None:
        with self._cv:
            self._meta[seq] = (fb, _fb_body_length(fb))
            self._cv.notify_all()

    def put_eos(self, seq: int) -> None:
        with self._cv:
            self._eos_seq = seq
            self._cv.notify_all()

    # data-loop side
    def put_body(self, seq: int, payload: bytes) -> None:
        with self._cv:
            self._body[seq] = payload
            self._cv.notify_all()

    def put_error(self, exc: BaseException) -> None:
        with self._cv:
            self._error = exc
            self._cv.notify_all()

    def expected_bodies(self) -> int | None:
        """After meta-EOS: how many body frames the data loop must drain
        before it may exit; None while the count is still unknown."""
        with self._cv:
            if self._eos_seq is None or len(self._meta) < self._eos_seq:
                return None
            return sum(1 for _, blen in self._meta.values() if blen > 0)

    def wait_expected(self, timeout: float = 30.0) -> int:
        """Block until the expected body count is known (meta loop done)."""
        with self._cv:
            while True:
                if self._error is not None:
                    raise self._error
                if self._eos_seq is not None and len(self._meta) >= self._eos_seq:
                    return sum(1 for _, blen in self._meta.values() if blen > 0)
                if not self._cv.wait(timeout):
                    raise TimeoutError("metadata stream did not complete")

    def next_messages(self) -> Iterator[ipc.Message]:
        """Yield IPC messages in sequence order, blocking per seq until
        its metadata (and body, when the flatbuffer says one exists)
        has arrived — ``NextMsg`` (cudf-flight-client.cc:264-288)."""
        seq = 0
        while True:
            with self._cv:
                while True:
                    if self._error is not None:
                        raise self._error
                    if self._eos_seq is not None and seq >= self._eos_seq:
                        return
                    entry = self._meta.get(seq)
                    if entry is not None:
                        fb, blen = entry
                        if blen == 0:
                            body = b""
                            break
                        if seq in self._body:
                            body = self._body.pop(seq)
                            break
                    self._cv.wait()
            yield ipc.read_message(pa.py_buffer(_encapsulate(fb, body)))
            seq += 1


def fetch_dissociated_sockets(
    host: str,
    port: int,
    ident: str,
    batch_callback: Callable[[pa.RecordBatch], None] | None = None,
) -> pa.Table:
    """cudf-flight-client analog: open the ctrl and data connections,
    send the want_data handshake on each with the role tag, run the meta
    and data loops on their own threads, and decode record batches in
    sequence order as they complete (cudf-flight-client.cc:66-288).
    ``batch_callback`` observes each batch as it is decoded — streaming
    consumption, not after-the-fact."""
    meta_conn = connect(host, port)
    data_conn = connect(host, port)
    reasm = _Reassembler()

    def meta_loop() -> None:
        try:
            meta_conn.send_tag(WANT_CTRL_TAG, ident.encode())
            while True:
                _, payload = meta_conn.recv_am()
                mtype, seq = struct.unpack_from("<BI", payload, 0)
                if mtype == MSG_EOS:
                    reasm.put_eos(seq)
                    return
                reasm.put_meta(seq, payload[5:])
        except BaseException as exc:  # noqa: BLE001 — forwarded to consumer
            reasm.put_error(exc)

    def data_loop() -> None:
        got = 0
        try:
            data_conn.send_tag(WANT_DATA_TAG, ident.encode())
            while True:
                expected = reasm.expected_bodies()
                if expected is not None and got >= expected:
                    return
                try:
                    info, payload = data_conn.probe_tag_sync(
                        _BODY_BIT, _BODY_BIT, remove=True
                    )
                except ConnectionClosed:
                    # The server closes the data connection after the last
                    # body frame; that close can race the meta-side EOS, so
                    # wait for the expected count before judging it.
                    if got >= reasm.wait_expected():
                        return
                    raise
                reasm.put_body(info.sender_tag & 0xFFFFFFFF, payload)
                got += 1
        except BaseException as exc:  # noqa: BLE001
            reasm.put_error(exc)

    threads = [
        threading.Thread(target=meta_loop, daemon=True),
        threading.Thread(target=data_loop, daemon=True),
    ]
    for t in threads:
        t.start()
    try:
        msgs = reasm.next_messages()
        try:
            schema_msg = next(msgs)
        except StopIteration:
            raise ValueError(f"no such dataset: {ident}") from None
        schema = ipc.read_schema(schema_msg)
        batches = []
        for msg in msgs:
            batch = ipc.read_record_batch(msg, schema)
            if batch_callback is not None:
                batch_callback(batch)
            batches.append(batch)
        return pa.Table.from_batches(batches, schema)
    finally:
        # close FIRST: a loop thread blocked on a healthy connection after
        # the other stream errored would otherwise stall the join timeout
        meta_conn.close()
        data_conn.close()
        for t in threads:
            t.join(timeout=10)
