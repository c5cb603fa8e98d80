"""Client side of the benchmark: seeded request decks, the HTTP/socket
fetches that decode every response, and the reference results the
responses are checked against."""

from __future__ import annotations

import hashlib
import http.client
import io
import json
import random
import re
import threading
import time
from dataclasses import dataclass, field

import pyarrow as pa

from spans import OP_HEADER

ARROW_STREAM = "application/vnd.apache.arrow.stream"
CODINGS = ("identity", "zstd", "br", "gzip", "identity+zstd", "identity+lz4")
SERVE_DATASETS = ("trading", "flight")

# served as query.NAME, each once per deck: an aggregate, a join, and the
# two window/event queries whose results are MB-sized.  The similarity,
# text, dedup and curation families are left out to keep a deck within
# the run's time; the text and dedup layers still run as the ingest sink.
QUERIES = (
    "q1_pricing_summary",
    "q18_large_volume_customer",
    "window_running_sum",
    "events_session_window",
)
# ad-hoc SQL through GET /query: a grouped aggregate and a ~100k-row
# selection.  Integer aggregates only, so the DuckDB oracle matches bit
# for bit whatever the summation order.
SQL = {
    "sql.flags": "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty FROM lineitem "
    "GROUP BY l_returnflag, l_linestatus",
    "sql.discounted": "SELECT l_orderkey, l_partkey, l_extendedprice, l_shipdate "
    "FROM lineitem WHERE l_discount >= 0.09",
}

STOPWORDS = frozenset(["a", "the", "of", "and", "in", "to", "is", "on", "for", "with"])


# ---- results ------------------------------------------------------------


@dataclass
class Fetch:
    """One HTTP request or socket fetch, as the client saw it."""

    kind: str
    t_start: float
    t_headers: float = 0.0
    t_first: float | None = None
    t_end: float = 0.0
    rows: int = 0
    arrow_bytes: int = 0
    wire_bytes: int = 0
    table: pa.Table | None = None


@dataclass
class Op:
    op_id: str
    kind: str
    t_start: float = 0.0
    t_end: float = 0.0
    cpu_s: float = 0.0
    fetches: list[Fetch] = field(default_factory=list)
    error: str | None = None

    @property
    def wall(self) -> float:
        return self.t_end - self.t_start


class WrongResult(Exception):
    pass


def table_hash(table: pa.Table) -> str:
    """Order-sensitive content hash of a table's values (dictionary
    columns hash as their decoded values)."""
    import pandas as pd

    cols = []
    for col in table.columns:
        if pa.types.is_dictionary(col.type):
            col = col.cast(col.type.value_type)
        cols.append(col)
    frame = pa.table(cols, names=table.column_names).to_pandas()
    digest = pd.util.hash_pandas_object(frame, index=False).to_numpy().tobytes()
    return hashlib.sha256(digest + repr(table.column_names).encode()).hexdigest()


def canonical_hash(table: pa.Table) -> tuple[str, int]:
    """``oracle.canonicalize`` digest of an Arrow result, with UTC
    timestamps made naive as Spark's own ``toPandas`` returns them."""
    from arrow_experiments_spark.oracle import canonicalize

    cols = []
    for col in table.columns:
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        cols.append(col)
    frame = pa.table(cols, names=table.column_names).to_pandas()
    return _digest(canonicalize(frame)), table.num_rows


def duck_hash(con, sql: str) -> tuple[str, int]:
    from arrow_experiments_spark.oracle import canonicalize

    frame = con.execute(sql).df()
    return _digest(canonicalize(frame)), len(frame)


def _digest(canon) -> str:
    return hashlib.sha256(repr(canon).encode()).hexdigest()


# ---- transport -----------------------------------------------------------


def strategy_headers(strategy: str) -> dict[str, str]:
    if strategy.startswith("identity+"):
        return {"Accept": f'{ARROW_STREAM}; codecs="{strategy[9:]}"',
                "Accept-Encoding": "identity"}
    return {"Accept-Encoding": strategy}


class _Counting(io.RawIOBase):
    def __init__(self, raw) -> None:
        self._raw = raw
        self.count = 0

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        n = self._raw.readinto(b) or 0
        self.count += n
        return n


class Client:
    """HTTP requests to the engine, one connection each.

    The threaded front-end closes a connection after its first response
    even though that response is HTTP/1.1 without ``Connection: close``,
    so the client asks for ``Connection: close`` itself, as the engine's
    own ``fetch_arrow`` does, instead of reusing a socket the server has
    dropped."""

    def __init__(self, port: int) -> None:
        self.port = port
        self.conn: http.client.HTTPConnection | None = None

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None

    def _send(self, method: str, path: str, op_id: str, headers: dict, body=None):
        self.close()
        f = Fetch(kind=f"{method} {path.split('?')[0]}", t_start=time.perf_counter())
        self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        self.conn.request(method, path, body=body,
                          headers={**headers, OP_HEADER: op_id, "Connection": "close"})
        resp = self.conn.getresponse()
        f.t_headers = time.perf_counter()
        if resp.status != 200:
            detail = resp.read()[:300]
            raise WrongResult(f"{method} {path} -> {resp.status}: {detail!r}")
        return f, resp

    def get(self, path: str, strategy: str, op_id: str, keep: bool = False) -> Fetch:
        from arrow_experiments_spark.transport.ipc_stream import decode_body

        f, resp = self._send("GET", path, op_id, strategy_headers(strategy))
        ctype = resp.getheader("Content-Type", "")
        coding = resp.getheader("Content-Encoding", "identity")
        if ctype.startswith("multipart/"):
            from arrow_experiments_spark.transport.multipart import stream_multipart_arrow

            counting = _Counting(resp)
            chunks = iter(lambda: counting.read(1 << 16), b"")
            _, reader = stream_multipart_arrow(chunks, ctype)
        else:
            want_codec = strategy[9:] if strategy.startswith("identity+") else None
            if want_codec and f"codecs={want_codec}" not in ctype:
                raise WrongResult(f"{path}: asked {strategy}, got {ctype!r}")
            if not want_codec and coding != strategy:
                raise WrongResult(f"{path}: asked {strategy}, got {coding!r}")
            counting = _Counting(resp)
            reader = decode_body(io.BufferedReader(counting, 1 << 20), coding)
        batches = []
        for batch in reader:
            if f.t_first is None:
                f.t_first = time.perf_counter()
            f.rows += batch.num_rows
            f.arrow_bytes += batch.nbytes
            if keep:
                batches.append(batch)
        resp.read()  # the chunked terminator
        self.close()
        f.wire_bytes = counting.count
        f.t_end = time.perf_counter()
        if keep:
            f.table = pa.Table.from_batches(batches, schema=reader.schema)
        return f

    def post(self, path: str, table: pa.Table, op_id: str) -> tuple[Fetch, dict]:
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        body = sink.getvalue()
        f, resp = self._send("POST", path, op_id, {"Content-Type": ARROW_STREAM}, body)
        ack = json.loads(resp.read())
        self.close()
        f.t_end = time.perf_counter()
        f.wire_bytes = len(body)
        return f, ack


def socket_fetch(port: int, ident: str) -> Fetch:
    from arrow_experiments_spark.transport.sockets import fetch_dissociated_sockets

    f = Fetch(kind="sockets", t_start=time.perf_counter())

    def on_batch(batch: pa.RecordBatch) -> None:
        if f.t_first is None:
            f.t_first = time.perf_counter()

    table = fetch_dissociated_sockets("127.0.0.1", port, ident, batch_callback=on_batch)
    f.t_headers = f.t_first or time.perf_counter()
    f.t_end = time.perf_counter()
    f.rows = table.num_rows
    # the protocol ships the raw body buffers; count them as the wire bytes
    f.arrow_bytes = f.wire_bytes = table.nbytes
    return f


# ---- decks ---------------------------------------------------------------


def serve_deck(rng: random.Random, columns: dict[str, list[str]]) -> list[dict]:
    """40 fetches: 24 cached replays of trading/flight (two per coding),
    6 replays of lineitem (one per coding), 8 live-encoded
    ``?columns=&limit=&batch_rows=`` GETs, one multipart fetch and one
    dissociated socket fetch, in seeded order."""
    deck = [{"kind": "get", "ds": ds, "strategy": s}
            for ds in SERVE_DATASETS for s in CODINGS for _ in range(2)]
    deck += [{"kind": "get", "ds": "lineitem", "strategy": s} for s in CODINGS]
    live_ds = ["trading", "flight", "lineitem"] * 3
    for i in range(8):
        ds = live_ds[i]
        cols = rng.sample(columns[ds], rng.randint(1, len(columns[ds])))
        deck.append({
            "kind": "get", "ds": ds, "strategy": ("identity", "zstd")[i % 2],
            "columns": cols, "limit": rng.choice([100_000, 250_000, 500_000]),
            "batch_rows": rng.choice([4096, 16384, 65536]),
        })
    deck.append({"kind": "get", "ds": "trading", "strategy": "identity", "multipart": True})
    deck.append({"kind": "sockets", "ds": "flight"})
    rng.shuffle(deck)
    return deck


def serve_kind(spec: dict) -> str:
    if spec["kind"] == "sockets":
        return "sockets"
    if "columns" in spec:
        return "live"
    return "multipart" if spec.get("multipart") else f"replay.{spec['ds']}"


def serve_path(spec: dict) -> str:
    path = f"/datasets/{spec['ds']}"
    if "columns" in spec:
        path += (f"?columns={','.join(spec['columns'])}&limit={spec['limit']}"
                 f"&batch_rows={spec['batch_rows']}")
    elif spec.get("multipart"):
        path += "?multipart=1"
    return path


def query_deck(rng: random.Random) -> list[dict]:
    """Every registered query and ad-hoc statement once, in seeded order.
    Each keeps a fixed coding, identity and zstd alternating down the
    list, so the bytes of a run do not depend on the seed."""
    from urllib.parse import quote_plus

    deck = []
    for i, name in enumerate(list(QUERIES) + list(SQL)):
        if name in SQL:
            path = f"/query?sql={quote_plus(SQL[name])}"
        else:
            path = f"/datasets/query.{name}"
        deck.append({"kind": "query", "name": name, "path": path,
                     "strategy": ("identity", "zstd")[i % 2]})
    rng.shuffle(deck)
    return deck


class Decks:
    """Thread-safe stream of deck entries; a new deck starts only while
    the measured window is still open, so every run measures whole decks
    and keeps the deck's mix exactly."""

    def __init__(self, make_deck, seconds: float, max_decks: int | None = None) -> None:
        self._make = make_deck
        self._seconds = seconds
        self._max = max_decks
        self._lock = threading.Lock()
        self._deck: list = []
        self._n = 0
        self.t0 = time.perf_counter()

    def next(self):
        with self._lock:
            if not self._deck:
                if self._n and (time.perf_counter() - self.t0 >= self._seconds
                                or self._n == self._max):
                    return None
                self._deck = list(reversed(self._make()))
                self._n += 1
            return self._deck.pop()


# ---- ingest reference ----------------------------------------------------


def _passes_gate(text: str) -> bool:
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    n = len(toks)
    if n < 20 or len(set(toks)) / n < 0.4:
        return False
    return sum(t in STOPWORDS for t in toks) / n >= 0.05


def content_hash(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


class CurationReference:
    """The curation funnel in plain Python: quality gate, lowest doc_id
    per content hash within a delta, first-seen-wins across deltas."""

    def __init__(self) -> None:
        self.snapshot: dict[str, int] = {}  # content_hash -> doc_id
        self.delivered: list[tuple[int, str]] = []

    def apply(self, docs: pa.Table) -> int:
        firsts: dict[str, int] = {}
        for doc_id, text in zip(docs.column("doc_id").to_pylist(),
                                docs.column("text").to_pylist()):
            self.delivered.append((doc_id, text))
            if not _passes_gate(text):
                continue
            h = content_hash(text)
            if h not in firsts or doc_id < firsts[h]:
                firsts[h] = doc_id
        new = {h: d for h, d in firsts.items() if h not in self.snapshot}
        self.snapshot.update(new)
        return len(new)

    def batch_funnel_hashes(self) -> set[str]:
        """The batch funnel over every delivered document."""
        return {content_hash(t) for _, t in self.delivered if _passes_gate(t)}
