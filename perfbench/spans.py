"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's side only: :func:`install` wraps
the engine's public functions at the module attributes the engine calls
them through, so no engine source changes.  A span is
``[name, start, end, busy, parent, op]``: ``busy`` equals ``end - start``
for a call and the summed time inside ``next()`` for an iterator layer
(encode, stream, send), so nested generator layers get exact self times.
Times are ``time.perf_counter()`` values, which on Linux read the
system-wide monotonic clock, so client and engine spans share one
timeline.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict

OP_HEADER = "X-Perfbench-Op"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counts: dict[tuple[str, str | None], float] = defaultdict(float)
        self._local = threading.local()
        self._seen_cache_keys: set = set()
        self.frames: list = []  # (op, DataFrame) whose plans spark.plan_s times

    # ---- thread context --------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def op(self) -> str | None:
        return getattr(self._local, "op", None)

    @op.setter
    def op(self, value: str | None) -> None:
        self._local.op = value

    def count(self, name: str, value: float = 1.0) -> None:
        self.counts[(name, self.op)] += value

    # ---- spans -----------------------------------------------------------

    def _open(self, name: str) -> int:
        st = self._stack()
        now = time.perf_counter()
        self.spans.append([name, now, now, 0.0, st[-1] if st else None, self.op])
        idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def _close(self, idx: int, t0: float) -> None:
        span = self.spans[idx]
        span[2] = time.perf_counter()
        span[3] += span[2] - t0
        self._stack().pop()

    def call(self, name: str, fn, *args, **kwargs):
        idx = self._open(name)
        t0 = self.spans[idx][1]
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(idx, t0)

    def call_classified(self, name_of, fn, *args):
        """Like :meth:`call`, naming the span ``name_of(result)``."""
        idx = self._open("")
        t0 = self.spans[idx][1]
        out = None
        try:
            out = fn(*args)
            return out
        finally:
            self.spans[idx][0] = name_of(out)
            self._close(idx, t0)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def iterate(self, name: str, iterable, measure=None):
        """Yield from ``iterable``, accruing the time inside each
        ``next()`` to one span; ``measure(item)`` feeds byte counters."""
        it = iter(iterable)
        idx = None
        while True:
            st = self._stack()
            if idx is None:
                idx = self._open(name)
                t0 = self.spans[idx][1]
            else:
                st.append(idx)
                t0 = time.perf_counter()
            try:
                item = next(it)
            except StopIteration:
                self._close(idx, t0)
                return
            except BaseException:
                self._close(idx, t0)
                raise
            self._close(idx, t0)
            if measure is not None:
                measure(item)
            yield item

    # ---- aggregation -----------------------------------------------------

    def self_times(self, spans: list[list] | None = None) -> list[float]:
        spans = self.spans if spans is None else spans
        child_busy = [0.0] * len(spans)
        for s in spans:
            if s[4] is not None:
                child_busy[s[4]] += s[3]
        return [s[3] - c for s, c in zip(spans, child_busy)]


def _file_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths if os.path.exists(p))


def install(tracer: Tracer) -> None:
    """Wrap every traced layer of the engine, in place, for this process."""
    import pyarrow as pa

    from arrow_experiments_spark.sources import arrow_ipc
    from arrow_experiments_spark.streaming import egress
    from arrow_experiments_spark.transport import server

    # -- transport.server: handler busy time, op ids, cache lookups --------
    handler = server.ArrowHttpHandler
    for meth, name in (("do_GET", "transport.server.handler"),
                       ("do_POST", "transport.server.ingest")):
        orig = getattr(handler, meth)

        def traced_method(self, _orig=orig, _name=name):
            tracer.op = self.headers.get(OP_HEADER)
            tracer._local.lookups = []
            if _name == "transport.server.ingest":
                tracer.count("transport.server.ingest_MB",
                             int(self.headers.get("Content-Length", "0")) / 1e6)
            try:
                tracer.call(_name, _orig, self)
            finally:
                looked = tracer._local.lookups
                if looked:
                    tracer.count("transport.server.cache_lookups")
                    tracer.count("transport.server.cache_hits", float(any(looked)))
                tracer.op = None

        setattr(handler, meth, traced_method)

    reg = server.DatasetRegistry
    for meth in ("identity_stream", "encoded_slices", "ipc_codec_slices",
                 "encoded_artifact_stream"):
        orig = getattr(reg, meth)

        def lookup(self, *args, _orig=orig):
            out = _orig(self, *args)
            looked = getattr(tracer._local, "lookups", None)
            if looked is not None:
                looked.append(out is not None)
            return out

        setattr(reg, meth, lookup)

    def fill_or_miss(out) -> str:
        return "transport.server.cache_fill" if out is not None else "transport.server.cache_miss"

    for meth in ("identity_body", "encoded_body", "ipc_codec_body"):
        orig = getattr(reg, meth)

        def body(self, name, *args, _orig=orig, _meth=meth):
            # the registry builds each body once and replays it after, so
            # the first non-None call per key is the fill
            key = (_meth, name, *args)
            if key in tracer._seen_cache_keys:
                return _orig(self, name, *args)
            out = tracer.call_classified(fill_or_miss, _orig, self, name, *args)
            if out is not None:
                tracer._seen_cache_keys.add(key)
                tracer.count("transport.server.cache_MB", len(out) / 1e6)
            return out

        setattr(reg, meth, body)

    orig_tee = reg.tee_encoded

    def tee_encoded(self, name, strategy, chunks):
        out = orig_tee(self, name, strategy, chunks)
        if out is chunks:
            return out
        return tracer.iterate(
            "transport.server.cache_fill", out,
            lambda c: tracer.count("transport.server.cache_MB", len(c) / 1e6),
        )

    reg.tee_encoded = tee_encoded

    # -- transport.negotiation / ipc_stream / multipart --------------------
    def choose_strategy(*args, _orig=server.choose_strategy):
        tracer.count("transport.negotiation.calls")
        return tracer.call("transport.negotiation", _orig, *args)

    server.choose_strategy = choose_strategy

    def encode_ipc_chunks(schema, batches, *args, _orig=server.encode_ipc_chunks, **kw):
        def counted():
            for b in batches:
                tracer.count("transport.ipc_stream.encode_MB_in", b.nbytes / 1e6)
                yield b

        return tracer.iterate(
            "transport.ipc_stream.encode", _orig(schema, counted(), *args, **kw),
            lambda c: tracer.count("transport.ipc_stream.encode_MB_out", len(c) / 1e6),
        )

    server.encode_ipc_chunks = encode_ipc_chunks
    server.write_chunked = tracer.wrap("transport.ipc_stream.send", server.write_chunked)

    def encode_multipart(*args, _orig=server.encode_multipart, **kw):
        return tracer.iterate("transport.multipart.encode", _orig(*args, **kw))

    server.encode_multipart = encode_multipart

    # -- sources.arrow_ipc: executor spill and the stream read back --------
    orig_spill = arrow_ipc.spill_dataframe

    def spill_dataframe(df, *args, **kw):
        d, files, schema = tracer.call(
            "sources.arrow_ipc.spill", orig_spill, df, *args, **kw
        )
        tracer.count("sources.arrow_ipc.spill_files", len(files))
        tracer.count("sources.arrow_ipc.spill_MB", _file_bytes(files) / 1e6)
        tracer.frames.append((tracer.op, df))
        return d, files, schema

    arrow_ipc.spill_dataframe = spill_dataframe

    orig_files_reader = arrow_ipc.spilled_files_reader

    def spilled_files_reader(*args, **kw):
        r = orig_files_reader(*args, **kw)
        return pa.RecordBatchReader.from_batches(
            r.schema, tracer.iterate("sources.arrow_ipc.stream", r)
        )

    arrow_ipc.spilled_files_reader = spilled_files_reader

    # -- streaming.egress: sink calls and snapshot reads -------------------
    orig_sink = egress.incremental_curation_sink

    def incremental_curation_sink(stream_df, snapshot_dir, *args, **kw):
        q = tracer.call("streaming.egress.batch", orig_sink, stream_df, snapshot_dir,
                        *args, **kw)
        for p in q.recentProgress:
            d = p.durationMs or {}
            tracer.count("streaming.egress.rows_in", p.numInputRows)
            tracer.count("streaming.egress.add_batch_s", d.get("addBatch", 0) / 1e3)
            tracer.count("streaming.egress.planning_s", d.get("queryPlanning", 0) / 1e3)
            tracer.count("streaming.egress.commit_s",
                         (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1e3)
        return q

    egress.incremental_curation_sink = incremental_curation_sink

    orig_factory = egress.snapshot_reader_factory

    def snapshot_reader_factory(snapshot_dir):
        inner = orig_factory(snapshot_dir)

        def factory():
            r = tracer.call("streaming.egress.snapshot_read", inner)
            if r is None:
                return None
            return pa.RecordBatchReader.from_batches(
                r.schema, tracer.iterate("streaming.egress.snapshot_read", r)
            )

        return factory

    egress.snapshot_reader_factory = snapshot_reader_factory
