"""Arrow IPC ⇄ Spark DataFrame conversions and the cross-format pipeline
(SURVEY.md §2.1: scan_ipc_stream / sink_ipc_file / sink_parquet /
sink_duckdb / sink_sqlite / pipeline_make; reference Makefile
data/rand-many-types/Makefile:18-33).

Ingest of ``.arrows`` happens driver-side for a single stream (IPC streams
are not splittable without the footer — the reference's range client
reassembles on one consumer too, SURVEY.md §7 Phase 3).  For parallel
ingest use many streams via the catalog (one Spark task per URI), which is
the reference's only parallel ingest path (get_indirect).

Egress has two shapes.  Per request, :func:`df_to_reader` runs the
query to completion in the JVM (executors build Arrow IPC batch
messages, kept on executor disk) and then streams the persisted blocks
from the driver's BlockManager in partition order: no Python worker
runs, no spill file is written and no further Spark job runs.
Materialize once and serve many,
:func:`register_dataframe_materialized` drains that same reader into
one driver-written ``.arrows`` file, which :func:`spilled_files_reader`
streams and :func:`raw_spill_stream` splices byte for byte.
:func:`spill_dataframe` writes per-partition ``.arrows`` files through
executor Python workers instead: ``df_to_reader``'s fallback and the
streaming sinks use it.
"""

from __future__ import annotations

import io
import os
import weakref
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.ipc as ipc
from py4j.java_gateway import java_import
from pyspark.sql import DataFrame, SparkSession

from arrow_experiments_spark.session import missing_jvm_methods, probe_once


# ---- ingest ---------------------------------------------------------------


def read_ipc_stream(spark: SparkSession, source: str | bytes | io.IOBase) -> DataFrame:
    """.arrows (IPC stream) → DataFrame via Arrow-enabled createDataFrame.

    The ``pa.Table`` is handed to Spark directly (Spark 4 accepts Arrow
    tables natively) — no pandas hop, so nullable ints stay ints and
    nanosecond timestamps aren't silently coerced through object dtype.
    """
    if isinstance(source, (str, os.PathLike)):
        with open(source, "rb") as f:
            table = ipc.open_stream(f).read_all()
    elif isinstance(source, bytes):
        table = ipc.open_stream(io.BytesIO(source)).read_all()
    else:
        table = ipc.open_stream(source).read_all()
    return spark.createDataFrame(table)


def read_ipc_streams_parallel(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Parallel ingest: one Spark task per stream file (the get_indirect
    pattern — SURVEY.md §2.1 source_http_indirect).  Decoding happens on
    executors via mapInArrow; the driver never holds the data."""
    import pyspark.sql.functions as F

    paths_df = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        len(paths), "path"
    )
    first = ipc.open_stream(open(paths[0], "rb")).schema

    def decode(iterator: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in iterator:
            for path in batch.column("path").to_pylist():
                with open(path, "rb") as f:
                    yield from ipc.open_stream(f)

    from pyspark.sql.pandas.types import from_arrow_schema

    return paths_df.mapInArrow(decode, from_arrow_schema(first))


# ---- egress ---------------------------------------------------------------


def _arrow_schema(df: DataFrame) -> pa.Schema:
    """The Arrow schema ``df.toArrow()`` returns: timestamps labelled
    UTC, large string/binary types when the session asks for them."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(
        df.schema,
        timestamp_utc=True,
        prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
    )


def _missing_egress_entry_points(df: DataFrame) -> list[str]:
    import pyspark.util

    missing = missing_jvm_methods(df.sparkSession.sparkContext, [
        (df._jdf.getClass(), "toArrowBatchRdd"),
        ("org.apache.spark.SparkEnv", "blockManager"),
        ("org.apache.spark.storage.BlockManager", "getStatus"),
        ("org.apache.spark.storage.BlockManager", "getLocalValues"),
        ("org.apache.spark.storage.RDDBlockId", "rddId"),
        ("org.apache.spark.api.python.PythonRDD", "serveIterator"),
        ("org.apache.spark.api.python.PythonRDD", "runJob"),
    ])
    if not hasattr(pyspark.util, "_load_from_socket"):
        missing.append("pyspark.util._load_from_socket")
    return missing


def _max_result_bytes(sc) -> int:
    """``spark.driver.maxResultSize`` in bytes; 0 means no bound."""
    return sc._jsc.sc().conf().getSizeAsBytes("spark.driver.maxResultSize", "1g")


def _result_blocks(sc, blocks, jrdd) -> list:
    """The block id of each partition of the persisted ``jrdd``, in
    order, after checking from the driver's block status in the
    BlockManager ``blocks`` (no job) that no block is larger than
    ``spark.driver.maxResultSize``: the bound a partition's task result
    is held to when a job carries it."""
    block_id = sc._jvm.RDDBlockId
    limit = _max_result_bytes(sc)
    rdd_id, ids = jrdd.id(), []
    for p in range(jrdd.getNumPartitions()):
        block = block_id(rdd_id, p)
        status = blocks.getStatus(block)
        if limit and status.isDefined() and status.get().diskSize() > limit:
            raise RuntimeError(
                f"result partition {p} holds {status.get().diskSize()} bytes of "
                f"Arrow batches, more than spark.driver.maxResultSize ({limit})"
            )
        ids.append(block)
    return ids


def df_to_reader(df: DataFrame, batch_rows: int = 4096) -> pa.RecordBatchReader:
    """DataFrame → RecordBatchReader of ``batch_rows``-row batches, with
    the schema (and data) ``df.toArrow()`` would return.

    The reference serves O(batch) on the server side (incremental IPC
    writer, http/get_simple/python/server/http.server/server.py:59-72);
    this adapter never holds the whole result on the driver either:

    1. Executors encode their partitions as Arrow IPC record-batch
       messages in the JVM (``toArrowBatchRdd``), persisted DISK_ONLY so
       the bytes stay out of the storage memory cached frames use.  One
       fully parallel ``count()`` job runs the query to completion
       before this function returns, so a runtime error (ANSI overflow,
       a failed task) raises here, before an HTTP server has sent
       headers.  Each partition's block is then sized from the driver's
       block status, and a block larger than
       ``spark.driver.maxResultSize`` raises here too.
    2. The reader then serves the persisted blocks in partition order
       with no further Spark job: each block is read from the driver's
       BlockManager and drained to a list in one JVM call (the read
       lock is released as the drain ends, so a reader dropped part way
       never leaves a lock held), and the list is streamed to Python
       over a local socket (``PythonRDD.serveIterator``), decoded one
       message at a time.  A block the driver cannot read locally (lost,
       or held by a remote executor) is recomputed by a one-partition
       job (``PythonRDD.runJob``).  Partition order preserves any order
       the plan produced.
    3. The persisted blocks are released when the stream ends, when the
       reader is dropped part way, or when step 1 fails.

    Memory: the driver JVM holds at most one result partition of Arrow
    bytes (the one being served), Python holds one batch plus the
    rebatch buffer.  A result partition larger than
    ``spark.driver.maxResultSize`` fails before this function returns;
    one the driver holds no block of is bounded by Spark itself when its
    job runs.

    The entry points are private Spark API, probed once per
    SparkContext; if one is missing, one warning is logged and results
    go through the executor-side IPC spill (:func:`spill_dataframe`)
    instead.
    """
    from arrow_experiments_spark.transport.server import rebatch_reader

    sc = df.sparkSession.sparkContext
    if not probe_once(
        sc, "jvm_arrow_egress", lambda: _missing_egress_entry_points(df),
        "query results are served through the executor-side IPC spill",
    ):
        tmp, files, schema = spill_dataframe(df)
        return spilled_files_reader(files, schema, batch_rows, cleanup_dir=tmp)

    schema = _arrow_schema(df)
    # a class named by its full path costs a py4j round trip per package
    # level on every use; imported, it costs one
    java_import(sc._jvm, "org.apache.spark.SparkEnv")
    java_import(sc._jvm, "org.apache.spark.storage.*")
    jrdd = df._jdf.toArrowBatchRdd()
    jrdd.persist(sc._jvm.StorageLevel.DISK_ONLY())
    try:
        jrdd.count()
        blocks = sc._jvm.SparkEnv.get().blockManager()
        block_ids = _result_blocks(sc, blocks, jrdd)
    except BaseException:
        jrdd.unpersist(False)
        raise

    def batches() -> Iterator[pa.RecordBatch]:
        from pyspark.serializers import NoOpSerializer
        from pyspark.util import _load_from_socket

        try:
            python_rdd = sc._jvm.PythonRDD
            for p, block in enumerate(block_ids):
                local = blocks.getLocalValues(block)
                if local.isDefined():
                    # toList drains the block in this one call; its
                    # CompletionIterator releases the read lock as it ends
                    values = local.get().data().toList()
                    if values.isEmpty():
                        continue
                    sock = python_rdd.serveIterator(values.iterator(), "serve Arrow block")
                    del values  # the serving thread holds the only reference
                else:
                    sock = python_rdd.runJob(sc._jsc.sc(), jrdd.toJavaRDD(), [p])
                for frame in _load_from_socket(sock, NoOpSerializer()):
                    yield pa.ipc.read_record_batch(pa.py_buffer(frame), schema)
        finally:
            release()

    gen = batches()
    # a reader dropped before its first read never enters the generator
    release = weakref.finalize(gen, jrdd.unpersist, False)
    return rebatch_reader(pa.RecordBatchReader.from_batches(schema, gen), batch_rows)


def spill_dataframe(
    df: DataFrame, spill_dir: str | None = None, batch_rows: int | None = None
) -> tuple[str, list[str], pa.Schema]:
    """Distributed DataFrame → per-partition ``.arrows`` spill files.

    Each executor task writes its own partition through an incremental IPC
    writer (the reference's serving loop, executed where the data lives
    instead of on the driver).  Returns ``(dir, ordered files, schema)``;
    file order == partition order, so streaming them back preserves any
    ordering the plan produced (e.g. a global sort's range partitions).

    ``batch_rows`` re-chunks ON THE EXECUTORS so the spill files already
    carry serve-sized batches — the prerequisite for the zero-copy splice
    serve (:func:`raw_spill_stream`), which replays file bytes verbatim
    and therefore cannot re-chunk.  Each file's final batch may be
    partial (per-partition tails don't merge across files).  If the spill
    job fails, the directory is removed before the error propagates.
    """
    import glob
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="arrow-egress-", dir=spill_dir)

    def dump(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        path = os.path.join(d, f"part-{pid:08d}.arrows")
        # Write to an attempt-private temp name, then atomically rename:
        # a failed/speculative attempt can never leave a partial file at
        # the final path, and concurrent attempts (identical deterministic
        # content) race harmlessly — last rename wins with complete bytes.
        tmp = f"{path}.attempt-{ctx.taskAttemptId()}"
        if batch_rows is not None:
            from arrow_experiments_spark.transport.server import rebatch_iter

            batches = rebatch_iter(batches, batch_rows)
        writer = None
        sink = None
        rows = 0
        try:
            for b in batches:
                if writer is None:
                    sink = open(tmp, "wb")
                    writer = ipc.new_stream(sink, b.schema)
                writer.write_batch(b)
                rows += b.num_rows
        finally:
            if writer is not None:
                writer.close()
                sink.close()
        if writer is not None:
            os.replace(tmp, path)
        yield pa.record_batch(
            {"pid": pa.array([pid], pa.int64()), "rows": pa.array([rows], pa.int64())}
        )

    try:
        df.mapInArrow(dump, "pid long, rows long").collect()  # tiny summary only
    except BaseException:
        shutil.rmtree(d, ignore_errors=True)
        raise
    files = sorted(glob.glob(os.path.join(d, "part-*.arrows")))
    if files:
        with open(files[0], "rb") as f:
            schema = ipc.open_stream(f).schema
    else:  # empty result — derive the Arrow schema Spark would have used
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(df.schema, timestamp_utc=True)
    return d, files, schema


def spilled_files_reader(
    files: list[str],
    schema: pa.Schema,
    batch_rows: int = 4096,
    cleanup_dir: str | None = None,
) -> pa.RecordBatchReader:
    """Stream spilled ``.arrows`` files in order with O(batch) memory;
    optionally remove ``cleanup_dir`` once the stream ends, or once the
    reader is dropped, read part way or not at all."""
    import shutil

    from arrow_experiments_spark.transport.server import rebatch_reader

    def gen() -> Iterator[pa.RecordBatch]:
        try:
            for path in files:
                with open(path, "rb") as f:
                    yield from ipc.open_stream(f)
        finally:
            if cleanup_dir is not None:
                release()

    batches = gen()
    if cleanup_dir is not None:
        # a reader dropped before its first read never enters the generator
        release = weakref.finalize(batches, shutil.rmtree, cleanup_dir, True)
    reader = pa.RecordBatchReader.from_batches(schema, batches)
    return rebatch_reader(reader, batch_rows)


# Arrow IPC end-of-stream marker: continuation sentinel + zero metadata
# length (Arrow columnar format spec, "IPC Streaming Format").
_IPC_EOS = b"\xff\xff\xff\xff\x00\x00\x00\x00"


def _ipc_first_message_len(prefix: bytes) -> int | None:
    """Byte length of the stream's first encapsulated message (the schema
    message: 4-byte continuation marker + 4-byte little-endian metadata
    size + flatbuffer, no body) — None if ``prefix`` isn't framed that
    way."""
    if len(prefix) < 8 or prefix[:4] != b"\xff\xff\xff\xff":
        return None
    return 8 + int.from_bytes(prefix[4:8], "little")


def raw_spill_stream(files: list[str], schema: pa.Schema, chunk_bytes: int = 1 << 20):
    """Splice per-partition ``.arrows`` spill files into ONE identity IPC
    stream at the byte level: schema message once, then each file's batch
    messages verbatim (mmap'd, zero-copy), one EOS marker at the end.

    This is the serve path the 100M-row replay needs (VERDICT r5 #1): the
    spill artifacts already ARE encoded IPC, so re-running a Python
    writer loop over ~24k batches per request is pure overhead — the
    reference's own serving model is replay-bytes-that-exist
    (http/get_simple/python/server/http.server/server.py:59-72 builds its
    buffers once and replays them).

    Returns a zero-arg factory yielding byte chunks (which also carries
    the stream's length and reads it whole: :class:`_SplicedSpill`), or
    None when the files aren't splice-eligible (so callers fall back to the
    reader-based path): requires a non-empty file list, identical
    serialized schema message across files, the 8-byte EOS trailer on
    every file, and no dictionary-encoded fields (concatenating streams
    that each carry their own dictionary messages would splice dictionary
    replacements mid-stream).
    """
    def _contains_dictionary(t: pa.DataType) -> bool:
        # recurse into nested types: a dictionary anywhere (list<dict>,
        # struct<x: dict>, map values, …) means per-file dictionary
        # messages, which the splice would turn into mid-stream
        # replacements
        if pa.types.is_dictionary(t):
            return True
        return any(
            _contains_dictionary(t.field(i).type) for i in range(t.num_fields)
        )

    if not files or any(_contains_dictionary(f.type) for f in schema):
        return None
    with open(files[0], "rb") as f:
        head = f.read(8)
        schema_len = _ipc_first_message_len(head)
        if schema_len is None:
            return None
        f.seek(0)
        schema_msg = f.read(schema_len)
    if len(schema_msg) < schema_len:
        return None
    for path in files:
        size = os.path.getsize(path)
        if size < schema_len + len(_IPC_EOS):
            return None
        with open(path, "rb") as f:
            if f.read(schema_len) != schema_msg:
                return None
            f.seek(size - len(_IPC_EOS))
            if f.read(len(_IPC_EOS)) != _IPC_EOS:
                return None
    return _SplicedSpill(files, schema_msg, chunk_bytes)


class _SplicedSpill:
    """The splice of :func:`raw_spill_stream`.  Calling it yields the
    stream's chunks, mmap'd and zero-copy; ``nbytes`` is the stream's
    exact length, known before any byte is read, and :meth:`read`
    returns the whole stream in one Arrow buffer."""

    def __init__(self, files: list[str], schema_msg: bytes, chunk_bytes: int) -> None:
        self.schema_msg = schema_msg
        self.chunk_bytes = chunk_bytes
        # each file's batch messages run from the end of its schema
        # message to the start of its EOS marker
        self.bodies = [(p, os.path.getsize(p) - len(_IPC_EOS)) for p in files]
        head = len(schema_msg)
        self.nbytes = head + sum(end - head for _, end in self.bodies) + len(_IPC_EOS)

    def __call__(self) -> Iterator:
        import mmap

        yield self.schema_msg
        step = self.chunk_bytes
        for path, end in self.bodies:
            with open(path, "rb") as f:
                mm = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
            mv = memoryview(mm)
            off = len(self.schema_msg)
            while off < end:
                yield mv[off : min(off + step, end)]
                off += step
            # drop our refs; the mapping unmaps once the last yielded
            # slice (which holds a buffer ref to mm) has been consumed
            del mv, mm
        yield _IPC_EOS

    def read(self) -> pa.Buffer:
        """The whole stream in one Arrow-pool buffer, filled with plain
        file reads: unlike joining the mmap'd chunks, this maps no page
        of the files into the process."""
        buf = pa.allocate_buffer(self.nbytes)
        out = memoryview(buf).cast("B")
        head = len(self.schema_msg)
        out[:head] = self.schema_msg
        off = head
        for path, end in self.bodies:
            with open(path, "rb") as f:
                f.seek(head)
                n = end - head
                if f.readinto(out[off : off + n]) != n:
                    raise OSError(f"{path} shrank while it was read")
            off += n
        out[off:] = _IPC_EOS
        return buf


def register_spilled_files(
    registry,
    name: str,
    files: list[str],
    schema: pa.Schema,
    batch_rows: int = 4096,
    meta: dict | None = None,
) -> bool:
    """Register spilled files with the HTTP server under both serve
    forms: the batch-reader factory (projection/rebatch/compression
    paths) plus, when splice-eligible, the zero-copy raw byte stream for
    plain identity GETs.  Returns True if the raw path is active."""
    registry.register(
        name,
        lambda: spilled_files_reader(files, schema, batch_rows),
        meta,
        schema=schema,
    )
    raw = raw_spill_stream(files, schema)
    if raw is None:
        return False
    registry.register_raw(name, raw)
    return True


def register_dataframe_materialized(
    registry,
    name: str,
    df: DataFrame,
    batch_rows: int = 4096,
    spill_dir: str | None = None,
    meta: dict | None = None,
) -> str:
    """Materialize ONCE, serve many: run the plan now, write its result
    to one ``.arrows`` file in a new directory under ``spill_dir``, and
    serve every request from those bytes — zero-copy spliced for plain
    identity GETs, via the batch reader otherwise.  This is the
    reference's pre-materialize-once model (get_simple server.py:144)
    for results too large for the in-memory identity cache: no Spark
    job runs at request time.  The complement of
    :func:`register_dataframe`, which re-runs the (lazy) plan per
    request for freshness.

    The result comes through :func:`df_to_reader`: one ``count()`` job
    over JVM-built Arrow blocks, no Python worker, and the driver
    writes the stream (:func:`write_ipc_stream`), so the file lands
    where the server runs.  Every
    batch holds ``batch_rows`` rows but the last.  Memory is
    ``df_to_reader``'s bound: at most one result partition of Arrow
    bytes in the driver JVM and one batch in Python; a result partition
    larger than ``spark.driver.maxResultSize`` raises here.  Where Spark
    lacks that path's private entry points, ``df_to_reader`` reads
    through the executor-side spill instead, and its temporary files
    are removed once drained.

    Returns the directory — the caller owns its lifetime (remove it to
    retire the dataset's bytes).  If the plan or the write fails, the
    directory is removed before the error propagates.
    """
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="arrow-egress-", dir=spill_dir)
    path = os.path.join(d, "part-00000000.arrows")
    try:
        write_ipc_stream(df, path, batch_rows)
    except BaseException:
        shutil.rmtree(d, ignore_errors=True)
        raise
    with open(path, "rb") as f:
        schema = ipc.open_stream(f).schema
    register_spilled_files(registry, name, [path], schema, batch_rows, meta)
    return d


def register_dataframe(registry, name: str, df: DataFrame, batch_rows: int = 4096,
                       meta: dict | None = None) -> None:
    """Register a live DataFrame with the HTTP server: each request re-runs
    the (lazy) plan through :func:`df_to_reader`, so the query finishes
    before the response starts, a runtime error or a result partition
    larger than ``spark.driver.maxResultSize`` fails before it, and the
    driver holds at most one result partition of Arrow bytes in the JVM
    and one batch in Python per in-flight request.  The Arrow schema is
    derived from the plan (no job) so /describe answers without
    executing the query."""
    registry.register(
        name,
        lambda: df_to_reader(df, batch_rows),
        meta,
        schema=_arrow_schema(df),
    )


def iter_arrow_batches(
    df: DataFrame, order_col: str, n_slices: int = 16, batch_rows: int = 4096
) -> Iterator[pa.RecordBatch]:
    """Bounded-memory egress: split the result into ``n_slices`` contiguous
    ranges of ``order_col`` (percentile boundaries), fetch one slice at a
    time.  One Spark job per slice; driver holds one slice (SURVEY.md §7
    hard part 2: ordered streaming egress).  Rows with a NULL ``order_col``
    sort first (Spark's nulls-first default) and are fetched with the
    first slice.  Each slice re-filters the input — persist ``df`` first
    if its lineage is expensive to recompute."""
    import pyspark.sql.functions as F

    qs = [i / n_slices for i in range(1, n_slices)]
    bounds = df.select(
        F.percentile_approx(order_col, qs, 10_000).alias("b")
    ).first()["b"]
    lo = None
    edges = list(bounds) + [None]
    first = True
    for hi in edges:
        cond = None
        if lo is not None:
            cond = F.col(order_col) > F.lit(lo)
        if hi is not None:
            c2 = F.col(order_col) <= F.lit(hi)
            cond = c2 if cond is None else cond & c2
        if cond is not None and first:
            cond = cond | F.col(order_col).isNull()
        part = df.filter(cond) if cond is not None else df
        yield from part.orderBy(order_col).toArrow().to_batches(max_chunksize=batch_rows)
        lo = hi
        first = False


def dictionary_encode_columns(table: pa.Table, cols: list[str]) -> pa.Table:
    """Egress-boundary dictionary encoding (SURVEY.md §2.2
    ``dictionary_encode``; reference builds the dict-encoded ticker column
    at http/get_compressed/python/server/server.py:70-74).

    Spark has no dictionary type, so encoding happens only here, after the
    DataFrame boundary.  Each column is combined to a single chunk first so
    the whole stream shares ONE unified dictionary — the IPC writer then
    emits a single dictionary message instead of per-batch deltas
    (SURVEY.md §7 hard part 4).  Contract: requires the whole table
    materialized, so it suits the pre-materialize-once registry path;
    for O(batch) streaming egress of unbounded/high-cardinality data use
    :func:`dictionary_encode_reader`, which emits IPC delta dictionaries."""
    import pyarrow.compute as pc

    out = table
    for name in cols:
        idx = out.schema.get_field_index(name)
        encoded = pc.dictionary_encode(out.column(idx).combine_chunks())
        out = out.set_column(idx, pa.field(name, encoded.type), encoded)
    return out


class _GrowingDictionary:
    """Cumulative value→index map for one column across a batch stream.

    Each batch's values are mapped onto a dictionary that only ever
    APPENDS — every batch's dictionary is a prefix-extension of the
    previous one, which is exactly the shape the IPC writer turns into
    delta dictionary messages (``emit_dictionary_deltas``) instead of
    full replacements (SURVEY.md §7 hard part 4; Arrow format docs,
    "dictionary replacement is not allowed in the IPC file format —
    deltas are")."""

    # Lookup sentinel for float NaN: NaN != NaN, so raw NaN keys would
    # miss on every batch and append duplicate dictionary slots without
    # bound — the one value that breaks the O(dictionary) state contract.
    _NAN_KEY = object()

    def __init__(self) -> None:
        self._index: dict = {}
        self._values: list = []
        self._dict_arr: pa.Array | None = None

    def encode(self, arr: pa.Array) -> pa.DictionaryArray:
        import numpy as np
        import pyarrow.compute as pc

        # Fast path once the dictionary has stabilized (the common case
        # after the first batches of a low-cardinality stream): one
        # index_in kernel against the cached dictionary — no per-batch
        # re-encode + Python remap.  Extra nulls in the result vs the
        # input mean UNSEEN values → take the append path below.  Float
        # types stay on the slow path (NaN identity under index_in
        # differs from the sentinel handling here).
        if self._dict_arr is not None and not pa.types.is_floating(arr.type):
            idx = pc.index_in(arr, value_set=self._dict_arr)
            if idx.null_count == arr.null_count:
                return pa.DictionaryArray.from_arrays(
                    idx.cast(pa.int64()), self._dict_arr
                )

        local = pc.dictionary_encode(arr)
        lut = np.empty(len(local.dictionary), dtype=np.int64)
        for i, v in enumerate(local.dictionary.to_pylist()):
            key = self._NAN_KEY if isinstance(v, float) and v != v else v
            got = self._index.get(key)
            if got is None:
                got = len(self._values)
                self._index[key] = got
                self._values.append(v)
            lut[i] = got
        idx = local.indices
        if idx.null_count:
            mask = idx.is_null().to_numpy(zero_copy_only=False)
            filled = idx.fill_null(0).to_numpy()
            out_idx = pa.array(lut[filled], pa.int64(), mask=mask)
        else:
            out_idx = pa.array(lut[idx.to_numpy()], pa.int64())
        self._dict_arr = pa.array(self._values, type=arr.type)
        return pa.DictionaryArray.from_arrays(out_idx, self._dict_arr)


def dictionary_encode_reader(
    reader: pa.RecordBatchReader, cols: list[str]
) -> pa.RecordBatchReader:
    """Streaming egress-boundary dictionary encoding with APPEND-ONLY
    dictionaries: O(dictionary) state, one pass, no table materialization.
    Pair with ``ipc.IpcWriteOptions(emit_dictionary_deltas=True)`` (as
    :func:`write_ipc_stream` does for dict-typed schemas) and the stream
    carries one initial dictionary message plus small deltas — the
    unbounded/high-cardinality answer to :func:`dictionary_encode_columns`'
    unified-dictionary contract."""
    growers = {name: _GrowingDictionary() for name in cols}
    try:
        first = reader.read_next_batch()
    except StopIteration:
        # Empty input: no batch to peek, so derive the dict-typed schema
        # from the reader's own schema and emit a valid empty stream
        # (parity with the dict_cols=None path).
        first = None
    schema = reader.schema if first is None else first.schema
    for name in cols:
        i = schema.get_field_index(name)
        f = schema.field(i)
        schema = schema.set(
            i, pa.field(name, pa.dictionary(pa.int64(), f.type), f.nullable)
        )

    def encode(batch: pa.RecordBatch) -> pa.RecordBatch:
        arrays = []
        for f, col in zip(batch.schema, batch.columns):
            arrays.append(growers[f.name].encode(col) if f.name in growers else col)
        return pa.RecordBatch.from_arrays(arrays, schema=schema)

    def gen() -> Iterator[pa.RecordBatch]:
        if first is not None:
            yield encode(first)
            for b in reader:
                yield encode(b)

    return pa.RecordBatchReader.from_batches(schema, gen())


def strip_schema_metadata(reader: pa.RecordBatchReader) -> pa.RecordBatchReader:
    """Remove schema- and field-level metadata before publishing — the
    reference strips implementation metadata from the schema prior to
    writing (data/arrow-commits/arrow-commits.R:44-46)."""
    schema = pa.schema([f.remove_metadata() for f in reader.schema], metadata=None)

    def gen() -> Iterator[pa.RecordBatch]:
        for b in reader:
            yield pa.RecordBatch.from_arrays(list(b.columns), schema=schema)

    return pa.RecordBatchReader.from_batches(schema, gen())


def write_ipc_stream(
    df: DataFrame,
    path: str,
    batch_rows: int = 4096,
    dict_cols: list[str] | None = None,
) -> int:
    """DataFrame → .arrows (stream format). Returns rows written.

    ``dict_cols`` dictionary-encodes those columns per-batch with
    append-only dictionaries and writes with ``emit_dictionary_deltas``,
    so the stream carries one initial dictionary plus deltas — bounded
    memory at any cardinality (SURVEY.md §7 hard part 4)."""
    reader = df_to_reader(df, batch_rows)
    options = None
    if dict_cols:
        reader = dictionary_encode_reader(reader, dict_cols)
        options = ipc.IpcWriteOptions(emit_dictionary_deltas=True)
    n = 0
    with open(path, "wb") as f, ipc.new_stream(
        f, reader.schema, options=options
    ) as writer:
        for batch in reader:
            writer.write_batch(batch)
            n += batch.num_rows
    return n


def write_ipc_file(df: DataFrame, path: str, batch_rows: int = 4096) -> int:
    """DataFrame → .arrow (file format with seekable footer)."""
    reader = df_to_reader(df, batch_rows)
    n = 0
    with open(path, "wb") as f, ipc.new_file(f, reader.schema) as writer:
        for batch in reader:
            writer.write_batch(batch)
            n += batch.num_rows
    return n


def arrows_to_arrow_file(src: str, dst: str) -> None:
    """IPC stream → IPC file, batch-by-batch (reference
    data/rand-many-types/arrows-to-arrow.py:21-30 semantics)."""
    with open(src, "rb") as fin, open(dst, "wb") as fout:
        reader = ipc.open_stream(fin)
        with ipc.new_file(fout, reader.schema) as writer:
            for batch in reader:
                writer.write_batch(batch)


def arrows_to_parquet(src: str, dst: str) -> None:
    """IPC stream → Parquet (arrows-to-parquet.py:22-26 semantics)."""
    import pyarrow.parquet as pq

    with open(src, "rb") as fin:
        table = ipc.open_stream(fin).read_all()
    pq.write_table(table, dst)


def parquet_to_duckdb(parquet_path: str, db_path: str, table_name: str = "random") -> None:
    """Parquet → DuckDB table via CTAS (parquet-to-duckdb.sql:19-21)."""
    import duckdb

    con = duckdb.connect(db_path)
    try:
        con.execute(
            f"CREATE OR REPLACE TABLE {table_name} AS "
            f"SELECT * FROM read_parquet('{parquet_path}')"
        )
    finally:
        con.close()


def parquet_to_sqlite(parquet_path: str, db_path: str, table_name: str = "random") -> None:
    """Parquet → SQLite via DuckDB ATTACH (parquet-to-sqlite.sql:19-22)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("INSTALL sqlite; LOAD sqlite;")
        con.execute(f"ATTACH '{db_path}' AS sq (TYPE sqlite)")
        con.execute(
            f"CREATE OR REPLACE TABLE sq.{table_name} AS "
            f"SELECT * FROM read_parquet('{parquet_path}')"
        )
    finally:
        con.close()


def run_pipeline(df: DataFrame, out_dir: str, stem: str = "random") -> dict[str, str]:
    """The make-pipeline (Makefile:18-33): df → .arrows → {.arrow, .parquet}
    → {.duckdb, .sqlite3}.  Returns artifact paths."""
    os.makedirs(out_dir, exist_ok=True)
    arrows = os.path.join(out_dir, f"{stem}.arrows")
    arrow = os.path.join(out_dir, f"{stem}.arrow")
    parquet = os.path.join(out_dir, f"{stem}.parquet")
    duck = os.path.join(out_dir, f"{stem}.duckdb")
    sqlite = os.path.join(out_dir, f"{stem}.sqlite3")
    write_ipc_stream(df, arrows)
    arrows_to_arrow_file(arrows, arrow)
    arrows_to_parquet(arrows, parquet)
    parquet_to_duckdb(parquet, duck, stem)
    try:
        parquet_to_sqlite(parquet, sqlite, stem)
    except Exception:
        sqlite = ""  # sqlite extension may be unavailable offline
    return {
        "arrows": arrows,
        "arrow": arrow,
        "parquet": parquet,
        "duckdb": duck,
        "sqlite": sqlite,
    }


def chunked_parquet_reader(
    path: str, chunk_bytes: int = 1 << 20
) -> pa.RecordBatchReader:
    """Parquet → RecordBatchReader in ~``chunk_bytes``-bounded batches —
    the analog of the reference's ``cudf::io::chunked_parquet_reader``
    with its 1 MiB chunk limit (dissociated-ipc/cudf-flight-server.cc:
    70-71): the serving side never holds more than one chunk's worth of
    decoded data per batch.  Batch row count comes from a decoded probe
    batch (parquet metadata only knows ENCODED sizes — 3-4x smaller than
    the Arrow decode for typical numeric data), so the bound tracks the
    actual in-memory row width."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(path)
    if f.metadata.num_rows == 0:
        return pa.RecordBatchReader.from_batches(f.schema_arrow, iter(()))
    probe = next(f.iter_batches(batch_size=min(1024, f.metadata.num_rows)))
    bytes_per_row = max(1, probe.nbytes // max(1, probe.num_rows))
    batch_rows = max(1, chunk_bytes // bytes_per_row)
    return pa.RecordBatchReader.from_batches(
        f.schema_arrow, f.iter_batches(batch_size=batch_rows)
    )


def register_parquet_chunked(
    registry, name: str, path: str, chunk_bytes: int = 1 << 20
) -> None:
    """Register a parquet file as a dataset served through the chunked
    reader — the engine's registration of the reference's dissociated
    serving scenario (taxi-data train.parquet → 1 MiB chunks → meta+body
    streams, dissociated-ipc/cudf-flight-server.cc:68-93).  Each request
    re-opens the file; the server holds one chunk at a time."""
    import pyarrow.parquet as pq

    registry.register(
        name,
        lambda: chunked_parquet_reader(path, chunk_bytes),
        schema=pq.ParquetFile(path).schema_arrow,
    )


def prefetch_reader(
    reader: pa.RecordBatchReader, depth: int = 4
) -> pa.RecordBatchReader:
    """Read-ahead wrapper: a worker thread pulls up to ``depth`` batches
    ahead into a bounded queue, so upstream work (spill-file reads,
    dictionary encoding) overlaps downstream work (compression, socket
    writes) instead of serializing on one thread.  Order is preserved,
    memory stays O(depth x batch), and upstream errors re-raise at the
    consumer's ``read_next_batch``.  The streaming analog of the
    reference's pre-materialize-then-replay serving model (get_simple
    server.py:144) — replay overlap without the full materialization."""
    import queue
    import threading

    q: queue.Queue = queue.Queue(maxsize=depth)
    _END = object()
    abandoned = threading.Event()

    def pump() -> None:
        try:
            for batch in reader:
                # bounded put that notices an abandoned consumer: a client
                # disconnect drops the generator, and a plain q.put would
                # park this thread (and the upstream reader's file handles)
                # forever on the full queue
                while not abandoned.is_set():
                    try:
                        q.put(batch, timeout=1.0)
                        break
                    except queue.Full:
                        continue
                if abandoned.is_set():
                    return
            q.put(_END)
        except BaseException as exc:  # noqa: BLE001 — re-raised consumer-side
            q.put(exc)

    threading.Thread(target=pump, daemon=True).start()

    def gen() -> Iterator[pa.RecordBatch]:
        try:
            while True:
                item = q.get()
                if item is _END:
                    return
                if isinstance(item, BaseException):
                    raise item
                yield item
        finally:
            # reached on normal exhaustion AND on generator close/GC
            abandoned.set()

    return pa.RecordBatchReader.from_batches(reader.schema, gen())


# Below ~64 KiB of compressed payload per batch, the per-batch queue
# handoff (a GIL-bound hop, ~tens of µs) outweighs the overlapped encode
# work — measured on the 100M uncompressed replay, where prefetch at
# 4096-row/128 KiB identity batches cost 5.9 s → 9.0 s, vs the 42M
# dict+zstd serve where it paid 8.0 s → 4.6 s (VERDICT r5 #2).
PREFETCH_MIN_BATCH_BYTES = 64 * 1024


def maybe_prefetch_reader(
    reader: pa.RecordBatchReader,
    per_batch_bytes: int,
    codec: str | None = None,
    depth: int = 4,
) -> pa.RecordBatchReader:
    """Gate :func:`prefetch_reader` on estimated per-batch encode cost:
    read-ahead only pays when downstream per-batch work (a real codec ×
    a non-trivial payload) exceeds the thread-handoff cost.  Plain
    identity serves and small batches return ``reader`` unchanged; the
    transparent IPC-codec strategies (``identity+zstd`` etc.) DO
    compress every batch's buffers inside ``write_batch``, so they gate
    like any other codec."""
    if codec in (None, "", "identity"):
        return reader
    if per_batch_bytes < PREFETCH_MIN_BATCH_BYTES:
        return reader
    return prefetch_reader(reader, depth)
