"""Bounded-memory Spark→HTTP egress (SURVEY.md §7 hard part 2).

The reference's servers hold O(batch), never the whole response
(http/get_simple/python/server/http.server/server.py:59-72); the Spark
adapter must match.  ``df_to_reader`` runs the query to completion in
the JVM (executors build Arrow IPC batches, persisted to executor disk),
then serves the persisted blocks in partition order from the driver's
BlockManager with no further Spark job; if Spark lacks the private
entry points it serves through the executor-side IPC spill instead.
The contract pinned here: the schema and data of ``df.toArrow()`` in
any session time zone, global order, at most one result partition in
the driver JVM and one batch in Python, a runtime error or an oversize
partition raised before the HTTP response starts, no Spark job while
the reader drains, no block read lock or persisted RDD left behind, and
a lost block recomputed.  ``register_dataframe_materialized`` drains the
same reader into one driver-written file that ``spilled_files_reader``
and the raw splice serve; ``spill_dataframe`` remains the fallback.
"""

from __future__ import annotations

import gc
import logging
import threading

import pyarrow as pa
import pytest

from arrow_experiments_spark import session
from arrow_experiments_spark.sources import arrow_ipc
from arrow_experiments_spark.sources.arrow_ipc import (
    df_to_reader,
    register_dataframe,
    spill_dataframe,
    spilled_files_reader,
)
from arrow_experiments_spark.sources.generators import gen_flight_bench


@pytest.fixture(params=["jvm", "spill"])
def egress(request, monkeypatch):
    """Run a test over the JVM path and over the spill fallback."""
    if request.param == "spill":
        monkeypatch.setattr(arrow_ipc, "probe_once", lambda *a: False)
    return request.param


def test_modes_agree_with_toarrow(spark, egress):
    df = gen_flight_bench(spark, rows=20_000).repartition(4)
    expect = df.toArrow().combine_chunks().sort_by("a")
    got = df_to_reader(df, batch_rows=1024).read_all()
    assert got.schema.equals(expect.schema)
    assert got.combine_chunks().sort_by("a").equals(expect)
    assert all(b.num_rows <= 1024 for b in got.to_batches())


def test_global_order_preserved(spark, egress):
    """Range-partitioned sort order must survive the partition-ordered
    replay."""
    df = gen_flight_bench(spark, rows=20_000).orderBy("a")
    got = df_to_reader(df, batch_rows=4096).read_all()
    col = got.column("a").to_pylist()
    assert col == sorted(col)


_ALL_TYPES_SQL = """
    SELECT id,
           CAST(id * 1.25 AS DECIMAL(12, 2)) AS dec,
           array(id, id + 1) AS arr,
           named_struct('x', id, 'y', CAST(id AS STRING)) AS st,
           map(CAST(id AS STRING), id) AS mp,
           CAST(CAST(id AS STRING) AS BINARY) AS bin,
           date_add(DATE'2024-03-09', CAST(id AS INT)) AS dt,
           TIMESTAMP_LTZ'2024-03-10 01:30:00' + make_interval(0, 0, 0, 0, CAST(id AS INT)) AS ts_ltz,
           TIMESTAMP_NTZ'2024-03-10 01:30:00' + make_interval(0, 0, 0, 0, CAST(id AS INT)) AS ts_ntz,
           NULL AS nul,
           IF(id % 3 = 0, NULL, id) AS maybe
    FROM range(0, 48, 1, 3)
"""


@pytest.mark.parametrize("zone", ["UTC", "America/Los_Angeles"])
def test_types_match_toarrow_in_session_zone(spark, zone):
    """Schema and data equal ``df.toArrow()`` across the Spark types, in
    a UTC and a non-UTC session zone (timestamps labelled UTC, as
    ``toArrow`` labels them)."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        df = spark.sql(_ALL_TYPES_SQL)
        expect = df.toArrow()
        got = df_to_reader(df, batch_rows=10).read_all()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert got.schema.equals(expect.schema), (got.schema, expect.schema)
    assert got.num_rows == 48
    assert got.combine_chunks().equals(expect.combine_chunks())


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_no_persisted_rdd_left_behind(spark):
    """The per-request persist is released after a full drain, after a
    reader dropped after its first batch, and when the query fails."""
    base = _persisted(spark)
    df = gen_flight_bench(spark, rows=50_000).repartition(4)

    reader = df_to_reader(df, batch_rows=4096)
    assert _persisted(spark) == base + 1  # held while the stream is open
    assert reader.read_all().num_rows == 50_000
    assert _persisted(spark) == base

    reader = df_to_reader(df, batch_rows=4096)
    assert reader.read_next_batch().num_rows == 4096
    reader.close()
    del reader
    gc.collect()
    assert _persisted(spark) == base

    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        df_to_reader(spark.sql("SELECT CAST(id + 2147483647 AS INT) AS x FROM range(10)"))
    assert _persisted(spark) == base


def _new_persisted_rdd(spark, before):
    """The one RDD persisted since ``before`` (a set of RDD ids)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    (rdd_id,) = set(rdds.keySet()) - before
    return rdd_id, rdds[rdd_id]


def _block_manager(spark):
    return spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().blockManager()


def _rdd_block(spark, rdd_id, p):
    return spark.sparkContext._jvm.org.apache.spark.storage.RDDBlockId(rdd_id, p)


def _jobs_in_group(spark, group) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("shape", ["aggregate", "partitions"])
def test_drain_runs_no_spark_job(spark, shape):
    """Every Spark job of a request runs before ``df_to_reader`` returns:
    draining the reader serves the persisted blocks from the driver's
    BlockManager, with no job per result partition.  Checked on a
    one-partition aggregate and on a four-partition result."""
    gen = gen_flight_bench(spark, rows=20_000)
    if shape == "aggregate":
        df, key = gen.groupBy("b").sum("a"), "b"
    else:
        df, key = gen.repartition(4), "a"
    expect = df.toArrow().combine_chunks().sort_by(key)
    sc = spark.sparkContext
    group = f"egress-drain-{shape}"
    sc.setJobGroup(group, "df_to_reader drain")
    try:
        reader = df_to_reader(df, batch_rows=1024)
        before = _jobs_in_group(spark, group)
        got = reader.read_all()
        after = _jobs_in_group(spark, group)
    finally:
        sc._jsc.clearJobGroup()
    assert before >= 1  # the count() job ran under the group
    assert after == before, f"draining ran {after - before} Spark job(s)"
    assert got.combine_chunks().sort_by(key).equals(expect)


def test_dropped_reader_releases_block_locks(spark):
    """A reader dropped after its first batch holds no block read lock:
    every block of the persisted result reads ``readerCount == 0`` and a
    blocking unpersist returns at once."""
    base = _persisted(spark)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    df = gen_flight_bench(spark, rows=50_000).repartition(4)
    reader = df_to_reader(df, batch_rows=4096)
    rdd_id, jrdd = _new_persisted_rdd(spark, before)
    assert reader.read_next_batch().num_rows == 4096

    info = _block_manager(spark).blockInfoManager()
    readers = []
    for p in range(jrdd.getNumPartitions()):
        block = info.get(_rdd_block(spark, rdd_id, p))
        assert block.isDefined()
        readers.append(block.get().readerCount())
    assert readers == [0] * jrdd.getNumPartitions()

    reader.close()
    del reader
    gc.collect()
    unpersist = threading.Thread(target=jrdd.unpersist, args=(True,), daemon=True)
    unpersist.start()
    unpersist.join(timeout=5)
    assert not unpersist.is_alive(), "unpersist(blocking=True) waited on a block lock"
    assert _persisted(spark) == base


def test_lost_block_is_recomputed(spark):
    """A block removed between the ``count()`` job and the read is
    recomputed by a one-partition job; the stream still equals
    ``toArrow()``, in order."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    df = gen_flight_bench(spark, rows=20_000).orderBy("a")
    expect = df.toArrow()
    sc.setJobGroup("egress-lost-block", "df_to_reader recompute")
    try:
        reader = df_to_reader(df, batch_rows=4096)
        rdd_id, jrdd = _new_persisted_rdd(spark, before)
        blocks = _block_manager(spark)
        lost = range(0, jrdd.getNumPartitions(), 2)
        for p in lost:
            blocks.removeBlock(_rdd_block(spark, rdd_id, p), True)
            assert not blocks.getStatus(_rdd_block(spark, rdd_id, p)).isDefined()
        jobs = _jobs_in_group(spark, "egress-lost-block")
        got = reader.read_all()
        assert _jobs_in_group(spark, "egress-lost-block") - jobs == len(lost)
    finally:
        sc._jsc.clearJobGroup()
    assert got.combine_chunks().equals(expect.combine_chunks())


def test_oversize_partition_raises_before_return(spark, monkeypatch):
    """A result partition larger than ``spark.driver.maxResultSize``
    fails before ``df_to_reader`` returns (so before an HTTP response
    starts) and leaves no persisted RDD."""
    monkeypatch.setattr(arrow_ipc, "_max_result_bytes", lambda sc: 64 * 1024)
    base = _persisted(spark)
    df = gen_flight_bench(spark, rows=50_000).repartition(2)
    with pytest.raises(RuntimeError, match="spark.driver.maxResultSize"):
        df_to_reader(df)
    assert _persisted(spark) == base


def test_spill_fallback_leaves_no_spill_dir(spark, monkeypatch, tmp_path):
    """The spill fallback removes its spill directory when the reader is
    dropped before its first read, and when the spill job fails."""
    import tempfile

    monkeypatch.setattr(arrow_ipc, "probe_once", lambda *a: False)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    reader = df_to_reader(gen_flight_bench(spark, rows=1_000))
    assert list(tmp_path.glob("arrow-egress-*"))  # held while the reader lives
    del reader
    gc.collect()
    assert not list(tmp_path.glob("arrow-egress-*"))

    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        df_to_reader(spark.sql("SELECT CAST(id + 2147483647 AS INT) AS x FROM range(10)"))
    assert not list(tmp_path.glob("arrow-egress-*"))


def test_runtime_error_answers_400_before_any_body(spark):
    """An ANSI runtime failure in ``GET /query`` surfaces while the
    query runs, before the response starts: both front-ends answer 400
    with the error, not a 200 with a truncated stream."""
    import json

    from test_asgi import front_ends

    from arrow_experiments_spark.transport.server import DatasetRegistry

    def sql_runner(sql):
        return df_to_reader(spark.sql(sql))

    sql = "SELECT+CAST(id+%2B+2147483647+AS+INT)+AS+x+FROM+range(10)"
    with front_ends(DatasetRegistry(), sql_runner=sql_runner) as fronts:
        for name, fetch in fronts.items():
            status, headers, body = fetch("GET", f"/query?sql={sql}")
            assert status == 400, name
            assert headers["content-type"].startswith("application/json"), name
            assert "CAST_OVERFLOW" in json.loads(body)["error"], name
            ok, _, _ = fetch("GET", "/query?sql=SELECT+1+AS+one")
            assert ok == 200, name


@pytest.mark.parametrize(
    "entry_point",
    ["toArrowBatchRdd", "getLocalValues", "serveIterator", "_load_from_socket"],
)
def test_missing_entry_point_falls_back_to_spill(spark, monkeypatch, caplog, entry_point):
    """With any private entry point missing, the probe logs ONE warning
    for the SparkContext and every request serves through the spill."""
    import pyspark.util
    from weakref import WeakKeyDictionary

    monkeypatch.setattr(session, "_PROBED", WeakKeyDictionary())
    if entry_point == "_load_from_socket":
        monkeypatch.delattr(pyspark.util, entry_point)
    else:
        real = arrow_ipc.missing_jvm_methods

        def renamed(sc, methods):
            return real(sc, [(c, m + "Gone" if m == entry_point else m) for c, m in methods])

        monkeypatch.setattr(arrow_ipc, "missing_jvm_methods", renamed)
    spills = []
    real_spill = arrow_ipc.spill_dataframe

    def counting_spill(df, *args, **kw):
        spills.append(df)
        return real_spill(df, *args, **kw)

    monkeypatch.setattr(arrow_ipc, "spill_dataframe", counting_spill)

    df = gen_flight_bench(spark, rows=5_000).repartition(2)
    expect = df.toArrow().combine_chunks().sort_by("a")
    with caplog.at_level(logging.WARNING, logger="arrow_experiments_spark"):
        for _ in range(2):
            got = df_to_reader(df, batch_rows=1024).read_all()
            assert got.combine_chunks().sort_by("a").equals(expect)
    records = [r for r in caplog.records if r.name.startswith("arrow_experiments_spark")]
    assert len(records) == 1, [r.getMessage() for r in records]
    assert entry_point in records[0].getMessage()
    assert len(spills) == 2


def test_spill_driver_memory_is_bounded(spark):
    """Streaming a multi-batch result must never hold the whole table in
    driver Arrow memory: peak allocation while draining stays a small
    multiple of one batch, far below the result size."""
    df = gen_flight_bench(spark, rows=500_000)  # ~16 MB of int64s
    reader = df_to_reader(df, batch_rows=4096)
    base = pa.total_allocated_bytes()
    peak = 0
    rows = 0
    for batch in reader:
        rows += batch.num_rows
        peak = max(peak, pa.total_allocated_bytes() - base)
    assert rows == 500_000
    # one 4096x4 int64 batch is ~128 KiB; allow generous slack for the
    # rebatch buffer + allocator bins, but far below the 16 MB result
    assert peak < 4 * 1024 * 1024, f"driver held {peak} bytes while streaming"


def test_spill_empty_result_keeps_schema(spark):
    df = gen_flight_bench(spark, rows=100).filter("a is null and b = 1")
    got = df_to_reader(df).read_all()
    assert got.num_rows == 0
    assert got.schema.names == ["a", "b", "c", "d"]


def test_register_dataframe_serves_per_request(spark):
    """The server-facing factory re-runs the plan per request through the
    bounded reader (no pre-materialized table behind the endpoint)."""
    from arrow_experiments_spark.transport.client import fetch_arrow
    from arrow_experiments_spark.transport.server import DatasetRegistry, serve

    registry = DatasetRegistry()
    df = gen_flight_bench(spark, rows=5_000)
    register_dataframe(registry, "bench", df, batch_rows=1024)
    httpd = serve(registry)
    try:
        host, port = httpd.server_address
        for _ in range(2):  # replay-many: each request re-streams
            table, _metrics = fetch_arrow(
                f"http://{host}:{port}/datasets/bench",
                accept_encoding="identity",
            )
            assert table.num_rows == 5_000
    finally:
        httpd.shutdown()


def test_describe_does_not_execute_the_query(spark):
    """/describe must answer from the registered schema hint — never by
    invoking the factory (which runs a full Spark job for lazy query
    datasets)."""
    import json
    import urllib.request

    from arrow_experiments_spark.transport.server import DatasetRegistry, serve

    registry = DatasetRegistry()
    df = gen_flight_bench(spark, rows=1_000)
    register_dataframe(registry, "lazy", df)
    calls = {"n": 0}
    orig = registry._factories["lazy"]

    def counting():
        calls["n"] += 1
        return orig()

    registry._factories["lazy"] = counting
    httpd = serve(registry)
    try:
        host, port = httpd.server_address
        with urllib.request.urlopen(
            f"http://{host}:{port}/datasets/lazy/describe"
        ) as resp:
            doc = json.loads(resp.read())
        assert [f["name"] for f in doc["schema"]] == ["a", "b", "c", "d"]
        assert calls["n"] == 0, "describe executed the query"
    finally:
        httpd.shutdown()


def test_spill_files_cleaned_up(spark, tmp_path):
    df = gen_flight_bench(spark, rows=1_000)
    d, files, schema = spill_dataframe(df, str(tmp_path))
    assert files, "expected at least one spill file"
    reader = spilled_files_reader(files, schema, cleanup_dir=d)
    reader.read_all()
    import os

    assert not os.path.exists(d)


def test_iter_arrow_batches_keeps_null_order_rows(spark):
    """Rows whose order_col is NULL must land in the first slice instead
    of vanishing from every slice predicate."""
    from arrow_experiments_spark.sources.arrow_ipc import iter_arrow_batches

    df = spark.createDataFrame(
        [(None, "a"), (1, "b"), (2, "c"), (3, "d"), (None, "e"), (4, "f")],
        "k int, v string",
    )
    rows = []
    for batch in iter_arrow_batches(df, "k", n_slices=3):
        rows.extend(batch.to_pylist())
    assert len(rows) == 6
    assert {r["v"] for r in rows} == {"a", "b", "c", "d", "e", "f"}
    # nulls-first ordering puts the NULL rows at the head
    assert {rows[0]["v"], rows[1]["v"]} == {"a", "e"}


def _dict_messages(path):
    """(n_dictionary_messages, n_record_batches) in an IPC stream file."""
    import pyarrow.ipc as ipc

    dicts = batches = 0
    with open(path, "rb") as f:
        reader = ipc.MessageReader.open_stream(f)
        while True:
            try:
                msg = reader.read_next_message()
            except StopIteration:
                break
            if msg is None:
                break
            if msg.type == "dictionary":
                dicts += 1
            elif msg.type == "record batch":
                batches += 1
    return dicts, batches


def test_delta_dictionary_stream_roundtrip(spark, tmp_path):
    """SURVEY.md §7 hard part 4: streaming egress with APPEND-ONLY
    dictionaries emits one initial dictionary message plus per-batch
    deltas (never a replacement), and the decoded stream equals the
    plain-encoded table.  High-cardinality shape: every batch introduces
    new dictionary values, so a unified up-front dictionary would need
    the whole table materialized."""
    import pyarrow.ipc as ipc

    from arrow_experiments_spark.sources.arrow_ipc import write_ipc_stream

    import pyspark.sql.functions as F

    n = 40_000
    df = (
        spark.range(n)
        .select(
            F.col("id"),
            # ~10k distinct values arriving in id order: each 4096-row
            # batch brings ~1k unseen values
            F.concat(F.lit("user-"), (F.col("id") / 4).cast("long").cast("string")).alias("who"),
            F.when(F.col("id") % 97 == 0, None)
            .otherwise(F.concat(F.lit("t"), (F.col("id") % 7).cast("string")))
            .alias("tag"),
        )
        .coalesce(1)
        .sortWithinPartitions("id")
    )
    path = str(tmp_path / "delta.arrows")
    rows = write_ipc_stream(df, path, batch_rows=4096, dict_cols=["who", "tag"])
    assert rows == n

    with open(path, "rb") as f:
        got = ipc.open_stream(f).read_all()
    assert pa.types.is_dictionary(got.schema.field("who").type)
    want = df.toArrow()
    decoded = got.combine_chunks().sort_by("id")
    assert decoded.column("who").cast(pa.string()).to_pylist() == want.column("who").to_pylist()
    assert decoded.column("tag").cast(pa.string()).to_pylist() == want.column("tag").to_pylist()

    # message-level: >1 dictionary message means per-stream deltas (the
    # unified-dictionary path emits exactly one per column)
    dicts, batches = _dict_messages(path)
    assert batches == (n + 4095) // 4096
    assert dicts > 2 * 1  # more than one message per dict column


def test_growing_dictionary_prefix_extension():
    """Each batch's dictionary must prefix-extend the previous one — the
    property that makes the IPC writer emit deltas, not replacements."""
    from arrow_experiments_spark.sources.arrow_ipc import _GrowingDictionary

    g = _GrowingDictionary()
    a = g.encode(pa.array(["x", "y", None, "x"]))
    b = g.encode(pa.array(["z", "y", "w"]))
    assert a.dictionary.to_pylist() == ["x", "y"]
    assert b.dictionary.to_pylist() == ["x", "y", "z", "w"]
    assert b.dictionary.to_pylist()[: len(a.dictionary)] == a.dictionary.to_pylist()
    assert a.to_pylist() == ["x", "y", None, "x"]
    assert b.to_pylist() == ["z", "y", "w"]


def test_growing_dictionary_nan_is_one_slot():
    """float NaN must map to ONE dictionary slot across batches (NaN !=
    NaN would otherwise append a fresh slot per batch — unbounded state)."""
    import math

    from arrow_experiments_spark.sources.arrow_ipc import _GrowingDictionary

    g = _GrowingDictionary()
    a = g.encode(pa.array([1.5, float("nan"), 1.5]))
    b = g.encode(pa.array([float("nan"), 2.5]))
    c = g.encode(pa.array([float("nan")]))
    assert len(c.dictionary) == 3  # 1.5, nan, 2.5 — no duplicate nan slots
    assert sum(1 for v in c.dictionary.to_pylist() if math.isnan(v)) == 1
    assert math.isnan(b.to_pylist()[0]) and b.to_pylist()[1] == 2.5
    assert a.dictionary.to_pylist()[0] == 1.5


def test_dict_encode_reader_empty_stream(spark, tmp_path):
    """write_ipc_stream with dict_cols on an EMPTY DataFrame must write a
    valid empty stream with the dict-typed schema (not StopIteration)."""
    from arrow_experiments_spark.sources.arrow_ipc import write_ipc_stream

    df = spark.createDataFrame([], "id long, who string").filter("id < 0")
    path = str(tmp_path / "empty_dict.arrows")
    rows = write_ipc_stream(df, path, dict_cols=["who"])
    assert rows == 0
    with open(path, "rb") as f:
        got = pa.ipc.open_stream(f).read_all()
    assert got.num_rows == 0
    assert pa.types.is_dictionary(got.schema.field("who").type)


def test_prefetch_reader_preserves_order_and_content():
    import pyarrow as pa

    from arrow_experiments_spark.sources.arrow_ipc import prefetch_reader

    t = pa.table({"x": pa.array(range(100_000), pa.int64())})
    src = pa.RecordBatchReader.from_batches(
        t.schema, t.to_batches(max_chunksize=1024)
    )
    got = prefetch_reader(src, depth=3).read_all()
    assert got.equals(t)


def test_prefetch_reader_propagates_upstream_error():
    import pyarrow as pa
    import pytest

    from arrow_experiments_spark.sources.arrow_ipc import prefetch_reader

    schema = pa.schema([("x", pa.int64())])

    def gen():
        yield pa.record_batch([pa.array([1, 2])], schema=schema)
        raise RuntimeError("upstream boom")

    reader = prefetch_reader(
        pa.RecordBatchReader.from_batches(schema, gen()), depth=2
    )
    assert reader.read_next_batch().num_rows == 2
    with pytest.raises(RuntimeError, match="upstream boom"):
        while True:
            reader.read_next_batch()


# ---- zero-copy splice serve (raw_spill_stream, VERDICT r5 #1) -------------


def test_raw_spill_stream_decodes_to_same_table(spark):
    """The spliced byte stream must be a VALID Arrow IPC stream decoding
    to exactly what the reader-based replay produces — same rows, same
    batch boundaries as written (4096 with per-file partial tails)."""
    import io

    from arrow_experiments_spark.sources.arrow_ipc import raw_spill_stream

    df = gen_flight_bench(spark, rows=50_000).repartition(4)
    d, files, schema = spill_dataframe(df, batch_rows=4096)
    try:
        assert len(files) == 4
        raw = raw_spill_stream(files, schema)
        assert raw is not None
        body = b"".join(bytes(c) for c in raw())
        got = pa.ipc.open_stream(io.BytesIO(body))
        batches = list(got)
        assert sum(b.num_rows for b in batches) == 50_000
        # splice preserves per-file batch framing: all 4096 except ≤ one
        # partial tail per file
        partial = [b.num_rows for b in batches if b.num_rows != 4096]
        assert len(partial) <= len(files)
        expect = (
            spilled_files_reader(files, schema, batch_rows=4096)
            .read_all()
            .combine_chunks()
            .sort_by("a")
        )
        have = pa.Table.from_batches(batches).combine_chunks().sort_by("a")
        assert have.equals(expect)
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


def test_raw_spill_stream_refuses_ineligible_inputs(tmp_path):
    """Dictionary schemas, truncated files, and mismatched schemas must
    all fall back (None), never produce a corrupt stream."""
    from arrow_experiments_spark.sources.arrow_ipc import raw_spill_stream

    t1 = pa.table({"a": pa.array([1, 2, 3], pa.int64())})
    t2 = pa.table({"b": pa.array([1.5, 2.5], pa.float64())})
    p1, p2 = str(tmp_path / "x1.arrows"), str(tmp_path / "x2.arrows")
    for p, t in ((p1, t1), (p2, t2)):
        with open(p, "wb") as f, pa.ipc.new_stream(f, t.schema) as w:
            w.write_table(t)
    assert raw_spill_stream([], t1.schema) is None
    dict_schema = pa.schema([pa.field("a", pa.dictionary(pa.int32(), pa.string()))])
    assert raw_spill_stream([p1], dict_schema) is None
    # mismatched serialized schemas across files
    assert raw_spill_stream([p1, p2], t1.schema) is None
    # truncated trailer (no EOS)
    data = open(p1, "rb").read()
    p3 = str(tmp_path / "x3.arrows")
    open(p3, "wb").write(data[:-8])
    assert raw_spill_stream([p3], t1.schema) is None
    # the happy single-file case round-trips
    raw = raw_spill_stream([p1], t1.schema)
    assert raw is not None
    import io

    assert pa.ipc.open_stream(io.BytesIO(b"".join(bytes(c) for c in raw()))).read_all().equals(t1)


def test_server_serves_raw_spill_zero_copy(spark):
    """End-to-end: register_spilled_files activates the raw path and a
    plain identity GET returns the full table; a projected request falls
    back to the reader path on the same name."""
    import shutil

    from arrow_experiments_spark.sources.arrow_ipc import register_spilled_files
    from arrow_experiments_spark.transport.client import fetch_arrow
    from arrow_experiments_spark.transport.server import DatasetRegistry, serve

    df = gen_flight_bench(spark, rows=30_000).repartition(3)
    d, files, schema = spill_dataframe(df, batch_rows=4096)
    registry = DatasetRegistry()
    assert register_spilled_files(registry, "f", files, schema, batch_rows=4096)
    assert registry.identity_stream("f") is not None
    httpd = serve(registry)
    host, port = httpd.server_address
    try:
        tbl, metrics = fetch_arrow(
            f"http://{host}:{port}/datasets/f", accept_encoding="identity"
        )
        assert metrics.rows == 30_000
        expect = df.toArrow().combine_chunks().sort_by("a")
        assert tbl.combine_chunks().sort_by("a").equals(expect)
        # projection goes through the batch reader, not the raw bytes
        sub, m2 = fetch_arrow(
            f"http://{host}:{port}/datasets/f?columns=a&limit=10",
            accept_encoding="identity",
        )
        assert sub.num_rows == 10 and sub.column_names == ["a"]
        # compressed negotiation also falls back to the reader path
        ztbl, _ = fetch_arrow(
            f"http://{host}:{port}/datasets/f", accept_encoding="zstd"
        )
        assert ztbl.num_rows == 30_000
    finally:
        httpd.shutdown()
        shutil.rmtree(d, ignore_errors=True)


def test_maybe_prefetch_reader_gate():
    """Identity/small-batch serves must NOT grow a read-ahead thread
    (per-batch handoff costs more than it saves — VERDICT r5 #4); heavy
    compressed serves must."""
    from arrow_experiments_spark.sources.arrow_ipc import maybe_prefetch_reader

    def fresh():
        t = pa.table({"a": list(range(100))})
        return pa.RecordBatchReader.from_batches(t.schema, t.to_batches())

    r = fresh()
    assert maybe_prefetch_reader(r, per_batch_bytes=1 << 20, codec="identity") is r
    r = fresh()
    assert maybe_prefetch_reader(r, per_batch_bytes=1 << 20, codec=None) is r
    r = fresh()
    # transparent IPC codecs compress per batch inside write_batch — they
    # gate like any real codec
    assert maybe_prefetch_reader(r, per_batch_bytes=1 << 20, codec="identity+zstd") is not r
    r = fresh()
    assert maybe_prefetch_reader(r, per_batch_bytes=1024, codec="zstd") is r
    r = fresh()
    wrapped = maybe_prefetch_reader(r, per_batch_bytes=1 << 20, codec="zstd")
    assert wrapped is not r
    assert wrapped.read_all().column("a").to_pylist() == list(range(100))


def test_register_dataframe_materialized_serves_without_rerun(spark):
    """Spill-once registration: the plan runs at registration, requests
    serve from the spill bytes (raw path active), and results match the
    per-request-plan registration."""
    import shutil

    from arrow_experiments_spark.sources.arrow_ipc import (
        register_dataframe_materialized,
    )
    from arrow_experiments_spark.transport.client import fetch_arrow
    from arrow_experiments_spark.transport.server import DatasetRegistry, serve

    df = gen_flight_bench(spark, rows=25_000).repartition(2)
    registry = DatasetRegistry()
    d = register_dataframe_materialized(registry, "mat", df, batch_rows=4096)
    assert registry.identity_stream("mat") is not None  # raw path active
    httpd = serve(registry)
    host, port = httpd.server_address
    try:
        # no Spark job may run at request time: serving is pure file I/O
        tracker = spark.sparkContext.statusTracker()
        jobs_before = len(tracker.getJobIdsForGroup(None) or [])
        tbl, m = fetch_arrow(
            f"http://{host}:{port}/datasets/mat", accept_encoding="identity"
        )
        jobs_after = len(tracker.getJobIdsForGroup(None) or [])
        assert m.rows == 25_000
        assert jobs_after == jobs_before, "request-time fetch ran a Spark job"
        expect = df.toArrow().combine_chunks().sort_by("a")
        assert tbl.combine_chunks().sort_by("a").equals(expect)
    finally:
        httpd.shutdown()
        shutil.rmtree(d, ignore_errors=True)


def test_register_dataframe_materialized_streams_in_order(spark, egress, monkeypatch, tmp_path):
    """Materialize-once goes through ``df_to_reader``: on the JVM path no
    Python worker spills (``spill_dataframe`` is never called), on a
    probe miss the spill fallback still materializes.  Either way the
    driver writes one file under ``spill_dir``, the served stream is
    ``df.toArrow()`` in order, and every batch but the last holds
    ``batch_rows`` rows."""
    import os

    from arrow_experiments_spark.sources.arrow_ipc import register_dataframe_materialized
    from arrow_experiments_spark.transport.server import DatasetRegistry

    spills = []
    real_spill = arrow_ipc.spill_dataframe

    def spill(*args, **kwargs):
        if egress == "jvm":
            raise AssertionError("materialized through Python workers")
        spills.append(args)
        return real_spill(*args, **kwargs)

    monkeypatch.setattr(arrow_ipc, "spill_dataframe", spill)
    df = spark.range(0, 25_000, 1, 3).selectExpr(
        "id", "id * 3 AS b", "CAST(id AS STRING) AS s"
    )
    registry = DatasetRegistry()
    d = register_dataframe_materialized(
        registry, "m", df, batch_rows=4096, spill_dir=str(tmp_path)
    )
    assert len(spills) == (egress == "spill")
    assert os.path.dirname(d) == str(tmp_path)
    assert len(os.listdir(d)) == 1
    body = b"".join(bytes(c) for c in registry.identity_stream("m"))  # the splice
    batches = list(pa.ipc.open_stream(body))
    assert [b.num_rows for b in batches] == [4096] * 6 + [25_000 - 6 * 4096]
    expect = df.toArrow()
    assert pa.Table.from_batches(batches).equals(expect)
    assert registry.reader("m").read_all().equals(expect)


def test_register_dataframe_materialized_empty_result(spark, egress, tmp_path):
    """An empty result registers, splices and serves 0 rows with the
    DataFrame's columns."""
    from arrow_experiments_spark.sources.arrow_ipc import register_dataframe_materialized
    from arrow_experiments_spark.transport.client import fetch_arrow
    from arrow_experiments_spark.transport.server import DatasetRegistry, serve

    df = spark.range(0).selectExpr("id", "CAST(id AS STRING) AS s")
    registry = DatasetRegistry()
    register_dataframe_materialized(registry, "e", df, spill_dir=str(tmp_path))
    assert registry.identity_stream("e") is not None
    httpd = serve(registry)
    host, port = httpd.server_address
    try:
        for coding in ("identity", "zstd"):
            tbl, m = fetch_arrow(
                f"http://{host}:{port}/datasets/e", accept_encoding=coding
            )
            assert m.rows == 0 and tbl.column_names == ["id", "s"]
    finally:
        httpd.shutdown()


def test_raw_spill_serve_survives_client_disconnect(spark):
    """A client that aborts mid-stream must not wedge the raw splice
    path: the handler's generator is dropped (mmap refs released with
    it) and subsequent full fetches succeed."""
    import http.client
    import shutil

    from arrow_experiments_spark.sources.arrow_ipc import register_spilled_files
    from arrow_experiments_spark.transport.client import fetch_arrow
    from arrow_experiments_spark.transport.server import DatasetRegistry, serve

    df = gen_flight_bench(spark, rows=200_000).repartition(4)  # ~6 MiB body
    d, files, schema = spill_dataframe(df, batch_rows=4096)
    registry = DatasetRegistry()
    assert register_spilled_files(registry, "big", files, schema)
    httpd = serve(registry)
    host, port = httpd.server_address
    try:
        for _ in range(3):  # several aborted readers in a row
            conn = http.client.HTTPConnection(host, port)
            conn.request("GET", "/datasets/big", headers={"Accept-Encoding": "identity"})
            resp = conn.getresponse()
            resp.read(4096)  # a few chunks only
            conn.close()  # abort mid-body
        tbl, m = fetch_arrow(
            f"http://{host}:{port}/datasets/big", accept_encoding="identity"
        )
        assert m.rows == 200_000
        assert tbl.combine_chunks().sort_by("a").equals(
            df.toArrow().combine_chunks().sort_by("a")
        )
    finally:
        httpd.shutdown()
        shutil.rmtree(d, ignore_errors=True)


def test_raw_spill_stream_refuses_nested_dictionary(tmp_path):
    """A dictionary anywhere in the schema tree (not just top level)
    must disqualify the splice — nested dictionary fields also emit
    per-file dictionary messages."""
    from arrow_experiments_spark.sources.arrow_ipc import raw_spill_stream

    t = pa.table(
        {
            "xs": pa.array(
                [["a", "b"], ["a"]],
                type=pa.list_(pa.dictionary(pa.int32(), pa.string())),
            )
        }
    )
    p = str(tmp_path / "nested.arrows")
    with open(p, "wb") as f, pa.ipc.new_stream(f, t.schema) as w:
        w.write_table(t)
    assert raw_spill_stream([p], t.schema) is None
