"""Loader robustness: driver testdata physical types have CHANGED between
rounds (events.ts shipped as TIMESTAMP(NANOS), later TIMESTAMP(MICROS));
``tables.table`` must absorb dtype drift instead of erroring deep inside
a query plan."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from arrow_experiments_spark.tables import table
from conftest import SF_DIR


def test_events_ts_normalizes_to_micros_ntz(spark):
    df = table(spark, SF_DIR, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    assert df.count() > 0


def test_events_nanos_layout_also_normalizes(spark, tmp_path):
    """Rebuild the pre-round-3 layout (int64 ns under nanosAsLong) and
    check both layouts load to identical values."""
    cur = table(spark, SF_DIR, "events")
    rows = cur.limit(50).collect()
    tbl = pa.Table.from_pylist(
        [
            {
                "event_id": r.event_id,
                "ts": r.ts,
                "user_id": r.user_id,
                "event_type": r.event_type,
                "value": r.value,
                "props": r.props,
            }
            for r in rows
        ]
    )
    ns_type = pa.timestamp("ns")
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"),
        pa.field("ts", ns_type),
        tbl.column("ts").cast(ns_type),
    )
    d = tmp_path / "nanos"
    d.mkdir()
    pq.write_table(
        tbl, str(d / "events.parquet"), coerce_timestamps=None,
        store_schema=False, version="2.6",
    )
    got = table(spark, str(d), "events")
    assert got.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    want = {r.event_id: r.ts for r in rows}
    for r in got.collect():
        assert r.ts == want[r.event_id]


@pytest.mark.parametrize(
    "name,col,want",
    [
        ("documents", "doc_id", "bigint"),
        ("embeddings", "embedding", "array<float>"),
        ("embeddings", "label", "int"),
        ("events", "value", "double"),
    ],
)
def test_canonical_dtypes(spark, name, col, want):
    df = table(spark, SF_DIR, name)
    assert df.schema[col].dataType.simpleString() == want


def test_dtype_drift_absorbed(spark, tmp_path):
    """A future testdata drop with widened/narrowed physical types must
    load with canonical engine dtypes."""
    import pandas as pd

    d = tmp_path / "drifted"
    d.mkdir()
    drifted = pa.table(
        {
            "vec_id": pa.array([1, 2], pa.int32()),          # narrowed
            "embedding": pa.array(
                [[1.0, 0.0], [0.0, 1.0]], pa.list_(pa.float64())  # widened
            ),
            "label": pa.array([0, 1], pa.int64()),           # widened
        }
    )
    pq.write_table(drifted, str(d / "embeddings.parquet"))
    got = table(spark, str(d), "embeddings")
    assert got.schema["vec_id"].dataType.simpleString() == "bigint"
    assert got.schema["embedding"].dataType.simpleString() == "array<float>"
    assert got.schema["label"].dataType.simpleString() == "int"
    assert got.count() == 2


def test_table_plan_memo_hit_and_invalidation(spark, tmp_path):
    """The r16 per-session plan memo: a repeat table() call for an
    unchanged source returns the SAME DataFrame object (plan reuse, no
    re-listing); rewriting the source file invalidates the memo and the
    rebuilt frame reads the NEW data — the memo can never serve stale
    results after a testdata drop."""
    import time as _time

    from arrow_experiments_spark import tables

    d = tmp_path / "memo"
    d.mkdir()
    path = str(d / "documents.parquet")
    one = pa.table({"doc_id": pa.array([1], pa.int64()),
                    "text": pa.array(["alpha"])})
    pq.write_table(one, path)
    a = table(spark, str(d), "documents")
    b = table(spark, str(d), "documents")
    assert a is b, "unchanged source must hit the plan memo"
    assert [r.text for r in a.collect()] == ["alpha"]
    # rewrite with different content (and a bumped mtime: the fingerprint
    # is size+mtime_ns, and same-size same-instant rewrites are below its
    # resolution on coarse filesystems)
    _time.sleep(0.01)
    two = pa.table({"doc_id": pa.array([1, 2], pa.int64()),
                    "text": pa.array(["alpha", "beta"])})
    pq.write_table(two, path)
    c = table(spark, str(d), "documents")
    assert c is not a, "changed source must miss the memo"
    assert sorted(r.text for r in c.collect()) == ["alpha", "beta"]
    # the memo is keyed by session identity — a different session never
    # sees this one's frames (weakref identity check)
    key_sessions = {k[0] for k in tables._TABLE_CACHE}
    assert id(spark) in key_sessions


def test_widen_if_narrow_is_size_adaptive(spark, monkeypatch):
    """The tokenize-chain widening shuffle must be a function of source
    size, not an unconditional repartition(defaultParallelism): a tiny
    source widens (old behavior — one split must not serialize the HOF
    chain), a source past par x split-bytes keeps its natural scan
    partitioning (at 100 TB the skipped exchange is a full shuffle of
    the raw corpus).  Rows are identical either way."""
    from arrow_experiments_spark import tables

    sf = "/root/testdata/sf0.001"
    docs = tables.table(spark, sf, "documents")
    par = spark.sparkContext.defaultParallelism

    wide = tables.widen_if_narrow(docs, spark, sf, "documents")
    assert "Repartition" in wide._jdf.queryExecution().logical().toString()
    assert wide.rdd.getNumPartitions() == par

    # pretend one split holds the whole source: no repartition planned
    monkeypatch.setattr(tables, "_WIDEN_SPLIT_BYTES", 0)
    narrow = tables.widen_if_narrow(docs, spark, sf, "documents")
    assert "Repartition" not in narrow._jdf.queryExecution().logical().toString()
    assert sorted(r.doc_id for r in narrow.collect()) == sorted(
        r.doc_id for r in wide.collect()
    )


def test_widen_if_narrow_sizes_empty_dir_as_zero(spark, tmp_path):
    """An existing local directory with no bytes in it is SIZED (0), not
    unsizable (None): it is the smallest source there is, so it widens.
    None stays reserved for paths no filesystem can size, which fail
    closed."""
    from arrow_experiments_spark import tables

    (tmp_path / "documents.parquet").mkdir()
    (tmp_path / "documents.parquet" / "_SUCCESS").touch()
    path = str(tmp_path / "documents.parquet")
    assert tables._source_bytes(spark, path) == 0
    docs = tables.table(spark, SF_DIR, "documents")
    out = tables.widen_if_narrow(docs, spark, str(tmp_path), "documents")
    assert "Repartition" in out._jdf.queryExecution().logical().toString()


def test_events_ts_predicate_pushes_down_on_us_layout(spark):
    """r16 verdict #6: the ns→µs `timestampadd` rebuild would block
    parquet predicate pushdown on ts — but _normalize_events_ts is
    dtype-driven, and on the current µs TIMESTAMP_NTZ testdata it is a
    no-op, so a ts predicate must reach PushedFilters at the scan.  The
    ns branch keeps the rebuild (pushdown there is impossible without
    rewriting the data: the stored column is a raw long).  This pins the
    µs fast path so a future loader edit cannot silently reintroduce a
    pushdown-blocking wrapper on the layout the driver actually ships."""
    from pyspark.sql import functions as F

    from arrow_experiments_spark import tables

    ev = tables.table(spark, "/root/testdata/sf0.001", "events")
    ts_type = ev.schema["ts"].dataType.simpleString()
    assert ts_type == "timestamp_ntz", ts_type
    plan = (
        ev.filter(
            F.col("ts") >= F.lit("2024-01-02").cast("timestamp_ntz")
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters" in ln
    ]
    assert pushed and "GreaterThanOrEqual(ts" in pushed[0], plan


def test_widen_if_narrow_fails_closed_and_sizes_via_hadoop_fs(
    spark, monkeypatch
):
    """r16 verdict #3: the old sizing used os.walk only, so an
    object-store source read as 0 bytes and FAILED OPEN into the exact
    full-corpus repartition the widen logic exists to avoid at scale.
    Now: (a) a source NO filesystem can size takes the no-widen branch
    (fail closed — losing test-scale parallelism is recoverable, a
    100 TB round-robin shuffle is not), and (b) non-local URIs are sized
    through the path's own Hadoop FileSystem, so a declared-large remote
    source still takes the correct branch on real byte counts."""
    from arrow_experiments_spark import tables

    sf = "/root/testdata/sf0.001"
    docs = tables.table(spark, sf, "documents")

    # (a) unsizable source (no local stat, no Hadoop FS hit): fail closed
    monkeypatch.setattr(tables, "_source_bytes", lambda *_a: None)
    out = tables.widen_if_narrow(docs, spark, sf, "documents")
    assert (
        "Repartition"
        not in out._jdf.queryExecution().logical().toString()
    )
    monkeypatch.undo()

    # (b) a file:// URI bypasses the os.stat fast path and must size
    # through the Hadoop FileSystem — same byte count as a direct stat
    import os

    local = os.path.join(sf, "documents.parquet")
    via_fs = tables._source_bytes(spark, "file://" + local)
    direct = tables._source_bytes(spark, local)
    assert via_fs == direct and via_fs > 0

    # ... and the widen decision through that branch matches the local
    # one: tiny source → widen, past-threshold source → natural splits
    par = spark.sparkContext.defaultParallelism
    wide = tables.widen_if_narrow(docs, spark, "file://" + sf, "documents")
    assert "Repartition" in wide._jdf.queryExecution().logical().toString()
    monkeypatch.setattr(tables, "_WIDEN_SPLIT_BYTES", 0)
    narrow = tables.widen_if_narrow(
        docs, spark, "file://" + sf, "documents"
    )
    assert (
        "Repartition"
        not in narrow._jdf.queryExecution().logical().toString()
    )
    assert wide.rdd.getNumPartitions() == par
