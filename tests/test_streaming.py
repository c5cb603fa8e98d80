"""Structured Streaming analogs (SURVEY.md §2.6 Streaming row): the same
logical plans as operators/events.py driven through readStream → memory
sink, checked against the batch results (golden micro-batch replay)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from arrow_experiments_spark.streaming.windows import (
    dedup_within_watermark,
    session_counts,
    sliding_counts,
    tumbling_counts,
)
from arrow_experiments_spark.tables import table

from conftest import SF_DIR

WATERMARK = "100 days"  # beyond the 30-day event span: nothing dropped, so
# streaming results must equal batch results exactly


@pytest.fixture(scope="module")
def events_stream(spark, tmp_path_factory):
    # materialize the events table (ns→µs converted) as a parquet dir the
    # streaming reader can consume with an explicit schema
    out = str(tmp_path_factory.mktemp("events_stream") / "events")
    # watermarks need TIMESTAMP (ltz); session TZ is UTC so the cast is a
    # pure relabel of the ntz values
    batch = table(spark, SF_DIR, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    batch.write.mode("overwrite").parquet(out)
    return spark.readStream.schema(batch.schema).parquet(out)


def _run(stream_df, spark, name, mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_tumbling_equals_batch(spark, events_stream):
    got = _run(
        tumbling_counts(events_stream, watermark=WATERMARK), spark, "t_tumbling", "complete"
    )
    batch = table(spark, SF_DIR, "events")
    want = (
        batch.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert got.count() == want.count()
    assert got.agg(F.sum("n_events")).first()[0] == batch.count()


def test_streaming_sliding_equals_batch(spark, events_stream):
    got = _run(
        sliding_counts(events_stream, watermark=WATERMARK), spark, "t_sliding", "complete"
    )
    batch = table(spark, SF_DIR, "events")
    # every event belongs to exactly 2 sliding windows
    assert got.agg(F.sum("n_events")).first()[0] == 2 * batch.count()


def test_streaming_session_equals_batch(spark, events_stream):
    got = _run(
        session_counts(events_stream, watermark=WATERMARK), spark, "t_session", "complete"
    )
    batch = table(spark, SF_DIR, "events")
    want = (
        batch.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert got.count() == want.count()
    assert got.agg(F.sum("n_events")).first()[0] == batch.count()


def test_streaming_dedup_within_watermark(spark, events_stream):
    got = _run(
        dedup_within_watermark(events_stream, watermark=WATERMARK), spark, "t_dedup", "append"
    )
    batch = table(spark, SF_DIR, "events")
    distinct_pairs = batch.select("user_id", "event_type").distinct().count()
    assert got.count() == distinct_pairs


def test_stateful_user_stats_multi_microbatch(spark, tmp_path):
    """applyInPandasWithState accumulates across micro-batches: with 4
    one-file triggers, users spanning files must emit multiple monotone
    updates, and the final state equals the batch aggregate.  stage_dir
    re-splits the single-file testdata so the stream really has 4 triggers
    (on a cluster this is a shared-storage path; tmp_path suffices locally)."""
    from arrow_experiments_spark.streaming.stateful import run_user_stats

    final = run_user_stats(
        spark, SF_DIR, n_files=4, query_name="t_stateful",
        stage_dir=str(tmp_path / "events_staged"),
    )
    emissions = spark.table("t_stateful")
    # at least one user was updated in more than one micro-batch
    assert emissions.groupBy("user_id").count().agg(F.max("count")).first()[0] > 1
    batch = table(spark, SF_DIR, "events")
    want = batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    got = final.select("user_id", "n_events")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_events_stream_directory_layout(spark, tmp_path):
    """r16 regression (found by the TPC-H decade sweep): when
    ``<sf_dir>/events.parquet`` is a DIRECTORY of part files — the
    production layout — the old glob branch streamed ZERO files, because
    ``pathGlobFilter`` matches leaf names and part files are named
    part-*.parquet.  A directory-layout copy of the table must stream
    every row, one micro-batch per part file."""
    from arrow_experiments_spark.tables import events_stream

    sf_copy = tmp_path / "sf_dircopy"
    sf_copy.mkdir()
    src = table(spark, SF_DIR, "events")
    src.repartition(3).write.mode("overwrite").parquet(
        str(sf_copy / "events.parquet")
    )
    got = _run(
        events_stream(spark, str(sf_copy)).select("event_id"),
        spark, "t_dirlayout", "append",
    )
    assert got.count() == src.count()


def test_stateful_user_stats_tws_multi_microbatch(spark, tmp_path):
    """Spark 4 transformWithStateInPandas form (StatefulProcessor +
    ValueState on RocksDB): same multi-micro-batch accumulation and the
    same final state as the batch aggregate.  Needs a working
    google.protobuf (the TWS state protocol) — skipped where absent."""
    from arrow_experiments_spark.streaming.stateful import (
        run_user_stats,
        tws_available,
    )

    if not tws_available():
        pytest.skip("google.protobuf unavailable (TWS state protocol)")

    final = run_user_stats(
        spark, SF_DIR, n_files=4, query_name="t_stateful_tws",
        stage_dir=str(tmp_path / "events_staged"),
        api="transformWithState",
    )
    emissions = spark.table("t_stateful_tws")
    assert emissions.groupBy("user_id").count().agg(F.max("count")).first()[0] > 1
    batch = table(spark, SF_DIR, "events")
    want = batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    got = final.select("user_id", "n_events")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_stateful_user_stats_tws_processor_batch_twin(spark):
    """r14 verdict #7 (the suite's one skip): the TWS test above needs
    google.protobuf for the transformWithStateInPandas WIRE protocol,
    absent in this container — but everything the skip shadows that is
    OURS is _UserStatsProcessor's accumulation logic.  Drive the
    processor directly through a fake ValueState handle across multiple
    micro-batches (including a ns-unit timestamp frame — the unit
    normalization the processor must do itself) and require the final
    state to equal the batch aggregate.  What remains protobuf-only is
    Spark's own serialization layer, not engine behavior."""
    import numpy as np

    from arrow_experiments_spark.streaming.stateful import (
        _UserStatsProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self.v = None

        def get(self):
            return self.v

        def update(self, v):
            self.v = tuple(v)

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

    ev = (
        table(spark, SF_DIR, "events")
        .select(F.col("ts").cast("timestamp").alias("ts"), "user_id", "value")
        .filter(F.col("user_id") < 5)
        .toPandas()
    )
    want = {
        int(uid): (
            len(g),
            int(np.floor(g["value"].to_numpy() * 100).astype("int64").sum()),
            int(g["ts"].to_numpy().astype("datetime64[us]").astype("int64").max()),
        )
        for uid, g in ev.groupby("user_id")
    }

    proc = _UserStatsProcessor()
    got = {}
    for uid, g in ev.groupby("user_id"):
        # fresh state per key, as TWS scopes ValueState per grouping key
        handle = FakeHandle()
        proc.init(handle)
        # three micro-batches; the middle one arrives in ns units
        # (pandas/pyarrow version-dependent — the processor normalizes)
        thirds = np.array_split(g, 3)
        frames = [
            thirds[0],
            thirds[1].assign(ts=thirds[1]["ts"].to_numpy().astype("datetime64[ns]")),
            thirds[2],
        ]
        emissions = []
        for f in frames:
            if len(f) == 0:
                continue
            emissions = list(proc.handleInputRows((uid,), iter([f]), None))
        assert len(emissions) == 1
        r = emissions[-1].iloc[0]
        got[int(uid)] = (
            int(r["n_events"]), int(r["sum_cents"]), int(r["last_ts_us"])
        )
        # and state survives micro-batch boundaries: the stored tuple is
        # exactly the emitted totals
        assert handle.states["stats"].get() == got[int(uid)]
    proc.close()
    assert got == want


def test_stream_to_registry_serves_microbatches(spark, events_stream):
    """foreachBatch egress: each micro-batch lands in the registry and is
    fetchable over HTTP as an Arrow stream (Phase 5 serving model)."""
    from arrow_experiments_spark.streaming.egress import stream_to_registry
    from arrow_experiments_spark.transport.client import fetch_arrow, fetch_catalog
    from arrow_experiments_spark.transport.server import DatasetRegistry, serve

    registry = DatasetRegistry()
    stream_to_registry(
        events_stream.select("ts", "user_id", "event_type"), registry, prefix="ev"
    )
    assert registry.names(), "no micro-batches published"

    httpd = serve(registry)
    host, port = httpd.server_address
    try:
        uris = fetch_catalog(f"http://{host}:{port}/catalog")
        assert {u.rsplit("/", 1)[-1] for u in uris} >= set(registry.names())
        total = 0
        for name in registry.names():
            tbl, _ = fetch_arrow(f"http://{host}:{port}/datasets/{name}")
            total += tbl.num_rows
        batch_rows = table(spark, SF_DIR, "events").count()
        assert total == batch_rows
    finally:
        httpd.shutdown()


def test_stream_to_registry_spill_dir_removed_at_exit(tmp_path):
    """The published micro-batches' spill files live until the process
    exits, and not past it: a run in a child process with ``TMPDIR`` at
    ``tmp_path`` leaves no ``arrow-egress-*`` directory behind."""
    import os
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    src = str(tmp_path / "src")
    script = textwrap.dedent(f"""
        import glob
        from arrow_experiments_spark.session import build_session
        from arrow_experiments_spark.streaming.egress import stream_to_registry
        from arrow_experiments_spark.transport.server import DatasetRegistry

        spark = build_session(master="local[1]", shuffle_partitions=1)
        spark.range(100).repartition(2).write.parquet({src!r})
        registry = DatasetRegistry()
        stream_to_registry(spark.readStream.schema("id long").parquet({src!r}), registry)
        assert registry.names()
        assert glob.glob({str(tmp_path / "arrow-egress-*")!r})
        spark.stop()
    """)
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g")
    subprocess.run(
        [sys.executable, "-c", script], env=env, check=True, timeout=600,
        cwd=str(Path(__file__).resolve().parent.parent),
    )
    assert not list(tmp_path.glob("arrow-egress-*"))


def test_streaming_interval_join_equals_batch(spark, events_stream):
    """Stream-stream interval join == batch interval join (watermark beyond
    the data span, so no state eviction and exact equality)."""
    from arrow_experiments_spark.streaming.joins import view_purchase_join

    views = events_stream.filter(F.col("event_type") == "view")
    purchases = events_stream.filter(F.col("event_type") == "purchase")
    got = _run(
        view_purchase_join(views, purchases, watermark=WATERMARK),
        spark,
        "t_interval_join",
        "append",
    )
    batch = table(spark, SF_DIR, "events")
    want = view_purchase_join(
        batch.filter(F.col("event_type") == "view"),
        batch.filter(F.col("event_type") == "purchase"),
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_streaming_histogram_equals_batch(spark, events_stream):
    """The fixed-bin value histogram is a pure keyed aggregation, so its
    streaming (complete-mode) result must match the registered batch
    query exactly — bin for bin, count for count."""
    from arrow_experiments_spark.operators.events import (
        _HIST_BINS,
        _HIST_LO,
        _HIST_W,
        events_value_histogram,
    )

    bin_col = (
        F.least(
            F.greatest(F.floor((F.col("value") - _HIST_LO) / _HIST_W), F.lit(0)),
            F.lit(_HIST_BINS - 1),
        )
        .cast("int")
        .alias("bin")
    )
    stream_agg = events_stream.groupBy("event_type", bin_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").cast("double").alias("min_value"),
        F.max("value").cast("double").alias("max_value"),
    )
    got = _run(stream_agg, spark, "t_histogram", "complete")
    want = events_value_histogram(spark, SF_DIR)
    g = {(r["event_type"], r["bin"]): (r["n"], r["min_value"], r["max_value"])
         for r in got.collect()}
    w = {(r["event_type"], r["bin"]): (r["n"], r["min_value"], r["max_value"])
         for r in want.collect()}
    assert g == w


def test_watermark_drops_late_event_across_restart(spark, tmp_path):
    """The §2.6 'watermark + late-data drop' row, demonstrated for real:
    batch 1 finalizes the 00:00 window (an event at 02:00 advances the
    watermark far past it, append mode emits the window); a SECOND run on
    the same checkpoint then delivers an event back at 00:05 — behind
    the persisted watermark — and it must be dropped: the finalized
    window's count never changes and no duplicate window row appears."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write(name, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
            }
        )
        pq.write_table(tbl, str(src / name))

    minute = 60 * 1_000_000  # µs
    write("a.parquet", [(1, 1 * minute), (2, 2 * minute), (3, 120 * minute)])

    schema = "event_id bigint, ts timestamp, user_id bigint"

    out = str(tmp_path / "out")

    def run_once():
        stream = (
            spark.readStream.schema(schema).parquet(str(src))
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "15 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("start"), "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # availableNow must terminate within the deadline; proceeding on
        # a False return would read partial output and fail confusingly
        assert q.awaitTermination(120), "availableNow query did not finish"

    import datetime

    run_once()
    first = {r["start"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert first.get(datetime.datetime(1970, 1, 1, 0, 0)) == 2

    time.sleep(1.1)  # distinct mtime so the source sees a new file
    write("b.parquet", [(4, 5 * minute)])  # LATE: behind the watermark
    run_once()
    rows = spark.read.parquet(out).collect()
    counts = [r["n"] for r in rows
              if r["start"] == datetime.datetime(1970, 1, 1)]
    # the late event neither re-emits the window nor changes its count
    assert counts == [2], rows


def test_stream_static_enrichment_equals_batch(spark, events_stream):
    """Stream-static dimension join: the same builder over the stream and
    over the batch table must agree row-for-row (no watermark, no state —
    the static side re-reads per micro-batch)."""
    from arrow_experiments_spark.streaming.joins import enrich_with_dim

    dim = spark.createDataFrame(
        [("view", "engagement", 1.0), ("click", "engagement", 2.0),
         ("purchase", "revenue", 10.0), ("signup", "acquisition", 5.0),
         ("logout", "session", 0.0)],
        "event_type string, category string, weight double",
    )
    batch = table(spark, SF_DIR, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = _run(
        enrich_with_dim(events_stream, dim).select(
            "event_id", "dim_category", "dim_weight"
        ),
        spark, "t_enrich", "append",
    )
    want = enrich_with_dim(batch, dim).select(
        "event_id", "dim_category", "dim_weight"
    )
    assert got.count() == want.count() and got.count() > 0
    assert got.exceptAll(want).count() == 0
    # every event type in the dim gets its attribute (left join keeps all)
    assert got.filter(F.col("dim_category").isNull()).count() == batch.join(
        dim, "event_type", "left_anti"
    ).count()


def test_upsert_snapshot_sink_multi_microbatch(spark, tmp_path):
    """foreachBatch incremental upsert: with one file per trigger, keys
    reappearing across micro-batches must converge to latest-wins, and
    the final snapshot equals the batch latest-event-per-user result.
    The versioned-dir LATEST pointer must reflect the last batch."""
    import os

    from arrow_experiments_spark.streaming.egress import (
        read_snapshot,
        upsert_snapshot_sink,
    )

    src = (
        table(spark, SF_DIR, "events")
        .select("user_id", "event_id", "event_type", "value")
    )
    staged = str(tmp_path / "staged")
    src.repartition(3).write.mode("overwrite").parquet(staged)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    snap = str(tmp_path / "snapshot")
    upsert_snapshot_sink(stream, snap, key_cols=["user_id"], order_col="event_id")

    # multiple versions were committed (one per micro-batch)
    versions = [d for d in os.listdir(snap) if d.startswith("v")]
    assert len(versions) >= 2, versions
    final = read_snapshot(spark, snap)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    want = (
        src.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0


def test_upsert_snapshot_second_run_merges_and_versions_pruned(spark, tmp_path):
    """Without a checkpoint, batch ids restart at 0 every run, so they
    cannot identify replays: a second run against an existing snapshot
    must MERGE its first micro-batch (version = committed + 1), never
    skip it.  And superseded versions are pruned down to current +
    previous."""
    import os

    from arrow_experiments_spark.streaming.egress import (
        read_snapshot,
        upsert_snapshot_sink,
    )

    src = table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "value"
    ).limit(100)
    # pre-seed a committed v0 + pointer: a prior single-batch run
    snap = str(tmp_path / "snap")
    os.makedirs(snap)
    seeded = src.limit(10)
    seeded.write.parquet(os.path.join(snap, "v0"))
    with open(os.path.join(snap, "LATEST"), "w") as f:
        f.write("v0")
    staged = str(tmp_path / "one")
    src.coalesce(1).write.parquet(staged)
    stream = spark.readStream.schema(src.schema).parquet(staged)
    upsert_snapshot_sink(stream, snap, key_cols=["user_id"], order_col="event_id")
    # the new run's batch 0 was merged as v1, not discarded as a "replay"
    with open(os.path.join(snap, "LATEST")) as f:
        assert f.read().strip() == "v1"
    final = read_snapshot(spark, snap)
    assert final.count() == src.select("user_id").distinct().count()

    # fresh sink over 3 micro-batches: prune keeps current + previous only
    snap2 = str(tmp_path / "snap2")
    staged2 = str(tmp_path / "three")
    src.repartition(3).write.parquet(staged2)
    stream2 = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged2)
    )
    upsert_snapshot_sink(stream2, snap2, key_cols=["user_id"], order_col="event_id")
    versions = sorted(d for d in os.listdir(snap2) if d.startswith("v"))
    assert len(versions) == 2, versions
    assert read_snapshot(spark, snap2).count() > 0


def test_upsert_snapshot_version_write_is_o_delta(spark, tmp_path):
    """r8 verdict #4: the version write must scale with the DELTA, not
    the snapshot.  Seed a bucketed snapshot, then upsert a delta that
    touches few buckets: (a) untouched bucket files in the new version
    are HARD LINKS to the previous version's files (same inode — zero
    data movement), (b) only the touched buckets were rewritten,
    (c) the logical snapshot equals the unbucketed latest-wins merge,
    and (d) pruning old versions never corrupts linked data."""
    import os

    from arrow_experiments_spark.streaming.egress import (
        read_snapshot,
        upsert_snapshot_sink,
    )

    src = table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "value"
    )
    base = src.limit(400)
    snap = str(tmp_path / "snap")

    def run(df):
        staged = str(tmp_path / f"staged{run.n}")
        run.n += 1
        df.coalesce(1).write.parquet(staged)
        stream = spark.readStream.schema(df.schema).parquet(staged)
        upsert_snapshot_sink(
            stream, snap, key_cols=["user_id"], order_col="event_id"
        )

    run.n = 0
    run(base)
    with open(os.path.join(snap, "LATEST")) as f:
        v_base = f.read().strip()
    base_dir = os.path.join(snap, v_base)
    inodes = {}
    for d in os.listdir(base_dir):
        if d.startswith("_bucket="):
            for fn in os.listdir(os.path.join(base_dir, d)):
                if not fn.startswith((".", "_")):
                    inodes[(d, fn)] = os.stat(
                        os.path.join(base_dir, d, fn)
                    ).st_ino
    assert len({d for d, _ in inodes}) >= 4  # really bucketed

    # delta: two users — touches at most two buckets
    delta = src.limit(2).withColumn("event_id", F.col("event_id") + 10_000_000)
    run(delta)
    with open(os.path.join(snap, "LATEST")) as f:
        v_new = f.read().strip()
    assert v_new != v_base
    new_dir = os.path.join(snap, v_new)
    linked = rewritten = 0
    for d in os.listdir(new_dir):
        if not d.startswith("_bucket="):
            continue
        for fn in os.listdir(os.path.join(new_dir, d)):
            if fn.startswith((".", "_")):
                continue
            ino = os.stat(os.path.join(new_dir, d, fn)).st_ino
            if inodes.get((d, fn)) == ino:
                linked += 1
            else:
                rewritten += 1
    assert linked >= 2, (linked, rewritten)   # untouched buckets linked
    assert rewritten <= 2, (linked, rewritten)  # ≤ touched-bucket count

    # logical equality with the unbucketed latest-wins merge
    from pyspark.sql.window import Window

    everything = base.unionByName(delta)
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    want = (
        everything.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    final = read_snapshot(spark, snap)
    assert "_bucket" not in final.columns
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0

    # a third upsert prunes v_base; the linked files must survive in v_new
    run(src.limit(1).withColumn("event_id", F.col("event_id") + 20_000_000))
    assert not os.path.exists(base_dir)
    assert read_snapshot(spark, snap).count() == want.count()


def test_upsert_snapshot_bucket_geometry_change_migrates(spark, tmp_path):
    """Changing n_buckets between runs on the same snapshot must migrate
    wholesale, never prune: pruning against a different geometry matches
    stale bucket ids and leaves the same key alive in a linked old
    bucket AND a rewritten new one — silent duplicates.  After the
    migration the snapshot is duplicate-free and carries the new
    geometry."""
    import os

    from arrow_experiments_spark.streaming.egress import (
        read_snapshot,
        upsert_snapshot_sink,
    )

    src = table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "value"
    ).limit(300)
    snap = str(tmp_path / "snap")

    def run(df, n_buckets):
        staged = str(tmp_path / f"staged{run.n}")
        run.n += 1
        df.coalesce(1).write.parquet(staged)
        stream = spark.readStream.schema(df.schema).parquet(staged)
        upsert_snapshot_sink(
            stream, snap, key_cols=["user_id"], order_col="event_id",
            n_buckets=n_buckets,
        )

    run.n = 0
    run(src, 8)
    n_keys = src.select("user_id").distinct().count()
    assert read_snapshot(spark, snap).count() == n_keys

    # same keys again under a DIFFERENT geometry: every key collides with
    # an existing one, so any stale-pruning bug doubles the count
    run(src.withColumn("event_id", F.col("event_id") + 5_000_000), 16)
    final = read_snapshot(spark, snap)
    assert final.count() == n_keys  # no duplicates
    assert final.select("user_id").distinct().count() == n_keys
    with open(os.path.join(snap, "LATEST")) as f:
        vdir = os.path.join(snap, f.read().strip())
    import json

    with open(os.path.join(vdir, "_LAYOUT.json")) as f:
        assert json.load(f)["n_buckets"] == 16


def test_prepare_view_keeps_bucket_column_when_geometry_matches(spark, tmp_path):
    """The committed snapshot as the gates see it (``_prepare_view``)
    retains the ``_bucket`` layout column exactly when the committed
    version carries the CURRENT geometry — that is what lets a gate's
    bucket filter prune at the parquet read (the seen-before anti-join
    shape).  On a geometry change the gate must get the plain snapshot
    instead: pruning against a foreign geometry is unsound."""
    import os

    from arrow_experiments_spark.streaming.egress import (
        _committed_version,
        _prepare_view,
        read_snapshot,
        upsert_snapshot_sink,
    )

    src = table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "value"
    ).limit(200)
    snap = str(tmp_path / "snap")
    n_users = src.select("user_id").distinct().count()

    def view(n_buckets):
        return _prepare_view(
            spark, snap, _committed_version(snap), n_buckets, ["user_id"]
        )

    def run(df, n_buckets):
        staged = str(tmp_path / f"staged{run.n}")
        run.n += 1
        df.coalesce(1).write.parquet(staged)
        stream = spark.readStream.schema(df.schema).parquet(staged)
        upsert_snapshot_sink(
            stream, snap, key_cols=["user_id"], order_col="event_id",
            n_buckets=n_buckets,
        )

    run.n = 0
    assert view(8) is None  # no committed version yet
    run(src, 8)
    assert "_bucket" in view(8).columns  # v0 carries n_buckets=8
    flat = view(16)  # geometry change → the flattened snapshot
    assert "_bucket" not in flat.columns
    assert sorted(flat.columns) == sorted(read_snapshot(spark, snap).columns)
    assert flat.count() == n_users

    run(src, 16)  # the merge migrates to the new geometry
    assert "_bucket" in view(16).columns
    assert "_bucket" not in view(8).columns
    final = read_snapshot(spark, snap)
    assert "_bucket" not in final.columns
    assert final.count() == n_users
    with open(os.path.join(snap, "LATEST")) as f:
        assert f.read().strip() == "v1"


def test_incremental_curation_sink_matches_batch_funnel(spark, tmp_path):
    """VERDICT r6 #7: the curation funnel as a daily-delta job.  Raw
    documents arrive as three doc_id-range micro-batches (mtime-ordered
    so arrival order is deterministic); each pays only the delta-sized
    quality gate + the seen-before anti-join.  The final snapshot must
    equal the batch funnel's selection over the same data: quality-gated
    docs, first (min doc_id) per content hash."""
    import glob
    import os
    import shutil

    from pyspark.sql.window import Window

    from arrow_experiments_spark.functions.text import (
        EN_STOPWORDS,
        md5_str,
        tokens,
    )
    from arrow_experiments_spark.streaming.egress import (
        incremental_curation_sink,
        read_snapshot,
    )

    docs = table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    bounds = [
        (ids[0], cuts[0]),
        (cuts[0], cuts[1]),
        (cuts[1], ids[-1] + 1),
    ]
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for i, (lo, hi) in enumerate(bounds):
        wdir = str(tmp_path / f"w{i}")
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(wdir)
        src = glob.glob(os.path.join(wdir, "part-*.parquet"))[0]
        dst = os.path.join(staged, f"{i:03d}.parquet")
        shutil.copy(src, dst)
        # strictly increasing mtimes: the file source processes oldest
        # first, making micro-batch order == doc_id order
        os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    snap = str(tmp_path / "snap")
    incremental_curation_sink(stream, snap)

    final = read_snapshot(spark, snap)
    assert final is not None

    # batch twin: same gate, first (min doc_id) per content hash
    toks = tokens(F.col("text"))
    n = F.size(toks)
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    dr = F.try_divide(F.size(F.array_distinct(toks)).cast("double"), n)
    sr = F.try_divide(
        F.size(F.filter(toks, lambda x: F.array_contains(sw, x))).cast(
            "double"
        ),
        n,
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    want = (
        docs.where((n >= 20) & (dr >= 0.4) & (sr >= 0.05))
        .withColumn("content_hash", md5_str(F.col("text")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    assert want.count() > 0
    assert final.count() == want.count()
    assert (
        final.select("doc_id", "content_hash")
        .exceptAll(want.select("doc_id", "content_hash"))
        .count()
        == 0
    )


def _curation_docs(spark, n):
    """``n`` documents with distinct texts that pass the curation sink's
    quality gate, as (doc_id, text) tuples in doc_id order."""
    from arrow_experiments_spark.streaming.egress import _gated_firsts

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    rows = _gated_firsts(docs).orderBy("doc_id").limit(n).collect()
    assert len(rows) == n
    return [(r["doc_id"], r["text"]) for r in rows]


def _stage_docs(spark, path, rows):
    """Write (doc_id, text) rows as one parquet file; returns the schema."""
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(1).write.parquet(path)
    return df.schema


def _jobs_so_far(spark) -> int:
    """The newest Spark job id — job ids are sequential, so the difference
    around a call is the number of jobs it ran (the retained job list is
    capped, so its size is not)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return max(jobs.head().jobId(), jobs.last().jobId()) if jobs.size() else -1


@pytest.fixture
def sink_jobs(spark, monkeypatch):
    """The Spark jobs each snapshot-sink micro-batch of the test runs, in
    order: every sink runs its batches through ``_run_foreach_batch``,
    whose ``merge`` is wrapped to diff the newest job id around it."""
    from arrow_experiments_spark.streaming import egress

    jobs: list[int] = []
    run_foreach_batch = egress._run_foreach_batch

    def counted(stream_df, merge, *args):
        def merge_counted(batch_df, batch_id):
            before = _jobs_so_far(spark)
            merge(batch_df, batch_id)
            jobs.append(_jobs_so_far(spark) - before)

        return run_foreach_batch(stream_df, merge_counted, *args)

    monkeypatch.setattr(egress, "_run_foreach_batch", counted)
    return jobs


def _within(jobs: list[int], caps: list[int]) -> bool:
    """Same number of micro-batches as ``caps``, none running more jobs."""
    return len(jobs) == len(caps) and all(j <= c for j, c in zip(jobs, caps))


def _curation_stream(spark, tmp_path, batches: int, rows: int = 20):
    """A file stream of ``batches`` micro-batches of ``rows`` distinct
    documents that pass the curation gate, one staged file each."""
    import os

    docs = _curation_docs(spark, batches * rows)
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for i in range(batches):
        part = str(tmp_path / f"part{i}")
        schema = _stage_docs(spark, part, docs[i * rows:(i + 1) * rows])
        src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        dst = os.path.join(staged, f"{i:03d}.parquet")
        os.replace(os.path.join(part, src), dst)
        # increasing mtimes: the file source reads oldest first
        os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )


def test_curation_sink_steady_state_jobs_per_batch(spark, tmp_path, sink_jobs):
    """A curation micro-batch against a committed snapshot probes its
    touched buckets once, anti-joins once and merges without a second
    anti-join: at most 8 Spark jobs, and the raw delta is read once
    (the version read binds the manifest's schema instead of running an
    inference job)."""
    from arrow_experiments_spark.streaming import egress

    snap = str(tmp_path / "snap")
    q = egress.incremental_curation_sink(_curation_stream(spark, tmp_path, 3), snap)

    assert len(sink_jobs) == 3, sink_jobs
    assert max(sink_jobs[1:]) <= 8, sink_jobs  # batches 1, 2 merge into a committed v
    assert [p.numInputRows for p in q.recentProgress] == [20, 20, 20]
    assert egress.read_snapshot(spark, snap).count() == 60


def test_repeated_requests_reuse_generated_code(spark, tmp_path, monkeypatch):
    """The session keeps the engine's working set of generated classes:
    a second steady curation micro-batch, and serving the same
    registered queries again after the sink ran, compile no Java.  (At
    Spark's default cache of 100 classes this working set evicts itself
    and every request compiles its code again.)"""
    from arrow_experiments_spark.registry import all_queries
    from arrow_experiments_spark.session import (
        CODEGEN_CACHE_CONF,
        CODEGEN_CACHE_ENTRIES,
        codegen_stats,
    )
    from arrow_experiments_spark.sources.arrow_ipc import df_to_reader
    from arrow_experiments_spark.streaming import egress

    if codegen_stats(spark) is None:
        pytest.skip("this Spark build has no codegen compilation counter")
    assert spark.conf.get(CODEGEN_CACHE_CONF) == str(CODEGEN_CACHE_ENTRIES)

    def compiles(fn) -> int:
        before = codegen_stats(spark)[0]
        fn()
        return codegen_stats(spark)[0] - before

    queries = all_queries()
    # with the sink below, more distinct classes than Spark's default
    # cache holds, so at that size the second pass misses
    names = ["q1_pricing_summary", "q18_large_volume_customer",
             "window_running_sum", "events_session_window",
             "q3_shipping_priority", "q5_local_supplier_volume",
             "topk_per_group"]

    def serve_all():
        for name in names:
            df_to_reader(queries[name].build(spark, SF_DIR)).read_all()

    serve_all()
    per_batch: list[int] = []
    run_foreach_batch = egress._run_foreach_batch

    def counted(stream_df, merge, *args):
        def merge_counted(batch_df, batch_id):
            per_batch.append(compiles(lambda: merge(batch_df, batch_id)))

        return run_foreach_batch(stream_df, merge_counted, *args)

    monkeypatch.setattr(egress, "_run_foreach_batch", counted)
    snap = str(tmp_path / "snap")
    egress.incremental_curation_sink(_curation_stream(spark, tmp_path, 3), snap)
    # batch 0 commits the first version; batches 1 and 2 are steady
    assert len(per_batch) == 3 and per_batch[2] == 0, per_batch
    assert compiles(serve_all) == 0


def test_curation_sink_commits_only_novel_hashes(spark, tmp_path):
    """The property the merge's ``assume_novel`` rests on: the sink's gate
    drops every hash the committed snapshot holds — also when the
    re-delivered copy carries a LOWER doc_id — and keeps one row per new
    hash, the lowest in-batch doc_id.  The second version writes only the
    novel rows."""
    import os

    from arrow_experiments_spark.streaming.egress import (
        incremental_curation_sink,
        read_snapshot,
    )

    docs = _curation_docs(spark, 8)
    first = [(1000 + i, text) for i, (_id, text) in enumerate(docs[:5])]
    second = [
        # re-deliveries of committed documents: a lower doc_id, and the
        # same row again
        (10, first[0][1]),
        first[1],
        # new documents, one posted twice (the higher doc_id first)
        (2001, docs[5][1]),
        (2000, docs[5][1]),
        (2002, docs[6][1]),
        (2003, docs[7][1]),
    ]
    snap = str(tmp_path / "snap")
    for i, rows in enumerate((first, second)):
        staged = str(tmp_path / f"staged{i}")
        schema = _stage_docs(spark, staged, rows)
        stream = spark.readStream.schema(schema).parquet(staged)
        incremental_curation_sink(stream, snap)

    with open(os.path.join(snap, "LATEST")) as f:
        assert f.read().strip() == "v1"
    got = sorted(
        (r["doc_id"], r["text"])
        for r in read_snapshot(spark, snap).select("doc_id", "text").collect()
    )
    novel = [(2000, docs[5][1]), (2002, docs[6][1]), (2003, docs[7][1])]
    want = sorted(first + novel)
    assert got == want
    # v1 wrote only the three novel rows; every v0 file is linked forward
    v1 = [
        os.path.join(dp, fn)
        for dp, _d, fns in os.walk(os.path.join(snap, "v1"))
        for fn in fns
        if fn.endswith(".parquet")
    ]
    written = spark.read.parquet(*[p for p in v1 if os.stat(p).st_nlink == 1])
    assert sorted(r["doc_id"] for r in written.collect()) == [2000, 2002, 2003]


def test_curation_sink_checkpointed_reattach_commits_nothing(spark, tmp_path):
    """Re-attaching a checkpointed curation run to its own checkpoint
    commits nothing: with no new input no micro-batch runs, and a batch
    replayed after a lost commit marker is skipped (the pointer already
    names its version) — LATEST and the version's files stay as they were."""
    import os

    from arrow_experiments_spark.streaming.egress import (
        incremental_curation_sink,
        read_snapshot,
    )

    staged = str(tmp_path / "staged")
    schema = _stage_docs(spark, staged, _curation_docs(spark, 10))
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")

    def attach():
        stream = spark.readStream.schema(schema).parquet(staged)
        incremental_curation_sink(stream, snap, checkpoint_dir=ckpt)

    def state():
        with open(os.path.join(snap, "LATEST")) as f:
            latest = f.read().strip()
        vdir = os.path.join(snap, latest)
        files = sorted(
            (os.path.relpath(p, vdir), os.stat(p).st_ino)
            for p in (
                os.path.join(dp, fn)
                for dp, _d, fns in os.walk(vdir)
                for fn in fns
            )
        )
        versions = sorted(d for d in os.listdir(snap) if d.startswith("v"))
        return latest, files, versions

    attach()
    before = state()
    assert before[0] == "v0"
    assert read_snapshot(spark, snap).count() == 10

    attach()  # nothing new to read
    assert state() == before

    # crash after commit: the offsets are logged, the commit marker lost
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    attach()  # replays batch 0, which the pointer already names
    assert state() == before
    assert read_snapshot(spark, snap).count() == 10


def test_incremental_neardup_sink_gates_exact_and_near(spark, tmp_path, sink_jobs):
    """The near-dup extension of the incremental curation gate: exact
    re-ingests drop at the hash anti-join, NEAR duplicates (distinct
    hash, same token stream -> identical MinHash signatures, 8/8
    agreement) drop at the band-index probe, fresh docs survive, and
    within one batch the lower doc_id of a qualifying pair wins.  The
    band index stays consistent with the corpus: 4 postings per
    retained doc, carrying the owner's signatures."""
    import glob
    import os
    import shutil

    from arrow_experiments_spark.streaming.egress import (
        _gated_firsts,
        incremental_neardup_sink,
        read_snapshot,
    )

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    base_texts = [
        r["text"]
        for r in _gated_firsts(docs).orderBy("doc_id").limit(9).collect()
    ]
    assert len(base_texts) == 9

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    b1 = frame([(i, base_texts[i]) for i in range(6)])
    b2 = frame(
        [
            (10, base_texts[0]),          # exact dup of doc 0 -> exact gate
            (11, base_texts[1] + " "),    # near dup of doc 1 -> band probe
            (12, base_texts[6]),          # fresh -> retained
        ]
    )
    b3 = frame(
        [
            (20, base_texts[7] + " "),    # in-batch near-dup pair:
            (21, base_texts[7] + "  "),   #   lower doc_id (20) wins
            (22, base_texts[8]),          # fresh -> retained
        ]
    )
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for i, b in enumerate([b1, b2, b3]):
        wdir = str(tmp_path / f"w{i}")
        b.coalesce(1).write.parquet(wdir)
        src = glob.glob(os.path.join(wdir, "part-*.parquet"))[0]
        dst = os.path.join(staged, f"{i:03d}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    base = str(tmp_path / "neardup")
    incremental_neardup_sink(
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged),
        base,
        n_buckets=8,
    )

    corpus = read_snapshot(spark, os.path.join(base, "docs"))
    got_ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    assert got_ids == [0, 1, 2, 3, 4, 5, 12, 20, 22], got_ids
    assert "s0" in corpus.columns and "s7" in corpus.columns

    index = read_snapshot(spark, os.path.join(base, "bands"))
    assert index.count() == 4 * len(got_ids)
    assert sorted(
        r["doc_id"] for r in index.select("doc_id").distinct().collect()
    ) == got_ids
    assert {"band_idx", "band_val", "doc_id", "s0", "s7"} <= set(index.columns)

    # re-delivery of every batch (fresh run, no checkpoint: nothing is
    # skipped, everything re-merges) must add no docs and no postings
    incremental_neardup_sink(
        spark.readStream.schema(b1.schema).parquet(staged),
        base,
        n_buckets=8,
    )
    assert read_snapshot(spark, os.path.join(base, "docs")).count() == len(
        got_ids
    )
    assert read_snapshot(spark, os.path.join(base, "bands")).count() == 4 * len(
        got_ids
    )
    # Spark jobs per micro-batch [b1, b2, b3, re-delivery]: no more than
    # the sink ran when its seen-before probe read the raw batch
    assert _within(sink_jobs, [30, 47, 42, 44]), sink_jobs


def _heal_fixture(spark, tmp_path, kind):
    """One staged batch of two rows that both survive either near-dup
    sink.  Returns a checkpointed sink run over it, the base and
    checkpoint dirs, the corpus and index subdirs, and the postings the
    two survivors leave in the index (bands × survivors)."""
    import glob
    import os
    import shutil

    import arrow_experiments_spark.streaming.egress as eg

    if kind == "neardup":
        docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
        texts = [
            r["text"]
            for r in eg._gated_firsts(docs).orderBy("doc_id").limit(2).collect()
        ]
        b1 = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
        )
        sink, corpus, index, bands = eg.incremental_neardup_sink, "docs", "bands", 4
    else:
        # orthogonal basis vectors: cosine 0, both retained
        b1 = spark.createDataFrame(
            [(i, [float(i == j) for j in range(64)]) for i in range(2)],
            "vec_id bigint, embedding array<float>",
        )
        sink, corpus, index, bands = (
            eg.incremental_embedding_dedup_sink, "vecs", "cells", 3
        )
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    wdir = str(tmp_path / "w0")
    b1.coalesce(1).write.parquet(wdir)
    shutil.copy(
        glob.glob(os.path.join(wdir, "part-*.parquet"))[0],
        os.path.join(staged, "000.parquet"),
    )
    base = str(tmp_path / kind)
    ckpt = str(tmp_path / "ckpt")

    def run():
        sink(
            spark.readStream.schema(b1.schema).parquet(staged),
            base,
            checkpoint_dir=ckpt,
            n_buckets=8,
        )

    return run, base, ckpt, corpus, index, bands * 2


@pytest.mark.parametrize("kind", ["neardup", "embedding"])
def test_dedup_sink_index_leg_heals_after_crash(spark, tmp_path, kind):
    """Crash contract: the corpus (docs/, vecs/) commits before the
    index (bands/, cells/).  If the process dies between the two
    merges, a checkpointed replay must skip the corpus merge (already
    committed) and still rebuild the batch's postings from the
    committed corpus — the index catches up instead of silently lagging
    forever."""
    import os
    import shutil

    from arrow_experiments_spark.streaming.egress import read_snapshot

    run, base, ckpt, corpus, index, postings = _heal_fixture(
        spark, tmp_path, kind
    )
    run()
    # simulate the crash window: corpus committed, index lost, and the
    # engine lost the commit marker so the batch replays
    shutil.rmtree(os.path.join(base, index))
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert read_snapshot(spark, os.path.join(base, corpus)).count() == 2
    index_rows = read_snapshot(spark, os.path.join(base, index))
    assert index_rows.count() == postings  # rebuilt


@pytest.mark.parametrize("kind", ["upsert", "curation", "neardup", "embedding", "ivf"])
def test_snapshot_scaffold_contract(spark, tmp_path, kind):
    """The scaffold every snapshot writer runs on: an attach that fails
    its check raises and leaves the lease released (an immediate
    re-attach succeeds), and a checkpointed replay of a committed batch
    writes nothing — LATEST and every version file stay as they were.
    The curation sink has no attach check; its failing run is a
    micro-batch that fails the gate, and the lease is released all the
    same."""
    import json
    import os

    import arrow_experiments_spark.streaming.egress as eg

    base = str(tmp_path / "base")
    ckpt = str(tmp_path / "ckpt")
    staged = str(tmp_path / "staged")
    if kind == "upsert":
        rows = table(spark, SF_DIR, "events").select("user_id", "event_id", "value")
        rows = rows.limit(50)
    elif kind in ("curation", "neardup"):
        rows = spark.createDataFrame(_curation_docs(spark, 2), "doc_id long, text string")
    else:
        rows = spark.createDataFrame(
            [(i, [float(i == j) for j in range(64)]) for i in range(2)],
            "vec_id bigint, embedding array<float>",
        )
    rows.coalesce(1).write.parquet(staged)

    def run(schema=rows.schema, **kw):
        stream = spark.readStream.schema(schema).parquet(staged)
        if kind == "upsert":
            eg.upsert_snapshot_sink(
                stream, base, key_cols=["user_id"], order_col="event_id", **kw
            )
        elif kind == "curation":
            eg.incremental_curation_sink(stream, base, **kw)
        elif kind == "neardup":
            eg.incremental_neardup_sink(stream, base, n_buckets=8, **kw)
        elif kind == "embedding":
            eg.incremental_embedding_dedup_sink(stream, base, n_buckets=8, **kw)
        else:
            eg.incremental_ivf_index_sink(stream, base, **{"k": 4, **kw})

    def state():
        """{snapshot dir: (LATEST, [(version file, inode)])}"""
        snaps = {}
        for sdir, dirs, files in os.walk(base):
            if "LATEST" not in files:
                continue
            with open(os.path.join(sdir, "LATEST")) as f:
                latest = f.read()
            files = [
                os.path.join(dp, fn)
                for v in dirs if v.startswith("v")
                for dp, _d, fns in os.walk(os.path.join(sdir, v))
                for fn in fns
            ]
            snaps[sdir] = (latest, sorted(
                (os.path.relpath(p, sdir), os.stat(p).st_ino) for p in files
            ))
        return snaps

    run(checkpoint_dir=ckpt)
    before = state()
    assert len(before) == (2 if kind in ("neardup", "embedding") else 1), before

    if kind == "upsert":
        with pytest.raises(ValueError, match="subset of key_cols"):
            run(bucket_cols=["value"])
    elif kind == "curation":
        with pytest.raises(Exception, match="UNRESOLVED_COLUMN"):
            run(schema="doc_id long")  # no text column for the gate
    elif kind == "neardup":
        # an index built by code with other MinHash constants
        geo = os.path.join(base, "_GEOMETRY.json")
        with open(geo) as f:
            recorded = f.read()
        with open(geo, "w") as f:
            json.dump({"n_sigs": 16, "n_bands": 8}, f)
        with pytest.raises(ValueError, match="geometry mismatch"):
            run()
        with open(geo, "w") as f:
            f.write(recorded)
    else:
        with pytest.raises(ValueError, match="geometry mismatch"):
            run(**({"bits": 6} if kind == "embedding" else {"k": 5}))
    assert state() == before

    # crash after commit: the offsets are logged, the commit marker lost;
    # the replay re-attaches at once, so the failed attach released the lease
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run(checkpoint_dir=ckpt)
    assert state() == before


def test_incremental_embedding_dedup_sink_gates_by_cosine(spark, tmp_path, sink_jobs):
    """SemDeDup at ingest: scaled copies of a retained vector (cosine
    exactly 1 — same direction, same LSH cells at every band) drop at
    the cell-index probe; orthogonal basis vectors (cosine 0) are
    retained; zero-norm vectors have no direction and are rejected;
    a re-ingested vec_id is dropped by the first-seen anti-join even
    with a different embedding; within one batch the lower vec_id of a
    qualifying pair wins.  The cell index stays consistent: 3 postings
    (bands) per retained vector, embeddings denormalized in.

    (r13-r14 carried a fused raw-batch probe variant behind a conf,
    parametrized here; two paired A/Bs measured it as a wash and the
    path was deleted — the two-pass probe below is the only shape.)"""
    import glob
    import os
    import shutil

    from arrow_experiments_spark.streaming.egress import (
        incremental_embedding_dedup_sink,
        read_snapshot,
    )

    def basis(i, scale=1.0):
        v = [0.0] * 64
        v[i] = scale
        return v

    def frame(rows):
        return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    b1 = frame([(i, basis(i)) for i in range(4)])
    b2 = frame(
        [
            (10, basis(0, 2.0)),   # scaled copy of vec 0 -> cosine 1 -> drop
            (11, basis(4)),        # orthogonal -> retained
            (12, [0.0] * 64),      # zero norm -> direction gate
            (13, []),              # EMPTY -> direction gate (norm 0); the
                                   # fused probe must tolerate it raw (r13)
        ]
    )
    b3 = frame(
        [
            (0, basis(7)),         # vec_id already seen -> first-seen wins
            (20, basis(5, 3.0)),   # in-batch pair: lower vec_id (20) wins
            (21, basis(5)),
            (22, basis(6)),        # fresh -> retained
        ]
    )
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for i, b in enumerate([b1, b2, b3]):
        wdir = str(tmp_path / f"w{i}")
        b.coalesce(1).write.parquet(wdir)
        dst = os.path.join(staged, f"{i:03d}.parquet")
        shutil.copy(glob.glob(os.path.join(wdir, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    base = str(tmp_path / "embdedup")
    incremental_embedding_dedup_sink(
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged),
        base,
        n_buckets=8,
    )

    vecs = read_snapshot(spark, os.path.join(base, "vecs"))
    got = sorted(r["vec_id"] for r in vecs.select("vec_id").collect())
    assert got == [0, 1, 2, 3, 11, 20, 22], got
    # vec 0 kept its ORIGINAL embedding (first-seen wins)
    kept0 = vecs.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    assert kept0[0] == 1.0 and kept0[7] == 0.0

    cells = read_snapshot(spark, os.path.join(base, "cells"))
    assert cells.count() == 3 * len(got)
    assert sorted(
        r["vec_id"] for r in cells.select("vec_id").distinct().collect()
    ) == got
    assert {"band", "cell", "vec_id", "embedding"} <= set(cells.columns)

    # re-delivery of every batch must add nothing to either snapshot
    incremental_embedding_dedup_sink(
        spark.readStream.schema(b1.schema).parquet(staged),
        base,
        n_buckets=8,
    )
    assert read_snapshot(spark, os.path.join(base, "vecs")).count() == len(got)
    assert read_snapshot(spark, os.path.join(base, "cells")).count() == 3 * len(
        got
    )
    # Spark jobs per micro-batch [b1, b2, b3, re-delivery]: no more than
    # the sink ran when its seen-before probe read the raw batch
    assert _within(sink_jobs, [30, 53, 57, 54]), sink_jobs


def test_merge_batch_matches_latest_wins_model(spark, tmp_path):
    """Randomized model check of the merge core: 20 sequential merges of
    small random batches (seeded RNG — deterministic) must leave the
    snapshot equal to a Python latest-wins reference with the documented
    tie rule (equal order_col -> the INCOMING row wins, the MERGE WHEN
    MATCHED convention), across bucket boundaries, hard-linked versions,
    and the keep-two version pruner."""
    import os
    import random

    from arrow_experiments_spark.streaming.egress import (
        _merge_batch,
        read_snapshot,
    )

    rng = random.Random(0xC0FFEE)
    snap = str(tmp_path / "snap")
    model: dict[int, tuple[int, int]] = {}  # key -> (ord, val)
    committed = None
    for i in range(20):
        n = rng.randint(1, 8)
        rows, seen = [], set()
        for _ in range(n):
            k = rng.randint(0, 9)
            o = rng.randint(0, 20)
            if (k, o) in seen:  # equal (key, ord) within one batch is
                continue  # an unordered tie — excluded by contract
            seen.add((k, o))
            v = i * 1000 + len(rows)
            rows.append((k, o, v))
        if not rows:
            continue
        batch = spark.createDataFrame(
            rows, "key bigint, ord bigint, val bigint"
        )
        # model: keep max ord per key; on equal ord the incoming wins.
        # Within the batch itself only the max-ord row per key competes.
        best: dict[int, tuple[int, int]] = {}
        for k, o, v in rows:
            if k not in best or o > best[k][0]:
                best[k] = (o, v)
        for k, (o, v) in best.items():
            if k not in model or o >= model[k][0]:
                model[k] = (o, v)
        _merge_batch(
            spark, batch, snap,
            key_cols=["key"], order_col="ord",
            n_buckets=4, bucket_cols=None, seq=i, committed=committed,
        )
        committed = f"v{i}"
        versions = [d for d in os.listdir(snap) if d.startswith("v")]
        assert len(versions) <= 2, versions

    got = {
        r["key"]: (r["ord"], r["val"])
        for r in read_snapshot(spark, snap).collect()
    }
    assert got == model


def test_neardup_sinks_saturated_group_skip(spark, tmp_path):
    """The saturated-band/cell skip must silently EXCLUDE oversized
    index groups from candidate generation (the streaming seat of the
    batch pair-mass guard — skip, not refuse).  With the cap at 0 every
    group is saturated, so a text near-dup (identical token stream) and
    an embedding near-dup (scaled copy) are ADMITTED — the documented
    recall trade; with the default cap both are dropped (covered by the
    gating tests above)."""
    import glob
    import os
    import shutil

    from arrow_experiments_spark.streaming.egress import (
        _gated_firsts,
        incremental_embedding_dedup_sink,
        incremental_neardup_sink,
        read_snapshot,
    )

    def stage_two(b1, b2, name):
        staged = str(tmp_path / f"{name}_staged")
        os.makedirs(staged)
        for i, b in enumerate([b1, b2]):
            wdir = str(tmp_path / f"{name}_w{i}")
            b.coalesce(1).write.parquet(wdir)
            dst = os.path.join(staged, f"{i:03d}.parquet")
            shutil.copy(
                glob.glob(os.path.join(wdir, "part-*.parquet"))[0], dst
            )
            os.utime(dst, (1_000_000 + i * 1000,) * 2)
        return staged

    # text: batch 2 is a whitespace variant (identical tokens -> all
    # bands collide) of a batch-1 doc; cap 0 saturates every band
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    text = _gated_firsts(docs).orderBy("doc_id").limit(1).collect()[0]["text"]
    t1 = spark.createDataFrame([(0, text)], "doc_id bigint, text string")
    t2 = spark.createDataFrame([(1, text + " ")], "doc_id bigint, text string")
    tbase = str(tmp_path / "neardup0")
    incremental_neardup_sink(
        spark.readStream.schema(t1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_two(t1, t2, "t")),
        tbase,
        n_buckets=8,
        max_band_pop=0,
    )
    assert read_snapshot(spark, os.path.join(tbase, "docs")).count() == 2

    # embeddings: batch 2 is a scaled copy (cosine 1, same cells)
    def basis(i, scale=1.0):
        v = [0.0] * 64
        v[i] = scale
        return v

    e1 = spark.createDataFrame(
        [(0, basis(0))], "vec_id bigint, embedding array<float>"
    )
    e2 = spark.createDataFrame(
        [(1, basis(0, 2.0))], "vec_id bigint, embedding array<float>"
    )
    ebase = str(tmp_path / "embdedup0")
    incremental_embedding_dedup_sink(
        spark.readStream.schema(e1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_two(e1, e2, "e")),
        ebase,
        n_buckets=8,
        max_cell_pop=0,
    )
    assert read_snapshot(spark, os.path.join(ebase, "vecs")).count() == 2


def test_first_batch_with_no_survivors_does_not_wedge_snapshot(
    spark, tmp_path
):
    """An all-rejected FIRST micro-batch must not commit: a version
    written from zero rows has no parquet files, and every later read
    of it fails schema inference — the snapshot would be permanently
    wedged.  The commit is skipped instead, and the next batch with
    survivors creates v-first normally."""
    import glob
    import os
    import shutil

    from arrow_experiments_spark.streaming.egress import (
        _gated_firsts,
        incremental_neardup_sink,
        read_snapshot,
    )

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    good = _gated_firsts(docs).orderBy("doc_id").limit(1).collect()[0]["text"]
    b1 = spark.createDataFrame(
        [(0, "too short")], "doc_id bigint, text string"
    )  # fails the >=20-token gate
    b2 = spark.createDataFrame([(1, good)], "doc_id bigint, text string")
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for i, b in enumerate([b1, b2]):
        wdir = str(tmp_path / f"w{i}")
        b.coalesce(1).write.parquet(wdir)
        dst = os.path.join(staged, f"{i:03d}.parquet")
        shutil.copy(glob.glob(os.path.join(wdir, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000 + i * 1000,) * 2)
    base = str(tmp_path / "neardup")
    incremental_neardup_sink(
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged),
        base,
        n_buckets=8,
    )
    final = read_snapshot(spark, os.path.join(base, "docs"))
    assert final is not None and final.count() == 1
    assert read_snapshot(spark, os.path.join(base, "bands")).count() == 4


def test_stale_geometry_record_is_overwritten_when_index_is_empty(
    spark, tmp_path
):
    """A _GEOMETRY.json left by a run that died before any commit pins
    nothing: re-attaching with different geometry must re-record and
    proceed, not brick the directory."""
    import glob
    import json
    import os
    import shutil

    from arrow_experiments_spark.streaming.egress import (
        incremental_embedding_dedup_sink,
        read_snapshot,
    )

    base = str(tmp_path / "embdedup")
    os.makedirs(base)
    with open(os.path.join(base, "_GEOMETRY.json"), "w") as f:
        json.dump({"bands": 7, "bits": 9}, f)  # stale — nothing committed

    v = [0.0] * 64
    v[0] = 1.0
    b1 = spark.createDataFrame(
        [(0, v)], "vec_id bigint, embedding array<float>"
    )
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    wdir = str(tmp_path / "w0")
    b1.coalesce(1).write.parquet(wdir)
    shutil.copy(
        glob.glob(os.path.join(wdir, "part-*.parquet"))[0],
        os.path.join(staged, "000.parquet"),
    )
    incremental_embedding_dedup_sink(
        spark.readStream.schema(b1.schema).parquet(staged),
        base,
        n_buckets=8,
        bits=4,
    )
    assert read_snapshot(spark, os.path.join(base, "vecs")).count() == 1
    with open(os.path.join(base, "_GEOMETRY.json")) as f:
        assert json.load(f) == {"bands": 3, "bits": 4}


def test_incremental_neardup_sink_rejects_geometry_change(spark, tmp_path):
    """The MinHash band index records its signature geometry; a stale
    record (an index built by a code version with different constants)
    must be a loud error, not silent missed duplicates."""
    import glob
    import json
    import os
    import shutil

    import pytest

    from arrow_experiments_spark.streaming.egress import (
        _gated_firsts,
        incremental_neardup_sink,
    )

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    texts = [
        r["text"]
        for r in _gated_firsts(docs).orderBy("doc_id").limit(1).collect()
    ]
    b1 = spark.createDataFrame(
        [(0, texts[0])], "doc_id bigint, text string"
    )
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    wdir = str(tmp_path / "w0")
    b1.coalesce(1).write.parquet(wdir)
    shutil.copy(
        glob.glob(os.path.join(wdir, "part-*.parquet"))[0],
        os.path.join(staged, "000.parquet"),
    )
    base = str(tmp_path / "neardup")
    incremental_neardup_sink(
        spark.readStream.schema(b1.schema).parquet(staged), base, n_buckets=8
    )
    with open(os.path.join(base, "_GEOMETRY.json")) as f:
        rec = json.load(f)
    assert rec == {"n_sigs": 8, "n_bands": 4}
    # simulate an index built by a code version with other constants
    with open(os.path.join(base, "_GEOMETRY.json"), "w") as f:
        json.dump({"n_sigs": 16, "n_bands": 8}, f)
    with pytest.raises(ValueError, match="geometry mismatch"):
        incremental_neardup_sink(
            spark.readStream.schema(b1.schema).parquet(staged),
            base,
            n_buckets=8,
        )


def test_incremental_embedding_dedup_sink_rejects_geometry_change(
    spark, tmp_path
):
    """bands/bits are index-lifetime parameters: every posting's cell
    value is a function of them, so re-attaching the sink with different
    values would probe a foreign geometry and silently stop detecting
    duplicates.  The recorded geometry must make that a loud error."""
    import glob
    import os
    import shutil

    import pytest

    from arrow_experiments_spark.streaming.egress import (
        incremental_embedding_dedup_sink,
    )

    def basis(i):
        v = [0.0] * 64
        v[i] = 1.0
        return v

    b1 = spark.createDataFrame(
        [(0, basis(0)), (1, basis(1))], "vec_id bigint, embedding array<float>"
    )
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    wdir = str(tmp_path / "w0")
    b1.coalesce(1).write.parquet(wdir)
    shutil.copy(
        glob.glob(os.path.join(wdir, "part-*.parquet"))[0],
        os.path.join(staged, "000.parquet"),
    )
    base = str(tmp_path / "embdedup")
    incremental_embedding_dedup_sink(
        spark.readStream.schema(b1.schema).parquet(staged),
        base,
        n_buckets=8,
        bits=4,
    )
    with pytest.raises(ValueError, match="geometry mismatch"):
        incremental_embedding_dedup_sink(
            spark.readStream.schema(b1.schema).parquet(staged),
            base,
            n_buckets=8,
            bits=6,
        )


def test_upsert_snapshot_legacy_layout_defaults_to_key_cols(spark, tmp_path):
    """Layout records written before bucket_cols existed were always
    bucketed on key_cols.  A caller introducing custom bucket_cols over
    such a snapshot changes the geometry and MUST migrate wholesale —
    defaulting the comparison to the caller's own bucket_cols would
    prune against stale bucket ids and duplicate keys."""
    import json
    import os

    from arrow_experiments_spark.streaming.egress import (
        read_snapshot,
        upsert_snapshot_sink,
    )

    src = table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "value"
    ).limit(200)
    snap = str(tmp_path / "snap")

    def run(df, **kw):
        staged = str(tmp_path / f"staged{run.n}")
        run.n += 1
        df.coalesce(1).write.parquet(staged)
        stream = spark.readStream.schema(df.schema).parquet(staged)
        upsert_snapshot_sink(
            stream, snap, key_cols=["user_id", "event_id"],
            order_col="event_id", n_buckets=8, **kw,
        )

    run.n = 0
    run(src)
    n_keys = src.select("user_id", "event_id").distinct().count()
    with open(os.path.join(snap, "LATEST")) as f:
        vdir = os.path.join(snap, f.read().strip())
    # strip the record down to the pre-bucket_cols form
    with open(os.path.join(vdir, "_LAYOUT.json"), "w") as f:
        json.dump({"n_buckets": 8}, f)

    # same rows again under bucket_cols=[user_id]: every key collides, so
    # a stale prune (treating the legacy layout as already-user_id-
    # bucketed) would leave duplicates behind in linked buckets
    run(src, bucket_cols=["user_id"])
    final = read_snapshot(spark, snap)
    assert final.count() == n_keys
    assert final.select("user_id", "event_id").distinct().count() == n_keys
    with open(os.path.join(snap, "LATEST")) as f:
        vdir = os.path.join(snap, f.read().strip())
    with open(os.path.join(vdir, "_LAYOUT.json")) as f:
        assert json.load(f)["bucket_cols"] == ["user_id"]


def test_upsert_snapshot_bucket_cols_must_be_key_subset(spark, tmp_path):
    """bucket_cols outside key_cols would scatter one key across
    buckets and the pruned merge could miss live rows — rejected."""
    import pytest

    from arrow_experiments_spark.streaming.egress import upsert_snapshot_sink

    src = table(spark, SF_DIR, "events").select("user_id", "event_id", "value")
    staged = str(tmp_path / "one")
    src.limit(10).coalesce(1).write.parquet(staged)
    stream = spark.readStream.schema(src.schema).parquet(staged)
    with pytest.raises(ValueError, match="subset of key_cols"):
        upsert_snapshot_sink(
            stream,
            str(tmp_path / "snap"),
            key_cols=["user_id"],
            order_col="event_id",
            bucket_cols=["event_id"],
        )


def test_upsert_snapshot_checkpointed_replay_is_skipped(spark, tmp_path):
    """With a durable checkpoint, batch ids are monotonic across runs and
    a crash-after-commit replay (offsets written, commit marker lost) is
    detected by the pointer already naming v{batch_id}: the merge is
    skipped, so the replayed batch neither rewrites the live version dir
    nor advances the pointer."""
    import os

    from arrow_experiments_spark.streaming.egress import (
        read_snapshot,
        upsert_snapshot_sink,
    )

    src = table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "value"
    ).limit(100)
    staged = str(tmp_path / "one")
    src.coalesce(1).write.parquet(staged)
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")

    stream = spark.readStream.schema(src.schema).parquet(staged)
    upsert_snapshot_sink(
        stream, snap, key_cols=["user_id"], order_col="event_id",
        checkpoint_dir=ckpt,
    )
    with open(os.path.join(snap, "LATEST")) as f:
        assert f.read().strip() == "v0"
    before_files = sorted(os.listdir(os.path.join(snap, "v0")))
    before_count = read_snapshot(spark, snap).count()

    # simulate crash-after-commit: the engine recorded the batch's offsets
    # but lost the commit marker → restart replays batch 0
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):  # hadoop checksum sidecar
        os.remove(crc)
    stream2 = spark.readStream.schema(src.schema).parquet(staged)
    upsert_snapshot_sink(
        stream2, snap, key_cols=["user_id"], order_col="event_id",
        checkpoint_dir=ckpt,
    )
    with open(os.path.join(snap, "LATEST")) as f:
        assert f.read().strip() == "v0"
    # skip means v0 was not rewritten: identical part files
    assert sorted(os.listdir(os.path.join(snap, "v0"))) == before_files
    assert read_snapshot(spark, snap).count() == before_count


def test_upsert_snapshot_checkpointed_onto_uncheckpointed_stays_monotonic(
    spark, tmp_path
):
    """ADVICE r7 mode-mixing edge: a checkpointed query attached to a
    snapshot previously advanced WITHOUT a checkpoint restarts at batch
    0 while LATEST names some vN > 0.  The old code wrote v0 below vN
    and the pruner then deleted the just-superseded vN — version ids
    must instead stay monotonic (allocated past the committed version)
    and the pre-existing version must survive as the 'previous' kept for
    in-flight readers."""
    import os

    from arrow_experiments_spark.streaming.egress import (
        read_snapshot,
        upsert_snapshot_sink,
    )

    src = table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "value"
    ).limit(100)
    # pre-seed a snapshot advanced without a checkpoint up to v3
    snap = str(tmp_path / "snap")
    os.makedirs(snap)
    seeded = src.limit(10)
    seeded.write.parquet(os.path.join(snap, "v3"))
    with open(os.path.join(snap, "LATEST"), "w") as f:
        f.write("v3")

    staged = str(tmp_path / "one")
    src.coalesce(1).write.parquet(staged)
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(src.schema).parquet(staged)
    upsert_snapshot_sink(
        stream, snap, key_cols=["user_id"], order_col="event_id",
        checkpoint_dir=ckpt,
    )
    with open(os.path.join(snap, "LATEST")) as f:
        assert f.read().strip() == "v4"  # monotonic: past committed, not v0
    versions = sorted(d for d in os.listdir(snap) if d.startswith("v"))
    assert versions == ["v3", "v4"], versions  # previous version survives
    final = read_snapshot(spark, snap)
    assert final.count() == src.select("user_id").distinct().count()


def test_curated_snapshot_served_through_catalog(spark, tmp_path):
    """r7 verdict #7, the loop closed: run the incremental curation sink,
    register its snapshot in the HTTP registry, then do the reference's
    get_indirect two-step — GET /catalog lists the dataset URI, GET
    /datasets/curated streams the CURRENT survivors as Arrow — and the
    fetched table must equal the batch funnel's selection.  A further
    micro-batch committed after registration must be visible on the next
    fetch (LATEST resolves at request time)."""
    import glob
    import os
    import shutil
    import urllib.request

    from arrow_experiments_spark.streaming.egress import (
        incremental_curation_sink,
        read_snapshot,
        register_snapshot,
    )
    from arrow_experiments_spark.transport.client import (
        fetch_arrow,
        fetch_catalog,
    )
    from arrow_experiments_spark.transport.server import (
        DatasetRegistry,
        serve,
    )

    docs = table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    staged = str(tmp_path / "staged")
    os.makedirs(staged)

    def stage(i: int, lo: int, hi: int) -> None:
        wdir = str(tmp_path / f"w{i}")
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(wdir)
        src = glob.glob(os.path.join(wdir, "part-*.parquet"))[0]
        dst = os.path.join(staged, f"{i:03d}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    stage(0, ids[0], cut)
    snap = str(tmp_path / "snap")

    def run_sink() -> None:
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        incremental_curation_sink(stream, snap)

    run_sink()
    registry = DatasetRegistry()
    register_snapshot(registry, "curated", snap)
    httpd = serve(registry)
    host, port = httpd.server_address
    base = f"http://{host}:{port}"
    try:
        uris = fetch_catalog(f"{base}/catalog")
        (uri,) = [u for u in uris if u.endswith("/datasets/curated")]
        got1, _m = fetch_arrow(uri, accept_encoding="identity")
        want1 = read_snapshot(spark, snap)
        assert got1.num_rows == want1.count()
        assert sorted(got1["doc_id"].to_pylist()) == sorted(
            r["doc_id"] for r in want1.select("doc_id").collect()
        )

        # second delta lands AFTER registration — the endpoint must serve
        # the new version without re-registering
        stage(1, cut, ids[-1] + 1)
        run_sink()
        got2, _m = fetch_arrow(uri, accept_encoding="identity")
        want2 = read_snapshot(spark, snap)
        assert got2.num_rows == want2.count() > got1.num_rows
        assert sorted(got2["content_hash"].to_pylist()) == sorted(
            r["content_hash"] for r in want2.select("content_hash").collect()
        )

        # unregistered-before-first-commit shape: a fresh empty snapshot
        # registers fine and 404s until its first commit
        register_snapshot(registry, "curated_empty", str(tmp_path / "nosnap"))
        try:
            urllib.request.urlopen(f"{base}/datasets/curated_empty")
            raise AssertionError("expected 404 before first commit")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        httpd.shutdown()


def test_second_writer_fails_loudly_while_lease_held(spark, tmp_path):
    """r9 verdict #2: the single-writer contract is ENFORCED, not
    documentation — while one writer holds the snapshot lease (as it
    does for the whole run, heartbeating per micro-batch), a second
    concurrent writer raises WriterLeaseHeld at attach instead of
    interleaving commits; after the holder releases, the survivor's
    snapshot passes the same parity asserts as a lone writer's."""
    import pytest as _pytest

    from arrow_experiments_spark.streaming.egress import (
        WriterLease,
        WriterLeaseHeld,
        read_snapshot,
        upsert_snapshot_sink,
    )

    src = table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    staged = str(tmp_path / "staged")
    src.limit(200).repartition(2).write.mode("overwrite").parquet(staged)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    snap = str(tmp_path / "snapshot")

    holder = WriterLease.acquire(snap)  # writer A, mid-merge
    with _pytest.raises(WriterLeaseHeld, match="one\\s+writer at a time"):
        upsert_snapshot_sink(
            stream, snap, key_cols=["user_id"], order_col="event_id"
        )
    holder.release()

    # survivor: a lone writer now succeeds and the snapshot is correct
    upsert_snapshot_sink(
        stream, snap, key_cols=["user_id"], order_col="event_id"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    want = (
        spark.read.parquet(staged)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    final = read_snapshot(spark, snap)
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0


def test_fenced_writer_cannot_commit_after_takeover(spark, tmp_path):
    """A writer stalled past the lease TTL loses the lease to a
    higher-fencing-token successor; its next commit must abort BEFORE
    the LATEST pointer swap, leaving the successor's snapshot alone."""
    import json
    import os
    import time

    import pytest as _pytest

    from arrow_experiments_spark.streaming.egress import (
        WriterFenced,
        WriterLease,
        _merge_batch,
    )

    snap = str(tmp_path / "snapshot")
    stalled = WriterLease.acquire(snap)

    # simulate the stall: backdate the heartbeat past the TTL, then a
    # second writer takes over with token+1
    with open(stalled.path) as f:
        rec = json.load(f)
    rec["heartbeat"] = time.time() - 3600
    with open(stalled.path, "w") as f:
        json.dump(rec, f)
    successor = WriterLease.acquire(snap)
    assert successor.token == stalled.token + 1

    batch = spark.createDataFrame(
        [(1, 10, "a")], "user_id int, event_id int, event_type string"
    )
    with _pytest.raises(WriterFenced, match="taken over"):
        _merge_batch(
            spark, batch, snap,
            key_cols=["user_id"], order_col="event_id",
            n_buckets=4, bucket_cols=None,
            seq=0, committed=None, lease=stalled,
        )
    # the fenced writer swapped nothing: no LATEST pointer exists yet
    assert not os.path.exists(os.path.join(snap, "LATEST"))
    # the successor commits fine
    _merge_batch(
        spark, batch, snap,
        key_cols=["user_id"], order_col="event_id",
        n_buckets=4, bucket_cols=None,
        seq=0, committed=None, lease=successor,
    )
    assert os.path.exists(os.path.join(snap, "LATEST"))
    successor.release()


def test_lease_tokens_monotonic_across_release_reacquire(tmp_path):
    """r11 ADVICE: release leaves a token-preserving tombstone instead
    of deleting the lease, so fencing tokens never restart at 1 — a
    long-fenced writer can never pass check() against a successor whose
    counter happened to restart at the fenced writer's token.  Also
    pins that the tombstone reads as free (a new acquire succeeds
    immediately) while a LIVE lease still blocks."""
    import json

    import pytest as _pytest

    from arrow_experiments_spark.streaming.egress import (
        WriterFenced,
        WriterLease,
        WriterLeaseHeld,
    )

    base = str(tmp_path / "snap")
    a = WriterLease.acquire(base)
    assert a.token == 1
    with _pytest.raises(WriterLeaseHeld):
        WriterLease.acquire(base)  # live lease blocks
    a.release()
    with open(a.path) as f:
        tomb = json.load(f)
    assert tomb == {"released": True, "token": 1}

    b = WriterLease.acquire(base)  # tombstone reads as free
    assert b.token == 2, "token must continue, not restart at 1"
    # the released writer is fenced even though its token value was
    # never "taken over" — the tombstone dropped its nonce
    with _pytest.raises(WriterFenced):
        a.check()
    b.release()
    c = WriterLease.acquire(base)
    assert c.token == 3
    c.release()


def test_multi_table_sinks_hold_one_lease_over_base_dir(spark, tmp_path):
    """The near-dup sinks' hazard is INTERLEAVED docs/bands (vecs/cells)
    commits — so the lease covers base_dir, and a second sink attach on
    the same index fails loudly while the first would be mid-run."""
    import pytest as _pytest

    from arrow_experiments_spark.streaming.egress import (
        WriterLease,
        WriterLeaseHeld,
        incremental_neardup_sink,
    )

    base = str(tmp_path / "ndidx")
    holder = WriterLease.acquire(base)

    src = table(spark, SF_DIR, "documents").select("doc_id", "text")
    staged = str(tmp_path / "staged")
    src.limit(50).write.mode("overwrite").parquet(staged)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    with _pytest.raises(WriterLeaseHeld):
        incremental_neardup_sink(stream, base)
    holder.release()


def test_insert_only_merge_appends_and_compacts(spark, tmp_path):
    """r9 verdict #4: the insert-only merge writes O(delta), not
    O(touched bucket) — committed files in TOUCHED buckets are
    hard-linked forward (inode-asserted), re-inserted keys keep the
    committed row (first-wins), and a bucket crossing the file-count
    threshold is compacted back to one rewrite."""
    import os

    from arrow_experiments_spark.streaming.egress import (
        _merge_batch,
        read_snapshot,
    )

    snap = str(tmp_path / "snap")

    def batch(rows):
        return spark.createDataFrame(rows, "k int, seq int, val string")

    # v0: keys 0..9, all in ONE bucket (n_buckets=1 isolates the claim)
    _merge_batch(
        spark, batch([(i, 0, f"base{i}") for i in range(10)]), snap,
        key_cols=["k"], order_col="seq", n_buckets=1, bucket_cols=None,
        seq=0, committed=None, insert_only=True,
    )
    v0_files = {
        f: os.stat(os.path.join(snap, "v0", "_bucket=0", f)).st_ino
        for f in os.listdir(os.path.join(snap, "v0", "_bucket=0"))
        if f.endswith(".parquet")
    }
    assert v0_files

    # v1: one new key + one RE-inserted key with a newer seq and value
    _merge_batch(
        spark, batch([(10, 1, "new"), (3, 1, "clobber")]), snap,
        key_cols=["k"], order_col="seq", n_buckets=1, bucket_cols=None,
        seq=1, committed="v0", insert_only=True,
    )
    v1_dir = os.path.join(snap, "v1", "_bucket=0")
    v1_files = {
        f: os.stat(os.path.join(v1_dir, f)).st_ino
        for f in os.listdir(v1_dir)
        if f.endswith(".parquet")
    }
    # every v0 file is hard-linked into v1 (same inode), plus new file(s)
    for f, ino in v0_files.items():
        assert v1_files.get(f) == ino, f"{f} was rewritten, not linked"
    assert len(v1_files) > len(v0_files)

    final = {r["k"]: (r["seq"], r["val"]) for r in read_snapshot(spark, snap).collect()}
    assert final[10] == (1, "new")
    assert final[3] == (0, "base3"), "insert-only must be first-wins"
    assert len(final) == 11

    # compaction: with the threshold at the current file count, the next
    # append must REWRITE bucket 0 down to a bounded file set
    _merge_batch(
        spark, batch([(11, 2, "trigger")]), snap,
        key_cols=["k"], order_col="seq", n_buckets=1, bucket_cols=None,
        seq=2, committed="v1", insert_only=True,
        max_files_per_bucket=len(v1_files),
    )
    v2_dir = os.path.join(snap, "v2", "_bucket=0")
    v2_files = [f for f in os.listdir(v2_dir) if f.endswith(".parquet")]
    v2_inos = {os.stat(os.path.join(v2_dir, f)).st_ino for f in v2_files}
    assert v2_inos.isdisjoint(set(v1_files.values())), "compaction must rewrite"
    assert len(v2_files) <= len(v1_files)
    final2 = {r["k"] for r in read_snapshot(spark, snap).collect()}
    assert final2 == set(range(12))


def test_reader_exact_rows_during_compacting_commit(spark, tmp_path):
    """r10 verdict #5 — the reader-vs-compaction contract, pinned: a
    reader that resolved version N gets EXACTLY N's rows while a
    COMPACTING commit produces and swaps N+1 (compaction writes the
    merged bucket into new files under N+1 and never mutates or unlinks
    a file of N; the post-commit prune keeps the previous version for
    precisely this reader).  Retention rule: two versions — once N+2
    commits, N is pruned and a reader still holding it is out of
    contract (asserted below).  Object-store seat documented at
    _merge_batch: immutable objects + manifest entries replace inode
    links; the contract does not depend on POSIX link counts."""
    import os

    from arrow_experiments_spark.streaming.egress import (
        _committed_version,
        _merge_batch,
        read_snapshot,
    )

    snap = str(tmp_path / "snap")

    def batch(rows):
        return spark.createDataFrame(rows, "k int, seq int, val string")

    # v0 then v1: several files pile up in the single bucket
    _merge_batch(
        spark, batch([(i, 0, f"base{i}") for i in range(8)]), snap,
        key_cols=["k"], order_col="seq", n_buckets=1, bucket_cols=None,
        seq=0, committed=None, insert_only=True,
    )
    _merge_batch(
        spark, batch([(8, 1, "eight")]), snap,
        key_cols=["k"], order_col="seq", n_buckets=1, bucket_cols=None,
        seq=1, committed="v0", insert_only=True,
    )
    v_reader = _committed_version(snap)
    assert v_reader == "v1"
    vdir = os.path.join(snap, v_reader)
    n_files = len([
        f for f in os.listdir(os.path.join(vdir, "_bucket=0"))
        if f.endswith(".parquet")
    ])
    # the reader resolves N and BINDS its file list (what a mid-scan
    # reader holds after planning) before the compacting commit lands
    reader_df = spark.read.parquet(vdir)
    expect = {(r["k"], r["seq"], r["val"]) for r in reader_df.collect()}

    # compacting commit of v2: threshold at the current count forces
    # the bucket rewrite; v0 is pruned, v1 (the reader's) is retained
    _merge_batch(
        spark, batch([(9, 2, "nine")]), snap,
        key_cols=["k"], order_col="seq", n_buckets=1, bucket_cols=None,
        seq=2, committed="v1", insert_only=True,
        max_files_per_bucket=n_files,
    )
    assert _committed_version(snap) == "v2"
    assert not os.path.isdir(os.path.join(snap, "v0")), "v0 pruned"
    assert os.path.isdir(vdir), "reader's version retained through commit"
    # exact rows, re-scanned from disk AFTER the compacting commit
    got = {(r["k"], r["seq"], r["val"]) for r in spark.read.parquet(vdir).collect()}
    assert got == expect
    assert {(r["k"], r["seq"], r["val"]) for r in reader_df.collect()} == expect
    # and the new LATEST sees the superset
    assert {r["k"] for r in read_snapshot(spark, snap).collect()} == set(range(10))

    # one more commit moves the retention window past the reader: N is
    # now pruned — the documented out-of-contract point
    _merge_batch(
        spark, batch([(10, 3, "ten")]), snap,
        key_cols=["k"], order_col="seq", n_buckets=1, bucket_cols=None,
        seq=3, committed="v2", insert_only=True,
    )
    assert not os.path.isdir(vdir), "two-version retention: N pruned at N+2"


def test_incremental_ivf_index_sink_and_probe(spark, tmp_path, sink_jobs):
    """r9 verdict #5: the IVF index is a MAINTAINED artifact — a sink
    delta-maintains the (cell, vec_id, embedding) posting snapshot, the
    registered probe reads it, and after deltas the probe's result
    equals ann_ivf_codebook's per-query assignment (same kernel, same
    declared result).  The geometry guard raises on a k mismatch."""
    import os

    import pytest as _pytest

    from arrow_experiments_spark.operators.similarity import (
        _ivf_k,
        ann_ivf_codebook,
    )
    from arrow_experiments_spark.streaming.egress import (
        incremental_ivf_index_sink,
        read_snapshot,
    )
    from arrow_experiments_spark.tables import table
    from arrow_experiments_spark.functions.vectors import norm as vnorm

    src = (
        table(spark, SF_DIR, "embeddings")
        .filter(vnorm(F.col("embedding")) > 0)
        .select("vec_id", "embedding")
    )
    n = src.count()
    k = _ivf_k(spark, SF_DIR)
    staged = str(tmp_path / "staged")
    # three micro-batches
    src.repartition(3).write.mode("overwrite").parquet(staged)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    base = str(tmp_path / "ivf")
    incremental_ivf_index_sink(stream, base, k=k)

    # Spark jobs per micro-batch: the first sizes the index's buckets
    # from the batch count
    assert _within(sink_jobs, [6, 13, 13]), sink_jobs
    cells = read_snapshot(spark, os.path.join(base, "cells"))
    assert cells.count() == n  # one posting per vector, dedup across batches
    assert set(cells.columns) == {"cell", "vec_id", "embedding"}

    # probe the maintained artifact directly and compare against the
    # per-query assignment form on the same corpus
    import arrow_experiments_spark.operators.similarity as sim

    monkey_base = base

    def fake_ensure(spark_, sf_dir_, n_buckets=sim._IVF_INDEX_BUCKETS):
        return monkey_base, k

    orig = sim.ensure_ivf_index
    sim.ensure_ivf_index = fake_ensure
    try:
        got = sim.ann_ivf_index_probe(spark, SF_DIR)
        want = ann_ivf_codebook(spark, SF_DIR)
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0
    finally:
        sim.ensure_ivf_index = orig

    # re-attach with a different codebook size: postings are a function
    # of k, probing a foreign codebook must raise, not degrade
    stream2 = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    with _pytest.raises(ValueError, match="geometry mismatch"):
        incremental_ivf_index_sink(stream2, base, k=k + 1)


def test_ensure_ivf_index_build_if_absent(spark, tmp_path):
    """ensure_ivf_index builds once per (corpus fingerprint, geometry)
    and replays the committed artifact afterwards — the LATEST pointer
    must not move on a second call."""
    import os

    from arrow_experiments_spark.operators.similarity import (
        _IVF_INDEX_DIR_CONF,
        ensure_ivf_index,
    )

    spark.conf.set(_IVF_INDEX_DIR_CONF, str(tmp_path))
    try:
        base, k = ensure_ivf_index(spark, SF_DIR)
        pointer = os.path.join(base, "cells", "LATEST")
        with open(pointer) as f:
            v1 = f.read()
        mtime1 = os.stat(pointer).st_mtime_ns
        base2, k2 = ensure_ivf_index(spark, SF_DIR)
        assert (base2, k2) == (base, k)
        assert os.stat(pointer).st_mtime_ns == mtime1
        with open(pointer) as f:
            assert f.read() == v1
    finally:
        spark.conf.unset(_IVF_INDEX_DIR_CONF)


def test_ensure_ivf_index_rebuild_nondestructive(spark, tmp_path):
    """r10 verdict #1: a stale-fingerprint rebuild writes the NEXT
    snapshot version and swaps LATEST (the upsert_snapshot_sink
    discipline) instead of rmtree-ing the live ``cells/`` — a reader
    that resolved the committed version just before the rebuild keeps
    reading a consistent result (old or new, never an error) for the
    whole rebuild.  Also pins sink-owned freshness (ADVICE r10): a
    committed version with matching ``_GEOMETRY.json`` but no
    ``_INDEX_MANIFEST.json`` is a live sink-maintained index, treated
    as fresh instead of rebuilt from corpus files."""
    import json
    import os
    import shutil
    import threading

    from arrow_experiments_spark.operators.similarity import (
        _IVF_INDEX_DIR_CONF,
        ensure_ivf_index,
    )
    from arrow_experiments_spark.streaming.egress import _committed_version

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    shutil.copy(
        os.path.join(SF_DIR, "embeddings.parquet"),
        os.path.join(corpus, "embeddings.parquet"),
    )
    spark.conf.set(_IVF_INDEX_DIR_CONF, str(tmp_path / "idx"))
    try:
        base, k = ensure_ivf_index(spark, corpus)
        cells_dir = os.path.join(base, "cells")
        v_before = _committed_version(cells_dir)
        vdir_before = os.path.join(cells_dir, v_before)
        n = spark.read.parquet(vdir_before).count()
        assert n > 0

        # stale the fingerprint (same bytes, new mtime) — forces a rebuild
        os.utime(os.path.join(corpus, "embeddings.parquet"))

        # reader pinned to the version resolved BEFORE the rebuild —
        # the exact interleaving that crashed on the rmtree path
        errors: list[Exception] = []
        counts: list[int] = []
        stop = threading.Event()

        def read_loop():
            while not stop.is_set():
                try:
                    v = _committed_version(cells_dir)
                    counts.append(
                        spark.read.parquet(os.path.join(cells_dir, v)).count()
                    )
                except Exception as e:  # noqa: BLE001 — the assertion target
                    errors.append(e)
                    return

        t = threading.Thread(target=read_loop)
        t.start()
        try:
            base2, k2 = ensure_ivf_index(spark, corpus)
        finally:
            stop.set()
            t.join()
        assert not errors, f"concurrent probe failed during rebuild: {errors[0]}"
        assert counts and all(c == n for c in counts)
        assert (base2, k2) == (base, k)
        v_after = _committed_version(cells_dir)
        assert v_after != v_before, "rebuild must commit a NEW version"
        # the superseded version survives the prune for in-flight readers
        assert os.path.isdir(vdir_before)
        assert spark.read.parquet(os.path.join(cells_dir, v_after)).count() == n

        # the builder records EXPLICIT ownership (r11 ADVICE)
        manifest_path = os.path.join(base, "_INDEX_MANIFEST.json")
        with open(manifest_path) as f:
            assert json.load(f)["maintained_by"] == "builder"

        # explicit sink marker beats a STALE fingerprint (r11 ADVICE:
        # the hazard is a sink delta-maintaining a builder-built index
        # — manifest present, fingerprint stale — being rebuilt from
        # corpus files and losing every sink-ingested posting)
        with open(manifest_path, "w") as f:
            json.dump({"maintained_by": "sink", "k": k}, f)
        os.utime(os.path.join(corpus, "embeddings.parquet"))  # stale fp
        base_s, _ = ensure_ivf_index(spark, corpus)
        assert base_s == base
        assert _committed_version(cells_dir) == v_after, (
            "a sink-owned index (explicit marker) must not be rebuilt "
            "even when the builder fingerprint is stale"
        )

        # legacy sink-owned freshness: no manifest + matching geometry
        # = fresh (pre-marker sinks wrote no manifest at all)
        os.remove(manifest_path)
        with open(os.path.join(base, "_GEOMETRY.json")) as f:
            assert json.load(f)["ivf_k"] == k
        base3, _ = ensure_ivf_index(spark, corpus)
        assert base3 == base
        assert _committed_version(cells_dir) == v_after, (
            "a sink-maintained index (no manifest) must not be rebuilt "
            "out from under the sink"
        )
    finally:
        spark.conf.unset(_IVF_INDEX_DIR_CONF)


def test_incremental_neardup_sink_composed_with_decontamination(spark, tmp_path):
    """r9 verdict #8 (stretch): the FULL curation funnel as one sink —
    quality → exact → near-dup → benchmark decontamination — with every
    rejection attributable to its gate.  The eval set is a broadcast
    shingle index built once at attach; a contaminated doc is rejected
    at ingest and enters neither the corpus nor the band index."""
    import glob
    import os
    import shutil

    from arrow_experiments_spark.streaming.egress import (
        _gated_firsts,
        incremental_neardup_sink,
        read_snapshot,
    )

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    base_texts = [
        r["text"]
        for r in _gated_firsts(docs).orderBy("doc_id").limit(6).collect()
    ]

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    eval_docs = frame([(900, base_texts[4])])  # the benchmark doc

    b1 = frame([(i, base_texts[i]) for i in range(3)])
    b2 = frame(
        [
            (10, "too short"),             # quality gate
            (11, base_texts[0]),           # exact dup of doc 0
            (12, base_texts[1] + " "),     # near dup of doc 1
            (13, base_texts[4]),           # shares all shingles w/ eval 900
            (14, base_texts[5]),           # clean -> retained
        ]
    )
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for i, b in enumerate([b1, b2]):
        wdir = str(tmp_path / f"w{i}")
        b.coalesce(1).write.parquet(wdir)
        dst = os.path.join(staged, f"{i:03d}.parquet")
        shutil.copy(glob.glob(os.path.join(wdir, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    base = str(tmp_path / "full_funnel")
    incremental_neardup_sink(
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged),
        base,
        n_buckets=8,
        eval_docs=eval_docs,
    )
    corpus = read_snapshot(spark, os.path.join(base, "docs"))
    got_ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    assert got_ids == [0, 1, 2, 14], got_ids
    index = read_snapshot(spark, os.path.join(base, "bands"))
    assert sorted(
        r["doc_id"] for r in index.select("doc_id").distinct().collect()
    ) == got_ids  # contaminated doc 13 indexed NOTHING


@pytest.mark.parametrize("kind", ["neardup", "embedding"])
def test_fused_commit_index_leg_failure_heals_on_replay(spark, tmp_path, kind):
    """r11 fused-commit failure contract: when the INDEX leg's write
    phase fails, the corpus leg (listed first) still commits — the
    index lags by one batch, exactly like a crash between the old
    sequential merges — the sink call raises, and a checkpointed
    replay rebuilds the batch's postings from the committed corpus (the
    heal path).  The index must never lead the corpus."""
    import os

    import arrow_experiments_spark.streaming.egress as eg
    from arrow_experiments_spark.streaming.egress import read_snapshot

    run, base, _ckpt, corpus, index, postings = _heal_fixture(
        spark, tmp_path, kind
    )
    orig = eg._merge_batch

    def failing_merge(spark_, df, sdir, **kw):
        if os.path.basename(sdir) == index:
            raise RuntimeError(f"injected {index} write failure")
        return orig(spark_, df, sdir, **kw)

    eg._merge_batch = failing_merge
    try:
        with pytest.raises(Exception, match=f"injected {index} write failure"):
            run()
    finally:
        eg._merge_batch = orig
    # corpus committed, index did not — never index-ahead-of-corpus
    assert read_snapshot(spark, os.path.join(base, corpus)).count() == 2
    assert eg._committed_version(os.path.join(base, index)) is None

    # replay (the failed batch was never checkpoint-committed): the
    # corpus skips as already committed, the heal path re-derives the
    # postings
    run()
    assert read_snapshot(spark, os.path.join(base, corpus)).count() == 2
    assert read_snapshot(spark, os.path.join(base, index)).count() == postings


def test_merge_batch_precomputed_touched_superset(spark, tmp_path):
    """r11: a caller-passed ``touched`` set (the gate sinks reuse their
    one-per-batch bucket probe) must produce byte-equal snapshot state
    as the merge's own derivation, for any SUPERSET of the delta's
    buckets — touched only widens the compaction check (insert-only) or
    the read-back set (upsert), never which rows survive.  Compaction
    still fires when the superset names a bucket past the threshold."""
    import os

    from arrow_experiments_spark.streaming.egress import (
        _merge_batch,
        read_snapshot,
    )

    def batch(rows):
        return spark.createDataFrame(rows, "k int, seq int, val string")

    def rows_of(snap):
        return {
            (r["k"], r["seq"], r["val"])
            for r in read_snapshot(spark, snap).collect()
        }

    base_rows = [(i, 0, f"b{i}") for i in range(20)]
    delta_rows = [(20, 1, "new"), (3, 1, "dup")]
    for mode in ("insert", "upsert"):
        snaps = {}
        for variant, touched in (("own", None), ("superset", set(range(8)))):
            snap = str(tmp_path / f"{mode}_{variant}")
            _merge_batch(
                spark, batch(base_rows), snap,
                key_cols=["k"], order_col="seq", n_buckets=8,
                bucket_cols=None, seq=0, committed=None,
                insert_only=(mode == "insert"),
            )
            _merge_batch(
                spark, batch(delta_rows), snap,
                key_cols=["k"], order_col="seq", n_buckets=8,
                bucket_cols=None, seq=1, committed="v0",
                insert_only=(mode == "insert"), touched=touched,
            )
            snaps[variant] = rows_of(snap)
        assert snaps["own"] == snaps["superset"], mode
        want_dup = (3, 0, "b3") if mode == "insert" else (3, 1, "dup")
        assert want_dup in snaps["own"]
        assert (20, 1, "new") in snaps["own"]

    # r13 (the fused-probe prerequisite): the full-range superset above
    # names buckets with ZERO incoming rows — the fused raw-batch probe
    # hands exactly such supersets to the merge (raw cells ⊇ survivor
    # cells).  Beyond row equality, the zero-row touched buckets must
    # not COST anything in insert-only mode: under the compaction
    # threshold they stay hard-linked (same inode), not rewritten.
    import pyspark.sql.functions as F

    probe = batch(delta_rows).withColumn(
        "_b", F.pmod(F.xxhash64("k"), F.lit(8)).cast("int")
    )
    delta_buckets = {r["_b"] for r in probe.select("_b").collect()}
    v0 = str(tmp_path / "insert_superset" / "v0")
    v1 = str(tmp_path / "insert_superset" / "v1")
    committed_buckets = {
        int(d.split("=", 1)[1])
        for d in os.listdir(v0)
        if d.startswith("_bucket=")
    }
    zero_row_buckets = committed_buckets - delta_buckets
    assert zero_row_buckets, "fixture must leave some buckets untouched"
    for b in zero_row_buckets:
        d0, d1 = (
            os.path.join(v, f"_bucket={b}") for v in (v0, v1)
        )
        inos0 = {
            os.stat(os.path.join(d0, f)).st_ino
            for f in os.listdir(d0) if f.endswith(".parquet")
        }
        inos1 = {
            os.stat(os.path.join(d1, f)).st_ino
            for f in os.listdir(d1) if f.endswith(".parquet")
        }
        assert inos0 == inos1, (
            f"zero-incoming-row touched bucket {b} must hard-link, "
            "not rewrite"
        )

    # compaction still triggers off a superset: threshold 1 with two
    # files in bucket 0 forces the rewrite even though the delta's own
    # bucket set is passed as the full superset
    snap = str(tmp_path / "compact")
    _merge_batch(
        spark, batch([(0, 0, "a"), (8, 0, "b")]), snap,
        key_cols=["k"], order_col="seq", n_buckets=1, bucket_cols=None,
        seq=0, committed=None, insert_only=True,
    )
    _merge_batch(
        spark, batch([(16, 1, "c")]), snap,
        key_cols=["k"], order_col="seq", n_buckets=1, bucket_cols=None,
        seq=1, committed="v0", insert_only=True,
        max_files_per_bucket=1, touched={0},
    )
    v1 = os.path.join(snap, "v1", "_bucket=0")
    v0 = os.path.join(snap, "v0", "_bucket=0")
    v0_inos = {
        os.stat(os.path.join(v0, f)).st_ino
        for f in os.listdir(v0) if f.endswith(".parquet")
    }
    v1_inos = {
        os.stat(os.path.join(v1, f)).st_ino
        for f in os.listdir(v1) if f.endswith(".parquet")
    }
    assert v1_inos.isdisjoint(v0_inos), "compaction must rewrite"
    assert rows_of(snap) == {(0, 0, "a"), (8, 0, "b"), (16, 1, "c")}


def test_anti_join_small_left_fallback_matches_plain(spark):
    """_anti_join_small_left's two plan shapes agree: the broadcast form
    (micro-batch deltas) and the shuffled fallback past max_keys (a
    backfill delivered as one giant batch) return identical rows."""
    from arrow_experiments_spark.streaming.egress import _anti_join_small_left

    small = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k int, v string"
    )
    big = spark.createDataFrame([(2,), (4,), (9,)], "k int")
    want = {(1, "a"), (3, "c")}

    broadcast_form = _anti_join_small_left(small, big, ["k"])
    assert {tuple(r) for r in broadcast_form.collect()} == want

    fallback_form = _anti_join_small_left(small, big, ["k"], max_keys=2)
    assert {tuple(r) for r in fallback_form.collect()} == want


def test_read_version_binds_the_manifest_schema(spark, tmp_path, monkeypatch):
    """A committed version's manifest records the schema Spark reads
    back, so reading the version runs no schema-inference job; the bound
    schema and rows equal an inferring read's (nullability of nested
    fields included), and a manifest without a schema still infers."""
    import json
    import os

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    from arrow_experiments_spark.streaming import egress

    schema = StructType([
        StructField("k", IntegerType(), False),
        StructField("seq", IntegerType(), False),
        StructField("arr", ArrayType(IntegerType(), False), False),
        StructField("m", MapType(StringType(), IntegerType(), False)),
        StructField("st", StructType([StructField("x", IntegerType(), False)])),
    ])
    batch = spark.createDataFrame(
        [(i, i, [i, i + 1], {"a": i}, (i,)) for i in range(20)], schema
    )
    snap = str(tmp_path / "snap")
    v = egress._merge_batch(
        spark, batch, snap,
        key_cols=["k"], order_col="seq", n_buckets=4, bucket_cols=None,
        seq=0, committed=None,
    )
    vdir = os.path.join(snap, v)
    manifest = os.path.join(vdir, "_MANIFEST.json")
    with open(manifest) as f:
        man = json.load(f)
    inferred = spark.read.option("basePath", vdir).parquet(
        *[os.path.join(vdir, p) for p in man["files"]]
    )

    monkeypatch.setattr(egress, "_VERSION_READ_CACHE", {})
    before = _jobs_so_far(spark)
    bound = egress._read_version(spark, vdir)
    assert _jobs_so_far(spark) == before
    assert bound.schema == inferred.schema
    assert bound.orderBy("k").collect() == inferred.orderBy("k").collect()

    del man["schema"]
    with open(manifest, "w") as f:
        json.dump(man, f)
    monkeypatch.setattr(egress, "_VERSION_READ_CACHE", {})
    assert egress._read_version(spark, vdir).schema == inferred.schema


def test_read_version_survives_corrupt_manifest(spark, tmp_path):
    """A damaged _MANIFEST.json must degrade to the directory read, not
    fail the snapshot: the manifest is an optimization, never a
    correctness dependency."""
    import os

    from arrow_experiments_spark.streaming.egress import (
        _merge_batch,
        read_snapshot,
    )

    snap = str(tmp_path / "snap")
    batch = spark.createDataFrame(
        [(i, i, f"v{i}") for i in range(20)], "k int, seq int, val string"
    )
    _merge_batch(
        spark, batch, snap,
        key_cols=["k"], order_col="seq", n_buckets=4, bucket_cols=None,
        seq=0, committed=None,
    )
    manifest = os.path.join(snap, "v0", "_MANIFEST.json")
    assert os.path.exists(manifest)
    with open(manifest, "w") as f:
        f.write("{not json")
    assert read_snapshot(spark, snap).count() == 20


def test_retention_window_keeps_k_versions_for_long_scans(spark, tmp_path):
    """r11 verdict #3: the retention window is configurable keep-K —
    a reader pinned to version N reads exact rows while K−1 further
    commits land (its scan budget), the K-th commit beyond prunes it,
    the resolved K is recorded in _LAYOUT.json and ADOPTED by conf-free
    re-attaches, and the default stays 2 (current behavior unchanged)."""
    import json
    import os

    from arrow_experiments_spark.streaming.egress import (
        _RETAIN_VERSIONS_CONF,
        _merge_batch,
    )

    def commit(snap, s, committed, **kw):
        df = spark.createDataFrame(
            [(s, s, f"val{s}")], "k int, seq int, val string"
        )
        return _merge_batch(
            spark, df, snap,
            key_cols=["k"], order_col="seq", n_buckets=4, bucket_cols=None,
            seq=s, committed=committed, **kw,
        )

    def versions(snap):
        return sorted(
            d for d in os.listdir(snap)
            if d.startswith("v") and d[1:].isdigit()
        )

    snap = str(tmp_path / "snap")
    spark.conf.set(_RETAIN_VERSIONS_CONF, "4")
    try:
        v = commit(snap, 0, None)
        v0dir = os.path.join(snap, v)
        pinned = spark.read.parquet(v0dir)  # reader holding version N
        assert pinned.count() == 1

        # K−1 = 3 more commits: the pinned reader stays in contract
        # (exact rows, not just no-crash) through every one of them
        for s in range(1, 4):
            v = commit(snap, s, v)
            got = spark.read.parquet(v0dir).collect()
            assert len(got) == 1 and got[0]["val"] == "val0"
        assert versions(snap) == ["v0", "v1", "v2", "v3"]

        # the commit that takes the window PAST K prunes v0
        v = commit(snap, 4, v)
        assert versions(snap) == ["v1", "v2", "v3", "v4"]
        with open(os.path.join(snap, "v4", "_LAYOUT.json")) as f:
            assert json.load(f)["retain_versions"] == 4
    finally:
        spark.conf.unset(_RETAIN_VERSIONS_CONF)

    # conf-free re-attach ADOPTS the committed record (K=4), the
    # adopt-committed-layout rule the bucket counts follow
    v = commit(snap, 5, v)
    assert versions(snap) == ["v2", "v3", "v4", "v5"]

    # an explicit sink argument beats both conf and record
    v = commit(snap, 6, v, retain_versions=2)
    assert versions(snap) == ["v5", "v6"]

    # and a fresh snapshot with nothing set keeps the original
    # two-version behavior
    snap2 = str(tmp_path / "snap2")
    v2 = commit(snap2, 0, None)
    v2 = commit(snap2, 1, v2)
    v2 = commit(snap2, 2, v2)
    assert versions(snap2) == ["v1", "v2"]
