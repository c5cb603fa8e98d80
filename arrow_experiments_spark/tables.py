"""Loaders for the driver's testdata star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under ``{sf_dir}/{name}.parquet``.

The only schema quirk: ``events.ts`` has shipped as either parquet
TIMESTAMP(NANOS) (older testdata drops) or TIMESTAMP(MICROS) (current).
The loader is dtype-driven so both layouts normalize to a microsecond
``timestamp_ntz``:

* NANOS arrives as LongType under the ``spark.sql.legacy.parquet.nanosAsLong``
  conf (runtime-settable, so it also works on a driver-owned session); we
  rebuild the timestamp with timezone-independent arithmetic.  The ns
  values are whole microseconds, so ``div 1000`` is lossless (SURVEY.md
  §1.2 row 15 ns→µs decision).
* MICROS arrives as TIMESTAMP_NTZ (isAdjustedToUTC=false) or TIMESTAMP
  (true); either is cast to timestamp_ntz, which for the UTC-instant case
  is resolved under a UTC session timezone pin so values are stable.
"""

from __future__ import annotations

import hashlib
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # ns since epoch; rebuild µs timestamp_ntz without consulting
        # the session timezone.
        return df.withColumn(
            "ts",
            F.expr(f"timestampadd(MICROSECOND, ts div 1000, {_EPOCH_NTZ})"),
        )
    if not isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


# Columns the engine depends on by exact dtype.  Driver testdata has
# changed physical types between rounds (events.ts ns→µs); any such drift
# is absorbed here with an explicit cast instead of surfacing as an
# AnalysisException deep inside a query.  Casts are no-ops when the
# parquet already matches.
_CANONICAL_COLS: dict[str, dict[str, str]] = {
    "documents": {"doc_id": "bigint", "n_chars": "bigint"},
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>",
                   "label": "int"},
    "events": {"event_id": "bigint", "user_id": "bigint", "value": "double"},
}


def _canonicalize(df: DataFrame, name: str) -> DataFrame:
    want = _CANONICAL_COLS.get(name)
    if not want:
        return df
    cols = []
    for f in df.schema.fields:
        target = want.get(f.name)
        if target is not None and f.dataType.simpleString() != target:
            cols.append(F.col(f.name).cast(target).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


# Per-session memo of the ANALYZED plan object (r16): every table() call
# paid ~0.1 s of driver-side work — py4j chatter, file listing, footer
# schema inference, canonicalize select construction — repeated for every
# query build in a bench leg.  The memo holds the logical PLAN (a
# DataFrame), never data: every action against it still scans the parquet
# (the plan-cache analog of registering temp views once, which
# register_temp_views already does for the SQL path).  Invalidation
# mirrors _CURATE_CACHE in operators/dedup.py: a stat fingerprint
# (size+mtime of every file, no Spark job) misses when the source
# changed, and an unstatable source fails open (never cached).  The
# session is held by WEAKREF and checked by identity, so a cached frame
# can never outlive (or be served to a different) session even if CPython
# reuses the object id.
_TABLE_CACHE: dict[
    tuple[int, str, str], tuple["weakref.ref[SparkSession]", DataFrame, str]
] = {}


def _table_fingerprint(path: str) -> str | None:
    entries: list[str] = []
    if os.path.isfile(path):
        st = os.stat(path)
        entries.append(f".:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.isdir(path):
        for dirpath, _dirs, files in os.walk(path):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                entries.append(
                    f"{os.path.relpath(p, path)}:{st.st_size}:{st.st_mtime_ns}"
                )
    if not entries:
        return None
    return hashlib.sha256(";".join(sorted(entries)).encode()).hexdigest()


# One parquet split's worth of bytes — Spark's maxPartitionBytes default.
# Used only for the stat-based widening decision below; deliberately NOT
# read from the session conf (the decision must not flip with local
# tuning, and a conservative constant only ever errs toward the old
# always-widen behavior).
_WIDEN_SPLIT_BYTES = 128 << 20


def _source_bytes(
    spark: SparkSession, path: str
) -> int | None:
    """Total bytes of a source table's files, without a Spark job.

    Local paths are os.stat'ed directly (the table-memo fingerprint
    discipline).  Anything else — object-store URIs, ``file://`` URIs,
    HDFS — goes through the path's own Hadoop FileSystem
    (``getContentSummary``, the same driver-side listing a scan's file
    index performs), so a 100 TB s3/gs corpus sizes correctly instead of
    reading as 0 through ``os.stat``.  Returns None when no filesystem
    can see the path; an empty local directory is sized, as 0."""
    if os.path.isfile(path):
        return os.stat(path).st_size
    if os.path.isdir(path):
        total = 0
        for dirpath, _dirs, files in os.walk(path):
            for f in files:
                total += os.stat(os.path.join(dirpath, f)).st_size
        return total
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(
            spark._jsc.hadoopConfiguration()  # type: ignore[union-attr]
        )
        if not fs.exists(hpath):
            return None
        return int(fs.getContentSummary(hpath).getLength())
    except Exception:
        return None


def widen_if_narrow(
    df: DataFrame, spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """Round-robin repartition ``df`` to defaultParallelism ONLY when its
    source parquet is too small to yield that many natural input splits.

    The HOF tokenize/shingle chains repartition their scan so a tiny
    test-SF input (one split → one task) cannot serialize them — but an
    unconditional ``repartition(defaultParallelism)`` is a constant tuned
    for local mode: at 100 TB it would be a full shuffle of the raw text
    down to #cores partitions (and ``repartition(n)`` is a hard
    round-robin exchange — AQE does not remove it, and it pays
    sortBeforeRepartition on every row).  The decision here derives from
    input size (guide §2: scale-adaptive partitioning): size the source
    via :func:`_source_bytes` (no Spark job; local stat fast path,
    Hadoop FileSystem for everything else — r16 verdict #3: ``os.stat``
    sees nothing on an object store, and failing open there would
    silently reintroduce the full-corpus shuffle on exactly the corpora
    that cannot afford it); a source under par × one-split bytes widens
    exactly as before, anything bigger already scans wide and skips the
    shuffle.  Fail CLOSED: a source no filesystem can size keeps its
    natural partitioning — the safe direction, since skipping the widen
    costs a tiny corpus some parallelism while a spurious widen costs a
    huge one a full shuffle."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    total = _source_bytes(spark, path)
    par = spark.sparkContext.defaultParallelism
    if total is not None and total < par * _WIDEN_SPLIT_BYTES:
        return df.repartition(par)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # runtime conf, set on every call (cheap) so callers that rely on
        # it being live after table() keep that guarantee on cache hits
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (id(spark), os.path.abspath(sf_dir), name)
    fp = _table_fingerprint(path)
    hit = _TABLE_CACHE.get(key)
    if hit is not None:
        ref, df, prev_fp = hit
        if ref() is spark and fp is not None and fp == prev_fp:
            return df
        _TABLE_CACHE.pop(key, None)
    df = spark.read.parquet(path)
    if name == "events":
        df = _normalize_events_ts(df)
    df = _canonicalize(df, name)
    if fp is not None:
        _TABLE_CACHE[key] = (weakref.ref(spark), df, fp)
    return df


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming read of the events table directly from the source parquet
    — no staging copy — with the same ts normalization as :func:`table`.
    One file per trigger; on a partitioned production table each file (or
    arrival batch) becomes a micro-batch."""
    path = f"{sf_dir}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(path).schema
    # Two source layouts stream differently (r16 — found by the decade
    # sweep: the glob branch silently streams ZERO files when the table
    # is a directory, because pathGlobFilter matches LEAF file names and
    # a directory's part files are part-*.parquet, not events.parquet):
    # - bare-file testdata (`events.parquet` IS a file): FileStreamSource
    #   needs a directory basePath, so stream sf_dir glob-filtered down
    #   to the one table file;
    # - directory-per-table production layout: stream the table directory
    #   itself, no filter — each part file is a micro-batch.
    if os.path.isdir(path):
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path)
        )
    else:
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    # Same dtype-drift absorption as table(): a future testdata drop with
    # e.g. int32 user_id must normalize at the loader, not surface as a
    # schema mismatch inside applyInPandasWithState.
    return _canonicalize(_normalize_events_ts(stream), "events")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
