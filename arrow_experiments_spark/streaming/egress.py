"""Streaming egress: serve every micro-batch as an Arrow IPC stream
(SURVEY.md §7 Phase 5 / §3.1).

The reference's serving model is pre-materialized record batches replayed
through a fresh IPC writer per request (get_simple server.py:94-144,
pre-materialization at :144).  Structured Streaming's micro-batches map
onto it exactly: each ``foreachBatch`` invocation materializes one
result batch, which is registered in the ``DatasetRegistry`` and served
over the same negotiated-compression HTTP egress as any static dataset —
one logical plan, batch and streaming, one transport.

Clients discover batches through the catalog endpoint (the get_indirect
two-step shape): ``GET /catalog`` lists ``{prefix}.{batch_id}`` entries as
they appear; each is an independently fetchable Arrow stream.

The snapshot sinks merge micro-batches into versioned parquet snapshots:
:func:`upsert_snapshot_sink`, :func:`incremental_curation_sink`, the two
near-dup gates and the IVF index sink.  All five run on one scaffold,
:func:`_snapshot_sink`, which holds the single-writer lease, the
per-micro-batch version ids, the crash-replay skip and the fencing
contract; each writer plugs in only its attach check and its merge.  The
gate sinks (curation and both near-dup gates) share one seen-before
corpus leg, :func:`_corpus_leg`.  The near-dup gates also keep a probe
index next to their corpus, on :func:`_corpus_index_sink`, whose
docstring states their fused-commit and crash-heal contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from arrow_experiments_spark.transport.server import DatasetRegistry


def stream_to_registry(
    stream_df: DataFrame,
    registry: DatasetRegistry,
    prefix: str = "stream",
    output_mode: str = "append",
    timeout_sec: int = 120,
    spill_dir: str | None = None,
):
    """Run a streaming DataFrame with availableNow and publish each
    micro-batch to ``registry`` as ``{prefix}.{batch_id}``.

    Returns the finished StreamingQuery.  Each micro-batch is spilled to
    per-partition Arrow IPC files by the executors (bounded driver
    memory); the registry entry is a factory that re-streams the files
    per request — replay-many serving with O(batch) memory on both the
    publish and the serve side.  The call spills into one directory
    (under ``spill_dir``, else the system temp dir), removed when
    ``registry`` is garbage-collected or at interpreter exit, whichever
    comes first.
    """
    import shutil
    import tempfile
    import weakref

    from arrow_experiments_spark.sources.arrow_ipc import (
        spill_dataframe,
        spilled_files_reader,
    )

    root = tempfile.mkdtemp(prefix="arrow-egress-", dir=spill_dir)
    weakref.finalize(registry, shutil.rmtree, root, True)

    def publish(batch_df: DataFrame, batch_id: int) -> None:
        _d, files, schema = spill_dataframe(batch_df, root)
        if files:
            registry.register(
                f"{prefix}.{batch_id}",
                lambda: spilled_files_reader(files, schema),
            )

    q = (
        stream_df.writeStream.foreachBatch(publish)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return q


def upsert_snapshot_sink(
    stream_df: DataFrame,
    snapshot_dir: str,
    key_cols: list[str],
    order_col: str,
    timeout_sec: int = 120,
    checkpoint_dir: str | None = None,
    n_buckets: int = 32,
    bucket_cols: list[str] | None = None,
    insert_only: bool = False,
    lease_ttl_sec: float = 60.0,
    retain_versions: int | None = None,
):
    """foreachBatch incremental UPSERT into a keyed parquet snapshot —
    the streaming twin of the batch ``pipeline_snapshot_upsert``
    operator, and the plain-parquet seat of a Delta/Iceberg ``MERGE
    INTO``: each micro-batch merges into the current snapshot with
    latest-``order_col``-wins-per-key semantics (ties broken by
    preferring the incoming row, exactly as a MERGE's WHEN MATCHED
    clause would).

    Without a table format, atomicity comes from versioned directories:
    each merged snapshot writes to ``{snapshot_dir}/v{N}`` and a
    ``LATEST`` pointer file is swapped via atomic rename afterwards —
    readers following the pointer never observe a partial write, and a
    crashed batch leaves the previous version intact.  Superseded
    versions are pruned down to the ``retain_versions`` window after
    each commit (default 2: the previous version stays for in-flight
    readers; raise it — argument, conf, or the committed layout record,
    see :func:`_retain_versions` — to buy long scans a budget of K−1
    commit cycles).  Returns the finished query; read the result with
    :func:`read_snapshot`.

    The version write is O(delta), not O(snapshot) (r8 verdict #4): the
    snapshot is hash-bucketed on the key (``_bucket =
    pmod(xxhash64(key), n_buckets)``, a hive-partitioned layout), each
    micro-batch rewrites ONLY the buckets its keys touch (the merge
    reads them back with partition pruning), and every untouched bucket
    is HARD-LINKED from the committed version into the new one — zero
    data movement, and the pruner's ``rmtree`` of superseded versions
    can never strand a reader because linked files live until their
    last version drops them.  A pre-bucketing (flat) committed version
    is migrated wholesale on its first merge.  At 100 TB this is
    partitioned MERGE INTO: bucket count scales with the corpus, the
    delta's shuffle is delta-sized, and the object-store seat of the
    hard link is a manifest entry instead.

    Crash-replay idempotence is keyed on foreachBatch batch ids, which
    are only durable/monotonic when the query has a checkpoint — so the
    contract is split on ``checkpoint_dir``:

    * ``checkpoint_dir`` set: the query runs with that
      ``checkpointLocation``; batch ids never repeat except on a true
      crash-after-commit replay, where the pointer already names
      ``v{batch_id}`` and the merge is SKIPPED (re-merging would lazily
      read the very directory the rewrite deletes out from under the
      running job).  Version ids are additionally clamped to stay ABOVE
      the committed version, so attaching a checkpointed query to a
      snapshot previously advanced without one keeps ids monotonic
      instead of writing below LATEST and tricking the pruner into
      deleting it.
    * ``checkpoint_dir`` unset: batch ids restart at 0 on every run, so
      they cannot identify replays.  Versions are instead allocated past
      whatever ``LATEST`` names (``committed + 1``) and NOTHING is ever
      skipped — a second run against an existing snapshot merges its
      first micro-batch instead of silently discarding it.

    Per micro-batch (:func:`_snapshot_sink`, the scaffold every snapshot
    writer shares): lease heartbeat, version id, then one
    :func:`_merge_batch` — a touched-bucket probe, the pruned
    read-back and merge window, the write.  A steady-state micro-batch
    runs 7 Spark jobs at ``local[4]``; ``insert_only`` adds the
    seen-before anti-join and its backfill-guard count (14 jobs).

    One WRITER at a time per snapshot — ENFORCED by :class:`WriterLease`
    (create-exclusive ``_LEASE.json`` with heartbeat + fencing token;
    a second concurrent writer raises :class:`WriterLeaseHeld` at
    attach, and a writer whose lease was taken over after a stall
    raises :class:`WriterFenced` at its next commit, before the pointer
    swap).  A crashed writer's lease expires after its TTL and the next
    writer takes over with a higher token.  Readers are unlimited —
    that is what the versioned-dir contract exists for.

    ``bucket_cols``: the columns the ``_bucket`` hash is computed over —
    defaults to ``key_cols``, and must be a SUBSET of them (every row of
    one key must land in one bucket, or the pruned merge could miss live
    rows).  A proper subset buckets the snapshot on a lookup key coarser
    than the upsert identity — e.g. a band index keyed on
    ``(band, value, doc_id)`` but bucketed on ``(band, value)`` so probe
    joins prune by band value.

    ``insert_only``: declares the snapshot FIRST-SEEN-WINS (re-inserted
    keys keep the committed row) and switches the merge to the append
    path — delta-sized writes with every committed file hard-linked
    forward, instead of rewriting each touched bucket in full (see
    :func:`_merge_batch`).  Only set it when the caller guarantees that
    semantics (the dedup gates do, via their seen-before anti-joins);
    latest-wins updates need the default rewrite.
    """
    spark = stream_df.sparkSession
    _check_bucket_cols(key_cols, bucket_cols)

    def merge_one(batch_df: DataFrame, state: dict, lease) -> None:
        committed, seq = state["."]
        _merge_batch(
            spark,
            batch_df,
            snapshot_dir,
            key_cols=key_cols,
            order_col=order_col,
            n_buckets=n_buckets,
            bucket_cols=bucket_cols,
            seq=seq,
            committed=committed,
            lease=lease,
            insert_only=insert_only,
            retain_versions=retain_versions,
        )

    return _snapshot_sink(
        stream_df, snapshot_dir, merge_one, what="upsert",
        checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec,
        lease_ttl_sec=lease_ttl_sec,
    )


def _snapshot_sink(
    stream_df: DataFrame,
    base_dir: str,
    merge_one,
    *,
    what: str,
    checkpoint_dir: str | None,
    timeout_sec: int,
    lease_ttl_sec: float,
    subdirs: tuple[str, ...] = (".",),
    attach=None,
):
    """The one scaffold every snapshot writer runs on (upsert, curation,
    the two near-dup gates, the IVF index).  It holds the single-writer,
    crash-replay and fencing contract; a writer supplies only ``attach``
    and ``merge_one``.

    Attach: ONE :class:`WriterLease` over ``base_dir`` for the run — it
    covers every versioned snapshot under it, because the hazard is two
    writers interleaving commits, which per-snapshot leases would not
    stop.  ``attach()`` (the index sinks' geometry check) runs under the
    lease; if it raises, the lease is released and the error propagates.

    Per micro-batch: a heartbeat, then for each of ``subdirs`` (the
    snapshot directories under ``base_dir``; ``"."`` is ``base_dir``
    itself) the committed pointer and the version id (:func:`_alloc_seq`).
    The batch is skipped only when EVERY subdir already committed it (a
    checkpointed replay); a partly committed batch — a crash between two
    pointer swaps — runs again, and ``merge_one(batch_df, {subdir:
    (committed, seq)}, lease)`` skips the legs whose ``seq`` is None.
    ``merge_one`` writes and commits ``v{seq}``, fence-checked by
    :func:`_merge_batch` against ``lease`` before each pointer swap.

    Row bounds: the writers hand :func:`_anti_join_small_left` and
    :func:`_merge_batch` row counts (``small_rows_max``,
    ``incoming_rows_max``) so those skip their backfill-guard count
    jobs.  Each must be a TRUE upper bound on the rows of the frame it
    describes — a count that undercounts could send a giant backfill down
    the broadcast path.  So every bound is derived from a count of the
    very frame it bounds, or of a frame the bounded one is provably no
    larger than (see :func:`_corpus_leg` and :func:`_corpus_index_sink`).

    Size ``lease_ttl_sec`` above the slowest expected micro-batch: the
    heartbeat runs once per batch, and a batch outliving the TTL can
    lose the lease mid-flight (its commit then fences, safely)."""
    import os

    lease = WriterLease.acquire(base_dir, ttl_sec=lease_ttl_sec)
    try:
        if attach is not None:
            attach()
    except BaseException:
        lease.release()
        raise
    ckpt = checkpoint_dir is not None

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        lease.heartbeat()
        state = {}
        for d in subdirs:
            committed = _committed_version(os.path.join(base_dir, d))
            state[d] = (committed, _alloc_seq(committed, batch_id, ckpt))
        if all(seq is None for _c, seq in state.values()):
            return  # replay of an already-committed batch — idempotent skip
        merge_one(batch_df, state, lease)

    try:
        return _run_foreach_batch(
            stream_df, merge, checkpoint_dir, timeout_sec,
            f"{what} ({base_dir})",
        )
    finally:
        lease.release()


def _check_bucket_cols(key_cols: list[str], bucket_cols: list[str] | None) -> None:
    if bucket_cols is not None and not set(bucket_cols) <= set(key_cols):
        raise ValueError(
            f"bucket_cols {bucket_cols} must be a subset of key_cols "
            f"{key_cols}: every row of one key must land in one bucket, "
            "or the pruned merge could miss live rows"
        )


def derive_index_buckets(
    expected_rows: int,
    bands: int = 0,
    delta_rows: int = 0,
    target_rows_per_bucket: int = 50_000,
    min_buckets: int = 64,
    max_buckets: int = 65_536,
) -> int:
    """Bucket count for a probe-pruned index snapshot, derived from
    corpus/batch shape instead of hand-tuned (r10 verdict #4 — every
    other geometry knob was already derived; the pinned bucket conf was
    the one remaining human number, and the measured decade residual was
    exactly its artifact).  Two constraints, take the max, round up to a
    power of two:

    * ``expected_rows / target_rows_per_bucket`` — a bucket holds ~50k
      postings, so the rows a delta's probe scans are bounded by
      ``touched_buckets × target`` regardless of corpus size (bucket
      count grows WITH the corpus, the flatness condition);
    * ``4 × bands × delta_rows`` — at least 4× the delta's maximum
      touched-bucket count (a delta of D docs probes ≤ bands·D distinct
      band values), so the touched set is ≤ ~25% of the index instead
      of all of it (the measured 1× artifact: 64 buckets under a
      120-cell delta meant every commit scanned the WHOLE index slice).

    Power of two keeps ``pmod(xxhash64(...), B)`` balanced under
    doubling; the cap bounds directory fan-out per version."""
    need = max(
        min_buckets,
        -(-max(expected_rows, 0) // target_rows_per_bucket),
        4 * bands * delta_rows,
    )
    b = min_buckets
    while b < need and b < max_buckets:
        b *= 2
    return min(b, max_buckets)


def _adopted_index_buckets(snapshot_dir: str) -> int | None:
    """The bucket count the committed version of ``snapshot_dir`` was
    written under, or None before the first commit — re-attaching a
    sink with ``index_buckets=None`` ADOPTS the live geometry instead
    of migrating the whole index to a freshly-derived count."""
    import os

    committed = _committed_version(snapshot_dir)
    if committed is None:
        return None
    rec = _layout_record(os.path.join(snapshot_dir, committed))
    n = rec.get("n_buckets")
    return int(n) if isinstance(n, int) else None


def _resolve_parallel_writes(spark) -> bool:
    """Whether the write phases of a multi-table sink overlap, read off
    the session's coalescing posture.  The overlap was measured as a
    win ONLY under size-based shuffle coalescing (the delta write legs
    become ~1-task jobs bound by driver commit latency); pre-coalescing,
    the same A/B was a wash-to-loss on local cores because two
    concurrent wide write jobs oversubscribed them (r12 SCALE.md).  So
    the two are LINKED (r12 ADVICE): a deployment that overrides
    coalescing off via extra_conf/SPARK_GRAFT_EXTRA_CONF — or a
    driver-owned session that never ran tune_session — writes
    sequentially instead of re-entering the measured oversubscription
    loss."""

    def on(conf: str, unreadable_default: bool) -> bool:
        # no fallback ARGUMENT to conf.get: these are REGISTERED SQL
        # confs, and conf.get(key) returns the EFFECTIVE value (Spark's
        # own default when unset) — a get-fallback would shadow it (a
        # bare session reports adaptive.enabled 'true' while
        # conf.get(key, 'false') returns 'false').  But on a build
        # where the key is UNREGISTERED (a conf that postdates the
        # Spark version, or a Connect session with restricted conf
        # access) the lookup raises — fall back to the documented
        # Spark default then, which resolves the overall expression to
        # sequential writes, the safe direction (r13 ADVICE).
        try:
            val = spark.conf.get(conf)
        except Exception:  # noqa: BLE001 — unregistered key / restricted access
            return unreadable_default
        return str(val).lower() == "true"

    return (
        on("spark.sql.adaptive.enabled", True)
        and on("spark.sql.adaptive.coalescePartitions.enabled", True)
        # parallelismFirst defaults true in Spark, so an unreadable key
        # resolves the conjunction to False → sequential writes
        and not on(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", True
        )
    )


def _parallel_writes(jobs, parallel: bool = False):
    """Run the multi-table sinks' per-leg WRITE phases — each job thunk
    runs a ``_merge_batch(..., defer_commit=True)`` and returns its
    commit callable (or None); the CALLER then commits in list order,
    stopping at the first failed leg, so a corpus leg that wrote
    cleanly commits even when the index leg failed (the index lags by
    one batch and heals on replay, exactly like a crash between two
    sequential merges).  The split-at-the-pointer-swap structure is
    the r10 #2 correctness win (docs commit before bands without a
    post-commit read-back) and holds in BOTH execution modes.

    ``parallel=False`` runs the thunks in order on the calling
    thread.  The sinks run PARALLEL whenever the session coalesces
    shuffles by size (:func:`_resolve_parallel_writes`): the original
    r12 A/B measured the thread overlap as a wash-to-loss on local[32]
    because two concurrent 128-partition write jobs oversubscribed 32
    cores — but once size-based shuffle coalescing landed
    (``coalescePartitions.parallelismFirst=false``, session.py) the
    delta write legs are ~1-task jobs whose wall is driver plan/commit
    latency, not CPU, and the same A/B re-measured the overlap as a
    consistent win (five of six same-day sentinel-bracketed runs:
    parallel 6.0-9.0 s vs sequential 8.7-15.9 s steady state; SCALE.md
    round-12 steady-state section).  On a multi-executor cluster the
    legs overlap idle executors and the win is the same shape.

    Failure contract in parallel mode mirrors the sequential crash
    window: results and errors are positional; sequential mode stops
    at the first error (later legs never wrote — same observable
    state, the healed replay covers both)."""
    import threading

    results: list = [None] * len(jobs)
    errors: list = [None] * len(jobs)

    def run(i, thunk):
        try:
            results[i] = thunk()
        except BaseException as e:  # noqa: BLE001 — re-raised by caller
            errors[i] = e

    if not parallel:
        for i, (_n, t) in enumerate(jobs):
            run(i, t)
            if errors[i] is not None:
                break  # match the crash window: later legs never wrote
        return results, errors

    threads = [
        threading.Thread(target=run, args=(i, t), name=f"merge-{n}")
        for i, (n, t) in enumerate(jobs)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results, errors


def _committed_version(snapshot_dir: str) -> str | None:
    """The version the LATEST pointer names, or None before first commit."""
    import os

    pointer = os.path.join(snapshot_dir, "LATEST")
    if not os.path.exists(pointer):
        return None
    with open(pointer) as f:
        return f.read().strip()


def _read_json(path: str):
    """The JSON value stored at ``path``, or None when the file is missing
    or unreadable."""
    import json

    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` through a uniquely named temp file
    and an atomic rename: a reader sees the old file or the new one, never
    a partial write, and two writers never share a temp file."""
    import json
    import os
    import uuid

    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _alloc_seq(
    committed: str | None, batch_id: int, checkpointed: bool
) -> int | None:
    """Version id for this micro-batch, or None to skip an
    already-committed replay.

    Checkpointed queries have durable, monotonic batch ids: a replay of
    an already-committed batch is detected by the pointer already naming
    ``v{batch_id}`` and skipped (re-merging would lazily read the very
    directory the rewrite deletes out from under the running job).
    Mode-mixing guard (ADVICE r7): a checkpointed query attached to a
    snapshot previously advanced without a checkpoint restarts at batch 0
    while LATEST names some vN > 0; writing ``v{batch_id}`` would slot
    BELOW the committed version and the pruner would delete vN — so ids
    are clamped past whatever is committed.  Without a checkpoint, batch
    ids are per-run and cannot identify replays: versions continue the
    snapshot's own sequence and NOTHING is ever skipped."""
    if checkpointed:
        if committed == f"v{batch_id}":
            return None
        seq = batch_id
        if committed is not None:
            seq = max(batch_id, int(committed[1:]) + 1)
        return seq
    return int(committed[1:]) + 1 if committed else batch_id


# Committed version directories are IMMUTABLE (files and hard-links land
# before the pointer swap; afterwards a version is only ever deleted
# wholesale), so their reads — the file listing, the schema, the layout
# record — are cached per (session, directory).  Re-listing a 640-bucket
# hive layout on every _prepare_view/_merge_batch call was the dominant
# fixed per-batch cost of the streaming gates (r9 verdict #4): past the
# parallelPartitionDiscovery threshold each spark.read.parquet(dir)
# launches a DISTRIBUTED listing job, and one micro-batch paid it up to
# five times.
_VERSION_READ_CACHE: dict[tuple, object] = {}
_LAYOUT_CACHE: dict[tuple, dict] = {}


def _walk_parquet(vdir: str) -> list[str]:
    """The version's parquet files, relative to ``vdir``, by one walk."""
    import os

    return sorted(
        os.path.relpath(os.path.join(dirpath, fn), vdir)
        for dirpath, _dirs, fns in os.walk(vdir)
        for fn in fns
        if fn.endswith(".parquet")
    )


def _read_manifest(vdir: str) -> tuple[list[str] | None, dict | None]:
    """The version's parquet files and read-back schema (JSON form) as
    its ``_MANIFEST.json`` records them; either is None when the manifest
    is missing, unreadable or predates that entry."""
    import os

    man = _read_json(os.path.join(vdir, "_MANIFEST.json"))
    if not isinstance(man, dict):
        return None, None
    files, schema = man.get("files"), man.get("schema")
    return (
        files if isinstance(files, list) else None,
        schema if isinstance(schema, dict) else None,
    )


def _read_back_schema(written):
    """The schema Spark reads back from files written with ``written``
    under ``partitionBy("_bucket")``: the data columns in written order,
    every field nullable at every depth (file sources read everything as
    nullable), then the partition column ``_bucket int``."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        MapType,
        StructField,
        StructType,
    )

    def nullable(t):
        if isinstance(t, StructType):
            return StructType([
                StructField(f.name, nullable(f.dataType), True, f.metadata)
                for f in t.fields
            ])
        if isinstance(t, ArrayType):
            return ArrayType(nullable(t.elementType), True)
        if isinstance(t, MapType):
            return MapType(nullable(t.keyType), nullable(t.valueType), True)
        return t

    data = StructType([f for f in written.fields if f.name != "_bucket"])
    return nullable(data).add("_bucket", IntegerType(), True)


def _write_manifest(vdir: str, schema) -> None:
    """Record the version's parquet files in ``_MANIFEST.json`` so
    readers list the version by manifest instead of walking the bucket
    directories (r9 verdict #4; the object-store seat of the same idea
    is the table-format manifest this layout stands in for), and its
    read-back ``schema`` so readers bind it instead of running a Spark
    job to infer it from the file footers."""
    import os

    _write_json_atomic(
        os.path.join(vdir, "_MANIFEST.json"),
        {"files": _walk_parquet(vdir), "schema": schema.jsonValue()},
    )


def _anti_join_small_left(
    small,
    big,
    cols: list[str],
    max_keys: int = 2_000_000,
    return_matched: bool = False,
    small_rows_max: int | None = None,
):
    """``small LEFT ANTI big`` on ``cols`` without shuffling ``big``:
    the delta-vs-snapshot shape of every seen-before gate.  A plain
    left_anti sort-merge-joins BOTH sides — the snapshot side is
    millions of keys repartitioned per micro-batch for a 40-row delta.
    Instead ``big`` is LEFT SEMI-joined against the broadcast delta key
    set (one map-side pass over the pruned scan, output ≤ |small|), and
    ``small`` anti-joins the broadcast match set — two broadcast hash
    joins, zero exchanges of the big side.

    ``max_keys`` guards the micro-batch contract: a backfill delivered
    as one giant "delta" (> 2M keys ≈ tens of MB broadcast) falls back
    to the plain shuffled anti-join instead of broadcasting an
    executor-memory-sized key set — correctness identical, plan shape
    chosen by the actual delta size.

    Caller contract: the size probe is an EAGER count over ``small``'s
    lineage — pass a PERSISTED frame, or the probe executes the full
    upstream plan (quality gates, window dedup, scans) one extra time
    per call (ADVICE r10: the streaming gates paid exactly that).

    ``return_matched``: also return the PERSISTED matched key set
    (``small``'s keys that WERE in ``big`` — the re-delivered rows a
    gate sink needs for its index-healing leg), or None on the
    shuffled-fallback path.  The caller owns the unpersist.  This is
    information the anti-join computes anyway; without it the healing
    leg re-derived it with a WIDE scan of every touched corpus bucket
    per micro-batch (~300 MB of embedding column for a usually-empty
    result — the r11 profile's dominant write-leg term)."""
    from pyspark.sql import functions as F

    keys = small.select(*cols).distinct()
    # ``small_rows_max``: a caller-supplied UPPER BOUND on |small|
    # (usually the batch row count a probe aggregate already computed
    # — _touched_list(with_count=True)).  |keys| ≤ |small|, so a bound
    # within max_keys proves the broadcast path safe WITHOUT the guard
    # count's own Spark job (~0.7 s of plan-compile per call on a
    # delta lineage, the r12 floor profile's #3 term).  An over-bound
    # caller only forfeits the saving: the count job runs as before.
    if small_rows_max is None or small_rows_max > max_keys:
        if keys.limit(max_keys + 1).count() > max_keys:
            res = small.join(big, cols, "left_anti")
            return (res, None) if return_matched else res
    matched = (
        big.join(F.broadcast(keys), cols, "left_semi").select(*cols).distinct()
    )
    if return_matched:
        matched = matched.persist()
    res = small.join(F.broadcast(matched), cols, "left_anti")
    return (res, matched) if return_matched else res


def _bucket_file_counts(vdir: str) -> dict[int, int]:
    """Parquet files per ``_bucket=k`` partition of a committed version —
    the insert-only compaction trigger's input.  Read from the manifest
    when present (no directory walk), else one walk."""
    import os

    counts: dict[int, int] = {}
    files = _read_manifest(vdir)[0]
    for rel in _walk_parquet(vdir) if files is None else files:
        head = rel.split(os.sep, 1)[0]
        if head.startswith("_bucket="):
            val = head.split("=", 1)[1]
            if val.isdigit():
                counts[int(val)] = counts.get(int(val), 0) + 1
    return counts


def _read_version(spark, vdir: str):
    """One cached DataFrame per committed version directory.  With a
    manifest the read binds an EXPLICIT file list under ``basePath``
    (no directory walk at all — hive ``_bucket=`` partition parsing
    still applies) and the recorded schema (no schema-inference job;
    a manifest without one infers it); legacy versions fall back to
    the directory read.  Sound because committed versions never change
    in place."""
    import os

    # inode + mtime in the key: a version dir deleted and re-created at
    # the same path (fresh run over a cleaned workspace) can never be
    # served a stale file list
    st = os.stat(vdir)
    key = (
        spark.sparkContext.applicationId,
        os.path.realpath(vdir),
        st.st_ino,
        st.st_mtime_ns,
    )
    hit = _VERSION_READ_CACHE.get(key)
    if hit is not None:
        return hit
    files, schema = _read_manifest(vdir)
    if files:
        reader = spark.read.option("basePath", vdir)
        if schema is not None:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(schema))
        df = reader.parquet(*[os.path.join(vdir, p) for p in files])
    else:
        df = spark.read.parquet(vdir)
    if len(_VERSION_READ_CACHE) > 128:
        _VERSION_READ_CACHE.clear()
    _VERSION_READ_CACHE[key] = df
    return df


def _prepare_view(
    spark,
    snapshot_dir: str,
    committed: str | None,
    n_buckets: int,
    key_cols: list[str],
    bucket_cols: list[str] | None = None,
):
    """The committed snapshot as gate/prepare hooks should see it: the
    raw bucketed read — RETAINING the ``_bucket`` partition column so the
    hook's filters prune at the parquet scan — when the committed version
    carries the current bucket geometry, else the flattened snapshot
    (pruning against a foreign geometry would match stale bucket ids),
    else None before the first commit."""
    import os

    if committed is None:
        return None
    vdir = os.path.join(snapshot_dir, committed)
    if _geometry_matches(_layout_record(vdir), n_buckets, key_cols, bucket_cols):
        return _read_version(spark, vdir)
    return read_snapshot(spark, snapshot_dir)


def _geometry_matches(
    rec: dict,
    n_buckets: int,
    key_cols: list[str],
    bucket_cols: list[str] | None,
) -> bool:
    """Whether a version's recorded bucket geometry matches the current
    run's — the SINGLE predicate both the prepare-view and the merge
    pruning decisions use (they must agree, or the hook prunes against a
    geometry the merge then migrates away from).  Layout records written
    before ``bucket_cols`` existed were always bucketed on ``key_cols``
    — the comparison defaults there, NOT to the caller's bucket_cols, or
    a caller introducing custom bucket_cols over a legacy snapshot would
    prune against the wrong geometry."""
    return rec.get("n_buckets") == n_buckets and rec.get(
        "bucket_cols", key_cols
    ) == (bucket_cols or key_cols)


def _touched_list(probe_df, probe_bucket_expr, with_count: bool = False):
    """The distinct bucket values the probe's rows land in.  Computed
    with a global ``collect_set`` aggregate — map-side partial sets, one
    single-task reduce — instead of ``distinct().collect()``, whose
    full-width shuffle schedules ``spark.sql.shuffle.partitions`` tasks
    for a 40-row delta (~0.5 s of pure task overhead per probe, and a
    micro-batch runs several).  Result size is bounded by ``n_buckets``
    regardless of batch size, so giant backfill batches are safe.
    Compute ONCE per micro-batch when several legs prune on the same
    probe.

    ``with_count=True`` also returns the probe's ROW COUNT from the
    same aggregate — ``(touched, n_rows)`` — at zero extra jobs.  The
    r12 floor profile measured each driver-side action on a delta
    lineage at ~0.35-0.9 s of plan-compile + scheduling regardless of
    data size, so every count a sink can derive from a job it already
    runs is a direct cut to the fixed per-batch floor: the gate sinks
    feed this count to :func:`_anti_join_small_left`'s
    ``small_rows_max`` (and, scaled by bands, to
    :func:`_merge_batch`'s ``incoming_rows_max``), eliminating the
    backfill-guard count jobs entirely on the normal path."""
    from pyspark.sql import functions as F

    aggs = [F.collect_set("b").alias("s")]
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("n"))
    row = probe_df.select(probe_bucket_expr.alias("b")).agg(*aggs).collect()[0]
    touched = list(row["s"])
    # collect_set drops NULLs; callers' isin() never matched NULL anyway
    # (the NULL-bucket rows are retained by _filter_buckets explicitly)
    if with_count:
        return touched, int(row["n"])
    return touched


def _filter_buckets(frame, touched: list):
    """Filter a ``_bucket``-carrying snapshot frame to a precomputed
    touched-bucket list (sound for equi-lookups whose join key is the
    bucket key: equal values share a bucket).  Frames without the layout
    column — flattened snapshots, foreign geometry — pass through
    unfiltered.  NULL-bucket rows are kept, mirroring _merge_batch's
    pruned read: the two paths must agree on which rows exist, and NULL
    never matches an isin() list."""
    from pyspark.sql import functions as F

    if "_bucket" not in frame.columns:
        return frame
    return frame.filter(
        F.col("_bucket").isin(touched) | F.col("_bucket").isNull()
    )


def _prune_buckets(frame, probe_df, probe_bucket_expr):
    """:func:`_touched_list` + :func:`_filter_buckets` in one step, for
    callers with a single pruning leg."""
    if "_bucket" not in frame.columns:
        return frame
    return _filter_buckets(frame, _touched_list(probe_df, probe_bucket_expr))


_RETAIN_VERSIONS_CONF = "spark.arrowExperimentsSpark.snapshot.retainVersions"


def _retain_versions(
    spark, snapshot_dir: str, committed: str | None, explicit: int | None
) -> int:
    """Resolve the snapshot's retention window (keep-K committed
    versions; r11 verdict #3).  Precedence: explicit sink argument >
    session conf (``spark.arrowExperimentsSpark.snapshot.retainVersions``)
    > the committed version's recorded ``_LAYOUT.json`` value (so a
    re-attach with no conf preserves the window the snapshot was
    running under — the adopt-committed-layout rule the bucket counts
    follow) > the default of 2 (current behavior: previous version kept
    for in-flight readers, everything older pruned).  Floor of 2 —
    K=1 would delete the version a reader resolved just before the
    pointer swap, the exact race the two-version rule exists for."""
    k = explicit
    if k is None:
        try:
            raw = spark.conf.get(_RETAIN_VERSIONS_CONF, None)
        except Exception:
            raw = None
        if raw is not None:
            try:
                k = int(raw)
            except ValueError:
                raise ValueError(
                    f"{_RETAIN_VERSIONS_CONF} must be an integer version "
                    f"count, got {raw!r}"
                ) from None
    if k is None and committed is not None:
        import os

        rec = _layout_record(os.path.join(snapshot_dir, committed))
        if rec.get("retain_versions") is not None:
            k = int(rec["retain_versions"])
    return max(2, k if k is not None else 2)


def _merge_batch(
    spark,
    batch_df: DataFrame,
    snapshot_dir: str,
    *,
    key_cols: list[str],
    order_col: str,
    n_buckets: int,
    bucket_cols: list[str] | None,
    seq: int,
    committed: str | None,
    lease: "WriterLease | None" = None,
    insert_only: bool = False,
    max_files_per_bucket: int = 32,
    defer_commit: bool = False,
    assume_novel: bool = False,
    touched: "set | None" = None,
    retain_versions: int | None = None,
    incoming_rows_max: int | None = None,
):
    """One keyed merge of ``batch_df`` into the bucketed versioned
    snapshot: write ``v{seq}``, hard-link unchanged files from
    ``committed``, record the layout + manifest, swap the pointer, prune
    superseded versions.  Returns the committed version name.  This is
    the shared core of :func:`upsert_snapshot_sink` and the multi-table
    sinks (doc snapshot + band index) that merge more than one snapshot
    per micro-batch.  ``lease``: the caller's :class:`WriterLease`,
    fence-checked immediately before the pointer swap so a taken-over
    writer aborts instead of committing.

    ``defer_commit`` splits the merge at the pointer swap: the WRITE
    phase (delta files, hard links, layout + manifest — everything
    under the not-yet-referenced version dir) runs now, and a
    zero-argument ``commit()`` callable is returned that performs the
    fence check, the atomic pointer swap, and the superseded-version
    prune.  The multi-table sinks use this to decouple their two legs'
    write phases from the pointer swaps: legs write (threaded under
    size-based coalescing — see :func:`_parallel_writes`) and then
    commit in the contract order (corpus before index;
    :func:`_corpus_index_sink`).  Returns ``None`` instead of the
    callable when there is nothing to commit (empty first batch).  An
    uncommitted write leaves only an unreferenced version dir, which the
    next merge at the same seq overwrites.

    Two merge modes (r9 verdict #4):

    * default (latest-wins UPSERT): every touched bucket is read back in
      full, merged with the delta under the (order_col desc, incoming
      wins) window, and REWRITTEN.  Correct for genuine updates, but a
      small delta touching a hot bucket pays a full-bucket rewrite —
      the measured dominant term of the streaming gates' per-batch wall
      (a 40-row delta's 120 cells touch most of a 64-bucket index, so
      every commit rewrote ~85% of the postings).
    * ``insert_only`` (first-wins APPEND): for snapshots whose contract
      is first-seen-wins (the dedup gates' doc/posting legs, the IVF
      index), re-inserted keys are dropped by an anti-join against a
      NARROW key-column scan of the touched buckets (column- and
      partition-pruned — no full-width read), only the genuinely-new
      rows are written as fresh files, and EVERY committed file — in
      touched buckets too — is hard-linked forward.  Per-batch I/O is
      O(delta + touched key columns) instead of O(touched bucket rows).
      Buckets whose file count would exceed ``max_files_per_bucket``
      are COMPACTED (that bucket alone takes the rewrite path), which
      bounds read amplification: steady state is ≤ max_files+1 files
      per bucket.  Replays are idempotent (the anti-join drops every
      re-inserted key; the version is then pure links).

    Reader-vs-compaction contract (r10 verdict #5).  A reader that
    resolved version N sees EXACTLY N's rows for as long as N exists,
    no matter what commits meanwhile — including a compacting commit:
    compaction writes the merged bucket into NEW files under N+1's
    directory and hard-links the rest; it never mutates or unlinks a
    file of N.  The RETENTION RULE is keep-K committed versions
    (``retain_versions`` argument, else the
    ``spark.arrowExperimentsSpark.snapshot.retainVersions`` conf, else
    the committed ``_LAYOUT.json``'s recorded value, else 2 — see
    :func:`_retain_versions`): the post-commit prune keeps the newest K
    version directories, so a reader holding N stays in contract until
    N+K commits — a scan budget of K−1 full commit cycles.  At 100 TB
    this is the knob that reconciles hours-long full-corpus scans with
    gate sinks committing every few minutes (r11 verdict #3): size K to
    ceil(longest scan / commit cadence) + 1.  The default K=2 preserves
    the original two-version behavior; the resolved K is recorded in
    each version's ``_LAYOUT.json`` so a re-attach without the conf
    keeps the window the snapshot was running under.  Long scans that
    outlive even K versions must re-resolve the pointer
    (``snapshot_reader_factory`` resolves per request for exactly this
    reason).  Object-store seat (no inode
    semantics at 100 TB): objects are immutable by construction, so
    "hard link" becomes a manifest entry naming the same object key,
    compaction writes new objects + a new manifest, and the prune
    deletes objects referenced only by pruned manifests — the same
    keep-K retention, with the manifest playing the role the
    directory tree plays here (retain manifests, GC by reference).  Nothing about the reader contract
    depends on POSIX link counts; they are only the local-FS
    implementation of shared immutable extents."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    version = f"v{seq}"
    pointer = os.path.join(snapshot_dir, "LATEST")
    os.makedirs(snapshot_dir, exist_ok=True)
    bcols = bucket_cols or key_cols
    bucket = F.pmod(F.xxhash64(*bcols), F.lit(n_buckets)).cast("int")
    inc = (
        batch_df.withColumn("_bucket", bucket)
        .withColumn("_src", F.lit(1))
        .persist()  # touched-bucket probe + merge share one compute
    )
    linked: list[str] = []
    try:
        out = None
        if committed is None:
            if inc.isEmpty():
                # nothing to commit and nothing committed: a version
                # written from zero rows has NO parquet files (only
                # _SUCCESS), and every later spark.read.parquet of it
                # fails UNABLE_TO_INFER_SCHEMA — the snapshot would be
                # permanently wedged.  Skip the commit; the snapshot
                # simply does not exist until a batch has survivors.
                # (With a committed version this cannot happen: the
                # untouched buckets hard-link in real files.)
                return None
            merged = inc
        else:
            vdir_committed = os.path.join(snapshot_dir, committed)
            raw = _read_version(spark, vdir_committed)
            # ``touched``: a caller that already probed its delta's
            # bucket set (the gate sinks compute it once per batch for
            # their pruned reads) passes it in — any SUPERSET of the
            # incoming rows' buckets is sound here, since touched only
            # widens the compaction check (insert-only) or the
            # read-back+rewrite set (upsert); otherwise one collect_set
            # job derives it (not distinct().collect() — _touched_list)
            if touched is None:
                touched = set(_touched_list(inc, F.col("_bucket")))
            touched_ids = [int(t) for t in touched if t is not None]
            rec = _layout_record(vdir_committed)
            if "_bucket" in raw.columns and _geometry_matches(
                rec, n_buckets, key_cols, bucket_cols
            ):
                # committed bucket dirs → bucket id (None: not numeric,
                # e.g. Hive's NULL partition)
                buckets = {
                    d: int(d[8:]) if d[8:].isdigit() else None
                    for d in os.listdir(vdir_committed)
                    if d.startswith("_bucket=")
                }
                if insert_only:
                    # first-wins append: drop re-inserted keys against a
                    # narrow pruned key scan, rewrite only buckets past
                    # the compaction threshold, link every other file
                    per_bucket = _bucket_file_counts(vdir_committed)
                    compact = {
                        t for t in touched_ids
                        if per_bucket.get(t, 0) + 1 > max_files_per_bucket
                    }
                    # in-batch first-wins: the LOWEST order_col per key
                    # (current callers pre-dedupe, so this is the
                    # defensive contract, not a behavior change)
                    w_in = Window.partitionBy(*key_cols).orderBy(
                        F.asc(order_col)
                    )
                    fresh = (
                        inc.drop("_src")
                        .withColumn("_rn", F.row_number().over(w_in))
                        .filter(F.col("_rn") == 1)
                        .drop("_rn")
                    )
                    if not assume_novel:
                        seen = _filter_buckets(raw, touched_ids).select(*key_cols)
                        # incoming_rows_max: the sink's batch-derived
                        # bound skips the backfill-guard count job
                        fresh = _anti_join_small_left(
                            fresh, seen, key_cols,
                            small_rows_max=incoming_rows_max,
                        )
                    # assume_novel: the caller GUARANTEES every incoming
                    # key is absent from the committed snapshot — the
                    # gate sinks anti-join their delta against the SAME
                    # committed version before calling (their seen-before
                    # gate), so the defensive re-join here would scan the
                    # same touched key columns a second time per batch.
                    # Replay idempotence then rests on the caller's gate,
                    # which reads the same committed pointer this merge
                    # does.  Never set it for deltas that can carry
                    # already-committed keys (the index legs' healing
                    # re-derivations must keep the anti-join).
                    # committed rows are key-unique by invariant and
                    # fresh is anti-joined against them — no window
                    # needed over the union
                    out = fresh.unionByName(
                        raw.filter(F.col("_bucket").isin(list(compact)))
                    )
                    linked = [d for d, b in buckets.items() if b not in compact]
                else:
                    # same bucket geometry: read back ONLY the touched
                    # buckets (partition pruning), link the rest verbatim
                    cur = _filter_buckets(raw, touched_ids)
                    linked = [
                        d for d, b in buckets.items()
                        if b is not None and b not in touched
                    ]
                    merged = inc.unionByName(cur.withColumn("_src", F.lit(0)))
            else:
                # legacy flat version, or the caller changed the bucket
                # geometry (count OR columns): migrate wholesale this
                # once.  Pruning against a DIFFERENT geometry would match
                # stale bucket ids and leave the same key alive in a
                # linked old bucket and a rewritten new one — silent
                # duplicates — so a geometry change always re-buckets.
                if "_bucket" in raw.columns:
                    raw = raw.drop("_bucket")
                cur = raw.withColumn("_bucket", bucket)
                merged = inc.unionByName(cur.withColumn("_src", F.lit(0)))
        if out is None:
            # first-wins callers reach this window only on the FIRST
            # commit or a geometry migration; there the committed row
            # (_src=0, or the lowest order_col within one batch) must
            # win, the mirror image of the upsert's latest-wins
            if insert_only:
                w = Window.partitionBy(*key_cols).orderBy(
                    F.asc("_src"), F.asc(order_col)
                )
            else:
                w = Window.partitionBy(*key_cols).orderBy(
                    F.desc(order_col), F.desc("_src")
                )
            out = (
                merged.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_src")
            )
        vdir = os.path.join(snapshot_dir, version)
        # align the write to the bucket layout: without this, every
        # shuffle task holding rows of a touched bucket emits its own
        # file there (up to shuffle.partitions small files per bucket
        # per version — file-count explosion at warehouse scale); the
        # extra exchange is delta+touched-bucket sized
        out.repartition("_bucket").write.mode("overwrite").partitionBy(
            "_bucket"
        ).parquet(vdir)
    finally:
        inc.unpersist()
    for d in linked:
        sdir = os.path.join(snapshot_dir, committed, d)
        ddir = os.path.join(vdir, d)
        os.makedirs(ddir, exist_ok=True)
        for fn in os.listdir(sdir):
            sp = os.path.join(sdir, fn)
            if os.path.isfile(sp):
                try:
                    os.link(sp, os.path.join(ddir, fn))
                except OSError:  # cross-device / FS without links
                    shutil.copy2(sp, os.path.join(ddir, fn))
    # record the bucket geometry the version was written under — the
    # next merge prunes only when count AND columns both match — plus
    # the resolved retention window (adopted by conf-free re-attaches)
    retain = _retain_versions(spark, snapshot_dir, committed, retain_versions)
    _write_json_atomic(
        os.path.join(vdir, "_LAYOUT.json"),
        {"n_buckets": n_buckets, "bucket_cols": bcols, "retain_versions": retain},
    )
    # one Python walk now saves every reader a directory walk later, and
    # the recorded schema saves each a footer-inference job
    _write_manifest(vdir, _read_back_schema(out.schema))

    def commit() -> str:
        if lease is not None:
            lease.check()  # fence: a taken-over writer must not swap
        tmp = pointer + f".tmp{seq}"
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, pointer)  # atomic swap — the "commit"
        # prune to the newest ``retain`` versions (K=2 default: this
        # version + the previous one, kept for readers that resolved
        # the pointer just before the swap); hard-linked bucket files
        # survive until their last referencing version goes
        ids = sorted(
            (
                int(d[1:])
                for d in os.listdir(snapshot_dir)
                if d.startswith("v") and d[1:].isdigit() and int(d[1:]) <= seq
            ),
            reverse=True,
        )
        keep = {f"v{i}" for i in ids[:retain]} | {version}
        for d in os.listdir(snapshot_dir):
            if d.startswith("v") and d[1:].isdigit() and d not in keep:
                shutil.rmtree(os.path.join(snapshot_dir, d), ignore_errors=True)
        return version

    if defer_commit:
        return commit
    return commit()


def _run_foreach_batch(
    stream_df: DataFrame,
    merge,
    checkpoint_dir: str | None,
    timeout_sec: int,
    what: str,
):
    """availableNow foreachBatch runner shared by every snapshot sink:
    append mode, optional checkpoint, and a stop+raise on timeout (the
    committed micro-batches remain valid — versioned-dir atomicity)."""
    writer = (
        stream_df.writeStream.foreachBatch(merge)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"{what} stream did not finish within {timeout_sec}s — the "
            "snapshot(s) reflect only the committed micro-batches"
        )
    return q


class WriterLeaseHeld(RuntimeError):
    """A live writer already holds the lease on this snapshot directory."""


class WriterFenced(RuntimeError):
    """This writer's lease was taken over (its fencing token is stale) —
    committing would interleave with the new owner's versions."""


class WriterLease:
    """Single-writer enforcement for the versioned-snapshot sinks (r9
    verdict #2 — the contract used to be documentation-only).

    Mechanics (single-host / POSIX-rename semantics; the object-store
    seat of the same contract is a conditional-PUT on the lease object):

    * acquire: the WHOLE read-judge-write runs under the mutation lock
      on ``{dir}/_LEASE.json`` (r11 ADVICE — the old fresh-create path
      used ``O_CREAT|O_EXCL`` outside the lock, so a takeover already
      inside the lock whose re-read saw the file missing after a
      release could ``os.replace`` over a lease another process had
      just created, leaving two "valid" holders until the commit fence
      caught one).  A live lease blocks acquisition with
      :class:`WriterLeaseHeld` unless its heartbeat is older than
      ``ttl_sec`` (a crashed writer never releases); a released or
      stale lease is taken over in place.
    * fencing: every acquisition derives its ``token`` as the prior
      on-disk token + 1 — :meth:`release` leaves a TOMBSTONE
      (``{"released": true, "token": n}``) rather than deleting the
      file, so tokens stay monotonic across release/reacquire cycles
      and a fenced writer can never out-token a successor by racing a
      reacquire.  :meth:`check` re-reads the file and raises
      :class:`WriterFenced` when the nonce no longer matches — and
      :func:`_merge_batch` runs that check immediately before the
      LATEST pointer swap, so a fenced-off writer cannot commit a
      version that interleaves with the new owner's.
    * heartbeat: each micro-batch refreshes the file (verify-then-
      replace).  A writer stalled past the TTL can lose the lease
      mid-batch; its next commit then fails the fence check instead of
      corrupting the snapshot — fencing at commit granularity.
    """

    def __init__(self, path: str, nonce: str, token: int):
        self.path = path
        self.nonce = nonce
        self.token = token

    @staticmethod
    def _mutate_lock(path: str):
        """Exclusive flock held across every read-check-replace of the
        lease file (heartbeat refresh, stale takeover).  Without it the
        two mutation paths race: a writer stalled past its TTL can pass
        check(), lose the lease to a successor's takeover, then blindly
        ``os.replace`` the successor's lease with its own stale nonce —
        single-COMMIT safety still holds (the fence at LATEST-swap), but
        the wrong writer keeps running and the legitimate successor gets
        fenced.  The lock file is separate from the lease (the lease is
        created O_EXCL and atomically replaced; flock on a file you then
        replace guards nothing).  Object-store seat: conditional-PUT
        (if-match on the lease object's etag) collapses read-check-
        replace into one atomic operation and needs no side lock."""
        import contextlib
        import fcntl
        import os

        @contextlib.contextmanager
        def held():
            fd = os.open(path + ".lock", os.O_CREAT | os.O_RDWR)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield
            finally:
                os.close(fd)  # closing releases the flock

        return held()

    @staticmethod
    def _payload(nonce: str, token: int) -> dict:
        import os
        import socket
        import time

        return {
            "nonce": nonce,
            "token": token,
            "pid": os.getpid(),
            "host": socket.gethostname(),
            "heartbeat": time.time(),
        }

    @classmethod
    def acquire(cls, base_dir: str, ttl_sec: float = 60.0) -> "WriterLease":
        import os
        import time
        import uuid

        os.makedirs(base_dir, exist_ok=True)
        path = os.path.join(base_dir, "_LEASE.json")
        nonce = uuid.uuid4().hex
        # The ENTIRE read-judge-write runs under the mutation lock
        # (r11 ADVICE): the old fresh-create O_CREAT|O_EXCL path ran
        # outside it, so a takeover already inside the lock — whose
        # re-read saw the file missing after a release — could
        # os.replace over a lease another process had just created,
        # leaving two writers each holding a "valid" lease until the
        # commit fence caught one.  With create, takeover, heartbeat
        # and release all serialized on one flock, whoever locks first
        # wins and the loser SEES the winner's write: a live lease
        # raises, a released tombstone or stale heartbeat is taken
        # over in place.  The token is derived from the prior on-disk
        # token (tombstones preserve it — see release) so fencing
        # tokens are monotonic across release/reacquire cycles.
        with cls._mutate_lock(path):
            cur = _read_json(path) or {}
            if cur and not cur.get("released"):
                age = time.time() - float(cur.get("heartbeat", 0))
                if age <= ttl_sec:
                    raise WriterLeaseHeld(
                        f"snapshot writer lease on {base_dir} is held by "
                        f"pid {cur.get('pid')}@{cur.get('host')} "
                        f"(heartbeat {age:.1f}s ago, ttl {ttl_sec}s): one "
                        "writer at a time per snapshot — a second "
                        "writer's interleaved commits could strand a "
                        "LATEST pointer on a version mixing both "
                        "writers' buckets"
                    ) from None
            token = int(cur.get("token", 0)) + 1
            _write_json_atomic(path, cls._payload(nonce, token))
        return cls(path, nonce, token)

    def check(self) -> None:
        cur = _read_json(self.path) or {}
        if cur.get("nonce") != self.nonce or int(cur.get("token", -1)) != self.token:
            raise WriterFenced(
                f"writer lease on {self.path} was taken over "
                f"(token {cur.get('token')} > ours {self.token}); "
                "refusing to commit — the new owner's versions would "
                "interleave with this writer's"
            )

    def heartbeat(self) -> None:
        # check-and-refresh under the mutation lock: unlocked, a writer
        # stalled past its TTL could pass check(), lose the lease to a
        # concurrent stale-takeover, then blindly os.replace the
        # successor's lease with its own stale nonce — the successor
        # (the legitimate owner) would fence at its next commit while
        # the stale writer proceeded.  The lock serializes this
        # read-check-replace against the takeover path's, so whichever
        # lands second SEES the other's write and fences correctly.
        with self._mutate_lock(self.path):
            self.check()
            _write_json_atomic(self.path, self._payload(self.nonce, self.token))

    def release(self) -> None:
        # same read-check-replace race as heartbeat: without the lock a
        # takeover landing between the nonce check and the write would
        # have THIS writer clobber the successor's lease.  Release
        # leaves a TOMBSTONE, not a deleted file: the token survives,
        # so the next acquire continues the monotonic fencing sequence
        # instead of restarting at 1 (a restart would let a long-fenced
        # writer whose token happens to equal the restarted counter
        # pass check() it should fail).
        with self._mutate_lock(self.path):
            if (_read_json(self.path) or {}).get("nonce") == self.nonce:
                _write_json_atomic(self.path, {"released": True, "token": self.token})


def _check_geometry(base_dir: str, record: dict, subdirs: list[str]) -> None:
    """Record index geometry under ``base_dir`` or verify this run's
    against the recorded one.  A mismatch is fatal ONLY when the index
    holds live data (a committed version in any of ``subdirs``) — a
    record left by a run that died before its first commit pins
    nothing and is overwritten instead of bricking the directory."""
    import os

    geo_path = os.path.join(base_dir, "_GEOMETRY.json")
    if os.path.exists(geo_path):
        rec = _read_json(geo_path)
        if rec == record:
            return
        if any(
            _committed_version(os.path.join(base_dir, d)) is not None
            for d in subdirs
        ):
            raise ValueError(
                f"index geometry mismatch: {base_dir} was built at {rec} "
                f"but this run asked for {record} — postings are a "
                "function of the geometry, so probing with different "
                "values silently misses duplicates.  Rebuild the index "
                "or pass the recorded geometry."
            )
        # stale record from a run that never committed — re-record
    os.makedirs(base_dir, exist_ok=True)
    _write_json_atomic(geo_path, record)


def _gated_firsts(batch_df: DataFrame) -> DataFrame:
    """The row-local half of the curation gate: quality thresholds
    (>= 20 tokens, distinct ratio >= 0.4, stopword ratio >= 0.05 — the
    pipeline_curate_end_to_end thresholds), then in-batch exact dedup
    (first = lowest doc_id per md5 content hash).  Returns the batch
    columns plus ``content_hash``."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from arrow_experiments_spark.functions.text import (
        EN_STOPWORDS,
        md5_str,
        tokens,
    )

    toks = tokens(F.col("text"))
    n = F.size(toks)
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    dr = F.try_divide(F.size(F.array_distinct(toks)).cast("double"), n)
    sr = F.try_divide(
        F.size(F.filter(toks, lambda x: F.array_contains(sw, x))).cast("double"),
        n,
    )
    gated = batch_df.where((n >= 20) & (dr >= 0.4) & (sr >= 0.05))
    hashed = gated.withColumn("content_hash", md5_str(F.col("text")))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _corpus_leg(
    batch_df: DataFrame,
    gate,
    view: DataFrame | None,
    n_buckets: int,
    key_cols: list[str],
    pinned: list,
    *,
    probe_first: bool = False,
    return_matched: bool = False,
):
    """The seen-before corpus leg of every gate sink (curation and both
    near-dup gates), against ``view``, the committed corpus snapshot as
    :func:`_prepare_view` returns it (None before the first commit):

    1. ``gate(batch_df)`` is PERSISTED (appended to ``pinned``; the
       caller unpersists): the probe, the anti-join and the merge build
       on it, so the raw batch is read once;
    2. ONE :func:`_touched_list` aggregate over the gate yields the
       corpus buckets its keys hash into (exactly the merge's bucket set)
       and its row count;
    3. the gate is anti-joined against the bucket-pruned committed keys
       (:func:`_anti_join_small_left`) with ``small_rows_max`` = that
       count — the exact size of the frame it bounds, so the backfill
       guard's count job never runs on a micro-batch.

    Before the first commit there is nothing to anti-join, and the probe
    runs only when ``probe_first`` asks for its count.

    Returns ``(gated, fresh, touched, n_rows, matched)``: the persisted
    gate; its rows whose keys the committed corpus does not hold; the
    probe's bucket list and the gate's row count (None when nothing was
    probed); and, with ``return_matched``, the persisted matched keys
    (also in ``pinned``; None on the shuffled-fallback path or before
    the first commit).  Sound against replays because the gate reads the
    same committed pointer the merge writes past."""
    from pyspark.sql import functions as F

    gated = gate(batch_df).persist()
    pinned.append(gated)
    if view is None and not probe_first:
        return gated, gated, None, None, None
    bucket = F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")
    touched, n_rows = _touched_list(gated, bucket, with_count=True)
    if view is None:
        return gated, gated, touched, n_rows, None
    seen = _filter_buckets(view, touched).select(*key_cols)
    fresh = _anti_join_small_left(
        gated, seen, key_cols, return_matched=return_matched, small_rows_max=n_rows
    )
    matched = None
    if return_matched:
        fresh, matched = fresh
        if matched is not None:
            pinned.append(matched)
    return gated, fresh, touched, n_rows, matched


def incremental_curation_sink(
    stream_df: DataFrame,
    snapshot_dir: str,
    timeout_sec: int = 120,
    checkpoint_dir: str | None = None,
    n_buckets: int = 32,
):
    """The curation funnel as a daily-delta job: each micro-batch of raw
    documents passes (1) the row-local quality gate (the
    pipeline_curate_end_to_end thresholds: ≥ 20 tokens, distinct ratio
    ≥ 0.4, stopword ratio ≥ 0.05), (2) in-batch exact dedup (first =
    lowest doc_id per content hash), and (3) the have-we-ingested-this
    anti-join against the committed snapshot's content hashes
    (pipeline_dedup_incremental's gate), then upserts the survivors into
    the versioned snapshot.  The snapshot IS the curated corpus, and
    each micro-batch pays only delta-sized tokenize plus one anti-join
    keyed on the hash — never a full-corpus rescan.  The snapshot side
    of that anti-join is BUCKET-PRUNED: same hash ⇒ same bucket, so
    only the buckets the delta's hashes land in are read back — the
    bucketed-by-hash fingerprint-table shape a 100 TB warehouse runs,
    made concrete by the versioned layout.

    Per micro-batch: the seen-before corpus leg shared with the near-dup
    gates (:func:`_corpus_leg`: persisted gate, one probe aggregate over
    it, the pruned anti-join bounded by its count), then the insert-only
    merge with the probe's bucket set and ``assume_novel``, so the merge
    neither probes nor anti-joins again.  Sound because the gate reads
    the same committed pointer the merge writes past: a replayed batch
    whose commit was lost re-gates against the version before it.  The
    raw batch is read once, and a steady-state micro-batch runs 9 Spark
    jobs (16 stages) at ``local[4]``.

    Expects ``doc_id`` and ``text`` columns; the snapshot carries the
    batch columns plus ``content_hash``.  First-seen-wins across
    micro-batches (arrival order), min-doc_id-wins within one batch.
    The lease, version-id and checkpoint-replay contract is
    :func:`upsert_snapshot_sink`'s (every snapshot writer runs on
    :func:`_snapshot_sink`).
    This gate is EXACT-only; :func:`incremental_neardup_sink` is the
    same funnel extended with near-duplicate rejection over a persisted
    band index, and :func:`incremental_embedding_dedup_sink` its
    embedding-modality twin.
    """
    spark = stream_df.sparkSession
    key = ["content_hash"]

    def merge_one(batch_df: DataFrame, state: dict, lease) -> None:
        committed, seq = state["."]
        pinned: list = []
        try:
            view = _prepare_view(spark, snapshot_dir, committed, n_buckets, key)
            _g, fresh, touched, _n, _m = _corpus_leg(
                batch_df, _gated_firsts, view, n_buckets, key, pinned
            )
            _merge_batch(
                spark, fresh, snapshot_dir,
                key_cols=key, order_col="doc_id", n_buckets=n_buckets,
                bucket_cols=None, seq=seq, committed=committed, lease=lease,
                # first-seen-wins is this gate's contract, and ``fresh`` was
                # anti-joined against THIS committed version over ``touched``
                insert_only=True, assume_novel=True,
                touched=None if touched is None else set(touched),
            )
        finally:
            for f in pinned:
                f.unpersist()

    return _snapshot_sink(
        stream_df, snapshot_dir, merge_one, what="curation",
        checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec,
        lease_ttl_sec=60.0,
    )


def _drop_saturated(frame: DataFrame, cols: list[str], max_pop: int) -> DataFrame:
    """``frame`` without the rows of its ``cols`` groups holding more than
    ``max_pop`` rows — the near-dup gates' saturated band/cell skip (see
    ``max_band_pop`` on :func:`incremental_neardup_sink`), applied to the
    pruned index slice and to the delta's own cells alike."""
    from pyspark.sql import functions as F

    ok = (
        frame.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_pop)
        .select(*cols)
    )
    return frame.join(ok, cols)


def _corpus_index_sink(
    stream_df: DataFrame,
    base_dir: str,
    *,
    what: str,
    geometry: dict,
    corpus: str,
    key_col: str,
    batch_key,
    id_col: str,
    post_cols: list[str],
    index: str,
    cell_cols: list[str],
    cells_per_row: int,
    gate,
    screen,
    postings,
    n_buckets: int,
    index_buckets: int | None,
    checkpoint_dir: str | None,
    timeout_sec: int,
    lease_ttl_sec: float,
):
    """The corpus-plus-index writer both near-dup gates
    (:func:`incremental_neardup_sink`, :func:`incremental_embedding_dedup_sink`)
    run on :func:`_snapshot_sink`.  Two bucketed versioned snapshots live
    under ``base_dir``:

    * ``{corpus}/`` — the retained rows, keyed and bucketed on
      ``key_col``;
    * ``{index}/`` — the probe INDEX: one posting per (``cell_cols``,
      ``id_col``) with the owner's ``post_cols`` denormalized in,
      BUCKETED on ``cell_cols`` so a delta's cell lookups prune to the
      buckets its cells hash into.

    A sink supplies only what differs: ``gate(batch_df)`` (its row
    gate), ``screen(fresh, probe, pinned)`` (candidates + verify: it
    explodes the exact-novel rows ``fresh`` into their cells, calls
    ``probe(delta_cells)`` for the committed index slice those cells
    fall into — bucket-pruned, or None before the first index commit —
    and returns the survivors), ``postings(frame)`` (its exploder from
    ``post_cols`` rows to index rows), ``batch_key`` (the ``key_col``
    expression over the raw batch), its column names and its
    ``geometry`` record.

    Attach (the scaffold's one lease covers both snapshots): ``geometry``
    is INDEX-LIFETIME — every posting is a function of it, so the first
    commit records it in ``{base_dir}/_GEOMETRY.json`` and later runs
    raise on mismatch instead of silently missing duplicates
    (:func:`_check_geometry`).

    Per micro-batch: (1) the seen-before corpus leg (:func:`_corpus_leg`:
    the persisted gate, ONE probe aggregate over it — the corpus buckets
    that prune the anti-join, the corpus merge and the re-delivered
    read-back, plus the gate's row count — and the pruned first-seen
    anti-join, which also returns the MATCHED keys, the batch's
    re-delivered rows); (2) ``screen``; (3) the fused commit.

    Row bounds (the scaffold's rule: each bound is a true upper bound).
    The gate's count ``n`` bounds the anti-join exactly.  The index
    leg's postings come from survivors (≤ n rows) plus the committed
    rows of the re-delivered keys (≤ n: the corpus is key-unique and the
    keys are the gate's), so ``incoming_rows_max = 2 · cells_per_row ·
    n``.  On a replay heal the corpus leg is skipped and the postings
    come from the committed rows of the RAW batch's keys, so there the
    probe runs over the raw batch and ``n`` is its row count.

    ``index_buckets`` — the index's bucket count — defaults to DERIVED
    (r10 verdict #4): an existing committed index's recorded layout is
    ADOPTED verbatim (no migration on re-attach), else the first batch
    sizes it via :func:`derive_index_buckets` (``max(postings/50k,
    4·cells·delta)`` rounded to a power of two, ``delta`` the gate's row
    count) — the ``B ≥ cells × delta`` rule that keeps the delta's
    touched set a small fraction of the index instead of all of it.
    Bucket counts are NOT in ``_GEOMETRY.json``: they are not a function
    of the DATA (a mismatch migrates the layout wholesale, correctly, via
    the per-version ``_LAYOUT.json`` record — the same mechanism
    ``n_buckets`` has always used), so the committed layout record IS
    their geometry record.  An explicit value migrates the index once;
    long-lived sinks whose corpus outgrows the derived count re-attach
    with a larger explicit value.

    FUSED commit (r10 verdict #2): both legs' WRITE phases run before
    either pointer swaps (``_merge_batch(..., defer_commit=True)``;
    threaded when the session coalesces shuffles by size — see
    :func:`_parallel_writes` for the measured history), then the
    pointers swap in contract order: corpus first, index second, and a
    failed leg raises before any later leg commits, so the index never
    leads the corpus.  The index leg's posting source is *survivors ∪
    (committed corpus ∩ the batch's keys)* — since the new corpus
    version is exactly (committed ∪ survivors), this is the posting set
    a read-back of the POST-commit corpus would produce, but it depends
    only on PRE-commit frames, which is what decouples the writes from
    the commit points.  The re-delivered term is fetched WIDE only when
    the anti-join matched something (usually nothing), else the
    postings come from the survivors alone.

    Crash contract: a crash (or a failed index write) between the two
    pointer swaps heals on replay — the corpus leg skips as already
    committed, and the re-delivered term (the batch's keys joined
    against the NOW-committed corpus) recomputes the identical
    postings, whose insert-only re-merge is idempotent by key.  The
    index lags the corpus by at most the in-flight batch."""
    import os

    from pyspark.sql import functions as F

    spark = stream_df.sparkSession
    corpus_dir = os.path.join(base_dir, corpus)
    index_dir = os.path.join(base_dir, index)
    index_keys = [*cell_cols, id_col]
    # resolved once at attach: follows the session's coalescing posture
    par_writes = _resolve_parallel_writes(spark)
    resolved = {"index": index_buckets}

    def merge_one(batch_df: DataFrame, state: dict, lease) -> None:
        committed_corpus, seq_corpus = state[corpus]
        committed_index, seq_index = state[index]
        pinned: list = []
        index_touched = None

        def probe(delta_cells: DataFrame) -> DataFrame | None:
            nonlocal index_touched
            idx = _prepare_view(
                spark, index_dir, committed_index, index_n, index_keys, cell_cols
            )
            if idx is None:
                return None
            # the delta's index-bucket set, computed ONCE — prunes the
            # probe and (when the posting source is survivors alone) is
            # handed to the index merge so it skips its own probe job.
            # The slice is deliberately NOT persisted: the saturation
            # count and the candidate join are partition- AND column-
            # pruned scans, and a persist would materialize every
            # payload column of every touched bucket
            index_touched = _touched_list(delta_cells, index_bucket)
            return _filter_buckets(idx, index_touched)

        def leg(sdir, frame, **kw):
            """One write leg for _parallel_writes: (name, write thunk)."""
            return os.path.basename(sdir), lambda: _merge_batch(
                spark, frame, sdir, order_col=id_col, lease=lease,
                insert_only=True, defer_commit=True, **kw,
            )

        try:
            survivors = redelivered = None
            view = _prepare_view(
                spark, corpus_dir, committed_corpus, n_buckets, [key_col]
            )
            if seq_corpus is not None:
                gated, fresh, corpus_touched, n_rows, redelivered = _corpus_leg(
                    batch_df, gate, view, n_buckets, [key_col], pinned,
                    probe_first=True, return_matched=True,
                )
                if view is not None:
                    # feeds both the screen and the corpus merge
                    fresh = fresh.persist()
                    pinned.append(fresh)
            else:
                # replay heal: the join-back below reads the RAW batch's keys
                corpus_touched, n_rows = _touched_list(
                    batch_df,
                    F.pmod(F.xxhash64(batch_key), F.lit(n_buckets)).cast("int"),
                    with_count=True,
                )
            if resolved["index"] is None:
                # adopt-else-derive (see docstring)
                resolved["index"] = _adopted_index_buckets(index_dir) or (
                    derive_index_buckets(
                        cells_per_row * n_rows, bands=cells_per_row, delta_rows=n_rows
                    )
                )
            index_n = resolved["index"]
            index_bucket = F.pmod(F.xxhash64(*cell_cols), F.lit(index_n)).cast("int")
            if seq_corpus is not None:
                # persisted: BOTH legs' write phases build on survivors
                survivors = screen(fresh, probe, pinned).persist()
                pinned.append(survivors)
            post_src = (
                survivors.select(*post_cols) if survivors is not None else None
            )
            from_survivors_only = False
            if view is None:
                from_survivors_only = survivors is not None
            elif redelivered is not None:
                if redelivered.isEmpty():
                    from_survivors_only = True
                else:
                    post_src = post_src.unionByName(
                        _filter_buckets(view, corpus_touched)
                        .join(F.broadcast(redelivered), key_col)
                        .select(*post_cols)
                    )
            else:
                # replay heal (the raw batch's keys) or the giant-backfill
                # fallback (matched set unavailable: the gate's keys) —
                # the unconditional pruned join-back
                keys = (
                    batch_df.select(batch_key.alias(key_col))
                    if survivors is None
                    else gated.select(key_col)
                ).distinct()
                again = (
                    _filter_buckets(view, corpus_touched)
                    .join(keys, key_col)
                    .select(*post_cols)
                )
                post_src = again if post_src is None else post_src.unionByName(again)
            legs = []
            if seq_corpus is not None and survivors is not None:
                legs.append(leg(
                    corpus_dir, survivors,
                    key_cols=[key_col], n_buckets=n_buckets, bucket_cols=None,
                    seq=seq_corpus, committed=committed_corpus,
                    # survivors were anti-joined against THIS committed
                    # version above, over exactly these buckets
                    assume_novel=True, touched=set(corpus_touched),
                ))
            if seq_index is not None and post_src is not None:
                legs.append(leg(
                    index_dir, postings(post_src),
                    key_cols=index_keys, n_buckets=index_n,
                    bucket_cols=cell_cols, seq=seq_index,
                    committed=committed_index,
                    # the delta's index buckets cover the postings ONLY
                    # when they come from survivors alone: re-delivered
                    # rows can carry cells of a DIFFERENT payload, and the
                    # insert-only anti-join's seen-scan must cover every
                    # incoming bucket or a duplicate key slips in
                    touched=(
                        set(index_touched)
                        if from_survivors_only and index_touched is not None
                        else None
                    ),
                    # post_src ≤ 2·n rows (see docstring) — a true bound
                    # that skips the backfill-guard count
                    incoming_rows_max=2 * cells_per_row * n_rows,
                ))
            commits, errors = _parallel_writes(legs, parallel=par_writes)
            # commit in list order, corpus first; a failed leg raises
            # before any later leg commits
            for commit_fn, err in zip(commits, errors):
                if err is not None:
                    raise err
                if commit_fn is not None:
                    commit_fn()
        finally:
            for f in pinned:
                f.unpersist()

    return _snapshot_sink(
        stream_df, base_dir, merge_one, what=what,
        checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec,
        lease_ttl_sec=lease_ttl_sec, subdirs=(corpus, index),
        attach=lambda: _check_geometry(base_dir, geometry, [corpus, index]),
    )


def incremental_neardup_sink(
    stream_df: DataFrame,
    base_dir: str,
    timeout_sec: int = 120,
    checkpoint_dir: str | None = None,
    n_buckets: int = 32,
    min_jaccard_est: float = 0.5,
    max_band_pop: int = 10_000,
    eval_docs: DataFrame | None = None,
    min_shared_shingles: int = 3,
    lease_ttl_sec: float = 60.0,
    index_buckets: int | None = None,
):
    """The incremental curation sink extended with NEAR-dup gating — the
    shape a continuously-fed 100 TB corpus actually runs, because full-
    corpus MinHash+LSH (``dedup_minhash_lsh``) is a batch job you cannot
    afford per delta.  It runs on :func:`_corpus_index_sink` (lease,
    geometry record, adopt-else-derive ``index_buckets``, fused commit
    and crash heal) with two snapshots under ``base_dir``:

    * ``docs/`` — the curated corpus, keyed on ``content_hash``, each
      row carrying its 8 MinHash signatures (computed once at ingest,
      reused forever);
    * ``bands/`` — the LSH BAND INDEX: one posting per (band_idx,
      band_val, doc_id) with the owner's signatures denormalized in,
      bucketed on ``(band_idx, band_val)``.

    Each micro-batch pays delta-sized work only: (1) the row-local
    quality gate + in-batch exact dedup (:func:`_gated_firsts`), (2) the
    bucket-pruned exact seen-before anti-join, (3) ONE tokenize+shingle+
    MinHash pass over the exact-novel docs, (4) the near-dup gate — the
    delta's band rows probe the band index (bucket-pruned equi-join, the
    same candidate shape as ``dedup_minhash_lsh``) and candidates are
    verified by signature agreement (``dedup_minhash_estimate``'s
    estimator: drop when >= ceil(min_jaccard_est * 8) of 8 signatures
    agree — zero re-tokenization of the corpus, the index row carries
    the signatures), plus the same estimator pairwise WITHIN the batch,
    then (5) survivors merge into ``docs/`` and their band postings
    into ``bands/``.

    Semantics: exact first-seen-wins across batches; a new doc is
    rejected iff some RETAINED earlier doc agrees on >= the signature
    threshold, or ANY lower-id doc of its own batch does — the in-batch
    rule is the cluster-min approximation (drop every doc with a
    qualifying lower-id partner, whether or not that partner itself
    survives), so an in-batch chain A~B, B~C, A!~C keeps only A where a
    sequential gate would keep A and C — one batch, one canonical per
    chain.  ACROSS batches the policy is genuinely greedy/online and
    arrival-order dependent: the same chain split over three batches
    admits A and C (B is rejected against retained A; C only ever
    compares against the RETAINED index, which no longer contains B).
    Both behaviors are the documented ones for their scope, not
    defects.

    Batch twin: ``pipeline_neardup_incremental`` (registered, DuckDB
    oracle) pins the gate semantics on a deterministic delta/base split.

    ``max_band_pop`` bounds the one term a pruned probe cannot bound on
    its own: a SATURATED band value.  Band collision is necessary, not
    sufficient, for near-duplication (at r=2 signatures per band,
    documents at Jaccard ~0.3 still collide ~9% per band), so at corpus
    scale low-similarity colliders accumulate under hot band values even
    though the retained corpus itself is near-dup-free — and one delta
    doc hitting such a band would pull the whole group as candidates.
    Bands whose PRUNED-slice population exceeds the cap contribute no
    candidates (computed on the delta's touched buckets only, so the
    check is delta-bounded); a true near-dup still has the other
    ``_N_BANDS - 1`` bands to be caught by — the streaming seat of the
    batch ops' pair-mass guard, which SKIPS (a sink cannot refuse a
    delta) where batch refuses.  The same cap applies to the BATCH side:
    one skewed mega-batch (a clone-heavy backlog delivered as a single
    availableNow batch) would otherwise go quadratic in its hottest band.

    The MinHash geometry (``_N_SIGS`` signatures, ``_N_BANDS`` bands)
    is the index's ``_GEOMETRY.json`` record: the constants are
    module-level today, but code versions change, and an index built
    under one geometry probed by code with another would silently miss
    duplicates.  (``min_jaccard_est`` is gate-only; ``n_buckets``
    changes migrate via the layout record.)

    ``eval_docs`` composes the FOURTH funnel stage — benchmark
    DECONTAMINATION — into the same sink (quality → exact → near-dup →
    decontaminate, the full ``pipeline_curate_end_to_end`` funnel as a
    daily-delta job): a (doc_id, text) benchmark frame whose 3-word
    shingles form a broadcast inverted index (built once at attach —
    benchmark sets are KBs against TBs of stream), and any delta doc
    sharing >= ``min_shared_shingles`` distinct shingles with any
    single eval doc is rejected.  The check reuses the batch's one
    shingle pass; cost is delta × broadcast, zero index maintenance.
    ONLINE-order caveat (same scope rule as the chain semantics above):
    the batch funnel decontaminates AFTER full-corpus near-dup, so a
    contaminated doc still suppresses its near-dups there; this sink
    rejects contaminated docs at ingest, so they are never retained and
    never suppress anything — the documented greedy/online behavior.
    """
    import math

    from pyspark.sql import functions as F

    from arrow_experiments_spark.functions.text import (
        md5_str,
        minhash_sig_expr,
        shingles3,
        tokens,
    )
    from arrow_experiments_spark.operators.dedup import _N_BANDS, _N_SIGS

    ev_pairs = None
    if eval_docs is not None:
        # (shingle, eval_id) broadcast inverted index, built once: the
        # decontaminate_ngram_overlap eval-side shape
        ev_pairs = (
            eval_docs.select(
                F.col("doc_id").alias("eval_id"),
                F.array_distinct(
                    shingles3(tokens(F.col("text")))
                ).alias("_sh"),
            )
            .select("eval_id", F.explode("_sh").alias("s"))
            .persist()
        )
        ev_pairs.count()  # materialize once, not per micro-batch

    min_agree = max(1, math.ceil(min_jaccard_est * _N_SIGS))
    sig_cols = [f"s{i}" for i in range(_N_SIGS)]
    band_cols = ["band_idx", "band_val"]

    def band_rows(frame: DataFrame) -> DataFrame:
        """(doc_id, band_idx, band_val, s0..s7) exploded from a frame
        carrying doc_id + signature columns.  inline(array(named_struct))
        in ONE selectExpr (r16): row-identical to the former
        explode(array(struct)) + field select, one py4j call per
        micro-batch instead of ~500 of struct construction."""
        inline_expr = "inline(array(" + ",".join(
            f"named_struct('band_idx', {b}, "
            f"'band_val', concat(s{2 * b}, s{2 * b + 1}))"
            for b in range(_N_BANDS)
        ) + "))"
        return frame.selectExpr("doc_id", inline_expr, *sig_cols)

    def screen(firsts: DataFrame, probe, pinned: list) -> DataFrame:
        # ONE tokenize pass over the exact-novel docs; the persist
        # barriers stop Catalyst's projection collapse from re-inlining
        # the shingle chain into each of the 8 signature lambdas (no CSE
        # across HOF lambdas — the _minhash_sigs discipline)
        toks = firsts.select(
            "doc_id", tokens(F.col("text")).alias("toks")
        ).persist()
        sh = toks.select(
            "doc_id",
            F.array_distinct(shingles3(F.col("toks"))).alias("sh"),
        ).persist()
        pinned += [toks, sh]
        if ev_pairs is not None:
            # decontamination: delta shingles vs the broadcast eval
            # index, >= min_shared_shingles per (doc, eval) pair
            # rejects.  Filtering sh BEFORE signatures keeps
            # contaminated docs out of survivors AND the band index
            # (postings derive from committed docs).
            contaminated = (
                sh.select("doc_id", F.explode("sh").alias("s"))
                .join(F.broadcast(ev_pairs), "s")
                .groupBy("doc_id", "eval_id")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") >= min_shared_shingles)
                .select("doc_id")
                .distinct()
            )
            sh = sh.join(
                F.broadcast(contaminated), "doc_id", "left_anti"
            ).persist()
            pinned.append(sh)
        sigs = sh.selectExpr(
            "doc_id",
            *[f"{minhash_sig_expr('sh', i)} AS s{i}" for i in range(_N_SIGS)],
        ).persist()
        pinned.append(sigs)
        # the delta's band rows carry their own 8-int signature vector
        # (r16, the batch twins' carried-sigs shape), so BOTH verify
        # legs below compute the agreement on the collision row itself
        # — no sigs-table join-back and no pair-level distinct per leg
        # (drops.distinct() at the survivors anti-join dedupes; a pair
        # passing in any collision row passes in all, same signatures)
        dbands = band_rows(sigs).persist()
        pinned.append(dbands)
        n_agree = sum(
            F.when(F.col(f"s{i}") == F.col(f"yb{i}"), 1).otherwise(0)
            for i in range(_N_SIGS)
        )
        drops = None
        # cross-batch: probe the committed band index, verify by
        # signature agreement against the posting's denormalized
        # signatures — no join back to the corpus
        idx = probe(dbands)
        if idx is not None:
            idx = _drop_saturated(idx, band_cols, max_band_pop)
            drops = (
                dbands.join(
                    idx.select(
                        *band_cols,
                        *[F.col(f"s{i}").alias(f"yb{i}") for i in range(_N_SIGS)],
                    ),
                    band_cols,
                )
                .filter(n_agree >= min_agree)
                .select("doc_id")
            )
        # in-batch pairwise (cluster-min, see docstring)
        dpairs_src = _drop_saturated(dbands, band_cols, max_band_pop)
        in_agree = sum(
            F.when(F.col(f"a.s{i}") == F.col(f"b.s{i}"), 1).otherwise(0)
            for i in range(_N_SIGS)
        )
        in_drops = (
            dpairs_src.alias("a")
            .join(
                dpairs_src.alias("b"),
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .filter(in_agree >= min_agree)
            .select(F.col("b.doc_id").alias("doc_id"))
        )
        drops = in_drops if drops is None else drops.unionByName(in_drops)
        return firsts.join(drops.distinct(), "doc_id", "left_anti").join(
            sigs, "doc_id"
        )

    try:
        return _corpus_index_sink(
            stream_df,
            base_dir,
            what="neardup",
            geometry={"n_sigs": _N_SIGS, "n_bands": _N_BANDS},
            corpus="docs",
            key_col="content_hash",
            batch_key=md5_str(F.col("text")),
            id_col="doc_id",
            post_cols=["doc_id", *sig_cols],
            index="bands",
            cell_cols=band_cols,
            cells_per_row=_N_BANDS,
            gate=_gated_firsts,
            screen=screen,
            postings=band_rows,
            n_buckets=n_buckets,
            index_buckets=index_buckets,
            checkpoint_dir=checkpoint_dir,
            timeout_sec=timeout_sec,
            lease_ttl_sec=lease_ttl_sec,
        )
    finally:
        if ev_pairs is not None:
            ev_pairs.unpersist()


def incremental_embedding_dedup_sink(
    stream_df: DataFrame,
    base_dir: str,
    timeout_sec: int = 120,
    checkpoint_dir: str | None = None,
    n_buckets: int = 32,
    bands: int = 3,
    bits: int = 4,
    min_cosine: float = 0.9,
    max_cell_pop: int = 10_000,
    lease_ttl_sec: float = 60.0,
    index_buckets: int | None = None,
):
    """SemDeDup at INGEST: the embedding-modality twin of
    :func:`incremental_neardup_sink` — full-corpus embedding dedup
    (``dedup_embedding_cosine``) is a batch job you cannot re-run per
    delta, so the gate maintains its own index incrementally.  It runs
    on :func:`_corpus_index_sink` (lease, geometry record,
    adopt-else-derive ``index_buckets``, fused commit and crash heal)
    with two snapshots under ``base_dir``:

    * ``vecs/`` — the retained vectors, keyed on ``vec_id``;
    * ``cells/`` — the hyperplane-LSH CELL INDEX: one posting per
      (band, cell, vec_id) with the owner's embedding denormalized in,
      bucketed on ``(band, cell)``.

    Per micro-batch: (1) direction gate — NULL/empty/zero-norm vectors
    have no cosine and are rejected (the batch ops' ``nz`` filter), one
    row per ``vec_id``; (2) bucket-pruned first-seen anti-join on
    ``vec_id``; (3) the delta's band cells (``similarity.lsh_cells_col``, the
    Arrow-batched bit-identical twin of ``lsh_bucket_col``,
    over the deterministic LCG hyperplane family — the exact geometry of
    the batch ops and their DuckDB oracles) probe the cell index, and
    candidates are verified by EXACT cosine (the snapped double fold)
    against the posting's embedding — drop at >= ``min_cosine``; plus
    the same verify pairwise within the batch (the cluster-min
    approximation: any vector with a qualifying lower-``vec_id``
    partner drops, whether or not that partner itself survives — see
    :func:`incremental_neardup_sink` for the chain semantics in both
    scopes); (4) survivors merge into ``vecs/``, their postings
    into ``cells/``.

    Batch twin: ``dedup_embedding_incremental`` (registered, DuckDB
    oracle) pins the candidate+verify semantics on a deterministic
    delta/base split.  ``min_cosine`` defaults to the production 0.9;
    the registered twin gates at the fixture-scale 0.3.

    ``max_cell_pop`` is the saturated-cell skip (the embedding seat of
    ``incremental_neardup_sink``'s ``max_band_pop``): sign-pattern
    collision is necessary, not sufficient, for near-duplication, so a
    hot cell accumulates low-cosine colliders at corpus scale and a
    delta hitting it would pull the whole group for verification.
    Cells whose pruned-slice population exceeds the cap contribute no
    candidates; the other bands still catch true near-dups.  (At fixed
    ``bits`` this cap is the backstop — the real lever is sizing
    ``bits`` to the expected corpus as ``derive_lsh_bits`` does for the
    batch ops.)

    ``bands``/``bits`` are the index's ``_GEOMETRY.json`` record, like
    any ANN index's geometry: a sink re-attached with different values
    would probe cells that no current vector can produce and silently
    stop detecting duplicates.  (``min_cosine`` is gate-only and bucket
    counts migrate via the layout record — both safe to vary.)
    """
    import functools

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from arrow_experiments_spark.functions.numeric import snap6
    from arrow_experiments_spark.functions.vectors import dot, norm
    from arrow_experiments_spark.operators.similarity import lsh_cells_col

    cell_cols = ["band", "cell"]

    def cell_rows(frame: DataFrame, keep_emb: bool) -> DataFrame:
        """(vec_id, band, cell[, embedding]) exploded from vector rows.
        Cells come from the Arrow-batched lsh_cells_col kernel —
        bit-identical to the in-plan lsh_bucket_col folds, but ONE tiny
        PythonUDF plan node instead of bands x bits literal-array folds
        whose Catalyst analysis cost (~2-3 s at derived bit counts) was
        the dominant fixed term of the gate's per-batch wall, paid by
        every action embedding the tree (r9 verdict #4)."""
        extra = ["embedding"] if keep_emb else []
        return frame.select(
            "vec_id",
            *extra,
            F.posexplode(
                lsh_cells_col(F.col("embedding"), bands, bits)
            ).alias("band", "cell"),
        ).select("vec_id", "band", "cell", *extra)

    def gate(batch_df: DataFrame) -> DataFrame:
        # deterministic one-row-per-vec_id: a duplicated id in one
        # batch (upstream retry with re-embedding) must pick the SAME
        # row on a replay re-merge, or the retained embedding silently
        # changes — order by the embedding's own hash, not
        # dropDuplicates' arbitrary first-seen partition order
        w_id = Window.partitionBy("vec_id").orderBy(
            F.xxhash64(F.col("embedding"))
        )
        return (
            batch_df.filter(
                F.col("embedding").isNotNull() & (norm("embedding") > 0)
            )
            .withColumn("_rn", F.row_number().over(w_id))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def screen(fresh: DataFrame, probe, pinned: list) -> DataFrame:
        # Two-pass probe (the corpus leg's id probe on the gate, the
        # cells probe on the exact-novel delta here): a one-job variant
        # measured a wash in two paired A/Bs (r13, r14; SCALE.md).
        # Cells materialized once behind a persist barrier — the
        # hyperplane dot-products would otherwise re-inline per band
        # reference (no CSE across HOF lambdas)
        dcells = cell_rows(fresh, keep_emb=False).persist()
        pinned.append(dcells)
        drops = None
        idx = probe(dcells)
        if idx is not None:
            idx = _drop_saturated(idx, cell_cols, max_cell_pop)
            # candidate match NARROW-first: the (band, cell, vec_id)
            # join scans 3 int columns of the pruned slice; the 64-float
            # embedding column — an order of magnitude more bytes — is
            # fetched ONLY for the matched postings (delta-bounded), and
            # not at all when nothing collides
            cand_keys = (
                dcells.join(
                    idx.select(*cell_cols, F.col("vec_id").alias("_idx_vec")),
                    cell_cols,
                )
                .select("vec_id", "band", "cell", "_idx_vec")
                .distinct()
                .persist()
            )
            pinned.append(cand_keys)
            # the eager isEmpty is load-bearing: it gates the WIDE verify
            # scan (the embedding column of every touched index bucket)
            # out of the no-collision batch entirely — measured r11:
            # dropping it in favor of lazy AQE empty-propagation cost
            # ~1-2 s per batch, so the one narrow probe pass stays
            if not cand_keys.isEmpty():
                matched = idx.join(
                    F.broadcast(
                        cand_keys.select(
                            *cell_cols, F.col("_idx_vec").alias("vec_id")
                        ).distinct()
                    ),
                    ["band", "cell", "vec_id"],
                    "left_semi",
                ).select(
                    F.col("vec_id").alias("_idx_vec"),
                    F.col("embedding").alias("_idx_emb"),
                ).dropDuplicates(["_idx_vec"])
                cos = snap6(
                    dot("embedding", "_idx_emb")
                    / (norm("embedding") * norm("_idx_emb"))
                )
                drops = (
                    cand_keys.select("vec_id", "_idx_vec")
                    .distinct()
                    .join(matched, "_idx_vec")
                    .join(fresh.select("vec_id", "embedding"), "vec_id")
                    .filter(cos >= min_cosine)
                    .select("vec_id")
                )
        # in-batch pairwise (cluster-min, see docstring), saturation cap
        # on the batch side too
        dpairs_src = _drop_saturated(dcells, cell_cols, max_cell_pop)
        pairs = (
            dpairs_src.alias("a")
            .join(
                dpairs_src.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.cell") == F.col("b.cell"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("ida"),
                F.col("b.vec_id").alias("idb"),
            )
            .distinct()
        )
        cos_ab = snap6(dot("_ea", "_eb") / (norm("_ea") * norm("_eb")))
        in_drops = (
            pairs.join(
                fresh.select(
                    F.col("vec_id").alias("ida"), F.col("embedding").alias("_ea")
                ),
                "ida",
            )
            .join(
                fresh.select(
                    F.col("vec_id").alias("idb"), F.col("embedding").alias("_eb")
                ),
                "idb",
            )
            .filter(cos_ab >= min_cosine)
            .select(F.col("idb").alias("vec_id"))
        )
        drops = in_drops if drops is None else drops.unionByName(in_drops)
        return fresh.join(drops.distinct(), "vec_id", "left_anti")

    return _corpus_index_sink(
        stream_df,
        base_dir,
        what="embedding-dedup",
        geometry={"bands": bands, "bits": bits},
        corpus="vecs",
        key_col="vec_id",
        batch_key=F.col("vec_id"),
        id_col="vec_id",
        post_cols=["vec_id", "embedding"],
        index="cells",
        cell_cols=cell_cols,
        cells_per_row=bands,
        gate=gate,
        screen=screen,
        postings=functools.partial(cell_rows, keep_emb=True),
        n_buckets=n_buckets,
        index_buckets=index_buckets,
        checkpoint_dir=checkpoint_dir,
        timeout_sec=timeout_sec,
        lease_ttl_sec=lease_ttl_sec,
    )


def incremental_ivf_index_sink(
    stream_df: DataFrame,
    base_dir: str,
    timeout_sec: int = 120,
    checkpoint_dir: str | None = None,
    n_buckets: int | None = None,
    k: int = 8,
    lease_ttl_sec: float = 60.0,
):
    """Maintained IVF index ARTIFACT (r9 verdict #5): ``ann_ivf_*``
    re-derived the codebook assignment per query, where the 100 TB
    posture — and the reference's own pre-materialize-once-serve-many
    discipline (http/get_simple/python/server/http.server/server.py:144)
    — is an index built once, delta-maintained by a sink, probed by the
    retrieval queries.  One bucketed versioned snapshot under
    ``base_dir``:

    * ``cells/`` — one posting per vector: (cell, vec_id, embedding),
      keyed on ``(cell, vec_id)`` and BUCKETED on ``(cell,)`` so a
      probe's cell lookups prune to the buckets its cells hash into —
      the same pruned-probe shape as the near-dup gates' indexes.

    Per micro-batch the work is delta-sized: assign each vector's cell
    with the SAME Arrow-batched kernel the batch ops use
    (``similarity.ivf_cell_col`` — bit-identical distances, so the
    artifact agrees with ``ann_ivf_codebook`` and its oracle), then one
    O(delta) version merge.  Re-delivered vectors are idempotent (same
    embedding → same cell → same key, latest-wins).  The index serves
    APPEND-style corpora: mutating a vector's embedding moves its cell,
    which upsert-by-(cell, vec_id) cannot retire — reindex for that,
    exactly as any deployed IVF index would.

    ``k`` is an INDEX-LIFETIME parameter (the codebook): recorded in
    ``{base_dir}/_GEOMETRY.json`` on first commit; re-attaching with a
    different k raises rather than probing a foreign codebook's cells.
    Callers size it from the EXPECTED corpus (``similarity._ivf_k``'s
    N/_IVF_TARGET_POP rule); zero-norm vectors are the caller's gate, as
    in the batch ops' ``nz`` entry filter.  Single writer enforced by
    :class:`WriterLease`; readers resolve versions through the LATEST
    pointer as with every snapshot in this module.

    ``n_buckets`` defaults to adopt-else-derive (r10 verdict #4, same
    rule as the dedup gates): an existing committed layout is adopted
    verbatim, else the first batch sizes it via
    :func:`derive_index_buckets`; ``ann_ivf_index_probe`` reads the
    committed layout's count, so probe pruning always matches the
    geometry the postings were written under.
    """
    import os

    from pyspark.sql import functions as F

    from arrow_experiments_spark.operators.similarity import ivf_cell_col

    spark = stream_df.sparkSession
    cells_dir = os.path.join(base_dir, "cells")

    def attach() -> None:
        _check_geometry(base_dir, {"ivf_k": k}, ["cells"])
        # Stamp EXPLICIT ownership at attach (r11 ADVICE): once a sink
        # maintains this index, ``ensure_ivf_index`` must never rebuild
        # it from corpus files — even if a BUILDER created it first and
        # left a source fingerprint behind.  The marker replaces the
        # fingerprint wholesale: source freshness is meaningless once
        # sink-ingested postings the corpus files don't contain exist
        # (and a sink that attaches intends to create them).  Written
        # under the lease, atomic-replace like every pointer here.
        _write_json_atomic(
            os.path.join(base_dir, "_INDEX_MANIFEST.json"),
            {"maintained_by": "sink", "k": k},
        )

    # adopt-else-derive, as in the dedup gates: an existing committed
    # layout wins (no migration on re-attach); else the first batch
    # sizes the bucket count via derive_index_buckets.  Probes adopt
    # the committed layout (_adopted_index_buckets), so the derived
    # count needs no side-channel.
    resolved = {"cells": n_buckets}

    def merge_one(batch_df: DataFrame, state: dict, lease) -> None:
        committed, seq = state["cells"]
        if resolved["cells"] is None:
            resolved["cells"] = _adopted_index_buckets(cells_dir)
            if resolved["cells"] is None:
                n_delta = batch_df.count()
                resolved["cells"] = derive_index_buckets(n_delta, delta_rows=n_delta)
        postings = batch_df.select(
            ivf_cell_col(F.col("embedding"), k).alias("cell"),
            "vec_id",
            "embedding",
        )
        _merge_batch(
            spark, postings, cells_dir,
            key_cols=["cell", "vec_id"], order_col="vec_id",
            n_buckets=resolved["cells"], bucket_cols=["cell"],
            seq=seq, committed=committed, lease=lease,
            insert_only=True,
        )

    return _snapshot_sink(
        stream_df, base_dir, merge_one, what="ivf-index",
        checkpoint_dir=checkpoint_dir, timeout_sec=timeout_sec,
        lease_ttl_sec=lease_ttl_sec, subdirs=("cells",), attach=attach,
    )


def _layout_record(vdir: str) -> dict:
    """The bucket geometry a version directory was written under
    (``{"n_buckets": N, "bucket_cols": [...]}``), or ``{}`` for
    pre-layout versions and flat legacy snapshots.  Records written
    before ``bucket_cols`` existed lack that key; readers default the
    comparison to their own columns (those versions were always
    bucketed on ``key_cols``).  Cached per version directory — the
    record is written once before the pointer swap and never changes."""
    import os

    path = os.path.join(vdir, "_LAYOUT.json")
    try:
        st = os.stat(path)
    except OSError:
        return {}  # uncached: the record may still be written this run
    key = (os.path.realpath(vdir), st.st_ino, st.st_mtime_ns)
    hit = _LAYOUT_CACHE.get(key)
    if hit is not None:
        return hit
    rec = _read_json(path)
    rec = rec if isinstance(rec, dict) else {}
    if len(_LAYOUT_CACHE) > 512:
        _LAYOUT_CACHE.clear()
    _LAYOUT_CACHE[key] = rec
    return rec


def read_snapshot(spark, snapshot_dir: str) -> DataFrame | None:
    """Current snapshot per the LATEST pointer, or None before the first
    commit.  The ``_bucket`` layout column (hash-bucketed versions) is
    internal and dropped — the logical snapshot schema is the merged
    rows alone; filters on the key still prune buckets when callers
    re-derive the bucket, and the incremental merge path reads the
    partitioned form directly."""
    import os

    version = _committed_version(snapshot_dir)
    if version is None:
        return None
    df = _read_version(spark, os.path.join(snapshot_dir, version))
    if "_bucket" in df.columns:
        df = df.drop("_bucket")
    return df


def snapshot_reader_factory(snapshot_dir: str):
    """RecordBatchReader factory over a versioned snapshot — the egress
    seam that closes the funnel loop (r7 verdict #7): the LATEST pointer
    is resolved AT REQUEST TIME, so the endpoint always serves the
    current survivors, and the versioned-dir contract (the newest
    ``retain_versions`` versions kept for in-flight readers, atomic
    pointer swap) means the resolved version's files stay put for the
    duration of the read even if a micro-batch commits mid-response.
    The retention window IS this reader's scan budget: with keep-K
    retention a response that resolved version N streams exact rows
    until N+K commits, i.e. K−1 full commit cycles — size K from the
    longest expected response time over the sink's commit cadence
    (:func:`_retain_versions`).  Pure pyarrow — no Spark job per
    request.  Returns None before the first commit (the server turns
    that into a 404)."""
    import os

    import pyarrow.dataset as pads

    def factory():
        version = _committed_version(snapshot_dir)
        if version is None:
            return None
        # ignore_prefixes: pyarrow's default ['.', '_'] would skip the
        # hash-bucketed '_bucket=' layout dirs entirely — keep only the
        # genuinely-hidden prefixes (Spark's _SUCCESS/_committed markers
        # and dotfiles).  No partitioning is passed, so the served schema
        # is the data schema alone (the _bucket value never leaves the
        # directory name).
        d = pads.dataset(
            os.path.join(snapshot_dir, version),
            format="parquet",
            ignore_prefixes=[
                ".", "_SUCCESS", "_committed", "_started", "_LAYOUT",
                "_MANIFEST",
            ],
        )
        return d.scanner().to_reader()

    return factory


def register_snapshot(registry, name: str, snapshot_dir: str) -> None:
    """Expose a versioned snapshot through the HTTP catalog:
    ``GET /catalog`` lists it, ``GET /datasets/{name}`` streams the
    current version as Arrow — the reference's get_indirect two-step
    (catalog → dataset URI) over the funnel's LIVE output instead of a
    static artifact."""
    registry.register(
        name,
        snapshot_reader_factory(snapshot_dir),
        meta={"kind": "snapshot", "snapshot_dir": snapshot_dir},
    )


def register_ivf_index(registry, name: str, base_dir: str) -> None:
    """Expose the maintained IVF index ARTIFACT through the HTTP
    catalog (r11 verdict #5 — symmetry with the curated corpus):
    ``GET /datasets/{name}`` streams the committed (cell, vec_id,
    embedding) postings, and ``?multipart=1`` prepends the JSON
    metadata part carrying the index GEOMETRY (``_GEOMETRY.json``'s
    codebook k plus the committed layout's bucket count) — the
    reference's multipart shape (JSON part + Arrow part,
    http/get_multipart/python/server/server.py:131-217) is exactly an
    index-with-geometry response.  A consumer can rebuild a working
    probe from the fetched parts alone: assign query cells with the
    ``k`` in the JSON part, score against the Arrow postings
    (``similarity._ivf_probe_score`` — parity pinned by
    ``test_ivf_index_served_through_catalog_probe_parity``).

    The reader resolves LATEST per request (``snapshot_reader_factory``
    on ``cells/``), so the served postings always track the committed
    version.  The geometry meta is captured at REGISTRATION: ``k`` is
    index-lifetime by contract (``_check_geometry`` refuses a
    different k), and the layout bucket count only changes on a full
    rebuild — re-register after one, exactly as with any catalog
    dataset whose identity changed."""
    import os

    cells_dir = os.path.join(base_dir, "cells")
    meta: dict = {"kind": "ivf_index", "base_dir": base_dir}
    geometry = _read_json(os.path.join(base_dir, "_GEOMETRY.json"))
    if geometry is not None:
        meta["geometry"] = geometry
    committed = _committed_version(cells_dir)
    if committed is not None:
        rec = _layout_record(os.path.join(cells_dir, committed))
        if rec:
            meta["layout"] = rec
    registry.register(name, snapshot_reader_factory(cells_dir), meta=meta)
