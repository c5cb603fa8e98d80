"""Session posture pins.

The session factory encodes the engine's scale posture (SURVEY.md §1.3:
AQE on, Arrow interop on, size-based shuffle coalescing).  These tests
pin the load-bearing confs and the coalescing mechanism itself — the
r12 floor work measured a delta-sized reduce stage at 1 task vs
``shuffle.partitions`` tasks as the single largest cut of the gate
sinks' per-batch floor, so a silent conf regression here would cost
~2-3x on every streaming micro-batch.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from arrow_experiments_spark.session import build_session

REPO = str(Path(__file__).resolve().parent.parent)


def test_session_scale_posture(spark):
    """The confs the 100 TB posture depends on, as built."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == "true"
    )
    # size-based coalescing: without this pair a 40-row delta shuffle
    # schedules default-parallelism reduce tasks (parallelismFirst) and
    # persisted frames pin their pre-AQE partitioning (cached-plan flag)
    assert (
        spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst"
        )
        == "false"
    )
    assert (
        spark.conf.get(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        )
        == "true"
    )
    assert (
        spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    )


def test_tiny_shuffle_coalesces_to_one_task(spark):
    """The mechanism end-to-end: a delta-sized groupBy's reduce stage
    coalesces to ONE partition instead of spark.sql.shuffle.partitions
    — the job-scheduling floor cut the streaming gates rely on."""
    from pyspark.sql import functions as F

    df = (
        spark.range(100)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count("*").alias("n"))
    )
    assert df.count() == 7
    assert df.rdd.getNumPartitions() == 1


def test_tiny_shuffle_coalesces_when_persisted(spark):
    """Same pin through a persist(): the gate sinks persist every leg,
    and without canChangeCachedPlanOutputPartitioning the cached plan
    keeps the full-width shuffle."""
    from pyspark.sql import functions as F

    df = (
        spark.range(100)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count("*").alias("n"))
        .persist()
    )
    try:
        assert df.count() == 7
        assert df.rdd.getNumPartitions() == 1
    finally:
        df.unpersist()


def test_tune_session_applies_env_extra_conf(spark, monkeypatch):
    """tune_session (the driver-owned-session path) honors
    SPARK_GRAFT_EXTRA_CONF too — the A/B-a-conf-without-a-code-edit
    workflow must cover sessions the factory never built (r12 ADVICE)."""
    from arrow_experiments_spark.session import tune_session

    key = "spark.arrowExperimentsSpark.test.tuneProbe"
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", f"{key}=tuned")
    try:
        tune_session(spark)
        assert spark.conf.get(key) == "tuned"
    finally:
        spark.conf.unset(key)


def test_parallel_writes_default_follows_coalescing(spark):
    """Write-phase overlap is LINKED to size-based coalescing (r12
    ADVICE): parallel overlap was only measured as a win when the delta
    write legs coalesce to ~1-task jobs, so with coalescing overridden
    off the resolver falls back to sequential."""
    from arrow_experiments_spark.streaming.egress import (
        _resolve_parallel_writes,
    )

    pf = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    assert spark.conf.get(pf) == "false"  # session default posture
    assert _resolve_parallel_writes(spark) is True
    try:
        spark.conf.set(pf, "true")  # coalescing back to parallelism-first
        assert _resolve_parallel_writes(spark) is False
    finally:
        spark.conf.set(pf, "false")


def test_parallel_writes_unreadable_conf_falls_back_sequential():
    """r13 ADVICE: on a Spark build where one of the adaptive confs is
    unregistered (or a Connect session restricts conf access) the
    resolver must fall back to the documented Spark default instead of
    raising — and because parallelismFirst defaults true, an unreadable
    key resolves to sequential writes, the safe direction."""
    from arrow_experiments_spark.streaming.egress import (
        _resolve_parallel_writes,
    )

    class RaisingConf:
        def get(self, key):
            raise Exception(f"unregistered conf: {key}")

    class FakeSpark:
        conf = RaisingConf()

    assert _resolve_parallel_writes(FakeSpark()) is False


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records what build_session
    asks for instead of starting a JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}
        self.master_url = None

    def appName(self, _name):
        return self

    def master(self, url):
        self.master_url = url
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


@pytest.fixture
def recording_builder(monkeypatch):
    from arrow_experiments_spark import session

    rec = _RecordingBuilder()

    class FakeSparkSession:
        builder = rec

    monkeypatch.setattr(session, "SparkSession", FakeSparkSession)
    for env in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_CPUS",
                "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.delenv(env, raising=False)
    return rec


# The runtime SQL confs both session entry points apply.
_SHARED_CONF = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    "spark.sql.adaptive.coalescePartitions.minPartitionNum": "8",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "16384",
}


def test_session_entry_points_apply_pinned_conf_sets(recording_builder):
    """build_session and tune_session apply exactly these confs.  The
    driver owns the session tune_session receives, so tune_session must
    leave its time zone, coalescing switch, skew-join switch and Arrow
    batch size alone."""
    from arrow_experiments_spark.session import build_session, tune_session

    build_session(master="local[3]", shuffle_partitions=3, batch_rows=100)
    assert recording_builder.master_url == "local[3]"
    assert recording_builder.conf == {
        **_SHARED_CONF,
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "100",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.sql.codegen.cache.maxEntries": "4096",
        "spark.ui.enabled": "false",
        "spark.driver.memory": "8g",
        "spark.executorEnv.PYTHONPATH": REPO,
    }

    spark = _FakeSession(codegen_cache="4096")
    tune_session(spark)
    assert spark.conf.set_calls == _SHARED_CONF


class _FakeContext:
    """A stand-in SparkContext: only its identity matters (the key of
    ``session.probe_once``'s once-per-context cache)."""


class _FakeConf:
    """Records the confs set on it; reads the static generated-class
    cache size as ``codegen_cache``."""

    def __init__(self, codegen_cache: str):
        self.codegen_cache = codegen_cache
        self.set_calls: dict[str, str] = {}

    def set(self, key, value):
        self.set_calls[key] = value

    def get(self, key):
        assert key == "spark.sql.codegen.cache.maxEntries", key
        return self.codegen_cache


class _FakeSession:
    """A stand-in live session for tune_session."""

    def __init__(self, codegen_cache: str, sc=None):
        self.conf = _FakeConf(codegen_cache)
        self.sparkContext = sc or _FakeContext()


def test_tune_session_warns_once_per_context_on_small_codegen_cache(
    spark, monkeypatch, caplog
):
    """A live session whose generated-class cache reads as Spark's
    default (100) cannot be raised by tune_session (the conf is static):
    tune_session still applies every runtime conf, raises nothing, and
    logs ONE warning per SparkContext naming the conf and when to set
    it."""
    import logging
    from weakref import WeakKeyDictionary

    from pyspark.sql.conf import RuntimeConfig

    from arrow_experiments_spark import session
    from arrow_experiments_spark.session import CODEGEN_CACHE_CONF, tune_session

    monkeypatch.setattr(session, "_PROBED", WeakKeyDictionary())
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    assert spark.conf.get(CODEGEN_CACHE_CONF) == "4096"
    real_get = RuntimeConfig.get

    def default_cache_size(self, key, *args):
        if key == CODEGEN_CACHE_CONF:
            return "100"
        return real_get(self, key, *args)

    monkeypatch.setattr(RuntimeConfig, "get", default_cache_size)
    other = _FakeContext()
    fakes = [_FakeSession("100", other), _FakeSession("100", other)]
    with caplog.at_level(logging.WARNING, logger="arrow_experiments_spark"):
        assert tune_session(spark) is spark
        assert tune_session(spark) is spark
        for fake in fakes:
            assert tune_session(fake) is fake
    records = [r.getMessage() for r in caplog.records
               if r.name.startswith("arrow_experiments_spark")]
    assert len(records) == 2, records  # the fixture's context, then `other`
    for msg in records:
        assert CODEGEN_CACHE_CONF in msg and "100" in msg, msg
        assert "when the session is built" in msg, msg
    for k, v in _SHARED_CONF.items():
        assert spark.conf.get(k) == v
    for fake in fakes:
        assert fake.conf.set_calls == _SHARED_CONF


def test_build_session_defaults_to_host_cores(recording_builder):
    """Without SPARK_GRAFT_CPUS the session runs one task slot and one
    shuffle partition per host core, not a fixed 32."""
    import os

    from arrow_experiments_spark.session import build_session

    build_session()
    cores = os.cpu_count()
    assert recording_builder.master_url == f"local[{cores}]"
    assert recording_builder.conf["spark.sql.shuffle.partitions"] == str(cores)


def test_extra_conf_env_rejects_malformed(monkeypatch):
    """SPARK_GRAFT_EXTRA_CONF entries must be key=value; a bare token
    fails fast instead of silently configuring nothing."""
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "not-a-pair")
    with pytest.raises(ValueError, match="key=value"):
        build_session(app_name="malformed-extra-conf")


def test_extra_conf_env_applies_last(spark, monkeypatch):
    """A SPARK_GRAFT_EXTRA_CONF entry lands on the (existing) session —
    getOrCreate applies runtime-settable builder confs to a live
    session, which is how an operator A/Bs a conf without a code edit.

    getOrCreate applies ALL the builder's runtime-settable defaults
    onto the live fixture session (shuffle.partitions flips from
    conftest's 8 to the SPARK_GRAFT_CPUS default here), so the confs
    this call touches are snapshotted and restored — otherwise every
    test that runs after this file executes under different confs than
    conftest declared (r12 ADVICE)."""
    key = "spark.arrowExperimentsSpark.test.extraConfProbe"
    touched = [
        "spark.sql.shuffle.partitions",
        "spark.sql.session.timeZone",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.sources.parallelPartitionDiscovery.threshold",
    ]
    before = {k: spark.conf.get(k, None) for k in touched}
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", f"{key}=probe-value")
    try:
        s = build_session(app_name="extra-conf-probe")
        assert s is spark  # same JVM session; env conf applied onto it
        assert s.conf.get(key) == "probe-value"
    finally:
        s.conf.unset(key)
        for k, v in before.items():
            if v is None:
                s.conf.unset(k)
            else:
                s.conf.set(k, v)


def test_codegen_cache_size_is_overridable(recording_builder, monkeypatch):
    """The generated-class cache size is an ordinary builder conf:
    ``extra_conf`` overrides the engine's size and SPARK_GRAFT_EXTRA_CONF
    overrides both."""
    from arrow_experiments_spark.session import CODEGEN_CACHE_CONF

    build_session(extra_conf={CODEGEN_CACHE_CONF: "256"})
    assert recording_builder.conf[CODEGEN_CACHE_CONF] == "256"
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", f"{CODEGEN_CACHE_CONF}=512")
    build_session(extra_conf={CODEGEN_CACHE_CONF: "256"})
    assert recording_builder.conf[CODEGEN_CACHE_CONF] == "512"


def test_worker_path_puts_package_root_first(recording_builder, monkeypatch):
    """The workers' PYTHONPATH starts with the package root and keeps
    what ``extra_conf`` or SPARK_GRAFT_EXTRA_CONF gave it, once each."""
    key = "spark.executorEnv.PYTHONPATH"
    build_session(extra_conf={key: os.pathsep.join(["/a", REPO])})
    assert recording_builder.conf[key] == os.pathsep.join([REPO, "/a"])
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", f"{key}=/b")
    build_session(extra_conf={key: "/a"})
    assert recording_builder.conf[key] == os.pathsep.join([REPO, "/b"])


def test_workers_import_package_when_driver_runs_elsewhere(tmp_path):
    """A driver that imports the package through sys.path from another
    working directory must still run the queries whose Python workers
    import it (here an applyInPandas top-k over Arrow-batched LSH
    cells): a child process started in an empty directory builds one."""
    from conftest import SF_DIR

    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from arrow_experiments_spark.registry import all_queries
        from arrow_experiments_spark.session import build_session

        spark = build_session(master="local[2]", shuffle_partitions=2)
        q = all_queries()["dedup_embedding_topk_grouped"]
        print("rows", q.build(spark, {SF_DIR!r}).count())
        spark.stop()
        """
    )
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_EXTRA_CONF")
    }
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "rows " in proc.stdout
