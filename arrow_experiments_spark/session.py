"""SparkSession factory.

Defaults follow the reference's data-plane posture (SURVEY.md §1.3, §4):
Arrow-vectorized Python interop, explicit batch sizing
(``spark.sql.execution.arrow.maxRecordsPerBatch`` — the reference's
4096/6144-row batch knobs, http/get_simple server.py:35), UTC session time
(data/arrow-commits/arrow-commits.R:34), and AQE on for runtime re-planning
at scale, with a generated-code class cache that holds the engine's whole
working set (``CODEGEN_CACHE_ENTRIES``).
"""

from __future__ import annotations

import logging
import os
import threading
import weakref
from collections.abc import Callable, Iterable
from functools import reduce

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_BATCH_ROWS = 4096  # reference default batch size (get_simple server.py:35)

# Spark keeps at most this many Janino-compiled classes per JVM (Spark's
# default is 100).  One pass over the 154 registered queries at sf0.01
# (local[4]) compiles 1,448 distinct classes, so at 100 the cache evicts
# in a cycle and every request compiles its Java again: a second
# registry pass compiles 1,812 classes at 100 and 31 at 4096, and a
# steady perfbench query_ingest deck about 55 at 100 and 0 at 4096
# (SCALE.md, "Generated-code cache").  4096 is the next power of two
# above twice the registry's working set.  Re-measure by diffing
# codegen_stats(spark) around a second pass of the workload: a nonzero
# count at steady state means the working set outgrew the cache.
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 4096


# Spark's Python workers import this package too (pandas UDFs,
# mapInArrow).  They start in the driver's working directory, so a driver
# that imported the package through sys.path from elsewhere would leave
# them unable to; build_session puts the package root on their path.
_WORKER_PATH_CONF = "spark.executorEnv.PYTHONPATH"
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _with_package_root(path: str) -> str:
    """``path`` (an os.pathsep list) with the package root first, so the
    workers import the same copy of the package as the driver."""
    parts = [p for p in path.split(os.pathsep) if p and p != _PACKAGE_ROOT]
    return os.pathsep.join([_PACKAGE_ROOT, *parts])


def _env_extra_conf() -> list[tuple[str, str]]:
    """Parse the SPARK_GRAFT_EXTRA_CONF escape hatch: a
    semicolon-separated ``key=value`` list applied LAST (wins over both
    defaults and ``extra_conf``), so an operator can A/B or override a
    conf without a code edit.  Applied by BOTH session entry points —
    ``build_session`` and ``tune_session`` — so the workflow covers
    driver-owned sessions too (r12 ADVICE).  Limitation: the ';'
    separator is not escapable, so a VALUE containing ';' cannot be
    expressed here — pass those through ``extra_conf``."""
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    pairs: list[tuple[str, str]] = []
    for item in filter(None, (s.strip() for s in env_conf.split(";"))):
        k, sep, v = item.partition("=")
        if not sep:
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF entries must be key=value, got {item!r}"
            )
        pairs.append((k.strip(), v.strip()))
    return pairs


# Runtime SQL confs both entry points apply: build_session on the
# builder, tune_session on a live driver-owned session.
_RUNTIME_CONF = [
    # testdata events.parquet uses TIMESTAMP(NANOS); see tables.py
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.adaptive.enabled", "true"),
    # Coalesce small shuffles by DATA SIZE, not down to default
    # parallelism: a delta-sized reduce stage becomes 1 task instead
    # of shuffle.partitions tasks (the gate sinks' 1-row floor
    # measured 14.1 -> 3.9 s steady state under this pair, the
    # biggest single cut of the r9-r12 floor thread), while
    # warehouse-scale shuffles stay wide because their bytes exceed
    # advisoryPartitionSizeInBytes — the per-job scoping the r12
    # floor profile asked for, by shape instead of by conf.  This is
    # also Spark's own recommended production posture for
    # parallelismFirst.  The cached-plan flag extends the same
    # coalescing to persisted frames (the sinks persist every gate
    # leg), which otherwise pin pre-AQE partitioning.
    ("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"),
    ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
    # 16m, not Spark's 64m default: the engine's hot mid-size stages
    # (LSH candidate verify, embedding cosine folds) are COMPUTE-
    # dense per byte — ~300 B/row carrying ~100 FLOPs of vectorized
    # kernel work — so CPU-optimal partitions are smaller than the
    # IO-optimal default.  Under parallelismFirst=false the advisory
    # size is the only parallelism floor for these stages: at 64m a
    # 40-row gate batch's verify leg collapsed to 1-2 tasks and gave
    # back ~2 s of its floor win (measured: steady 8.7 s at 16m vs
    # 11.3-12.6 s at 64m, old-conf paired control 9.15 s).  At
    # warehouse scale the effect is a 4x finer reduce fan-out on
    # multi-GB shuffles — more tasks, each still seconds long.
    # Override per deployment via extra_conf/SPARK_GRAFT_EXTRA_CONF.
    ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m"),
    # A small PARALLELISM floor under parallelismFirst=false (r14,
    # the r13 verdict's untried lever): with pf=false the coalescer
    # floors at minPartitionNum-or-1, and sub-advisory mid-size
    # stages (events_session_window's sessionize shuffle at small
    # SF) collapsed to 1-2 tasks, the one measured cost of the r12
    # conf set (1.26x).  Floor 8 recovers it (0.86x paired A/B)
    # while staying inert everywhere it could hurt: the gate sinks'
    # delta legs floor at 8 near-empty tasks instead of 1
    # (min-over-clean parity, 6.36 vs 6.90 s, generalized gate-sink
    # A/B) and four sensitive headline keys measured 0.91-1.06x.
    # At warehouse scale every real shuffle exceeds 8 partitions
    # under the 16m advisory, so the floor never binds there.
    ("spark.sql.adaptive.coalescePartitions.minPartitionNum", "8"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    # A read that binds an explicit file list (the versioned
    # snapshots' manifest-driven reads) launches a DISTRIBUTED
    # listing job once the path count crosses this threshold
    # (default 32) — a ~600-task stat job per version read at
    # derived bucket counts, pure overhead when the manifest
    # already IS the listing and a driver-side stat of local (or
    # manifest-known object-store) paths is microseconds each.
    ("spark.sql.sources.parallelPartitionDiscovery.threshold", "16384"),
]


def _disable_debugging_cache() -> None:
    """Pin pyspark's per-API-call origin capture off (see build_session).
    The conf is STATIC — spark.conf.set on a live session throws
    CANNOT_MODIFY_STATIC_CONFIG, and getOrCreate may return a
    pre-existing session that ignores it — but its sole consumer is
    pyspark's Python-side is_debugging_enabled(), which reads it ONCE
    into a module-global cache, so set that cache directly (guarded:
    private attr, best-effort across pyspark versions — on a layout
    change the capture just stays on)."""
    try:
        import pyspark.errors.utils as _perr

        _perr._enable_debugging_cache = False
    except Exception:  # pragma: no cover — future pyspark layout change
        pass


def build_session(
    app_name: str = "arrow-experiments-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    batch_rows: int = DEFAULT_BATCH_ROWS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's SparkSession: ``local[SPARK_GRAFT_CPUS or host
    cores]`` with the engine's static and runtime confs.

    Cache contract: the session keeps up to ``CODEGEN_CACHE_ENTRIES``
    generated classes, so a request that repeats an earlier plan reuses
    its compiled code instead of compiling it again.  The conf is static
    and JVM-global: Spark sizes the cache at the JVM's first codegen, so
    the conf takes effect only if this call creates the session before
    any query ran in the JVM; a session that getOrCreate returns, or an
    earlier session in the same JVM, keeps the size it started with.
    ``extra_conf`` and ``SPARK_GRAFT_EXTRA_CONF`` override it like any
    other conf.

    The Python workers get the package root first on
    ``spark.executorEnv.PYTHONPATH``, ahead of any value ``extra_conf``
    or ``SPARK_GRAFT_EXTRA_CONF`` gives it."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_rows))
        # PySpark's DataFrame-debugging origin capture adds TWO py4j
        # round-trips (PySparkCurrentOrigin set/clear) plus a Python
        # stack walk to EVERY DataFrame API call — measured 40-60% of
        # all plan-construction round-trips (r16: dedup_minhash_estimate
        # build 2134 -> 818 calls with it off).  Driver-side planning
        # cost is scale-independent, so this is production posture, not
        # a local[32] tweak; the only loss is the call-site line in
        # DataFrame error contexts (diagnostic only).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # static and JVM-global: Spark sizes the generated-class cache
        # once, at the JVM's first codegen (see CODEGEN_CACHE_ENTRIES)
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in _RUNTIME_CONF:
        builder = builder.config(k, v)
    # measurement/deployment escape hatch, applied last (see
    # _env_extra_conf), e.g.
    #   SPARK_GRAFT_EXTRA_CONF="spark.sql.adaptive.coalescePartitions.parallelismFirst=false"
    overrides = [*(extra_conf or {}).items(), *_env_extra_conf()]
    for k, v in overrides:
        builder = builder.config(k, v)
    worker_path = dict(overrides).get(_WORKER_PATH_CONF, "")
    builder = builder.config(_WORKER_PATH_CONF, _with_package_root(worker_path))
    sess = builder.getOrCreate()
    _disable_debugging_cache()
    return sess


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-built session (the
    driver owns its own SparkSession; these are all SQL confs).

    Cache contract: the generated-class cache size
    (``spark.sql.codegen.cache.maxEntries``) is static, so it cannot be
    raised here.  When the live value is below ``CODEGEN_CACHE_ENTRIES``
    one warning per SparkContext says so; the session still works, but
    recompiles generated code that falls out of its smaller cache."""
    for k, v in _RUNTIME_CONF:
        spark.conf.set(k, v)
    _disable_debugging_cache()
    probe_once(
        spark.sparkContext, "codegen_cache_size",
        lambda: _warn_small_codegen_cache(spark),
        "the generated-class cache size is not checked",
    )
    # same escape hatch as build_session (r12 ADVICE: the A/B-a-conf-
    # without-a-code-edit workflow must cover driver-owned sessions).
    # Static/core confs cannot be set on a live session — the builder
    # path warns and continues, so this path must too, or the same env
    # var would work against factory sessions and crash against
    # driver-owned ones (and skip the remaining entries).
    import warnings

    for k, v in _env_extra_conf():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001 — static-conf rejection
            warnings.warn(
                f"SPARK_GRAFT_EXTRA_CONF: cannot set {k!r} on a live "
                f"session ({e}); ignored",
                stacklevel=2,
            )
    return spark


_log = logging.getLogger(__name__)

# SparkContext -> {feature: available}; a context's probes die with it
_PROBED: "weakref.WeakKeyDictionary[SparkContext, dict[str, bool]]" = (
    weakref.WeakKeyDictionary()
)
_PROBE_LOCK = threading.Lock()


def probe_once(
    sc: SparkContext, feature: str, probe: Callable[[], list[str]], fallback: str
) -> bool:
    """True when ``feature``'s private Spark entry points all exist.

    ``probe`` returns the entry points it could not find (or raises).
    It runs once per SparkContext and feature; a miss logs one warning
    naming what is missing and ``fallback`` (what the caller does
    instead), and every later call answers from the cache, so callers
    branch on the answer rather than wrapping each use in try/except.
    """
    with _PROBE_LOCK:
        seen = _PROBED.setdefault(sc, {})
        if feature not in seen:
            try:
                missing = probe()
            except Exception as e:  # noqa: BLE001 — any probe failure is a miss
                missing = [f"probe failed: {(str(e) or type(e).__name__).splitlines()[0]}"]
            seen[feature] = not missing
            if missing:
                _log.warning(
                    "%s: %s not found in this Spark build; %s",
                    feature, ", ".join(missing), fallback,
                )
        return seen[feature]


def _warn_small_codegen_cache(spark: SparkSession) -> list[str]:
    """The probe :func:`tune_session` runs once per SparkContext: warn
    when the live generated-class cache is smaller than the engine's.
    The shortfall is a sizing, not a missing entry point, so it logs its
    own warning and reports nothing missing."""
    live = int(spark.conf.get(CODEGEN_CACHE_CONF))
    if live < CODEGEN_CACHE_ENTRIES:
        _log.warning(
            "%s is %d, below the engine's %d: generated classes are "
            "evicted and compiled again on later requests.  The conf is "
            "static; set it to %d when the session is built.",
            CODEGEN_CACHE_CONF, live, CODEGEN_CACHE_ENTRIES,
            CODEGEN_CACHE_ENTRIES,
        )
    return []


_CODEGEN_METRICS = "org.apache.spark.metrics.source.CodegenMetrics"
_CODE_GENERATOR = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"


def codegen_stats(spark: SparkSession) -> tuple[int, float] | None:
    """``(compilations, compile_ms)``: the Janino compilations of
    generated code and their total wall time since the JVM started,
    from Spark's ``CodegenMetrics`` and ``CodeGenerator.compileTime``.
    Both are JVM-global and only grow, so diff two reads around the work
    to count.  A cache hit compiles nothing, so a repeated plan adds 0.
    None (after one logged warning per SparkContext) when this Spark
    build lacks either counter."""
    sc = spark.sparkContext
    if not probe_once(
        sc, "codegen_stats",
        lambda: missing_jvm_methods(sc, [
            (_CODEGEN_METRICS, "METRIC_COMPILATION_TIME"),
            (_CODE_GENERATOR, "compileTime"),
        ]),
        "codegen compilations are not counted",
    ):
        return None
    metrics, generator = (
        reduce(getattr, name.split("."), sc._jvm)
        for name in (_CODEGEN_METRICS, _CODE_GENERATOR)
    )
    n = metrics.METRIC_COMPILATION_TIME().getCount()
    return int(n), generator.compileTime() / 1e6


def missing_jvm_methods(sc: SparkContext, methods: Iterable[tuple]) -> list[str]:
    """The ``(class, method)`` pairs whose public JVM method does not
    exist, as ``Class.method`` strings; ``class`` is a py4j ``Class`` or
    a class name."""
    reflection = sc._jvm.py4j.reflection
    engine = reflection.ReflectionEngine()
    missing = []
    for cls, name in methods:
        if isinstance(cls, str):
            cls = reflection.ReflectionUtil.classForName(cls)
        if engine.getMethod(cls, name) is None:
            missing.append(f"{cls.getName()}.{name}")
    return missing
