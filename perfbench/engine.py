"""The engine process of the benchmark: Spark session, DatasetRegistry and
the threaded ``serve()`` front-end, set up for one workload.

Started by ``run.py``; it reports on a private protocol pipe (its
original stdout; anything else printed to stdout goes to stderr) as JSON
lines, and takes one-word commands on stdin:

  mark   start of the measured window (resets JVM heap peaks)
  stats  reply with this process's counters (and spans when traced)
  quit   shut the servers and the session down and exit
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))


def _setup_serve_replay(spark, registry, args, work: Path) -> dict:
    from arrow_experiments_spark.sources import arrow_ipc
    from arrow_experiments_spark.sources.generators import gen_flight_bench, gen_trading
    from arrow_experiments_spark.tables import table
    from load import table_hash

    trading = arrow_ipc.dictionary_encode_columns(
        gen_trading(spark, rows=args.rows).toArrow(), ["ticker"]
    )
    registry.register_table("trading", trading)
    flight = gen_flight_bench(spark, rows=args.rows).toArrow()
    registry.register_table("flight", flight)
    arrow_ipc.register_dataframe_materialized(
        registry, "lineitem", table(spark, args.data, "lineitem"),
        spill_dir=str(work),
    )
    registry.enable_encoded_artifact("lineitem", str(work / "artifacts"))
    lineitem = registry.reader("lineitem").read_all()
    return {
        name: {"rows": t.num_rows, "hash": table_hash(t),
               "columns": t.column_names}
        for name, t in (("trading", trading), ("flight", flight),
                        ("lineitem", lineitem))
    }


def _setup_queries(spark, registry, args, tracer):
    """Serve the benchmark's queries as ``query.NAME`` datasets and return
    the ad-hoc SQL runner, wired as ``__main__._cmd_serve --queries --sql``
    wires them."""
    from arrow_experiments_spark.registry import all_queries
    from arrow_experiments_spark.sources import arrow_ipc
    from arrow_experiments_spark.tables import TABLE_NAMES, table
    from load import QUERIES

    queries = all_queries()
    for qname in QUERIES:
        q = queries[qname]
        build = tracer.wrap("operators.build", q.build) if tracer else q.build

        def factory(build=build, sf_dir=args.data):
            return arrow_ipc.df_to_reader(build(spark, sf_dir), 4096)

        registry.register(f"query.{qname}", factory, meta={"category": q.category})
    for name in TABLE_NAMES:
        table(spark, args.data, name).createOrReplaceTempView(name)
    return lambda sql: arrow_ipc.df_to_reader(spark.sql(sql))


def _ingest_registry(spark, work: Path, tracer):
    """A registry whose ``POST /ingest/delta`` stages the posted documents
    as parquet and folds them into the curated snapshot with one
    ``incremental_curation_sink`` run before the POST is answered."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from arrow_experiments_spark.streaming import egress
    from arrow_experiments_spark.transport.server import DatasetRegistry

    snapshot = str(work / "curated")

    class IngestRegistry(DatasetRegistry):
        cycle = 0

        def register_table(self, name, table, meta=None):
            super().register_table(name, table, meta)
            if name != "delta":
                return
            staged = work / f"staged-{self.cycle:04d}"
            self.cycle += 1
            staged.mkdir()
            pq.write_table(table, staged / "delta.parquet")
            stream = spark.readStream.schema(from_arrow_schema(table.schema)).parquet(
                str(staged)
            )
            before = _snapshot_files(work)
            egress.incremental_curation_sink(stream, snapshot)
            if tracer is not None:
                after = _snapshot_files(work)
                tracer.count("streaming.egress.files_written", after["new"])
                tracer.count("streaming.egress.rows_committed",
                             after["rows"] - before["rows"])

    registry = IngestRegistry()
    egress.register_snapshot(registry, "curated", snapshot)
    return registry


class _SparkProbe:
    """Spark-side counters for the traced run: the monitoring REST API
    (jobs, stages, executor times), JMX heap peaks, and Catalyst phase
    times of the plans the spill layer executed."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.url = spark.sparkContext.uiWebUrl
        self.app = spark.sparkContext.applicationId
        self.t_mark = time.time()
        self.offset = time.time() - time.perf_counter()

    def mark(self) -> None:
        for pool in self._heap_pools():
            pool.resetPeakUsage()
        self.t_mark = time.time()
        self.offset = time.time() - time.perf_counter()

    def _heap_pools(self):
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]

    def _rest(self, path: str):
        import urllib.request

        with urllib.request.urlopen(f"{self.url}/api/v1/applications/{self.app}/{path}") as r:
            return json.loads(r.read())

    @staticmethod
    def _epoch(stamp: str | None) -> float | None:
        from datetime import datetime, timezone

        if not stamp:
            return None
        dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        return dt.replace(tzinfo=timezone.utc).timestamp()

    def stats(self, tracer, ops: set) -> dict:
        jobs = [j for j in self._rest("jobs")
                if (self._epoch(j.get("submissionTime")) or 0) >= self.t_mark]
        stages = [s for s in self._rest("stages")
                  if (self._epoch(s.get("submissionTime")) or 0) >= self.t_mark]
        builds = [(s[1] + self.offset, s[2] + self.offset) for s in tracer.spans
                  if s[0] == "operators.build" and s[5] in ops]
        build_jobs = sum(
            1 for j in jobs
            if any(a <= self._epoch(j["submissionTime"]) <= b for a, b in builds)
        )
        plan_ms = 0.0
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        for op, df in tracer.frames:
            if op not in ops:
                continue
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            for phase in conv.asJava(qe.tracker().phases()).values():
                plan_ms += phase.durationMs()
        heap = sum(p.getPeakUsage().getUsed() for p in self._heap_pools())
        return {
            "spark.plan_s": plan_ms / 1e3,
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "spark.executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
            "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "spark.shuffle_write_MB": sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6,
            "spark.input_MB": sum(s.get("inputBytes", 0) for s in stages) / 1e6,
            "spark.jvm_heap_peak_MB": heap / 1e6,
            "operators.build_jobs": build_jobs,
        }


def _snapshot_files(work: Path) -> dict:
    """Rows of the committed curated version, and how many of its files
    the commit wrote rather than hard-linked forward."""
    import pyarrow.parquet as pq

    pointer = work / "curated" / "LATEST"
    if not pointer.exists():
        return {"rows": 0, "new": 0}
    files = list((pointer.parent / pointer.read_text().strip()).rglob("*.parquet"))
    return {
        "rows": sum(pq.ParquetFile(p).metadata.num_rows for p in files),
        "new": sum(1 for p in files if p.stat().st_nlink == 1),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True, help="generated table directory")
    ap.add_argument("--work", required=True, help="working directory of this run")
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True, help="trading/flight rows")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)

    def send(obj) -> None:
        proto.write(json.dumps(obj) + "\n")

    work = Path(args.work)
    t0 = time.perf_counter()
    tracer = None
    if args.trace:
        from spans import Tracer, install

        tracer = Tracer()
        install(tracer)

    from arrow_experiments_spark.session import build_session
    from arrow_experiments_spark.transport.server import DatasetRegistry, serve

    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # keep the JVM's temp files, perf counters included, in the run's dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    spark = build_session(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.perf_counter()

    sql_runner = None
    sockets_server = None
    expect: dict = {}
    if args.workload == "serve_replay":
        registry = DatasetRegistry()
        expect = _setup_serve_replay(spark, registry, args, work)
        from arrow_experiments_spark.transport.sockets import DissociatedSocketServer

        sockets_server = DissociatedSocketServer(registry)
        sockets_server.init()
    elif args.workload == "query_ingest":
        registry = _ingest_registry(spark, work, tracer)
        sql_runner = _setup_queries(spark, registry, args, tracer)
    else:
        raise SystemExit(f"unknown workload {args.workload!r}")
    httpd = serve(registry, sql_runner=sql_runner)
    probe = _SparkProbe(spark) if args.trace else None
    send({
        "ready": True,
        "port": httpd.server_address[1],
        "sockets_port": sockets_server.address[1] if sockets_server else None,
        "session_s": t_session - t0,
        "setup_s": time.perf_counter() - t0,
        "expect": expect,
    })

    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "mark":
            if probe is not None:
                probe.mark()
            send({"marked": True})
        elif cmd.startswith("stats"):
            ops = set(json.loads(cmd[len("stats"):] or "[]"))
            out: dict = {}
            if tracer is not None:
                out["spark"] = probe.stats(tracer, ops)
                out["spans"] = tracer.spans
                out["counts"] = [[k[0], k[1], v] for k, v in tracer.counts.items()]
            send(out)
        elif cmd == "quit":
            break
    httpd.shutdown()
    httpd.server_close()
    if sockets_server is not None:
        sockets_server.shutdown()
    spark.stop()
    send({"bye": True})
    return 0


if __name__ == "__main__":
    sys.exit(main())
