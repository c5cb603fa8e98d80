"""Benchmark of the engine's three user-facing uses, run from outside it.

  python3 perfbench/run.py --workload serve_replay --seed 1 --seconds 10 --trace 0

One client process (this one) drives one engine process (engine.py)
over loopback.  Prints a readable report, then, as its last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced
run with ``--trace 1``).  Exits nonzero when any result is wrong.  See
README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import load  # noqa: E402

WORKLOADS = ("serve_replay", "query_ingest")
DATA_SEED = 42  # tables are fixed; --seed drives request order and deltas
UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "latency_p50_s": "s",
    "latency_tail_s": "s", "first_batch_p50_s": "s", "arrow_MBps": "MB/s",
    "wire_bytes_ratio": "ratio", "cpu_s_per_op": "s", "peak_rss_MB": "MB",
}
# query_ingest: shares of the documents table that seed the snapshot and
# that each delta brings new, and the share of a delta's size that
# re-delivers already-ingested documents
SEED_SHARE, DELTA_SHARE, REDELIVER = 0.3, 0.03, 0.15
GETS_PER_CYCLE = 4


class Engine:
    """The engine subprocess and its JSON-lines protocol."""

    def __init__(self, args, work: Path, data: Path, cpus: int, rows: int) -> None:
        self.log = open(work / "engine.log", "w")
        # every temp file of the engine, the JVM and Spark's launcher stays
        # in the run's directory
        env = dict(os.environ, TMPDIR=str(work / "tmp"),
                   SPARK_LOCAL_DIRS=str(work / "spark-local"),
                   SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")
        (work / "tmp").mkdir()
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "engine.py"), "--workload", args.workload,
             "--data", str(data), "--work", str(work), "--cpus", str(cpus),
             "--rows", str(rows), "--trace", str(args.trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, start_new_session=True, cwd=str(ROOT), env=env,
        )
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line)
        self._lines.put(None)

    def recv(self, timeout: float) -> dict:
        line = self._lines.get(timeout=timeout)
        if line is None:
            raise RuntimeError(f"engine exited (code {self.proc.wait()}); "
                               f"see {self.log.name}")
        return json.loads(line)

    def ask(self, cmd: str, timeout: float = 60) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.recv(timeout)

    def tree_cpu_s(self) -> float:
        """CPU seconds of every process in the engine's session: its
        Python process, the JVM and Spark's Python workers (reaped
        workers count through their parent's cumulative times)."""
        tick = os.sysconf("SC_CLK_TCK")
        total = 0
        for pid in _session_pids(self.proc.pid):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in rest[11:15])
        return total / tick

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM for the engine process")

    def stop(self) -> None:
        try:
            if self.proc.poll() is None:
                self.ask("quit", timeout=60)
                self.proc.wait(timeout=60)
        except (OSError, RuntimeError, queue.Empty, subprocess.TimeoutExpired):
            pass
        finally:
            _kill_session(self.proc.pid)
            if self.proc.poll() is None:
                self.proc.kill()
            self.proc.wait()
            self.log.close()


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(rest[3]) == sid:
            pids.append(int(d))
    return pids


def _kill_session(sid: int) -> None:
    """Stop every process left in the engine's session and wait until
    they are gone (the JVM and its workers are not our children)."""
    deadline = time.monotonic() + 30
    sig = signal.SIGTERM
    while True:
        pids = [p for p in _session_pids(sid) if p != sid]
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


# ---- workload runners ----------------------------------------------------


def _timed_op(op, body) -> None:
    """Run ``body(op)``, recording wall, thread CPU and any failure."""
    c0 = time.thread_time()
    op.t_start = time.perf_counter()
    try:
        body(op)
    except Exception as e:  # noqa: BLE001 - every failure is counted, not fatal
        op.error = f"{type(e).__name__}: {e}"[:300]
    op.t_end = time.perf_counter()
    op.cpu_s = time.thread_time() - c0


class ServeReplay:
    connections = 2

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.expect = ctx.ready["expect"]

    def warm(self, rng) -> list:
        # one deck holds every (dataset, coding) pair, so it fills every
        # replay cache and encoded artifact
        return self._run(rng, "w", seconds=0, max_decks=1)

    def measure(self, rng, seconds: float, max_decks) -> list:
        return self._run(rng, "m", seconds, max_decks)

    def _run(self, rng, phase: str, seconds: float, max_decks) -> list:
        cols = {ds: self.expect[ds]["columns"] for ds in self.expect}
        decks = load.Decks(lambda: load.serve_deck(rng, cols), seconds, max_decks)
        ops: list = []

        def worker(tid: int) -> None:
            client = load.Client(self.ctx.ready["port"])
            i = 0
            while (spec := decks.next()) is not None:
                op = load.Op(f"{phase}{tid}.{i}", load.serve_kind(spec))
                i += 1
                _timed_op(op, lambda op: op.fetches.append(self._fetch(client, spec, op)))
                ops.append(op)

        threads = [threading.Thread(target=worker, args=(t,)) for t in range(self.connections)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return ops

    def _fetch(self, client, spec, op):
        rows = self.expect[spec["ds"]]["rows"]
        if spec["kind"] == "sockets":
            f = load.socket_fetch(self.ctx.ready["sockets_port"], spec["ds"])
        else:
            f = client.get(load.serve_path(spec), spec["strategy"], op.op_id)
            rows = min(rows, spec.get("limit", rows))
        if f.rows != rows:
            raise load.WrongResult(f"{spec}: {f.rows} rows, expected {rows}")
        return f

    def verify(self) -> list[str]:
        """Content hash of every (dataset, coding) against the table the
        engine registered."""
        client = load.Client(self.ctx.ready["port"])
        errors = []
        try:
            for ds, want in self.expect.items():
                for s in load.CODINGS:
                    f = client.get(f"/datasets/{ds}", s, "v", keep=True)
                    if load.table_hash(f.table) != want["hash"]:
                        errors.append(f"{ds}/{s}: content hash differs")
        finally:
            client.close()
        return errors

    def verify_offline(self) -> list[str]:
        return []


class QueryIngest:
    """Registered queries and ad-hoc SQL delivered as Arrow, beside
    deltas that the curation funnel folds into the served snapshot."""

    connections = 2

    def __init__(self, ctx) -> None:
        import numpy as np
        from datagen import documents_table

        self.ctx = ctx
        docs = documents_table(np.random.default_rng(DATA_SEED), ctx.n_docs)
        self.docs = docs.select(["doc_id", "source", "text", "n_chars"])
        self.order = list(range(self.docs.num_rows))
        random.Random(ctx.seed).shuffle(self.order)
        self.next_new = 0
        self.delta_docs = round(DELTA_SHARE * ctx.n_docs)
        self.ref = load.CurationReference()
        self.client = load.Client(ctx.ready["port"])
        self.kept: dict[str, object] = {}

    def _take(self, n: int) -> list[int]:
        out = self.order[self.next_new:self.next_new + n]
        self.next_new += len(out)
        return out

    def _delta(self, rng):
        new = self._take(self.delta_docs)
        again = rng.sample(self.order[:self.next_new - len(new)],
                           round(REDELIVER * self.delta_docs))
        return self.docs.take(new + again)

    def _deck(self, rng) -> list[dict] | None:
        """One delta POST, then the curated snapshot read back at once,
        then the rest of the deck in seeded order: three more snapshot
        reads and every query once."""
        if self.next_new + self.delta_docs > len(self.order):
            return None
        rest = [{"kind": "curated", "strategy": ("zstd", "identity")[i % 2]}
                for i in range(GETS_PER_CYCLE - 1)] + load.query_deck(rng)
        rng.shuffle(rest)
        return [{"kind": "post", "delta": self._delta(rng)},
                {"kind": "curated", "strategy": "identity"}, *rest]

    def warm(self, rng) -> list:
        seed = self.docs.take(self._take(round(SEED_SHARE * self.ctx.n_docs)))
        deck = [{"kind": "post", "delta": seed}, {"kind": "curated", "strategy": "identity"}]
        deck += [{"kind": "post", "delta": self._delta(rng)},
                 {"kind": "curated", "strategy": "identity"}]
        deck += load.query_deck(rng)
        return [self._op(spec, f"w{i}") for i, spec in enumerate(deck)]

    def measure(self, rng, seconds: float, max_decks) -> list:
        """Whole decks until the window has lasted ``seconds``."""
        ops = []
        t0 = time.perf_counter()
        n = 0
        while not ops or (time.perf_counter() - t0 < seconds and n != max_decks):
            deck = self._deck(rng)
            if deck is None:
                break
            n += 1
            ops += [self._op(spec, f"m{len(ops) + i}") for i, spec in enumerate(deck)]
        return ops

    def _op(self, spec: dict, op_id: str):
        op = load.Op(op_id, spec.get("name", spec["kind"]))
        _timed_op(op, lambda op: self._request(spec, op))
        return op

    def _request(self, spec: dict, op) -> None:
        c = self.client
        if spec["kind"] == "post":
            f, ack = c.post("/ingest/delta", spec["delta"], op.op_id)
            op.fetches.append(f)
            if ack.get("rows") != spec["delta"].num_rows:
                raise load.WrongResult(f"ingest ack {ack}")
            self.ref.apply(spec["delta"])
        elif spec["kind"] == "curated":
            f = c.get("/datasets/curated", spec["strategy"], op.op_id, keep=True)
            op.fetches.append(f)
            self._check_snapshot(f.table)
            f.table = None
        else:
            keep = op.op_id.startswith("m") and spec["name"] not in self.kept
            f = c.get(spec["path"], spec["strategy"], op.op_id, keep=keep)
            op.fetches.append(f)
            want = self.ctx.oracle[spec["name"]][1]
            if f.rows != want:
                raise load.WrongResult(f"{spec['name']}: {f.rows} rows, oracle {want}")
            if keep:
                self.kept[spec["name"]] = f.table
                f.table = None

    def _check_snapshot(self, table) -> None:
        got = dict(zip(table.column("content_hash").to_pylist(),
                       table.column("doc_id").to_pylist()))
        if table.num_rows != len(got) or got != self.ref.snapshot:
            raise load.WrongResult(
                f"curated snapshot ({table.num_rows} rows) differs from the "
                f"reference funnel ({len(self.ref.snapshot)} rows)")

    def verify(self) -> list[str]:
        """The final snapshot against the batch funnel over every
        delivered document."""
        errors = []
        f = self.client.get("/datasets/curated", "identity", "v", keep=True)
        hashes = f.table.column("content_hash").to_pylist()
        if set(hashes) != self.ref.batch_funnel_hashes():
            errors.append("final snapshot differs from the batch funnel")
        if any(load.content_hash(t) != h
               for t, h in zip(f.table.column("text").to_pylist(), hashes)):
            errors.append("content_hash column is not md5(text)")
        self.client.close()
        return errors

    def verify_offline(self) -> list[str]:
        """Each query's first measured result against its DuckDB oracle."""
        return [f"{name}: result differs from its DuckDB oracle"
                for name, table in self.kept.items()
                if load.canonical_hash(table) != self.ctx.oracle[name]]


RUNNERS = {"serve_replay": ServeReplay, "query_ingest": QueryIngest}


# ---- metrics -------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile).  Below 20 samples no percentile above the
    median has ten beyond it, and the median stands in."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return statistics.median(xs), 50.0
    return xs[n - 11], 100.0 * (n - 10) / n


def end_to_end(ops, window_s, setup_s, cpu_s, rss_mb) -> tuple[dict, dict]:
    done = [op for op in ops if not op.error]
    lat = [op.wall for op in done]
    fetches = [f for op in done for f in op.fetches]
    firsts = [f.t_first - f.t_start for f in fetches if f.t_first is not None]
    arrow = sum(f.arrow_bytes for f in fetches)
    tail_v, tail_p = tail(lat)
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": len(done) / window_s,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail_v,
        "first_batch_p50_s": statistics.median(firsts),
        "arrow_MBps": arrow / window_s / 1e6,
        "wire_bytes_ratio": sum(f.wire_bytes for f in fetches) / arrow,
        "cpu_s_per_op": cpu_s / len(ops),
        "peak_rss_MB": rss_mb,
    }
    return metrics, {"tail_percentile": tail_p, "samples": len(lat)}


def per_layer(ops, stats, client_cpu_s) -> tuple[dict, list]:
    """Per-layer metrics of a traced run: self time per measured op for
    every span layer, counters per op, and the trace's own figures."""
    from spans import Tracer

    measured = {op.op_id for op in ops}
    n = len(ops)
    tr = Tracer()
    tr.spans = stats["spans"]
    selfs = tr.self_times()
    by_layer: dict[str, float] = {}
    attributed = 0.0
    for span, s in zip(tr.spans, selfs):
        if span[5] in measured:
            by_layer[span[0]] = by_layer.get(span[0], 0.0) + s
            if span[0] not in ("transport.server.handler", "transport.server.ingest"):
                attributed += s
    counts: dict[str, float] = {}
    for name, op, v in stats["counts"]:
        if op in measured:
            counts[name] = counts.get(name, 0.0) + v
    fill_s = sum(s for span, s in zip(tr.spans, selfs)
                 if span[0] == "transport.server.cache_fill")
    fill_mb = sum(v for name, _, v in stats["counts"] if name == "transport.server.cache_MB")
    walls = sum(op.wall for op in ops)
    handler_busy = sum(span[3] for span in tr.spans if span[5] in measured and span[0] in
                       ("transport.server.handler", "transport.server.ingest"))
    fetches = [f for op in ops for f in op.fetches]
    socket_f = [f for f in fetches if f.kind == "sockets"]
    socket_s = sum(f.t_end - f.t_start for f in socket_f)
    rows_in = counts.get("streaming.egress.rows_in", 0.0)
    rows_kept = counts.get("streaming.egress.rows_committed", 0.0)
    lookups = counts.get("transport.server.cache_lookups", 0.0)
    spark = stats["spark"]
    m = {
        "transport.server.handler_s": by_layer.get("transport.server.handler", 0.0) / n,
        "transport.server.headers_s": sum(f.t_headers - f.t_start for f in fetches) / n,
        "transport.server.cache_fill_s": fill_s,
        "transport.server.cache_hit_ratio":
            counts.get("transport.server.cache_hits", 0.0) / lookups if lookups else 0.0,
        "transport.server.cache_MB": fill_mb,
        "transport.server.ingest_s": by_layer.get("transport.server.ingest", 0.0) / n,
        "transport.server.ingest_MB": counts.get("transport.server.ingest_MB", 0.0) / n,
        "transport.negotiation.busy_s": by_layer.get("transport.negotiation", 0.0) / n,
        "transport.negotiation.calls": counts.get("transport.negotiation.calls", 0.0) / n,
        "transport.ipc_stream.encode_s": by_layer.get("transport.ipc_stream.encode", 0.0) / n,
        "transport.ipc_stream.encode_MB_in":
            counts.get("transport.ipc_stream.encode_MB_in", 0.0) / n,
        "transport.ipc_stream.encode_MB_out":
            counts.get("transport.ipc_stream.encode_MB_out", 0.0) / n,
        "transport.ipc_stream.send_s": by_layer.get("transport.ipc_stream.send", 0.0) / n,
        "transport.client.cpu_s": client_cpu_s / n,
        "transport.client.wait_s": (walls - client_cpu_s) / n,
        "transport.client.bytes_received": sum(f.wire_bytes for f in fetches) / n,
        "transport.multipart.encode_s":
            by_layer.get("transport.multipart.encode", 0.0) / n,
        "transport.sockets.fetch_s": socket_s / n,
        "transport.sockets.MBps":
            sum(f.arrow_bytes for f in socket_f) / socket_s / 1e6 if socket_s else 0.0,
        "sources.arrow_ipc.spill_s": by_layer.get("sources.arrow_ipc.spill", 0.0) / n,
        "sources.arrow_ipc.stream_s": by_layer.get("sources.arrow_ipc.stream", 0.0) / n,
        "sources.arrow_ipc.spill_files":
            counts.get("sources.arrow_ipc.spill_files", 0.0) / n,
        "sources.arrow_ipc.spill_MB": counts.get("sources.arrow_ipc.spill_MB", 0.0) / n,
        "operators.build_s": by_layer.get("operators.build", 0.0) / n,
        "operators.build_jobs": spark["operators.build_jobs"] / n,
        **{k: v / n for k, v in spark.items()
           if k not in ("operators.build_jobs", "spark.jvm_heap_peak_MB")},
        "spark.jvm_heap_peak_MB": spark["spark.jvm_heap_peak_MB"],
        "streaming.egress.batch_s": by_layer.get("streaming.egress.batch", 0.0) / n,
        "streaming.egress.add_batch_s":
            counts.get("streaming.egress.add_batch_s", 0.0) / n,
        "streaming.egress.planning_s": counts.get("streaming.egress.planning_s", 0.0) / n,
        "streaming.egress.commit_s": counts.get("streaming.egress.commit_s", 0.0) / n,
        "streaming.egress.rows_in": rows_in / n,
        "streaming.egress.rows_committed": rows_kept / n,
        "streaming.egress.survivor_ratio": rows_kept / rows_in if rows_in else 0.0,
        "streaming.egress.files_written":
            counts.get("streaming.egress.files_written", 0.0) / n,
        "streaming.egress.snapshot_read_s":
            by_layer.get("streaming.egress.snapshot_read", 0.0) / n,
        "trace.latency_p50_s": statistics.median(op.wall for op in ops),
        # share of op wall that a named layer (not the handler's own
        # residue) accounts for, client time outside the handler included
        "trace.attributed_share": (attributed + walls - handler_busy) / walls,
        "trace.spans": len(tr.spans),
    }
    rows = [{"name": s[0], "start": s[1], "end": s[2], "busy": s[3], "self": sf,
             "parent": s[4], "op": s[5], "process": "engine"}
            for s, sf in zip(tr.spans, selfs)]
    for op in ops:
        rows.append({"name": f"client.{op.kind}", "start": op.t_start, "end": op.t_end,
                     "busy": op.wall, "self": None, "parent": None, "op": op.op_id,
                     "process": "client"})
    return m, rows


# ---- main ----------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.01 data and at most two decks: the self-test's size")
    args = ap.parse_args(argv)

    try:
        import arrow_experiments_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    sf = 0.01 if args.smoke else 0.1
    rows = 100_000 if args.smoke else 1_000_000
    max_decks = 2 if args.smoke else None
    base = ROOT / ".perfbench"
    work = base / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    ctx = SimpleNamespace(seed=args.seed, n_docs=int(50_000 * sf))
    rng = random.Random(args.seed)
    engine = stopper = None
    try:
        t0 = time.perf_counter()
        data = work / "data"
        from datagen import generate

        generate(str(data), sf, DATA_SEED)
        engine = Engine(args, work, data, cpus, rows)
        if args.workload == "query_ingest":
            ctx.oracle = oracles(data)
        ctx.ready = engine.recv(timeout=170)
        t_ready = time.perf_counter()
        runner = RUNNERS[args.workload](ctx)
        warm = runner.warm(rng)
        bad = [op.error for op in warm if op.error]
        if bad:
            raise RuntimeError(f"warm-up failed: {bad[0]}")
        setup_s = time.perf_counter() - t0

        engine.ask("mark")
        cpu0 = engine.tree_cpu_s() + _own_cpu()
        w0 = time.perf_counter()
        ops = runner.measure(rng, args.seconds, max_decks)
        window_s = time.perf_counter() - w0
        cpu_s = engine.tree_cpu_s() + _own_cpu() - cpu0
        rss_mb = engine.peak_rss_mb()
        stats = engine.ask("stats" + json.dumps([op.op_id for op in ops]), timeout=170)
        errors = [f"{op.op_id}: {op.error}" for op in ops if op.error]
        errors += runner.verify()
        # the remaining checks need only the client: overlap them with the
        # engine's shutdown
        stopper = threading.Thread(target=engine.stop)
        stopper.start()
        errors += runner.verify_offline()
    finally:
        if stopper is not None:
            stopper.join()
        if engine is not None:
            engine.stop()
        shutil.rmtree(work, ignore_errors=True)
    attempted = len(ops) + _n_checks(args.workload, runner)
    failed = len(errors)
    e2e, extra = end_to_end(ops, window_s, setup_s, cpu_s, rss_mb)
    print(f"workload={args.workload} seed={args.seed} cpus={cpus} sf={sf} "
          f"trace={args.trace} window_s={window_s:.3f} ops={len(ops)}")
    print(f"  setup: engine ready after {t_ready - t0:.2f} s (Spark session "
          f"{ctx.ready['session_s']:.2f} s, engine setup {ctx.ready['setup_s']:.2f} s), "
          f"warm-up {setup_s - (t_ready - t0):.2f} s")
    for name, value in e2e.items():
        print(f"  {name:20s} {value:12.6g} {UNITS[name]}")
    print(f"  latency_tail_s is p{extra['tail_percentile']:.1f} of "
          f"N={extra['samples']} op latencies")
    kinds: dict[str, list[float]] = {}
    for op in ops:
        kinds.setdefault(op.kind, []).append(op.wall)
    print("  median latency by op kind: " + ", ".join(
        f"{k} {statistics.median(v):.3f} s (n={len(v)})" for k, v in sorted(kinds.items())))
    print(f"  error_rate           {failed / attempted:12.6g} ratio "
          f"({failed} of {attempted})")
    for e in errors[:10]:
        print(f"  ERROR {e}")
    if args.trace:
        client_cpu = sum(op.cpu_s for op in ops)
        metrics, span_rows = per_layer(ops, stats, client_cpu)
        out = base / "traces" / f"{args.workload}-seed{args.seed}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps({"workload": args.workload, "seed": args.seed,
                                   "cpus": cpus, "layers": metrics,
                                   "spans": span_rows}))
        for name, value in metrics.items():
            print(f"  {name:40s} {value:12.6g}")
        print(f"  trace written to {out.relative_to(ROOT)}")
        result = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        result = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0 if failed == 0 else 1


def _own_cpu() -> float:
    t = os.times()
    return t.user + t.system


def _n_checks(workload: str, runner) -> int:
    if workload == "serve_replay":
        return len(runner.expect) * len(load.CODINGS)
    return len(runner.kept) + 2


def oracles(data: Path) -> dict:
    """DuckDB oracle digest and row count of every served query."""
    from arrow_experiments_spark.oracle import duck_connection
    from arrow_experiments_spark.registry import all_queries

    con = duck_connection(str(data))
    con.execute("SET threads TO 2")
    queries = all_queries()
    sqls = {name: queries[name].oracle_sql(None, str(data)) for name in load.QUERIES}
    sqls.update(load.SQL)
    out = {name: load.duck_hash(con, sql) for name, sql in sqls.items()}
    con.close()
    return out


def layer_unit(name: str) -> str:
    if name.endswith("MBps"):
        return "MB/s"
    if "_MB" in name:
        return "MB"
    for suffix, unit in (("_s", "s"), ("_ratio", "ratio"), ("_share", "ratio"),
                         ("bytes_received", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
