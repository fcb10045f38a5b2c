"""memo-spark benchmark: drives the engine from outside and checks every answer.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Workloads (BENCHMARK.json says why each was chosen):

- ``ingest``: ``cli.main`` called in-process on a warm session over a
  1,000-record YAML store. Each cycle saves 25 entries (20 appends, 5
  overwrites, some of them tombstones), then runs two recalls, one
  ``analyze --stats`` and one ``analyze --fields`` page; one reindex
  closes the run.
- ``ann_batch``: one pass over five registry queries on generated
  ``documents`` and ``embeddings`` tables, checked against their DuckDB
  ``oracle_sql()`` twins.

One client sends ops in a closed loop: the next op starts only after
the previous one returned. Spark runs ``local[nproc]``. Cycles run
until their ops' summed wall time reaches ``--seconds``; a started
cycle is finished, so every run sends whole cycles. The last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: ``--trace 0`` reports the end-to-end metrics, ``--trace
1`` wraps the layer entry points with spans (trace.py), reports the
per-layer metrics and writes its spans to ``.bench_out/``.

Each run builds its stores under a fresh directory in ``.bench_tmp/``
and removes it at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import importlib
import io
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import trace as tr  # noqa: E402

WORKLOADS = ("ingest", "ann_batch")
INGEST_RECORDS = 1000
MAX_CYCLES = 30
WARM_UP_CYCLES = 1  # ingest cycles run before measuring, so the JIT has warmed
DOCS, EMBS = 1000, 500
ANN_QUERIES = ["recall_topk_int", "sim_ivf_batch", "dedup_minhash_pairs",
               "dedup_semdedup_pairs", "dedup_components"]
PARSE_LIMIT = 4 << 20  # yaml_io.DISTRIBUTED_PARSE_BYTES
DEADLINE_S = 140  # leaves time to stop Spark before the 180 s limit

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "cycle_ms": "ms", "driver_rss_mb": "MB"}
PER_LAYER = {
    "session.import_ms": "ms", "session.start_ms": "ms",
    "jvm.peak_rss_mb": "MB", "jvm.live_heap_mb": "MB",
    "op.recall_ms": "ms", "op.analyze_ms": "ms", "op.save_ms": "ms", "op.reindex_ms": "ms",
    "yaml_io.load_ms": "ms", "yaml_io.load_jobs": "count", "yaml_io.dump_ms": "ms",
    "yaml_io.dump_bytes": "bytes", "yaml_io.batch_parse_ms": "ms",
    "embed.index_write_ms": "ms", "embed.rows_per_saved_row": "ratio",
    "embed.index_reuse_ratio": "ratio",
    "recall.exec_ms": "ms", "recall.jobs": "count", "recall.tasks": "count",
    "filters.compile_ms": "ms", "analyze.exec_ms": "ms", "analyze.jobs": "count",
    "save.exec_ms": "ms", "reindex.exec_ms": "ms",
    "mutate.jobs": "count", "mutate.validate_ms": "ms", "fmt.ms": "ms",
    "store.bytes_per_user_byte": "ratio",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.single_task_stages": "count", "spark.leaked_rdds": "count",
    **{f"{q}.{m}": u for q in ANN_QUERIES for m, u in
       (("ms", "ms"), ("jobs", "count"), ("tasks", "count"), ("leaked_rdds", "count"))},
    "trace.overhead_ratio": "ratio",
}


class BenchError(RuntimeError):
    pass


class Stopped(BaseException):
    """Raised by the SIGALRM/SIGTERM handler; a BaseException so the
    per-op ``except Exception`` does not count it as a failed op."""


def calibrate() -> float:
    """Host-speed probe: the same fixed pure-Python loop as bench.py's
    ``calibrate``, min of 3."""
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        acc = 0
        for i in range(3_000_000):
            acc += i * i
        best = min(best, time.time() - t0)
    return round(best, 4)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def describe_store(label: str, yaml_path: str, n: int) -> None:
    size = os.path.getsize(yaml_path)
    side = "distributed" if size >= PARSE_LIMIT else "driver"
    print(f"store {label}: records={n} yaml_bytes={size} parse={side} "
          f"(limit {PARSE_LIMIT} bytes)")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Bench:
    """One run: its scratch directory, Spark session, op log and checks."""

    def __init__(self, args):
        self.args = args
        self.traced = bool(args.trace)
        os.makedirs(os.path.join(ROOT, ".bench_tmp"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".bench_tmp"))
        self.attempted = 0
        self.failures: list[str] = []
        self.lat: dict[str, list[float]] = {}
        self.measured: list[float] = []
        self.cycles: list[list[float]] = []
        self.setup: dict[str, float] = {}
        self.layer: dict[str, list[float]] = {}
        self.leaked = 0
        self.spark = None
        self.tracer = None
        self.cli = None

    # -- program start -------------------------------------------------
    def start(self, module: str):
        """Import the program's entry module and start its Spark session
        (both part of setup_s); returns the module."""
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])])
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        # keep every temporary file of this process, the JVM and its
        # Python workers inside the run's directory
        os.environ["TMPDIR"] = tempfile.tempdir = self.tmp
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={self.tmp}",
            "-XX:-UsePerfData"]))
        os.chdir(self.tmp)
        sys.path.insert(0, ROOT)
        t0 = time.perf_counter()
        try:
            mod = importlib.import_module(module)
            from c99_vectordb_spark.session import get_spark
        except ImportError as e:
            raise BenchError(f"cannot import the program from {ROOT}: {e}") from e
        t1 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}")
        t2 = time.perf_counter()
        self.setup["session.import_ms"] = (t1 - t0) * 1000
        self.setup["session.start_ms"] = (t2 - t1) * 1000
        if self.traced:
            self.tracer = tr.Tracer(self.spark.sparkContext)
            tr.install(self.tracer)
        return mod

    def stop(self) -> None:
        """Stop Spark, its JVM and the JVM's Python workers, and wait."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        jvm_pid = gateway.proc.pid if gateway is not None else None
        stragglers = _descendants(os.getpid())
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — must not leave the JVM behind
                gateway.proc.kill()
                gateway.proc.wait()
        for pid in stragglers:
            if pid != jvm_pid:
                _kill_and_wait(pid)

    def memory(self) -> None:
        """Peak resident memory of this process and the JVM it started."""
        from pyspark import SparkContext

        py = vm_hwm_mb(os.getpid())
        jvm = vm_hwm_mb(SparkContext._gateway.proc.pid) if SparkContext._gateway else 0.0
        rt = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        live = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
        print(f"memory python_hwm_mb={py:.1f} jvm_hwm_mb={jvm:.1f} jvm_live_heap_mb={live:.1f}")
        self.setup.update({"driver_rss_mb": py, "jvm.peak_rss_mb": jvm, "jvm.live_heap_mb": live})

    # -- ops -----------------------------------------------------------
    def op(self, verb: str, run, expected, measured: bool = True):
        """Run one op, time it, check it. ``expected(result, stdout,
        stderr)`` returns None for a correct answer, else a problem."""
        self.attempted += 1
        leaked_before = self._persisted() if self.traced else 0
        out = io.StringIO()
        err = io.StringIO()
        problem = None
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
                if self.tracer is not None:
                    with self.tracer.op(verb, measured):
                        result = run()
                else:
                    result = run()
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            result = None
            problem = traceback.format_exc(limit=3).strip().splitlines()[-1]
        dt = time.perf_counter() - t0
        if self.traced:
            leaked = max(0, self._persisted() - leaked_before)
            self.tracer.ops[-1]["leaked_rdds"] = leaked
            if measured:
                self.leaked += leaked
        if problem is None:
            problem = expected(result, out.getvalue(), err.getvalue())
        if problem is not None:
            self.failures.append(f"{verb}: {problem}")
        if measured:
            self.lat.setdefault(verb, []).append(dt)
            self.measured.append(dt)
        return dt

    def _persisted(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    def cli_op(self, verb: str, argv: list[str], want: str, measured: bool = True):
        def run():
            return self.cli.main(argv)

        def check(rc, out, err):
            if rc != 0:
                return f"exit code {rc}: {err.strip()[:200]}"
            if out != want:
                return f"output differs from the oracle: {_first_diff(out, want)}"
            return None

        return self.op(verb, run, check, measured)

    def check_store(self, base: str, store: list[dict]) -> None:
        """The persisted store, checked once at the end, counts as one op."""
        self.attempted += 1
        problems = oracle.check_store(base + ".yaml", base + ".emb", store)
        if problems:
            self.failures.append("store: " + "; ".join(problems))

    def budget_left(self) -> bool:
        return sum(self.measured) < self.args.seconds

    @contextlib.contextmanager
    def cycle(self):
        """Record the latencies of the measured ops run inside."""
        first = len(self.measured)
        yield
        if len(self.measured) > first:
            self.cycles.append(self.measured[first:])

    def cycle_ms(self) -> float:
        """One cycle's time: for each op position the fastest of its
        measured repeats, summed. Every cycle sends the same op kinds,
        and slowdowns from other work on the host only ever add time,
        so the fastest repeat is the steadiest estimate of each op."""
        return sum(min(ops) for ops in zip(*self.cycles)) * 1000 if self.cycles else 0.0

    # -- results -------------------------------------------------------
    def result(self) -> dict:
        failed = len(self.failures)
        if self.traced:
            metrics, units = self.per_layer(), PER_LAYER
        else:
            n = len(self.measured)
            metrics, units = {
                "setup_s": self.setup.get("setup_s", 0.0),
                "ops_per_s": n / sum(self.measured) if n else 0.0,
                "cycle_ms": self.cycle_ms(),
                "driver_rss_mb": self.setup.get("driver_rss_mb", 0.0),
            }, END_TO_END
        return {"correct": failed == 0 and self.attempted > 0, "attempted": self.attempted,
                "failed": failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}}

    def per_layer(self) -> dict:
        t = self.tracer
        self_s = t.self_times()
        measured = {o["op"] for o in t.ops if o["measured"]}
        ops = [o for o in t.ops if o["measured"]]
        spans = [s for s in t.spans if s["op"] in measured]
        per_op: dict[str, dict[int, list]] = {}
        for s in spans:
            acc = per_op.setdefault(s["name"], {}).setdefault(s["op"], [0.0, 0, 0])
            acc[0] += self_s[s["id"]]
            acc[1] += s.get("jobs", 0)
            acc[2] += s.get("tasks", 0)

        def ms(name):
            xs = [v[0] for v in per_op.get(name, {}).values()]
            return statistics.median(xs) * 1000 if xs else 0.0

        def mean(name, i):
            xs = [v[i] for v in per_op.get(name, {}).values()]
            return sum(xs) / len(xs) if xs else 0.0

        def op_ms(verb):
            xs = [o["wall_s"] for o in ops if o["name"] == verb]
            return statistics.median(xs) * 1000 if xs else 0.0

        n_ops = max(1, len(ops))
        m = {k: v for k, v in self.setup.items() if k in PER_LAYER}
        m.update({
            "op.recall_ms": op_ms("recall"), "op.analyze_ms": op_ms("analyze"),
            "op.save_ms": op_ms("save"), "op.reindex_ms": op_ms("reindex"),
            "yaml_io.load_ms": ms("yaml_io.load"), "yaml_io.load_jobs": mean("yaml_io.load", 1),
            "yaml_io.dump_ms": ms("yaml_io.dump"), "yaml_io.batch_parse_ms": ms("yaml_io.batch_parse"),
            "embed.index_write_ms": ms("embed.index_write"),
            "recall.exec_ms": ms("recall"), "recall.jobs": mean("recall", 1),
            "recall.tasks": mean("recall", 2),
            "filters.compile_ms": ms("filters.compile"), "analyze.exec_ms": ms("analyze"),
            "analyze.jobs": mean("analyze", 1), "save.exec_ms": ms("save"),
            "reindex.exec_ms": ms("reindex"), "mutate.jobs": mean("mutate.validate", 1),
            "mutate.validate_ms": ms("mutate.validate"), "fmt.ms": ms("fmt"),
            "spark.jobs_per_op": sum(s.get("jobs", 0) for s in spans) / n_ops,
            "spark.tasks_per_op": sum(s.get("tasks", 0) for s in spans) / n_ops,
            "spark.single_task_stages": sum(s.get("single_task_stages", 0) for s in spans) / n_ops,
            "spark.leaked_rdds": self.leaked,
        })
        for q in ANN_QUERIES:
            m[f"{q}.ms"] = ms(f"op.{q}")
            m[f"{q}.jobs"] = mean(f"op.{q}", 1)
            m[f"{q}.tasks"] = mean(f"op.{q}", 2)
            m[f"{q}.leaked_rdds"] = sum(o.get("leaked_rdds", 0) for o in ops if o["name"] == q)
        for k, xs in self.layer.items():
            m[k] = statistics.median(xs) if xs else 0.0
        wall = sum(o["wall_s"] for o in ops)
        m["trace.overhead_ratio"] = wall / max(1e-9, wall - t.overhead_s)
        return {k: m.get(k, 0.0) for k in PER_LAYER}

    def layer_table(self) -> list[str]:
        """Per-layer self time and Spark work, one line per span name,
        for the set-up and warm-up ops and for the measured ops."""
        t = self.tracer
        self_s = t.self_times()
        out = []
        for measured, title in ((False, "set-up and warm-up ops"), (True, "measured ops")):
            ops = {o["op"]: o for o in t.ops if o["measured"] == measured}
            rows: dict[str, list] = {}
            for s in t.spans:
                if s["op"] in ops:
                    r = rows.setdefault(s["name"], [0, 0.0, 0, 0, 0])
                    r[0] += 1
                    r[1] += self_s[s["id"]]
                    r[2] += s.get("jobs", 0)
                    r[3] += s.get("stages", 0)
                    r[4] += s.get("tasks", 0)
            wall = sum(o["wall_s"] for o in ops.values())
            out.append(f"-- {title}: {len(ops)} ops, summed op wall {wall * 1000:.1f} ms, "
                       f"sum of self times {sum(r[1] for r in rows.values()) * 1000:.1f} ms")
            out.append(f"{'span':28} {'calls':>5} {'self_ms':>10} {'jobs':>5} {'stages':>6} {'tasks':>6}")
            for name, (calls, sec, jobs, stages, tasks) in sorted(rows.items(), key=lambda kv: -kv[1][1]):
                out.append(f"{name:28} {calls:5d} {sec * 1000:10.1f} {jobs:5d} {stages:6d} {tasks:6d}")
        out.append("leaked persisted RDDs per op: " + ", ".join(
            f"{o['name']}={o.get('leaked_rdds', 0)}" for o in t.ops))
        return out


def _first_diff(a: str, b: str) -> str:
    al, bl = a.splitlines(), b.splitlines()
    for i, (x, y) in enumerate(zip(al, bl)):
        if x != y:
            return f"line {i + 1}: {x[:80]!r} != {y[:80]!r}"
    return f"{len(al)} lines != {len(bl)} lines"


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _kill_and_wait(pid: int, timeout: float = 15.0) -> None:
    deadline = time.time() + timeout
    while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
        time.sleep(0.1)
    with contextlib.suppress(ProcessLookupError):
        os.kill(pid, signal.SIGKILL)
    while os.path.exists(f"/proc/{pid}"):
        with contextlib.suppress(ChildProcessError):
            os.waitpid(pid, os.WNOHANG)
        time.sleep(0.05)
        if time.time() > deadline + 10:
            break


# -- workloads ---------------------------------------------------------

def _write(path: str, text: str) -> int:
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    return len(text.encode("utf-8"))


def _build_store(b: Bench, base: str, records: list[dict]) -> int:
    """Initial store build through the CLI's own save (part of setup_s)."""
    path = os.path.join(b.tmp, "initial.yaml")
    nbytes = _write(path, gen.save_yaml(records))
    b.cli_op("save", ["-f", base, "save", path], oracle.expected_save([], records), measured=False)
    return nbytes


def _read_argv(base: str, op: tuple) -> list[str]:
    if op[0] == "recall":
        _, query, k, filt = op
        return ["-f", base, "recall", "-k", str(k), *(["--filter", filt] if filt else []), query]
    if op[0] == "stats":
        _, filt, key = op
        return ["-f", base, "analyze", "--filter", filt, "--stats", key]
    _, filt, fields, offset, limit = op
    return ["-f", base, "analyze", "--filter", filt, "--fields", fields,
            "--offset", str(offset), "--limit", str(limit)]


def _read_want(idx: oracle.RecallIndex, op: tuple) -> str:
    if op[0] == "recall":
        return idx.expected(op[1], op[2], op[3])
    if op[0] == "stats":
        return oracle.expected_stats(idx.store, op[1], op[2])
    return oracle.expected_page(idx.store, op[1], op[2].split(","), op[3], op[4])


def _read(b: Bench, base: str, idx: oracle.RecallIndex, op: tuple, measured=True) -> None:
    if b.traced and measured and op[0] == "recall":
        b.layer.setdefault("embed.index_reuse_ratio", []).append(float(_index_fresh(base)))
    verb = "recall" if op[0] == "recall" else "analyze"
    b.cli_op(verb, _read_argv(base, op), _read_want(idx, op), measured)


def _index_fresh(base: str) -> bool:
    try:
        with open(f"{base}.emb/_SOURCE_SHA256") as f:
            recorded = f.read().strip()
        with open(f"{base}.yaml", "rb") as f:
            return recorded == hashlib.sha256(f.read()).hexdigest()
    except OSError:
        return False


def _index_rows(emb_path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(emb_path, f)).num_rows
               for f in os.listdir(emb_path) if f.endswith(".parquet"))


def _ingest_cycle(b: Bench, base: str, idx: oracle.RecallIndex, batch: list[dict], path: str,
                  reads: list[tuple], measured: bool) -> None:
    """One save, then its reads; ``idx`` follows the expected store."""
    b.cli_op("save", ["-f", base, "save", path], oracle.expected_save(idx.store, batch),
             measured)
    idx.update(gen.apply_save(idx.store, batch))
    if b.traced and measured:
        b.layer.setdefault("yaml_io.dump_bytes", []).append(os.path.getsize(base + ".yaml"))
        b.layer.setdefault("embed.rows_per_saved_row", []).append(
            _index_rows(base + ".emb") / len(batch))
    for op in reads:
        _read(b, base, idx, op, measured)


def ingest(b: Bench) -> None:
    seed = b.args.seed
    store = gen.records(seed, INGEST_RECORDS)
    batches = gen.save_cycles(seed, store, MAX_CYCLES)
    reads = gen.ingest_reads(seed, MAX_CYCLES, INGEST_RECORDS)
    base = os.path.join(b.tmp, "db")
    files = []
    for i, batch in enumerate(batches):
        path = os.path.join(b.tmp, f"batch{i}.yaml")
        files.append((path, _write(path, gen.save_yaml(batch))))
    idx = oracle.RecallIndex(store)
    t0 = time.perf_counter()
    b.cli = b.start("c99_vectordb_spark.cli")
    user_bytes = _build_store(b, base, store)
    b.setup["setup_s"] = time.perf_counter() - t0
    describe_store("ingest (start)", base + ".yaml", len(store))
    for i, (batch, (path, nbytes), cycle_reads) in enumerate(zip(batches, files, reads)):
        warm_up = i < WARM_UP_CYCLES
        if not warm_up and not b.budget_left():
            break
        with b.cycle():
            _ingest_cycle(b, base, idx, batch, path, cycle_reads, measured=not warm_up)
        store = idx.store
        user_bytes += nbytes
    compacted = gen.apply_reindex(store)
    b.cli_op("reindex", ["-f", base, "reindex"],
             oracle.expected_reindex(len(store) - len(compacted), "db"))
    describe_store("ingest (end)", base + ".yaml", len(compacted))
    b.check_store(base, compacted)
    b.layer["store.bytes_per_user_byte"] = [
        (os.path.getsize(base + ".yaml") + dir_bytes(base + ".emb")) / user_bytes]


def ann_batch(b: Bench) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    seed = b.args.seed
    shape = gen.Shape(seed)
    docs = gen.documents(seed, DOCS)
    embs = gen.embeddings(seed, EMBS)
    tables = os.path.join(b.tmp, "tables")
    os.makedirs(tables)
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in docs], pa.int64()),
        "text": [r[1] for r in docs], "lang": [r[2] for r in docs],
        "source": [r[3] for r in docs], "n_chars": pa.array([r[4] for r in docs], pa.int64()),
    }), os.path.join(tables, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array([r[0] for r in embs], pa.int64()),
        "embedding": pa.array([r[1] for r in embs], pa.list_(pa.float32())),
        "label": pa.array([r[2] for r in embs], pa.int32()),
    }), os.path.join(tables, "embeddings.parquet"))
    print(f"tables: documents={len(docs)} near_dup_share={shape.dup_share} "
          f"embeddings={len(embs)}x64 clusters={shape.clusters}")
    t0 = time.perf_counter()
    qr = b.start("c99_vectordb_spark.queries_registry")
    registry = qr.queries()
    b.setup["setup_s"] = time.perf_counter() - t0
    # the DuckDB answers are the benchmark's own work, outside setup_s
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(tables, t)}.parquet')")
    oracles = qr.oracle_sql()
    want = {q: con.execute(oracles[q]).df() for q in ANN_QUERIES}
    con.close()
    while True:
        with b.cycle():
            for name in ANN_QUERIES:
                b.op(name, lambda fn=registry[name]: fn(b.spark, tables).toPandas(),
                     lambda got, _out, _err, want=want[name]: oracle.compare_frames(got, want))
        if not b.budget_left():
            break


def metric_lines(metrics: dict) -> list[str]:
    """One ``metric <name> <value> <unit>`` line per metric."""
    return [f"metric {name} {m['value']!r} {m['unit']}" for name, m in metrics.items()]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def on_signal(sig, _frame):
        raise Stopped(f"stopped by signal {sig} (deadline {DEADLINE_S} s)")

    signal.signal(signal.SIGALRM, on_signal)
    signal.signal(signal.SIGTERM, on_signal)
    signal.alarm(DEADLINE_S)
    if not os.path.isfile(os.path.join(ROOT, "c99_vectordb_spark", "cli.py")):
        print(f"error: the program (c99_vectordb_spark) is not in {ROOT}", file=sys.stderr)
        return 2
    b = Bench(args)
    cwd = os.getcwd()
    try:
        {"ingest": ingest, "ann_batch": ann_batch}[args.workload](b)
        b.memory()
    except (BenchError, Stopped) as e:
        print(f"error: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        try:
            b.stop()
        finally:
            os.chdir(cwd)
            shutil.rmtree(b.tmp, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(b.tmp))
    res = b.result()
    host = {"calib_s": calibrate(), "cpus": cpus()}
    print(f"host calib_s={host['calib_s']} cpus={host['cpus']}")
    print(f"ops attempted={res['attempted']} failed={res['failed']} "
          f"fail_ratio={res['failed'] / max(1, res['attempted'])}")
    for f in b.failures[:20]:
        print(f"FAILED {f}")
    if b.traced:
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        b.tracer.dump(path, {"workload": args.workload, "seed": args.seed, "host": host,
                             "metrics": res["metrics"]})
        print("\n".join(b.layer_table()))
        print(f"spans written to {os.path.relpath(path, ROOT)}")
    print("op latencies in order (ms): " + " ".join(f"{x * 1000:.0f}" for x in b.measured))
    for name, lat in sorted(b.lat.items()):
        tail = tr.percentile_tail(lat)
        tail_s = f"p{tail[0]:g}={tail[1] * 1000:.1f} ms" if tail else "no tail (fewer than 11 samples)"
        print(f"op {name}: n={len(lat)} p50={statistics.median(lat) * 1000:.1f} ms {tail_s}")
    print("\n".join(metric_lines(res["metrics"])))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
