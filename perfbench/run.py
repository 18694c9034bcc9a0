"""Repository benchmark: end-to-end and per-layer metrics of the engine.

    python3 perfbench/run.py --workload sql-text --seed 1 --seconds 10 --trace 0

Runs one workload (``perfbench/workloads.py``) as a closed loop from one
client thread against ``local[4]``: each query, or exchange round trip,
starts only after the previous one has finished, in whole passes over the
ops until ``--seconds`` have passed. Every result is checked: queries
against their DuckDB oracle answer (rows-only queries against the row count
of the first warm pass), exchange round trips against the same aggregate
computed without the barrier, the stores' own checksums and the counts their
removals report. A query's latency covers build and ``collect``, because
building a DataFrame may already fire jobs.

The inputs are generated from ``--seed`` under ``.perfbench/`` in the
checkout (``datagen.py``); the seed also fixes the order of the ops.

``setup_s`` is the median of three set-ups (session start, index builds,
moto start; the first also launches the JVM) plus the untimed warm passes
over every op (two, one on llm-pipeline). Each run then measures a fixed
number of whole passes (``workloads.WORKLOADS``), and more only if
``--seconds`` have not passed by then. ``wall_s`` sums the ops' median
latencies, ``geomean_s`` is their geometric mean and ``latency_p50_s`` their
median. Metric names and units come from ``BENCHMARK.json``.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics, read from outside the package: spans around every call the
benchmark makes into it, wrappers around ``catalog.load_table`` and
``catalog.register_temp_views``, and Spark's own status store for the jobs
each op fired. A traced run interleaves untraced and traced passes; its
``trace.overhead_frac`` is the traced passes' ``wall_s`` against the
untraced ones', and the end-to-end figures of its report line come from the
untraced passes. Spans are written to ``.perfbench/trace-*.json``.
``--smoke`` runs one warm and two measured passes (four, traced) on a
sf0.001-sized input.

Every line but the last is a human-readable report; the last line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE_INIT = os.path.join(ROOT, "spark_s3_shuffle_spark", "__init__.py")
CPUS = 4
SETUP_REPEATS = 3
SMOKE_SF = 0.001

sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

MIB = float(1 << 20)


def _units(spec_path: str) -> tuple[dict[str, str], dict[str, str]]:
    """Units of the end-to-end and the per-layer metrics, by name, from
    BENCHMARK.json. The report line adds the p90 latency, peak RSS,
    failed_frac and, on exchange, the stores' throughput."""
    with open(spec_path) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent, query id) kept in memory, plus the
    per-layer counters of the execution in flight. Disabled, it records
    nothing and costs one branch per span. A traced run switches it off for
    every other pass, so that its overhead is measured against untraced
    executions of the same ops."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.qid: str | None = None
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "qid": self.qid,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counters[key] = self.counters.get(key, 0.0) + value

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _total_jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


@contextmanager
def _layer_wrappers(tracer: Tracer, spark):
    """Time the catalog calls the registry's queries make, by rebinding the
    package's public functions for the duration of a traced run; the
    wrappers pass straight through while the tracer is off."""
    if not tracer.enabled:
        yield
        return
    from spark_s3_shuffle_spark.queries import registry
    from spark_s3_shuffle_spark.sources import catalog

    def wrap(fn, layer: str, count_jobs: bool):
        def timed(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            jobs0 = _total_jobs(spark) if count_jobs else 0
            with tracer.span(layer):
                t0 = time.perf_counter()
                out = fn(*args, **kwargs)
                dt = time.perf_counter() - t0
            tracer.add(layer + "_s", dt)
            if count_jobs:
                tracer.add(layer + "_calls", 1)
                tracer.add(layer + "_jobs", _total_jobs(spark) - jobs0)
            return out
        return timed

    saved = [(catalog, "load_table", catalog.load_table),
             (registry, "load_table", registry.load_table),
             (catalog, "register_temp_views", catalog.register_temp_views)]
    load_table = wrap(catalog.load_table, "catalog.load_table", True)
    catalog.load_table = registry.load_table = load_table
    catalog.register_temp_views = wrap(
        catalog.register_temp_views, "catalog.register_temp_views", False)
    try:
        yield
    finally:
        for module, attr, fn in saved:
            setattr(module, attr, fn)


_PHASES = {"parsing": "catalyst.parse_s", "analysis": "catalyst.analyze_s",
           "optimization": "catalyst.optimize_s", "planning": "catalyst.plan_s"}


def _harvest(spark, tracer: Tracer, jobs0: int, df) -> None:
    """Per-execution layer counters from Spark: the planning phases of the
    final DataFrame and the status-store metrics of every job it fired."""
    from spark_s3_shuffle_spark.plans.inspect import count_exchanges

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    jobs1 = _total_jobs(spark)
    add = tracer.add
    add("spark.jobs", jobs1 - jobs0)
    store = jsc.statusStore()
    jvm = sc._jvm
    no_status, no_quantiles = jvm.java.util.ArrayList(), sc._gateway.new_array(jvm.double, 0)
    for jid in range(jobs0, jobs1):
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if str(s.status()) == "SKIPPED":
                    add("spark.skipped_stages", 1)
                    continue
                add("spark.stages", 1)
                add("spark.tasks", s.numTasks())
                add("spark.failed_tasks", s.numFailedTasks())
                run_s, cpu_s = s.executorRunTime() / 1e3, s.executorCpuTime() / 1e9
                add("spark.task_run_s", run_s)
                add("spark.task_cpu_s", cpu_s)
                add("spark.python_s", max(run_s - cpu_s, 0.0))
                add("spark.gc_s", s.jvmGcTime() / 1e3)
                add("spark.shuffle_write_mib", s.shuffleWriteBytes() / MIB)
                add("spark.shuffle_read_mib", s.shuffleReadBytes() / MIB)
                add("spark.fetch_wait_s", s.shuffleFetchWaitTime() / 1e3)
                add("spark.spill_mib", (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MIB)
                add("spark.input_mib", s.inputBytes() / MIB)
    if df is not None:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in _PHASES:
                add(_PHASES[kv._1()], kv._2().durationMs() / 1e3)
        add("plan.exchanges", count_exchanges(df))
    add("materialize.live_rdds", sc._jsc.getPersistentRDDs().size())


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

@dataclass
class Op:
    """One timed unit of a workload: ``run`` does the work and returns its
    result (and the DataFrame whose plan to inspect), ``check`` says
    whether the result is right."""
    name: str
    run: Callable[[], tuple[Any, Any]]
    check: Callable[[Any], bool]


@dataclass
class Outcome:
    """Latencies of untraced executions, from which the end-to-end metrics
    come, and of traced ones with their layer counters."""
    latencies: dict[str, list[float]] = field(default_factory=dict)
    traced: dict[str, list[float]] = field(default_factory=dict)
    layers: dict[str, list[dict]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


def _oracle_answers(sf_dir: str, names: list[str]) -> dict[str, list]:
    """Canonical DuckDB answers, canonicalized as tools/check_correctness.py
    does; rows-only queries (no oracle) are absent."""
    from check_correctness import duck_connection, rows_canon

    from spark_s3_shuffle_spark.queries.registry import QUERIES

    con = duck_connection(sf_dir)
    out = {}
    for name in names:
        sql = QUERIES[name].oracle
        if sql is None:
            continue
        res = con.execute(sql)
        out[name] = (sorted(d[0] for d in res.description),
                     rows_canon([d[0] for d in res.description], res.fetchall()))
    con.close()
    return out


class QueryWorkload:
    """Registry queries: build (construction may fire jobs) then collect."""

    def __init__(self, names: list[str], sf_dir: str, tracer: Tracer):
        self.names, self.sf_dir, self.tracer = names, sf_dir, tracer
        self.expected: dict[str, Any] = {}
        self.row_counts: dict[str, int] = {}

    def oracle(self) -> None:
        self.expected = _oracle_answers(self.sf_dir, self.names)

    def prepare(self, spark) -> None:
        from spark_s3_shuffle_spark.queries.registry import prepare_map

        prep = prepare_map()
        with self.tracer.span("registry.prepare"):
            t0 = time.perf_counter()
            for name in self.names:
                if name in prep:
                    prep[name](spark, self.sf_dir)
            self.tracer.add("registry.prepare_s", time.perf_counter() - t0)

    def teardown(self) -> None:
        pass

    def ops(self, spark) -> list[Op]:
        from spark_s3_shuffle_spark.queries.registry import QUERIES

        def make(name: str) -> Op:
            build = QUERIES[name].builder

            def run():
                with self.tracer.span("registry.build"):
                    t0 = time.perf_counter()
                    jobs0 = _total_jobs(spark) if self.tracer.enabled else 0
                    df = build(spark, self.sf_dir)
                    self.tracer.add("registry.build_s", time.perf_counter() - t0)
                    if self.tracer.enabled:
                        self.tracer.add("registry.build_jobs", _total_jobs(spark) - jobs0)
                with self.tracer.span("action.collect"):
                    rows = df.collect()
                return (df.columns, rows), df

            def check(result) -> bool:
                from check_correctness import rows_canon

                cols, rows = result
                if name not in self.expected:
                    return self.row_counts.setdefault(name, len(rows)) == len(rows)
                want_cols, want_rows = self.expected[name]
                return sorted(cols) == want_cols and rows_canon(cols, rows) == want_rows

            return Op(name, run, check)

        return [make(n) for n in self.names]


class ExchangeWorkload:
    """lineitem x orders through both exchange stores: write, read back and
    aggregate, verify, remove; one stage per store, re-created each pass."""

    KEYS = ["l_orderkey"]
    PARTITIONS = 8

    def __init__(self, sf_dir: str, tracer: Tracer, seed: int):
        self.sf_dir, self.tracer, self.seed = sf_dir, tracer, seed
        self.scratch = os.path.join(WORK, f"exchange-{os.getpid()}")
        self.moto: subprocess.Popen | None = None
        self.cfg = None
        self.backends = ["fs", "s3"]
        random.Random(seed).shuffle(self.backends)
        self.written: dict[str, int] = {}
        self.step_s: dict[str, list[float]] = {}

    def oracle(self) -> None:
        pass

    def _frame(self, spark):
        from pyspark.sql import functions as F

        from spark_s3_shuffle_spark.sources.catalog import load_table

        li = load_table(spark, self.sf_dir, "lineitem")
        od = load_table(spark, self.sf_dir, "orders")
        return li.join(od, li.l_orderkey == od.o_orderkey).select(
            "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
            "l_returnflag", "o_custkey", "o_orderpriority", "o_orderdate",
        ).withColumn("cents", F.round(F.col("l_extendedprice") * 100).cast("long"))

    @staticmethod
    def _aggregate(df):
        from pyspark.sql import functions as F

        return df.groupBy("o_orderpriority", "l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("qty"),
            F.sum("cents").alias("cents"),
            F.sum("o_custkey").alias("custs"),
        )

    def _start_moto(self) -> None:
        from spark_s3_shuffle_spark.operators.s3exchange import S3Config

        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
        self.moto = subprocess.Popen(
            ["moto_server", "-H", "127.0.0.1", "-p", str(port)],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        deadline = time.monotonic() + 60
        while True:
            try:
                with socket.create_connection(("127.0.0.1", port), 0.2):
                    break
            except OSError:
                if self.moto.poll() is not None or time.monotonic() > deadline:
                    raise RuntimeError("moto_server did not start")
                time.sleep(0.05)
        self.cfg = S3Config(endpoint_url=f"http://127.0.0.1:{port}", bucket="perfbench")
        self.cfg.client().create_bucket(Bucket=self.cfg.bucket)

    def prepare(self, spark) -> None:
        from spark_s3_shuffle_spark.operators.exchange import ExchangeManager
        from spark_s3_shuffle_spark.operators.s3exchange import S3ExchangeManager
        from check_correctness import rows_canon

        with self.tracer.span("moto.start"):
            self._start_moto()
        self.fs = ExchangeManager(spark, f"file://{self.scratch}", prefixes=4)
        self.s3 = S3ExchangeManager(spark, self.cfg, app_id=f"perfbench{self.seed}")
        # The join is computed once: the timed writes measure the exchange
        # (repartition on the keys, then the store), not the join feeding it.
        joined = self._frame(spark).persist()
        with self.tracer.span("exchange.expected"):
            agg = self._aggregate(joined)
            self.expected = rows_canon(agg.columns, agg.collect())
        self.frame = joined.repartition(self.PARTITIONS, *self.KEYS)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet"))
            for t in ("lineitem", "orders"))

    def teardown(self) -> None:
        """Drop what the stores still hold, then stop moto."""
        try:
            if self.cfg is not None and self.moto is not None and self.moto.poll() is None:
                self.s3.remove_all()
        finally:
            if self.moto is not None:
                self.moto.terminate()
                try:
                    self.moto.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    self.moto.kill()
                    self.moto.wait()
                self.moto = None
            shutil.rmtree(self.scratch, ignore_errors=True)

    def ops(self, spark) -> list[Op]:
        """One op per store: a whole round trip, each step timed and checked."""
        from spark_s3_shuffle_spark.operators.exchange import (
            verify_stage_checksum,
            write_stage_checksum,
        )

        tr, stage = self.tracer, f"lineitem_orders_{self.seed}"

        def step(name: str, layer: str, fn):
            with tr.span(layer):
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
            tr.add(layer + "_s", dt)
            self.step_s.setdefault(name, []).append(dt)
            return out

        def read_back(mgr):
            agg = self._aggregate(mgr.stage_read(stage))
            return agg.columns, agg.collect()

        def fs_round_trip():
            st = step("fs.write", "exchange.stage_write", lambda: (
                self.fs.stage_write(self.frame, stage, keys=self.KEYS,
                                    num_partitions=self.PARTITIONS),
                write_stage_checksum(self.fs, stage))[0])
            tr.add("exchange.bytes_written", st.bytes_written)
            tr.add("exchange.files", st.num_files)
            self.written["fs"] = st.bytes_written
            rows = step("fs.read", "exchange.stage_read", lambda: read_back(self.fs))
            tr.add("exchange.bytes_read", self.fs.stats[stage].bytes_read)
            ok = step("fs.verify", "exchange.verify", lambda: verify_stage_checksum(self.fs, stage))
            path = self.fs.stage_path(stage)
            removed = step("fs.remove", "exchange.remove", lambda: self.fs.remove_stage(stage))
            return {"written": st.num_files > 0 and st.bytes_written > 0, "rows": rows,
                    "verified": ok is True,
                    # removed, and nothing left where the files were
                    "removed": removed is True and self.fs._du(path) == (0, 0)}, None

        def s3_round_trip():
            man = step("s3.write", "s3exchange.stage_write",
                       lambda: self.s3.stage_write(self.frame, stage))
            tr.add("s3exchange.objects", len(man["objects"]))
            tr.add("s3exchange.bytes", man["total_bytes"])
            self.written["s3"] = man["total_bytes"]
            rows = step("s3.read", "s3exchange.stage_read", lambda: read_back(self.s3))
            ok = step("s3.verify", "s3exchange.verify", lambda: self.s3.verify(stage))
            removed = step("s3.remove", "s3exchange.remove", lambda: self.s3.remove_stage(stage))
            return {"written": man["total_rows"] > 0, "rows": rows, "verified": ok is True,
                    # every data object plus the manifest
                    "removed": removed == len(man["objects"]) + 1}, None

        def check(result: dict) -> bool:
            from check_correctness import rows_canon

            cols, rows = result.pop("rows")
            return all(result.values()) and rows_canon(cols, rows) == self.expected

        trips = {"fs": Op("fs.round_trip", fs_round_trip, check),
                 "s3": Op("s3.round_trip", s3_round_trip, check)}
        return [trips[b] for b in self.backends]

    def report(self) -> tuple[dict[str, float], dict[str, float]]:
        """Per-step medians, and both stores' write and read throughput."""
        med = {k: statistics.median(v) for k, v in sorted(self.step_s.items())}
        nbytes = self.written["fs"] + self.written["s3"]
        return med, {
            "exchange.write_mib_per_s": nbytes / MIB / (med["fs.write"] + med["s3.write"]),
            "exchange.read_mib_per_s": nbytes / MIB / (med["fs.read"] + med["s3.read"]),
            "exchange.stored_bytes_per_input_byte": self.written["fs"] / self.input_bytes,
        }


# --------------------------------------------------------------------------
# running a workload
# --------------------------------------------------------------------------

def _session(app: str):
    from spark_s3_shuffle_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(app, master=f"local[{CPUS}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Py4JError:
        pass  # a signal broke the gateway mid-call; the JVM still exits below
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _reap_children(timeout: float = 30.0) -> None:
    """Terminate and wait for any child process still running, such as a
    JVM whose launch a signal interrupted before the gateway was known."""
    children = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited meanwhile
            if ppid == os.getpid():
                children.append(int(entry))
    deadline = time.monotonic() + timeout
    for pid in children:
        try:
            os.kill(pid, signal.SIGTERM)
            while os.waitpid(pid, os.WNOHANG) == (0, 0):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
                    break
                time.sleep(0.1)
        except (ProcessLookupError, ChildProcessError):
            pass  # already gone and reaped


def _vm_hwm_mib(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def _execute(op: Op, spark, tracer: Tracer, qid: str, out: Outcome, timed: bool) -> None:
    """Run, time and check one op; a traced execution labels its jobs with
    a job group, counts in its latency everything tracing adds before the
    action returns, and harvests the layer counters afterwards."""
    sc = spark.sparkContext
    traced = tracer.enabled
    tracer.qid, tracer.counters = qid, {}
    out.attempted += 1
    try:
        t0 = time.perf_counter()
        if traced:
            sc.setJobGroup(qid, op.name)
            jobs0 = _total_jobs(spark)
        with tracer.span(op.name):
            result, df = op.run()
        latency = time.perf_counter() - t0
        ok = op.check(result)
        if ok and traced:
            _harvest(spark, tracer, jobs0, df)
    except Exception as exc:  # one failed execution must not end the run
        out.failed += 1
        out.errors.append(f"{qid}: {type(exc).__name__}: {str(exc)[:300]}")
        return
    finally:
        if traced:
            sc.setJobGroup("", "")
    if not ok:
        out.failed += 1
        out.errors.append(f"{qid}: wrong result")
        return
    if timed and traced:
        out.traced.setdefault(op.name, []).append(latency)
        out.layers.setdefault(op.name, []).append(dict(tracer.counters))
    elif timed:
        out.latencies.setdefault(op.name, []).append(latency)


def _steal_cpu_s() -> float:
    """Steal time of all CPUs so far, from /proc/stat (0 where absent)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _workload(args, data_dir: str, tracer: Tracer):
    if args.workload == "exchange":
        return ExchangeWorkload(data_dir, tracer, args.seed)
    names = list(W.QUERY_SETS[args.workload])
    random.Random(args.seed).shuffle(names)
    return QueryWorkload(names, data_dir, tracer)


def _set_up(wl, tracer: Tracer, app: str):
    """Start a session and prepare the workload SETUP_REPEATS times (the
    first also launches the JVM); returns the last session, the time of
    each set-up and the layer counters of each."""
    spark, times, layers = None, [], []
    for rep in range(SETUP_REPEATS):
        if spark is not None:
            wl.teardown()
            spark.stop()
        tracer.counters = {}
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = _session(app)
        tracer.add("session.get_spark_s", time.perf_counter() - t0)
        wl.prepare(spark)
        times.append(time.perf_counter() - t0)
        layers.append(dict(tracer.counters))
    return spark, times, layers


def _measure(ops: list[Op], spark, tracer: Tracer, out: Outcome,
             passes: int, seconds: float) -> float:
    """Closed loop of ``passes`` whole passes over the ops, and more until
    ``seconds`` have passed; returns the time measured. Whole passes give
    every op the same number of samples, so the pooled percentiles do not
    depend on which ops a cut-off pass happened to reach. The fixed count
    gives every op as many samples on a slow host as on a quiet one, from
    the same stretch of the JVM's warm-up. A traced run
    orders its passes untraced, traced, traced, untraced and so on, at
    least four, so that a steady drift from pass to pass, such as the JVM
    still warming up, cancels out of the traced-untraced comparison."""
    tracing = tracer.enabled
    t0 = time.perf_counter()
    n = 0
    try:
        while n < (max(passes, 4) if tracing else passes) or time.perf_counter() - t0 < seconds:
            tracer.enabled = tracing and n % 4 in (1, 2)
            for op in ops:
                _execute(op, spark, tracer, f"{op.name}#{n}", out, timed=True)
            n += 1
    finally:
        tracer.enabled = tracing
    return time.perf_counter() - t0


def _layer_metrics(names, out: Outcome, setup_layers: list[dict],
                   extra: dict[str, float]) -> dict[str, float]:
    """Per-layer values: set-up counters as the median over the set-ups,
    per-query counters as the sum over queries of the median over that
    query's executions (as wall_s sums the latency medians)."""
    layer = dict.fromkeys(names, 0.0)
    layer.update(extra)
    for key in {k for rep in setup_layers for k in rep}:
        layer[key] = statistics.median(rep.get(key, 0.0) for rep in setup_layers)
    for execs in out.layers.values():
        for key in {k for e in execs for k in e}:
            layer[key] += statistics.median(e.get(key, 0.0) for e in execs)
    # wall_s of the traced passes against wall_s of the untraced ones
    traced = sum(statistics.median(v) for v in out.traced.values())
    untraced = sum(statistics.median(v) for v in out.latencies.values())
    layer["trace.overhead_frac"] = traced / untraced - 1.0
    return layer


def run(args) -> int:
    sf, warm_passes, passes = W.WORKLOADS[args.workload]
    if args.smoke:
        sf, warm_passes, passes = SMOKE_SF, 1, 2
    data_dir = os.path.join(WORK, f"data-{args.workload}-{args.seed}-{os.getpid()}")
    e2e_units, layer_units = _units(os.path.join(ROOT, "BENCHMARK.json"))
    tracer, out = Tracer(bool(args.trace)), Outcome()
    report: dict[str, Any] = {"workload": args.workload, "seed": args.seed, "sf": sf}
    wl = spark = None
    try:
        import datagen

        datagen.write(data_dir, sf, args.seed)
        wl = _workload(args, data_dir, tracer)
        t0 = time.perf_counter()
        wl.oracle()
        report["oracle_s"] = time.perf_counter() - t0
        spark, setups, setup_layers = _set_up(wl, tracer, f"perfbench-{args.workload}")
        ops = wl.ops(spark)
        with _layer_wrappers(tracer, spark):
            t0 = time.perf_counter()
            for n in range(warm_passes):
                with tracer.span("warm"):
                    for op in ops:
                        _execute(op, spark, tracer, f"warm{n}/{op.name}", out, timed=False)
            warm_s = time.perf_counter() - t0
            if isinstance(wl, ExchangeWorkload):
                wl.step_s.clear()
            steal0 = _steal_cpu_s()
            measured_s = _measure(ops, spark, tracer, out, passes,
                                  0 if args.smoke else args.seconds)
            steal_s = _steal_cpu_s() - steal0

        medians = {n: statistics.median(v) for n, v in out.latencies.items()}
        if len(medians) != len(ops):
            raise RuntimeError("an operation never succeeded: " + "; ".join(out.errors[:5]))
        samples = [x for v in out.latencies.values() for x in v]
        metrics = {
            "wall_s": sum(medians.values()),
            "geomean_s": math.exp(statistics.fmean(math.log(m) for m in medians.values())),
            # The median of the ops' medians: passes give each op the same
            # number of samples, so the median of the pooled samples would
            # fall in the gap between two ops' latency clusters.
            "latency_p50_s": statistics.median(medians.values()),
            "setup_s": statistics.median(setups) + warm_s,
        }
        e2e = {k: {"value": v, "unit": e2e_units[k]} for k, v in metrics.items()}
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        report.update({
            "order": [op.name for op in ops], "samples": len(samples),
            "traced_samples": sum(len(v) for v in out.traced.values()),
            "latency_p90_s": {"value": _percentile(samples, 0.9), "unit": "s"},
            "measured_s": measured_s, "setup_repeats_s": setups, "warm_s": warm_s,
            # CPU time the hypervisor gave to other guests while we measured
            "host_steal_cpu_s": steal_s,
            "peak_rss_mib": {"value": _vm_hwm_mib(jvm_pid) + _vm_hwm_mib("self"), "unit": "MiB"},
            "failed_frac": {"value": out.failed / out.attempted, "unit": "1"},
            "per_op_median_s": medians, "latencies_s": out.latencies,
        })
        throughput = {}
        if isinstance(wl, ExchangeWorkload):
            report["per_step_median_s"], throughput = wl.report()
        report.update({k: {"value": v, "unit": layer_units[k]} for k, v in throughput.items()})
        if tracer.enabled:
            layer = _layer_metrics(layer_units, out, setup_layers, throughput)
            result_metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in layer.items()}
            report["end_to_end"] = e2e
            tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
        else:
            result_metrics = e2e
    finally:
        try:
            if wl is not None:
                wl.teardown()
        finally:
            try:
                if spark is not None:
                    _stop_jvm(spark)
            finally:
                shutil.rmtree(data_dir, ignore_errors=True)
                _reap_children()

    report["errors"] = out.errors[:20]
    print(json.dumps(report))
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": result_metrics}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(W.WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="two passes on a sf0.001-sized input")
    args = ap.parse_args(argv)
    if not os.path.isfile(PACKAGE_INIT):
        print(f"perfbench: package not found at {PACKAGE_INIT}", file=sys.stderr)
        return 2
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    # Spark Python workers import the package from the checkout root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # boto3 would otherwise read the user's AWS files; moto needs none
    os.environ["AWS_CONFIG_FILE"] = os.path.join(WORK, "aws-config")
    os.environ["AWS_SHARED_CREDENTIALS_FILE"] = os.path.join(WORK, "aws-credentials")
    # the package, and tools/check_correctness.py for result canonicalization
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
