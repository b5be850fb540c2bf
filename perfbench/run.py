#!/usr/bin/env python3
"""Benchmark for the bqetl_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run is one fresh process with one
``local[nproc / 2]`` SparkSession and one client calling the engine in a
closed loop. Half the vCPUs run tasks; the rest keep the driver, the JIT
and GC threads and the Python workers from queueing behind them:

1. generate the workload's inputs from ``--seed`` (not timed);
2. set up: import the engine, ``get_spark``, ``tune_shuffle_partitions``,
   ``queries()`` (timed: ``setup_s``);
3. a cold pass over every item (``cold_pass_s``), then warm passes, at
   least two, until ``--seconds`` have been spent on them
   (``warm_pass_s``, the median).
   Each item is built (gate or pipeline call), materialized with every
   column (the noop sink, or the pipeline's own parquet sink) and its
   storage released with ``release_pinned()``;
4. the first warm pass also checks every output, outside the timed
   segments, against expected outputs computed with DuckDB;
5. after every pass (untimed) a full JVM GC, then the JVM's live heap
   (``heap_after_gc_mb``, the median over warm passes) and the process
   tree's resident set;
6. one more set-up in a fresh child process; ``setup_s`` is the median
   of the two.

The times in the result line are wall times corrected for the CPU time
the hypervisor stole from the busy vCPUs (``uncontended``); the raw wall
times are printed above it and kept in the detail record.

``--trace 1`` runs the same passes with tracing on (``tracing.py``) and
reports per-layer metrics instead; its ``trace.warm_pass_s`` against an
untraced run's ``warm_pass_s`` is the tracing overhead. Details of each run (host
record, per-item times, spans) go to ``perfbench/_work/results/``. The last
line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
SETUP_PROBES = 1          # extra set-ups in child processes
PROBE_TIMEOUT_S = 120
RSS_PERIOD_S = 0.1
SETTLE_S = 0.5           # pause between the end-of-pass GCs
MB = 1024.0 * 1024.0
# Relative stretch of the engine's times per unit of steal share. Beyond
# the stolen time itself, thread hand-offs wait on vCPUs the host has
# taken away, and a vCPU comes back to cold caches. Fitted on a 4-vCPU VM
# on a shared Xeon host: median of 41 item times at 5-24% steal against
# the same items at under 2% (README, "Times under host contention").
STEAL_STRETCH = 2.5

E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
             "input_rows_per_s": "1/s", "heap_after_gc_mb": "MB"}
# per-layer metrics reported by --trace 1 (medians over traced warm passes
# unless the name says otherwise)
LAYER_UNITS = {
    "session.start_s": "s", "entry.import_s": "s", "entry.registry_s": "s",
    "entry.build_s": "s", "entry.build_jobs": "count",
    "cold.build_s": "s", "cold.catalyst_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s", "exec.slot_busy_frac": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "sources.load_s": "s", "sources.scan_mb": "MB", "sources.input_rows": "rows",
    "sinks.output_mb_per_input_mb": "ratio", "sinks.files": "count",
    "caching.pin_calls": "count", "caching.ckpt_calls": "count",
    "caching.drop_calls": "count", "caching.release_s": "s",
    "caching.held_mb_at_gate_end": "MB", "caching.held_rdds_at_gate_end": "count",
    "caching.held_rdds_after_release": "count", "streaming.batches": "count",
    "mem.peak_rss_mb": "MB", "mem.rss_after_gc_mb": "MB",
    "gate.residual_s": "s", "trace.warm_pass_s": "s",
}
# Left out of the result line, kept in the detail record: layer times that
# are 0 by construction on one workload (plans.build_s and sinks.write_s on
# neardup_iterative; streaming.*_ms and catalyst.build_ms on etl_relational,
# whose builds run no SQL query) or often 0 on a short pass (exec.gc_s).
# A result line must not carry a time that reads the same on every run.


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    return max(1, cpu_count() // 2)


# ------------------------------------------------------------------ host --

def tree_rss() -> dict[int, int]:
    """Resident pages of this process and each of its descendants."""
    parent, rss = {}, {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while scanning
        pid = int(entry.name)
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21])
    root, out = os.getpid(), {}
    for pid, pages in rss.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            out[pid] = pages
    return out


class RssSampler:
    """Peak resident set of this process plus all its descendants (the
    JVM and its Python workers), sampled from /proc. The sampling thread
    runs only when ``active`` (traced runs): untraced runs leave its vCPU
    time to the engine."""

    def __init__(self, period: float = RSS_PERIOD_S, active: bool = True) -> None:
        self.period = period
        self.active = active
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> float:
        """Resident MB of this process tree now (also feeds the peak)."""
        mb = sum(tree_rss().values()) * self._page / MB
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        if self.active:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self.active:
            self._thread.join()


def cpu_ticks() -> list[int]:
    """The machine's CPU ticks since boot by state (user, nice, system,
    idle, iowait, irq, softirq, steal), from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(ticks: list[int]) -> float:
    """Share of the busy vCPUs' time the hypervisor took, over a span
    whose tick counts by state are ``ticks``. A vCPU accrues steal only
    while it has work and the host runs something else in its place; an
    idle vCPU accrues none."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = ticks
    busy = user + nice + system + irq + softirq
    return steal / (busy + steal) if busy + steal else 0.0


def uncontended(wall: float, ticks: list[int]) -> float:
    """Estimate of what a span of ``wall`` seconds takes on a host that
    steals nothing: ``wall / (1 + STEAL_STRETCH * steal share)``. A shared
    host takes 0-50% of the running vCPUs' time for minutes at a stretch,
    which moves the engine's times far more than a change in the engine
    does. With nothing stolen this is the wall time."""
    return wall / (1.0 + STEAL_STRETCH * steal_share(ticks))


def tick_delta(*marks: list[int]) -> list[int]:
    """Ticks spent in the spans (marks[0], marks[1]), (marks[2], marks[3])..."""
    return [sum(b - a for a, b in zip(col[::2], col[1::2]))
            for col in zip(*marks)]


def host_record() -> dict:
    import duckdb
    import pyspark

    return {"nproc": cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg_start": os.getloadavg(), "cpu_ticks_start": cpu_ticks(),
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0]}


def close_host_record(host: dict) -> None:
    """End-of-run load: load average, the share of all CPU time the
    hypervisor stole from this machine while the run was measuring, and
    its share of the busy vCPUs' time."""
    ticks = tick_delta(host.pop("cpu_ticks_start"), cpu_ticks())
    host["loadavg_end"] = os.getloadavg()
    host["steal_frac"] = ticks[7] / max(sum(ticks), 1)
    host["steal_share"] = steal_share(ticks)
    host["overloaded"] = max(host["loadavg_start"][0],
                             host["loadavg_end"][0]) > host["nproc"]


# ----------------------------------------------------------------- setup --

class Engine:
    """The set-up session plus the handles the passes call through.
    Module attributes are looked up at call time, so traced wrappers
    installed on those modules are what runs."""

    def __init__(self, data_dir: str, work: str, tracer=None) -> None:
        k0 = cpu_ticks()
        t0 = time.perf_counter()
        if tracer is not None:
            tracer.install()
        from bqetl_spark import caching, session
        from bqetl_spark.plans import etl_nested, etl_simple
        from bqetl_spark.sources import sinks
        import __spark_entry__ as entry

        t1 = time.perf_counter()
        self.spark = session.get_spark(
            master=f"local[{spark_cores()}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                    "-XX:-UsePerfData",
            })
        session.tune_shuffle_partitions(self.spark, data_dir)
        t2 = time.perf_counter()
        self.queries = entry.queries()
        t3 = time.perf_counter()
        k3 = cpu_ticks()
        self.entry, self.caching, self.sinks = entry, caching, sinks
        self.plans = {"etl_simple": etl_simple, "etl_nested": etl_nested}
        self.times = {"entry.import_s": t1 - t0, "session.start_s": t2 - t1,
                      "entry.registry_s": t3 - t2, "setup_wall_s": t3 - t0,
                      "setup_s": uncontended(t3 - t0, tick_delta(k0, k3))}

    def stop(self) -> None:
        """Stop the session and wait for the JVM and its Python workers."""
        workers = set(tree_rss()) - {os.getpid()}
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF on stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the gates write inside ``work``."""
    for sub in ("tmp", "local", "warehouse", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    sys.path.insert(0, ROOT)


# ----------------------------------------------------------------- items --

class Runner:
    def __init__(self, engine: Engine, workload, dirs: dict, tracer=None):
        self.e = engine
        self.w = workload
        self.dirs = dirs
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.observed: dict[str, tuple] = {}

    def build(self, item):
        spark = self.e.spark
        if item.kind == "gate":
            return self.e.queries[item.name](spark, self.dirs["star"])
        if item.name == "etl_nested":
            return self.e.plans["etl_nested"].bqetl_nested(spark, self.dirs["mb"])
        return self.e.plans["etl_simple"].bqetl_simple(
            spark, self.dirs["mb"], perform_lookups=item.lookups)

    def act(self, item, df) -> None:
        if item.kind == "gate":
            df.write.format("noop").mode("overwrite").save()
        else:
            self.e.sinks.write_parquet(df, self.out_dir(item))

    def out_dir(self, item) -> str:
        return os.path.join(self.dirs["out"], item.name)

    def observe(self, item, df) -> tuple:
        """Output signature (untimed; see expected.py)."""
        import expected as ex

        if item.kind == "gate":
            return ex.gate_signature(df.columns, [tuple(r) for r in df.collect()])
        con = ex.mb_connection(self.dirs["mb"], cpu_count())
        try:
            if item.name == "etl_nested":
                schema = self.e.plans["etl_nested"].nested_output_schema()
                return ex.nested_observed(con, schema, self.out_dir(item))
            schema = self.e.plans["etl_simple"].simple_output_schema(item.lookups)
            return ex.simple_observed(con, schema, self.out_dir(item))
        finally:
            con.close()

    def run_item(self, item, verify: bool) -> dict:
        """One closed-loop call: build, materialize, (check), release."""
        spark, tr = self.e.spark, self.tracer
        rec: dict = {"item": item.name}
        self.attempted += 1
        if tr is not None:
            tr.gate = item.name
            n_spans = len(tr.spans)
            from tracing import storage
            rec["rdds_before"], _ = storage(spark)
        k0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            df = self.build(item)
            t1 = time.perf_counter()
            if tr is not None:
                build_stats = {**tr.drain(spark), **tr.jobs(spark)}
            t1b = time.perf_counter()
            self.act(item, df)
            t2 = time.perf_counter()
            if tr is not None:
                action_stats = {**tr.drain(spark), **tr.jobs(spark)}
                rec["rdds_at_end"], rec["held_mb_at_end"] = storage(spark)
            t2b = time.perf_counter()
            k2 = cpu_ticks()
            if verify:
                self.observed[item.name] = self.observe(item, df)
                if tr is not None:  # the check's own queries and jobs
                    tr.drain(spark), tr.jobs(spark)
            k3 = cpu_ticks()
            t3 = time.perf_counter()
        except Exception:  # a failed call is counted, the loop goes on
            self.failed += 1
            self.errors.append(f"{item.name}: {traceback.format_exc()}")
            print(f"[perfbench] {item.name} failed", file=sys.stderr)
            traceback.print_exc()
            self.e.caching.release_pinned()
            return {"item": item.name, "wall_s": time.perf_counter() - t0,
                    "failed": True}
        self.e.caching.release_pinned()
        t4 = time.perf_counter()
        rec["ticks"] = tick_delta(k0, k2, k3, cpu_ticks())
        rec.update(build_s=t1 - t0, action_s=t2 - t1b, release_s=t4 - t3,
                   wall_s=(t4 - t0) - (t3 - t2b))
        rec["time_s"] = uncontended(rec["wall_s"], rec["ticks"])
        rec["residual_s"] = (rec["wall_s"] - rec["build_s"] - rec["action_s"]
                             - rec["release_s"])
        if tr is not None:
            rec["rdds_after_release"], _ = storage(spark)
            rec["build"], rec["action"] = build_stats, action_stats
            rec["sources.load_s"] = tr.layer_time("sources", n_spans)
            rec["sinks.write_s"] = tr.layer_time("sinks", n_spans)
            rec["plans.build_s"] = tr.layer_time("plans", n_spans)
            rec["caching.release_s"] = tr.name_time("release_pinned", n_spans)
            for name in ("pin", "ckpt", "hot_ckpt", "drop_ckpt"):
                rec[f"caching.{name}_calls"] = tr.calls(name, n_spans)
            if item.kind == "pipeline":
                rec["sink_files"], rec["sink_mb"] = dir_stats(self.out_dir(item))
            tr.gate = ""
        return rec

    def run_pass(self, verify: bool = False) -> dict:
        items = [self.run_item(i, verify) for i in self.w.items]
        ticks = [sum(col) for col in zip(*(r["ticks"] for r in items
                                            if "ticks" in r))]
        return {"wall_s": sum(r["wall_s"] for r in items),
                "time_s": sum(r.get("time_s", r["wall_s"]) for r in items),
                "steal_share": steal_share(ticks) if ticks else 0.0,
                "items": items}


def dir_stats(path: str) -> tuple[int, float]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if not f.startswith((".", "_"))]
    return len(files), sum(os.path.getsize(f) for f in files) / MB


# ------------------------------------------------------------- per layer --

def layer_metrics(p: dict, cores: int, ndjson_mb: float) -> dict:
    """Per-layer totals of one traced pass."""
    items = [r for r in p["items"] if not r.get("failed")]
    m: dict[str, float] = {}

    def add(k, v):
        m[k] = m.get(k, 0) + v

    for r in items:
        b, a = r["build"], r["action"]
        add("entry.build_s", r["build_s"])
        add("entry.build_jobs", b["exec.jobs"])
        add("exec.action_s", r["action_s"])
        add("gate.residual_s", r["residual_s"])
        for k in ("exec.jobs", "exec.stages", "exec.tasks",
                  "exec.executor_run_s", "exec.executor_cpu_s", "exec.gc_s",
                  "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb",
                  "sources.scan_mb", "sources.input_rows",
                  "catalyst.analysis_ms", "catalyst.optimization_ms",
                  "catalyst.planning_ms", "streaming.batches",
                  "streaming.add_batch_ms", "streaming.query_planning_ms",
                  "streaming.wal_commit_ms"):
            add(k, b[k] + a[k])
        add("catalyst.build_ms", sum(b[f"catalyst.{x}_ms"] for x in
                                     ("analysis", "optimization", "planning")))
        for k in ("sources.load_s", "sinks.write_s", "plans.build_s",
                  "caching.release_s"):
            add(k, r[k])
        add("caching.pin_calls", r["caching.pin_calls"]
            + r["caching.hot_ckpt_calls"])
        add("caching.ckpt_calls", r["caching.ckpt_calls"]
            + r["caching.hot_ckpt_calls"])
        add("caching.drop_calls", r["caching.drop_ckpt_calls"])
        add("caching.held_mb_at_gate_end", r["held_mb_at_end"])
        add("caching.held_rdds_at_gate_end",
            r["rdds_at_end"] - r["rdds_before"])
        add("caching.held_rdds_after_release",
            r["rdds_after_release"] - r["rdds_before"])
        add("sinks.files", r.get("sink_files", 0))
        add("sinks.output_mb", r.get("sink_mb", 0.0))
    wall = p["wall_s"]
    m["exec.slot_busy_frac"] = m.get("exec.executor_run_s", 0.0) / (wall * cores)
    m["sinks.output_mb_per_input_mb"] = (
        m.pop("sinks.output_mb", 0.0) / ndjson_mb if ndjson_mb else 0.0)
    return m


# ------------------------------------------------------------------ main --

def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def generate(workload, seed: int, dirs: dict) -> dict:
    import datagen

    info: dict = {"rows": {}}
    if "star" in workload.inputs:
        info["rows"].update(datagen.make_star(dirs["star"], seed))
    if "mb" in workload.inputs:
        mb = datagen.make_musicbrainz(dirs["mb"], seed)
        info["rows"].update({k: v for k, v in mb.items()
                             if not k.endswith("_bytes")})
        info["ndjson_mb"] = sum(v for k, v in mb.items()
                                if k.endswith("_bytes")) / MB
    return info


def expected_signatures(workload, dirs: dict, engine: Engine) -> dict:
    import expected as ex

    out = {}
    gates = [i.name for i in workload.items if i.kind == "gate"]
    if gates:
        entry = engine.entry
        con = ex.star_connection(dirs["star"], cpu_count())
        out.update(ex.expected_gates(con, gates, entry.oracle_sql()))
        con.close()
    pipes = [i for i in workload.items if i.kind == "pipeline"]
    if pipes:
        con = ex.mb_connection(dirs["mb"], cpu_count())
        simple = engine.plans["etl_simple"]
        nested = engine.plans["etl_nested"]
        for i in pipes:
            if i.name == "etl_nested":
                out[i.name] = ex.nested_expected(con, nested.nested_output_schema())
            else:
                out[i.name] = ex.simple_expected(
                    con, simple.simple_output_schema(i.lookups), i.lookups)
        con.close()
    return out


def setup_probe(data_dir: str, work: str) -> None:
    """Child-process set-up: prints its set-up times as one JSON line."""
    prepare_env(work)
    engine = Engine(data_dir, work)
    times = engine.times
    engine.stop()
    print(json.dumps(times))


def run_probes(data_dir: str, work: str) -> list[float]:
    out = []
    for _ in range(SETUP_PROBES):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe",
             data_dir, "--work", work],
            cwd=ROOT, capture_output=True, text=True, timeout=PROBE_TIMEOUT_S)
        if proc.returncode != 0:
            raise RuntimeError(f"setup probe failed:\n{proc.stderr[-2000:]}")
        out.append(json.loads(proc.stdout.strip().splitlines()[-1])["setup_s"])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", metavar="DATA_DIR", help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if args.setup_probe:
        setup_probe(args.setup_probe, args.work)
        return 0

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"[perfbench] engine sources not found under {ROOT}",
              file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    tag = f"{w.name}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    prepare_env(work)
    try:
        return bench(args, w, tag, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(args, w, tag: str, work: str) -> int:
    t_start = time.perf_counter()
    host = host_record()
    data = os.path.join(work, "data")
    dirs = {"star": os.path.join(data, "star"), "mb": os.path.join(data, "mb"),
            "out": os.path.join(work, "out")}
    info = generate(w, args.seed, dirs)
    input_rows = sum(info["rows"][t] for i in w.items for t in i.tables)

    tracer = None
    if args.trace:
        from tracing import Tracer
        tracer = Tracer()
    with RssSampler(active=tracer is not None) as rss:
        engine = Engine(data, work, tracer)
        cores = engine.spark.sparkContext.defaultParallelism
        runner = Runner(engine, w, dirs, tracer)
        if tracer is not None:
            tracer.attach(engine.spark)

        def settle(p: dict) -> dict:
            """Between passes (untimed): full JVM GCs, then the heap still
            in use and the process tree's resident set."""
            jvm = engine.spark._jvm
            # Python first: dropping dead Py4J proxies releases the JVM
            # objects they pin; the second JVM GC collects what Spark's
            # ContextCleaner freed after the first one, and the pause lets
            # G1 return the first GC's free heap to the OS (it uncommits
            # concurrently)
            gc.collect()
            jvm.System.gc()
            time.sleep(SETTLE_S)
            jvm.System.gc()
            p["heap_after_gc_mb"] = jvm.java.lang.management.ManagementFactory \
                .getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB
            p["rss_after_gc_mb"] = rss.sample()
            return p

        cold = settle(runner.run_pass())
        warm = [settle(runner.run_pass(verify=True))]
        spent = warm[0]["wall_s"]
        # at least two warm passes, so every run reports the same kind of
        # median: the first warm pass (which also checks) and a later one
        while len(warm) < 2 or spent < args.seconds:
            warm.append(settle(runner.run_pass()))
            spent += warm[-1]["wall_s"]
        engine.stop()
    close_host_record(host)

    expected = expected_signatures(w, dirs, engine)
    mismatched = sorted(n for n, sig in expected.items()
                        if runner.observed.get(n) != sig
                        and n in runner.observed)
    runner.failed += len(mismatched)
    correct = (runner.failed == 0
               and set(runner.observed) == set(expected))

    layer_record: dict = {}
    if tracer is None:
        setups = [engine.times["setup_s"]] + run_probes(data, work)
        warm_s = median([p["time_s"] for p in warm])
        metrics = {
            "setup_s": (median(setups), len(setups)),
            "cold_pass_s": (cold["time_s"], 1),
            "warm_pass_s": (warm_s, len(warm)),
            "input_rows_per_s": (input_rows / warm_s, len(warm)),
            "heap_after_gc_mb": (median([p["heap_after_gc_mb"] for p in warm]),
                                 len(warm)),
        }
        units = E2E_UNITS
    else:
        ndjson = info.get("ndjson_mb", 0.0)
        per = [layer_metrics(p, cores, ndjson) for p in warm]
        metrics = {k: (median([m[k] for m in per]), len(per)) for k in per[0]}
        cold_m = layer_metrics(cold, cores, ndjson)
        metrics.update({
            "cold.build_s": (cold_m["entry.build_s"], 1),
            "cold.catalyst_ms": (sum(cold_m[f"catalyst.{x}_ms"] for x in
                                     ("analysis", "optimization",
                                      "planning")), 1),
            "trace.warm_pass_s": (median([p["time_s"] for p in warm]),
                                  len(warm)),
        })
        metrics["mem.peak_rss_mb"] = (rss.peak_mb, 1)
        metrics["mem.rss_after_gc_mb"] = (
            median([p["rss_after_gc_mb"] for p in warm]), len(warm))
        for k in ("session.start_s", "entry.import_s", "entry.registry_s"):
            metrics[k] = (engine.times[k], 1)
        layer_record = {k: v for k, (v, _) in metrics.items()}
        metrics = {k: metrics[k] for k in LAYER_UNITS}
        units = LAYER_UNITS

    record = {"workload": w.name, "seed": args.seed, "trace": args.trace,
              "host": host, "inputs": info, "input_rows_per_pass": input_rows,
              "setup": engine.times, "cold": cold, "warm": warm,
              "expected": expected, "observed": runner.observed,
              "mismatched": mismatched,
              "layers": layer_record,
              "errors": runner.errors,
              "spans": tracer.spans if tracer is not None else []}
    record["run_s"] = time.perf_counter() - t_start
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, default=str)

    print(f"host: {json.dumps(host)}")
    if host["overloaded"]:
        print("WARNING: load average above nproc; timings are suspect")
    for name in mismatched:
        print(f"MISMATCH {name}: got {runner.observed[name]} "
              f"want {expected[name]}")
    for k, (v, n) in metrics.items():
        print(f"{k:32s} {v:14.4f} {units[k]:6s} (n={n})")
    print(f"wall time, steal included: cold pass {cold['wall_s']:.4f} s, "
          f"warm pass {median([p['wall_s'] for p in warm]):.4f} s; share of "
          f"the busy vCPUs' time stolen: {host['steal_share']:.4f}")
    # failed / attempted: 0 at a correct commit, so it has no relative bound
    # and stays out of the result line's metrics
    print(f"{'error_rate':32s} {runner.failed / runner.attempted:14.4f} "
          f"{'ratio':6s} (n={runner.attempted})")
    print(json.dumps({
        "correct": correct, "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, (v, _) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
