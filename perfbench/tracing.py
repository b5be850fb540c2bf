"""Tracing for the benchmark's ``--trace 1`` runs.

Three sources, all read from the benchmark's side of the layer boundary:

- spans around every call into a layer's public functions (session,
  sources, sinks, plans, caching). ``install()`` wraps those functions in
  their modules BEFORE ``__spark_entry__`` and the function modules import
  them, so ``from bqetl_spark.caching import ckpt`` binds to the wrapper;
- Spark's own listeners: a QueryExecutionListener (Catalyst phase times of
  every QueryExecution that ran, writes included) and a
  StreamingQueryListener (micro-batch durations);
- Spark's status store after each segment of an item (build, action):
  jobs, stages, tasks, executor run/CPU/GC time, shuffle and input bytes.

Spans and per-item records stay in memory and are written out once, when
the run ends.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

WRAPPED = (
    ("bqetl_spark.caching", "caching",
     ("pin", "ckpt", "hot_ckpt", "drop_ckpt", "release_pinned")),
    ("bqetl_spark.sources.parquet_source", "sources",
     ("load_parquet_table", "load_events")),
    ("bqetl_spark.sources.json_source", "sources",
     ("load_table", "load_table_from_text")),
    ("bqetl_spark.sources.sinks", "sinks", ("write_parquet",)),
    ("bqetl_spark.plans.etl_simple", "plans", ("bqetl_simple",)),
    ("bqetl_spark.plans.etl_nested", "plans", ("bqetl_nested",)),
    ("bqetl_spark.session", "session",
     ("get_spark", "tune_shuffle_partitions")),
)
PHASES = ("analysis", "optimization", "planning")
STREAM_DURATIONS = {"addBatch": "add_batch_ms",
                    "queryPlanning": "query_planning_ms",
                    "walCommit": "wal_commit_ms"}
MB = 1024.0 * 1024.0


def _zero_stream() -> dict:
    return {"batches": 0, **{v: 0.0 for v in STREAM_DURATIONS.values()}}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.gate = ""
        self._local = threading.local()
        self._lock = threading.Lock()
        self._qe_events: list[dict] = []
        self._stream = _zero_stream()
        self._next_job = 0
        self._seen_stages: set[tuple[int, int]] = set()

    # ------------------------------------------------------------ spans --
    def install(self) -> None:
        for mod_name, layer, names in WRAPPED:
            mod = importlib.import_module(mod_name)
            for name in names:
                setattr(mod, name, self._wrap(layer, name, getattr(mod, name)))

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._local.__dict__.setdefault("stack", [])
            span = {"layer": layer, "name": name,
                    "gate": self.gate,
                    "parent": stack[-1]["id"] if stack else None,
                    "parent_layer": stack[-1]["layer"] if stack else None,
                    "start": time.perf_counter()}
            with self._lock:
                span["id"] = len(self.spans)
                self.spans.append(span)
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                span["end"] = time.perf_counter()
        return traced

    def layer_time(self, layer: str, since: int) -> float:
        """Seconds in outermost calls into ``layer`` among spans[since:]
        (a call nested in another call of the same layer counts once)."""
        return sum(s["end"] - s["start"] for s in self.spans[since:]
                   if s["layer"] == layer and s["parent_layer"] != layer
                   and "end" in s)

    def calls(self, name: str, since: int) -> int:
        return sum(1 for s in self.spans[since:] if s["name"] == name)

    def name_time(self, name: str, since: int) -> float:
        return sum(s["end"] - s["start"] for s in self.spans[since:]
                   if s["name"] == name and "end" in s)

    # -------------------------------------------------------- listeners --
    def attach(self, spark) -> None:
        """Register the Spark listeners (Py4J callback server for the
        QueryExecutionListener, PySpark's bridge for streaming)."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        tracer = self

        class QueryListener:
            def onSuccess(self, func, qe, duration_ns):
                phases = qe.tracker().phases()
                rec = {"func": func, "ms": duration_ns / 1e6}
                for p in PHASES:
                    opt = phases.get(p)
                    rec[p] = opt.get().durationMs() if opt.isDefined() else 0
                with tracer._lock:
                    tracer._qe_events.append(rec)

            def onFailure(self, func, qe, exc):
                with tracer._lock:
                    tracer._qe_events.append({"func": func, "failed": True})

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class StreamListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs
                with tracer._lock:
                    tracer._stream["batches"] += 1
                    for k, v in STREAM_DURATIONS.items():
                        tracer._stream[v] += float(d.get(k, 0))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark._jsparkSession.listenerManager().register(QueryListener())
        spark.streams.addListener(StreamListener())
        self._next_job = self._first_unseen_job(spark.sparkContext, 0)

    def drain(self, spark) -> dict:
        """Wait for queued listener events, then return (and reset) the
        Catalyst and streaming totals accumulated since the last drain."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            events, self._qe_events = self._qe_events, []
            stream, self._stream = self._stream, _zero_stream()
        out = {f"catalyst.{p}_ms": float(sum(e.get(p, 0) for e in events))
               for p in PHASES}
        out["catalyst.queries"] = len(events)
        out.update({f"streaming.{k}": v for k, v in stream.items()})
        return out

    # ----------------------------------------------------- status store --
    @staticmethod
    def _first_unseen_job(sc, start: int) -> int:
        tracker = sc.statusTracker()
        i = start
        while any(tracker.getJobInfo(j) is not None for j in range(i, i + 4)):
            i += 1
        return i

    def jobs(self, spark) -> dict:
        """Totals over the jobs that started since the last call."""
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = {"exec.jobs": 0, "exec.stages": 0, "exec.tasks": 0,
               "exec.executor_run_s": 0.0, "exec.executor_cpu_s": 0.0,
               "exec.gc_s": 0.0, "shuffle.write_mb": 0.0,
               "shuffle.read_mb": 0.0, "shuffle.spill_mb": 0.0,
               "sources.scan_mb": 0.0, "sources.input_rows": 0}
        end = self._first_unseen_job(sc, self._next_job)
        for job_id in range(self._next_job, end):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["exec.jobs"] += 1
            for sid in info.stageIds:
                st = store.lastStageAttempt(sid)
                key = (sid, st.attemptId())
                if key in self._seen_stages or st.numCompleteTasks() == 0:
                    continue  # skipped here: ran (and counted) earlier
                self._seen_stages.add(key)
                out["exec.stages"] += 1
                out["exec.tasks"] += st.numCompleteTasks()
                out["exec.executor_run_s"] += st.executorRunTime() / 1e3
                out["exec.executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["exec.gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle.write_mb"] += st.shuffleWriteBytes() / MB
                out["shuffle.read_mb"] += st.shuffleReadBytes() / MB
                out["shuffle.spill_mb"] += (st.memoryBytesSpilled()
                                            + st.diskBytesSpilled()) / MB
                out["sources.scan_mb"] += st.inputBytes() / MB
                out["sources.input_rows"] += st.inputRecords()
        self._next_job = end
        return out


def storage(spark) -> tuple[int, float]:
    """(persistent RDD count, MB held in executor memory and disk)."""
    jsc = spark.sparkContext._jsc
    held = sum(r.memSize() + r.diskSize() for r in jsc.sc().getRDDStorageInfo())
    return int(jsc.getPersistentRDDs().size()), held / MB
