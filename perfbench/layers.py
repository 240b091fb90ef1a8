"""Outside-in layer trace for ``run.py --trace 1``.

Nothing in the engine is patched on disk.  Before the registry is imported,
``Tracer.install`` replaces a few public functions of the engine's modules
with timing wrappers (``WRAPPED``) and counts py4j commands sent from the
benchmark thread, except garbage-collection detaches and stream polls.
After each op call it reads what Spark already records:

- jobs and stages from the status store (``AppStatusStore``);
- Python-worker byte counts from the SQL status store;
- Catalyst phase times from a ``QueryExecutionListener`` (each executed
  query's ``tracker().phases()``) plus the returned DataFrame's analysis;
- micro-batch progress from a ``StreamingQueryListener``.  A query's
  progress is credited to the call that started it only once its
  ``onQueryTerminated`` event has arrived.

Spans (name, start, end, parent, call id) stay in memory and are written to
``.work/trace/<workload>-seed<seed>.json`` by ``finish``.  Tracing is on in
the cold pass and in every other warm pass; the passes in between run with
the listeners removed and the counters idle, which gives the overhead.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import re
import statistics
import threading
import time

# (module under the engine package, attribute, span name); wrapped in this
# order, catalog first, so `from ...catalog import load_table` in modules
# imported later binds the wrapper
WRAPPED = (
    ("catalog", "load_table", "catalog.load_table"),
    ("catalog", "table_meta", "catalog.table_meta"),
    ("catalog", "sized_spread", "catalog.sized_spread"),
    ("session", "get_spark", "session.get_spark"),
    ("sources.docstore", "build_collection", "sources.docstore.build_collection"),
    ("sources.docstore", "append_batch", "sources.docstore.append_batch"),
    ("sources.txtable", "TxTable.merge", "sources.txtable.merge"),
    ("sources.txtable", "TxTable.compact", "sources.txtable.compact"),
    ("streaming.watermark", "WatermarkStore.commit", "streaming.watermark.commit"),
    ("plans.etl", "publish_lake_version", "plans.etl.publish_lake_version"),
)

# per_layer metric -> the wrapped span whose seconds it sums
SPAN_SECONDS = {
    "sources.docstore.append_batch_s": "sources.docstore.append_batch",
    "sources.txtable.merge_s": "sources.txtable.merge",
    "streaming.watermark_commit_s": "streaming.watermark.commit",
    "plans.etl.publish_lake_version_s": "plans.etl.publish_lake_version",
    "catalog.table_meta_s": "catalog.table_meta",
}
PROGRESS_PHASES = {
    "streaming.add_batch_s": "addBatch",
    "streaming.get_batch_s": "getBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.latest_offset_s": "latestOffset",
}
LOOKAHEAD = 4   # ids probed past a missing job or SQL execution id
_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_UDF_METRICS = {"data sent to Python workers": "udf_to",
                "data returned from Python workers": "udf_from"}


def _size_bytes(text: str | None) -> float:
    """'total (min, med, max ...)\\n78.7 KiB (...)' -> 80588.8 (the total)."""
    if not text:
        return 0.0
    m = _SIZE.search(text.split("\n")[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


class Tracer:
    def __init__(self, out_dir: str, workload: str, seed: int, cpus: int):
        self.out_dir = out_dir
        self.workload = workload
        self.seed = seed
        self.cpus = cpus
        self.spans: list[dict] = []
        self.active = True
        self.call_id = None
        self.root_span = None
        self.main = threading.get_ident()
        self.local = threading.local()
        self.py4j = 0
        self.counting = False
        self.n_calls = 0
        self.next_job = 0
        self.next_exec = 0
        self.qe_events: list[dict] = []
        self.stream: dict[str, dict] = {}   # query id -> started/progress/terminated
        self.lock = threading.Lock()
        self.spark = None

    # -- spans and wrappers -------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self.local, "stack"):
            self.local.stack = []
        return self.local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.root_span
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "call": self.call_id}
        with self.lock:
            self.spans.append(rec)
            sid = len(self.spans) - 1
        if self.call_id is not None and self.root_span is None:
            self.root_span = sid
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and name == "catalog.sized_spread":
                    rec["exchange"] = out is not args[0]
                return out
        return wrapper

    def install(self, pkg: str) -> None:
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(f"{pkg}.{mod_name}")
            owner, _, leaf = attr.rpartition(".")
            target = getattr(mod, owner) if owner else mod
            setattr(target, leaf, self._wrap(getattr(target, leaf), name))
        from py4j.java_gateway import GatewayClient
        from pyspark.sql.streaming.query import StreamingQuery

        send = GatewayClient.send_command
        poll = StreamingQuery.exception
        tracer = self

        def send_command(client, command, *args, **kwargs):
            # py4j's garbage-collection detach ("m\nd\n...") fires whenever
            # Python frees a proxy, so it is not part of the op's work
            if (tracer.counting and threading.get_ident() == tracer.main
                    and not command.startswith("m\nd\n")):
                tracer.py4j += 1
            return send(client, command, *args, **kwargs)

        def exception(query):
            # a driver loop that waits for a stream polls exception() every
            # few hundred ms, so its commands scale with the wait, not the work
            counting, tracer.counting = tracer.counting, False
            try:
                return poll(query)
            finally:
                tracer.counting = counting

        GatewayClient.send_command = send_command
        StreamingQuery.exception = exception

    # -- listeners ----------------------------------------------------------
    def attach(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(self.jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$").__getattr__("MODULE$")
        mapper.registerModule(scala_module)
        self.mapper = mapper
        self.empty_list = self.jvm.java.util.ArrayList()
        self.no_quantiles = sc._gateway.new_array(self.jvm.double, 0)
        ensure_callback_server_started(sc._gateway)
        # the SQL execution id is JVM-global and survives session restarts
        executions = self.sql_store.executionsList()
        self.next_exec = 1 + max([executions.apply(i).executionId()
                                  for i in range(executions.length())] or [-1])
        tracer = self

        class QueryListener:
            def onSuccess(self, func, qe, duration_ns):
                phases = qe.tracker().phases()
                ev = {"func": func}
                for k in ("analysis", "optimization", "planning"):
                    opt = phases.get(k)
                    ev[k] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0
                with tracer.lock:
                    tracer.qe_events.append(ev)

            def onFailure(self, func, qe, exc):
                self.onSuccess(func, qe, 0)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class StreamListener(StreamingQueryListener):
            def _q(self, qid):
                return tracer.stream.setdefault(
                    str(qid), {"progress": [], "terminated": False})

            def onQueryStarted(self, event):
                with tracer.lock:
                    self._q(event.id)["call"] = tracer.call_id

            def onQueryProgress(self, event):
                p = event.progress
                with tracer.lock:
                    self._q(p.id)["progress"].append(
                        {"batch": p.batchId, "rows": p.numInputRows,
                         "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tracer.lock:
                    self._q(event.id)["terminated"] = True

        self.qe_listener = QueryListener()
        self.stream_listener = StreamListener()
        self._listen(True)

    def _listen(self, on: bool) -> None:
        manager = self.spark._jsparkSession.listenerManager()
        if on:
            manager.register(self.qe_listener)
            self.spark.streams.addListener(self.stream_listener)
        else:
            manager.unregister(self.qe_listener)
            self.spark.streams.removeListener(self.stream_listener)

    def set_active(self, on: bool) -> None:
        if on == self.active:
            return
        self._drain()
        self._listen(on)
        self.active = on

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def _job(self, job_id: int):
        try:
            return self._json(self.store.job(job_id))
        except Exception:  # noqa: BLE001 - NoSuchElementException: no such job
            return None

    def _new_jobs(self) -> list[dict]:
        """Jobs with ids from next_job on; ids are sequential, so reading stops
        at the first id that is missing together with the LOOKAHEAD after it."""
        jobs = []
        while True:
            found = None
            for j in range(self.next_job, self.next_job + LOOKAHEAD):
                found = self._job(j)
                if found is not None:
                    self.next_job = j + 1
                    jobs.append(found)
                    break
            if found is None:
                return jobs

    def _new_executions(self) -> list[int]:
        ids = []
        while True:
            nxt = next((e for e in range(self.next_exec, self.next_exec + LOOKAHEAD)
                        if not self.sql_store.execution(e).isEmpty()), None)
            if nxt is None:
                return ids
            ids.append(nxt)
            self.next_exec = nxt + 1

    # -- per call -----------------------------------------------------------
    def begin_call(self, rec: dict) -> None:
        if not self.active:
            return
        self._drain()
        self._new_jobs()           # discard work done between calls (oracle
        self._new_executions()     # checks, set-up)
        with self.lock:
            self.qe_events.clear()
        self.n_calls += 1
        self.call_id = self.n_calls
        self.root_span = None
        self.py4j = 0
        self.counting = True
        rec["call_id"] = self.call_id
        rec["t0_ms"] = time.time() * 1000

    def end_call(self, rec: dict, df) -> None:
        if not self.active:
            return
        self.counting = False
        fn_end_ms = rec["t0_ms"] + rec.get("call_s", rec["wall_s"]) * 1000
        py4j = self.py4j
        L = {"call_s": rec.get("call_s", 0.0)}
        if df is not None:
            phases = df._jdf.queryExecution().tracker().phases()
            opt = phases.get("analysis")
            L["df_analysis_s"] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0
        self._drain()
        # streaming: wait for every query this call started to terminate
        deadline = time.time() + 30
        while True:
            with self.lock:
                mine = [q for q in self.stream.values() if q.get("call") == self.call_id]
            if all(q["terminated"] for q in mine) or time.time() > deadline:
                break
            time.sleep(0.05)
            self._drain()
        L["unterminated_queries"] = sum(1 for q in mine if not q["terminated"])
        progress = [p for q in mine if q["terminated"] for p in q["progress"]]
        L["triggers"] = len(progress)
        L["trigger_s"] = [p["ms"].get("triggerExecution", 0) / 1000 for p in progress]
        L["input_rows"] = sum(p["rows"] for p in progress)
        for metric, phase in PROGRESS_PHASES.items():
            L[metric] = sum(p["ms"].get(phase, 0) for p in progress) / 1000

        jobs = self._new_jobs()
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            try:
                stages += self._json(self.store.stageData(
                    sid, False, self.empty_list, False, self.no_quantiles))
            except Exception:  # noqa: BLE001 - stage evicted or never submitted
                pass
        ran = [s for s in stages if s["status"] != "SKIPPED"]
        spans_ms = [(j["submissionTime"], j.get("completionTime") or j["submissionTime"])
                    for j in jobs if j.get("submissionTime")]
        job_ms = _union_ms(spans_ms)
        L.update({
            "py4j_calls": py4j,
            "jobs": len(jobs),
            "eager_jobs": sum(1 for j in jobs if (j.get("submissionTime") or 0) <= fn_end_ms),
            "stages": len(ran),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in ran),
            "failed_tasks": sum(s["numFailedTasks"] for s in ran),
            "job_s": job_ms / 1000,
            "driver_gap_s": max(0.0, rec["wall_s"] - job_ms / 1000),
            "task_run_s": sum(s["executorRunTime"] for s in ran) / 1000,
            "task_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in ran) / 1000,
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in ran),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran),
            "peak_execution_memory_bytes": max([s["peakExecutionMemory"] for s in ran] or [0]),
            "input_bytes": sum(s["inputBytes"] for s in ran),
            "output_bytes": sum(s["outputBytes"] for s in ran),
        })
        udf = {"udf_to": 0.0, "udf_from": 0.0}
        for eid in self._new_executions():
            ui = self.sql_store.execution(eid).get()
            names = {m["accumulatorId"]: m["name"] for m in self._json(ui.metrics())
                     if m["name"] in _UDF_METRICS}
            if names:
                values = self._json(self.sql_store.executionMetrics(eid))
                for acc, name in names.items():
                    udf[_UDF_METRICS[name]] += _size_bytes(values.get(str(acc)))
        L.update(udf)
        with self.lock:
            events = list(self.qe_events)
        for k in ("analysis", "optimization", "planning"):
            L[f"{k}_s"] = sum(e[k] for e in events)
        L["analysis_s"] += L.pop("df_analysis_s", 0.0)
        mine_spans = [s for s in self.spans if s["call"] == self.call_id and s["end"]]
        for metric, name in SPAN_SECONDS.items():
            L[metric] = sum(s["end"] - s["start"] for s in mine_spans if s["name"] == name)
        L["load_table_calls"] = sum(1 for s in mine_spans if s["name"] == "catalog.load_table")
        L["sized_spread_exchanges"] = sum(1 for s in mine_spans if s.get("exchange"))
        rec["layers"] = L
        self.call_id = None
        self.root_span = None

    # -- summary ------------------------------------------------------------
    def finish(self, records: list[dict], passes: list[list[dict]], info: dict) -> dict:
        traced = [p for p in passes if all("layers" in r for r in p)]
        untraced = [p for p in passes if not any("layers" in r for r in p)]

        def per_pass(key, agg=sum):
            return statistics.median([agg(r["layers"][key] for r in p) for p in traced])

        setup_spans = [s for s in self.spans if s["call"] is None and s["parent"] is None]

        def setup_median(name):
            v = [s["end"] - s["start"] for s in setup_spans if s["name"] == name and s["end"]]
            return statistics.median(v) if v else 0.0

        pass_s = statistics.median([sum(r["wall_s"] for r in p) for p in traced])
        plain_s = (statistics.median([sum(r["wall_s"] for r in p) for p in untraced])
                   if untraced else pass_s)
        job_s = per_pass("job_s")
        triggers = [t for p in traced for r in p for t in r["layers"]["trigger_s"]]
        m = {
            "session.get_spark_s": (setup_median("session.get_spark"), "s"),
            "sources.docstore.build_collection_s":
                (setup_median("sources.docstore.build_collection"), "s"),
            "operators.call_s": (per_pass("call_s"), "s"),
            "operators.py4j_calls": (per_pass("py4j_calls"), "count"),
            "operators.eager_jobs": (per_pass("eager_jobs"), "count"),
            "catalyst.analysis_s": (per_pass("analysis_s"), "s"),
            "catalyst.optimization_s": (per_pass("optimization_s"), "s"),
            "catalyst.planning_s": (per_pass("planning_s"), "s"),
            "spark.jobs": (per_pass("jobs"), "count"),
            "spark.stages": (per_pass("stages"), "count"),
            "spark.tasks": (per_pass("tasks"), "count"),
            "spark.job_s": (job_s, "s"),
            "spark.driver_gap_s": (per_pass("driver_gap_s"), "s"),
            "spark.task_run_s": (per_pass("task_run_s"), "s"),
            "spark.task_cpu_s": (per_pass("task_cpu_s"), "s"),
            "spark.gc_s": (per_pass("gc_s"), "s"),
            "spark.core_util": (per_pass("task_run_s") / (job_s * self.cpus) if job_s else 0.0,
                                "ratio"),
            "spark.shuffle_read_bytes": (per_pass("shuffle_read_bytes"), "bytes"),
            "spark.shuffle_write_bytes": (per_pass("shuffle_write_bytes"), "bytes"),
            "spark.spill_bytes": (per_pass("spill_bytes"), "bytes"),
            "spark.peak_execution_memory_bytes":
                (max(r["layers"]["peak_execution_memory_bytes"] for p in traced for r in p),
                 "bytes"),
            "spark.failed_tasks": (per_pass("failed_tasks"), "count"),
            "spark.input_bytes": (per_pass("input_bytes"), "bytes"),
            "spark.output_bytes": (per_pass("output_bytes"), "bytes"),
            **{k: (per_pass(k), "s") for k in SPAN_SECONDS},
            "udf.bytes_to_python": (per_pass("udf_to"), "bytes"),
            "udf.bytes_from_python": (per_pass("udf_from"), "bytes"),
            "streaming.triggers": (per_pass("triggers"), "count"),
            "streaming.trigger_p50_s": (statistics.median(triggers) if triggers else 0.0, "s"),
            **{k: (per_pass(k), "s") for k in PROGRESS_PHASES},
            "streaming.input_rows": (per_pass("input_rows"), "count"),
            "catalog.load_table_calls": (per_pass("load_table_calls"), "count"),
            "catalog.sized_spread_exchanges": (per_pass("sized_spread_exchanges"), "count"),
            "trace.run_s": (pass_s, "s"),
            "trace.untraced_run_s": (plain_s, "s"),
            "trace.overhead": (pass_s / plain_s - 1.0, "ratio"),
        }
        unsteady = self._same_work(records)
        m["trace.unsteady_ops"] = (len(unsteady), "count")

        for name, (value, unit) in m.items():
            print(f"{name:>38} = {value:.6g} {unit}")
        print(f"trace: {len(traced)} traced and {len(untraced)} untraced warm passes; "
              f"traced run_s {pass_s:.3f} s vs untraced {plain_s:.3f} s "
              f"({100 * (pass_s / plain_s - 1):+.1f}% overhead)")
        for op, calls in sorted(unsteady.items()):
            print(f"trace: UNSTEADY {op}: (jobs, stages, triggers) per call = {calls}")
        for r in records:
            if "layers" in r:
                L = r["layers"]
                print(f"call {r['call_id']:>3} pass {r['pass']} {r['op']:<32} "
                      f"wall {r['wall_s']:.3f} fn {L['call_s']:.3f} py4j {L['py4j_calls']:>5} "
                      f"jobs {L['jobs']:>3} (eager {L['eager_jobs']:>3}) stages {L['stages']:>3} "
                      f"triggers {L['triggers']} job_s {L['job_s']:.3f}")
        os.makedirs(self.out_dir, exist_ok=True)
        path = os.path.join(self.out_dir, f"{self.workload}-seed{self.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "seed": self.seed, "cpus": self.cpus,
                       "info": info, "calls": records, "spans": self.spans}, fh)
        print(f"trace: spans and per-call layers written to {os.path.relpath(path)}")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    @staticmethod
    def _same_work(records: list[dict]) -> dict:
        """Ops whose traced calls (cold pass included) did not all run the
        same number of jobs, stages and micro-batches."""
        seen: dict[str, list] = {}
        for r in records:
            if "layers" in r and r["ok"]:
                L = r["layers"]
                seen.setdefault(r["op"], []).append((L["jobs"], L["stages"], L["triggers"]))
        return {op: calls for op, calls in seen.items() if len(set(calls)) > 1}
