"""Per-layer tracing, done entirely from outside the package.

While a pass is traced, the tracer
- replaces the package's public io, session and streaming helpers with
  timing wrappers in every ``hive_reflex_spark`` module that bound them
  (restored when the pass ends);
- registers a QueryExecutionListener through the py4j callback server and
  sums each query execution's Catalyst phases;
- reads the JVM status stores after the pass (jobs, stages and the SQL
  plan metrics of the Python nodes) for everything submitted in the
  pass's time window.
None of this runs a Spark job.
"""

from __future__ import annotations

import json
import re
import sys
import threading
import time
from collections import defaultdict

# package helper -> metric prefix
IO_HELPERS = {
    ("hive_reflex_spark.io", "read_table"): "io.read_table",
    ("hive_reflex_spark.io", "cached_df"): "io.cached_df",
    ("hive_reflex_spark.io", "maybe_local_checkpoint"): "io.local_checkpoint",
    ("hive_reflex_spark.io", "corpus_checkpoint"): "io.corpus_checkpoint",
    ("hive_reflex_spark.io", "chain_checkpoint"): "io.chain_checkpoint",
    ("hive_reflex_spark.io", "tracked_persist"): "io.tracked_persist",
    ("hive_reflex_spark.streaming.ops", "run_to_memory"): "streaming.run_to_memory",
    ("hive_reflex_spark.session", "pin_session"): "session.pin",
}
# materializations nested in another one (corpus_checkpoint persists via
# tracked_persist) are not counted twice
MATERIALIZE = {
    "io.local_checkpoint", "io.corpus_checkpoint", "io.chain_checkpoint",
    "io.tracked_persist",
}
CALL_METRICS = sorted(MATERIALIZE) + ["streaming.run_to_memory"]

PYTHON_NODE_METRICS = {
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_VALUE = re.compile(r"([\d.,]+)\s*(ms|min|s|m|h|B|KiB|MiB|GiB|TiB)\b")
MIB = float(2**20)


def parse_metric_value(text: str) -> float:
    """'2.1 s', '771.3 KiB' or 'total (min, med, max ...)\\n1.2 s (...)'
    -> seconds or MiB."""
    m = _VALUE.search(text.split("\\n")[-1] if "\\n" in text else text)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


def layer_names(modules: list[str]) -> list[str]:
    """Every metric one traced pass yields, in output order."""
    names = ["registry.build_s"]
    names += [f"operators.{m}.build_s" for m in modules]
    names += [
        "session.pin_calls",
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
        "driver.outside_jobs_s",
        "exec.executor_run_s", "exec.executor_cpu_s", "exec.jvm_gc_s",
        "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
        "exec.input_mb", "exec.peak_exec_mem_mb",
        "python.run_s", "python.sent_mb", "python.returned_mb",
        "io.read_table_s", "io.cached_df.hit_ratio",
    ]
    for m in CALL_METRICS:
        names += [f"{m}.calls", f"{m}.s"]
    return names


class _Listener:
    """QueryExecutionListener implemented in Python over py4j."""

    def __init__(self):
        self.lock = threading.Lock()
        self.phases: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._record(qe)

    def _record(self, qe):
        summary = qe.tracker().phases()
        got = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = summary.get(phase)
            if opt.isDefined():
                got[phase] = opt.get().durationMs() / 1000.0
        with self.lock:
            self.phases.append(got)

    def drain(self) -> list[dict[str, float]]:
        with self.lock:
            out, self.phases = self.phases, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Traces one pass at a time: ``start()``, run the pass, ``stop()``."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        sc = spark.sparkContext
        self.jsc = sc._jsc.sc()
        jvm = sc._jvm
        ensure_callback_server_started(sc._gateway)
        self.listener = _Listener()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
        )
        self.no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._patched: list[tuple[object, str, object]] = []
        self._depth: dict[str, int] = defaultdict(int)
        self.reset()

    def reset(self):
        self.calls: dict[str, int] = defaultdict(int)
        self.secs: dict[str, float] = defaultdict(float)
        self.builds: dict[str, float] = defaultdict(float)
        self.cache_hits = 0

    # -- wrappers --------------------------------------------------------
    def _wrap(self, metric: str, fn):
        group = "materialize" if metric in MATERIALIZE else metric
        tracer = self

        def traced(*args, **kwargs):
            built = []
            if metric == "io.cached_df":
                args = list(args)
                build = args[1] if len(args) > 1 else kwargs["build"]

                def counting_build():
                    built.append(True)
                    return build()

                if len(args) > 1:
                    args[1] = counting_build
                else:
                    kwargs["build"] = counting_build
            nested = tracer._depth[group] > 0
            tracer._depth[group] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._depth[group] -= 1
                if not nested:
                    tracer.calls[metric] += 1
                    tracer.secs[metric] += time.perf_counter() - t0
                    if metric == "io.cached_df" and not built:
                        tracer.cache_hits += 1

        traced.__wrapped__ = fn
        return traced

    def _patch(self):
        mods = [
            m for name, m in list(sys.modules.items())
            if m is not None and (name == "hive_reflex_spark"
                                  or name.startswith("hive_reflex_spark."))
        ]
        for (mod_name, attr), metric in IO_HELPERS.items():
            original = getattr(sys.modules[mod_name], attr)
            wrapper = self._wrap(metric, original)
            for m in mods:
                if getattr(m, attr, None) is original:
                    self._patched.append((m, attr, original))
                    setattr(m, attr, wrapper)

    def _unpatch(self):
        while self._patched:
            m, attr, original = self._patched.pop()
            setattr(m, attr, original)

    # -- one traced pass -------------------------------------------------
    def record_build(self, module: str, seconds: float):
        self.builds[module] += seconds

    def start(self):
        self.reset()
        self._patch()
        self.listener.drain()
        self.spark._jsparkSession.listenerManager().register(self.listener)
        self.t0_ms = int(time.time() * 1000)

    def stop(self, wall: float) -> dict[str, float]:
        t1_ms = int(time.time() * 1000)
        self._unpatch()
        self.jsc.listenerBus().waitUntilEmpty(10_000)
        self.spark._jsparkSession.listenerManager().unregister(self.listener)
        out: dict[str, float] = {}
        out["registry.build_s"] = sum(self.builds.values())
        for module, s in self.builds.items():
            out[f"operators.{module}.build_s"] = s
        out["session.pin_calls"] = float(self.calls["session.pin"])
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_s"] = 0.0
        for ph in self.listener.drain():
            for phase, s in ph.items():
                out[f"catalyst.{phase}_s"] += s
        out.update(self._scheduler(self.t0_ms, t1_ms, wall))
        out.update(self._python(self.t0_ms))
        out["io.read_table_s"] = self.secs["io.read_table"]
        n_cached = self.calls["io.cached_df"]
        out["io.cached_df.hit_ratio"] = self.cache_hits / n_cached if n_cached else 0.0
        for m in CALL_METRICS:
            out[f"{m}.calls"] = float(self.calls[m])
            out[f"{m}.s"] = self.secs[m]
        return out

    def _scheduler(self, t0_ms: int, t1_ms: int, wall: float) -> dict[str, float]:
        store = self.jsc.statusStore()
        jobs = [
            j for j in json.loads(self.mapper.writeValueAsString(store.jobsList(None)))
            if t0_ms <= j["submissionTime"] <= t1_ms
        ]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in json.loads(self.mapper.writeValueAsString(
                store.stageList(None, False, False, self.no_quantiles, None)))
            if s["stageId"] in stage_ids and s["status"] not in ("SKIPPED", "PENDING")
        ]
        # job intervals clipped to the pass window, merged
        spans = sorted(
            (max(j["submissionTime"], t0_ms), min(j.get("completionTime") or t1_ms, t1_ms))
            for j in jobs
        )
        busy_ms, end = 0, t0_ms
        for a, b in spans:
            a = max(a, end)
            if b > a:
                busy_ms += b - a
                end = b
        total = defaultdict(float)
        for s in stages:
            for k in (
                "executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleReadBytes",
                "shuffleWriteBytes", "diskBytesSpilled", "inputBytes", "numTasks",
            ):
                total[k] += s.get(k, 0) or 0
        return {
            "scheduler.jobs": float(len(jobs)),
            "scheduler.stages": float(len(stages)),
            "scheduler.tasks": total["numTasks"],
            "driver.outside_jobs_s": max(0.0, wall - busy_ms / 1000.0),
            "exec.executor_run_s": total["executorRunTime"] / 1000.0,
            "exec.executor_cpu_s": total["executorCpuTime"] / 1e9,
            "exec.jvm_gc_s": total["jvmGcTime"] / 1000.0,
            "exec.shuffle_read_mb": total["shuffleReadBytes"] / MIB,
            "exec.shuffle_write_mb": total["shuffleWriteBytes"] / MIB,
            "exec.spill_mb": total["diskBytesSpilled"] / MIB,
            "exec.input_mb": total["inputBytes"] / MIB,
            "exec.peak_exec_mem_mb": max(
                (s.get("peakExecutionMemory", 0) or 0 for s in stages), default=0
            ) / MIB,
        }

    def _python(self, t0_ms: int) -> dict[str, float]:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        out = dict.fromkeys(PYTHON_NODE_METRICS.values(), 0.0)
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.submissionTime() < t0_ms:
                break
            eid = e.executionId()
            dot = sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))
            for label, metric in PYTHON_NODE_METRICS.items():
                for m in re.finditer(re.escape(label) + r": ([^<\"]+)", dot):
                    out[metric] += parse_metric_value(m.group(1))
        return out
