"""Measurement from outside the package: Spark's status stores, a
streaming progress listener, in-memory spans and the JVM's memory.

Nothing here changes what the engine does. Every Spark reading is taken
after the work it describes has finished, from the JVM ``AppStatusStore``
and ``SQLAppStatusStore``, serialised to JSON in one py4j call each, and
attributed to a span by Spark job-id range (``[lo, hi)`` of
``DAGScheduler.nextJobId``), because the streams some queries start set
their own job groups.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: micro-batch trigger phases reported per layer (``durationMs`` keys)
STREAM_PHASES = (
    "addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning", "getBatch",
)

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """``(q, value)``: the highest percentile with at least ``beyond``
    samples above it. Below ``2 * beyond`` samples that percentile would
    sit under the median, so the maximum (q=100) stands in; the caller
    prints the sample count beside it."""
    n = len(values)
    if n < 2 * beyond:
        return 100.0, max(values)
    q = 100.0 * (n - beyond) / n
    return q, sorted(values)[n - beyond - 1]


def _seconds(formatted: str) -> float:
    """Parse a SQL timing metric as the status store formats it: either
    ``"1.9 s"`` or ``"total (min, med, max ...)\\n1.9 s (...)"``."""
    lines = formatted.strip().splitlines()
    m = lines and re.match(r"\s*([\d.,]+)\s*(ms|s|min|m|h)\b", lines[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _TIME_UNITS[m.group(2)]


class JvmStatus:
    """Read-only view of the Spark JVM's status stores."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self.slots = spark.sparkContext.defaultParallelism

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def next_job_id(self) -> int:
        """Id the next submitted Spark job will get (py4j unboxes the
        scheduler's AtomicInteger)."""
        return int(self._sc.dagScheduler().nextJobId())

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.ProcessHandle.current().pid())

    def jobs(self, lo: int, hi: int) -> list[dict]:
        return [j for j in self._json(self._store.jobsList(None)) if lo <= j["jobId"] < hi]

    def stages(self, stage_ids: set[int]) -> list[dict]:
        """Every attempt that ran (skipped stages carry no tasks)."""
        all_stages = self._json(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )
        return [
            s for s in all_stages
            if s["stageId"] in stage_ids and s["status"] != "SKIPPED"
        ]

    def task_run_ms(self, stage: dict) -> list[int]:
        tasks = self._json(self._store.taskList(stage["stageId"], stage["attemptId"], 100_000))
        return [t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")]

    def _python_metrics(self, lo: int, hi: int) -> list[str]:
        """Formatted values of the SQL metric "time to run Python workers"
        in the SQL executions whose jobs fall in ``[lo, hi)``."""
        out = []
        for ex in self._json(self._sql_store.executionsList()):
            if not any(lo <= int(j) < hi for j in (ex.get("jobs") or {})):
                continue
            ids = {
                m["accumulatorId"] for m in ex["metrics"]
                if m["name"] == "time to run Python workers"
            }
            if ids:
                values = self._json(self._sql_store.executionMetrics(ex["executionId"]))
                out += [values[str(i)] for i in ids if str(i) in values]
        return out

    def python_udf_s(self, lo: int, hi: int) -> float:
        return sum(_seconds(v) for v in self._python_metrics(lo, hi))

    def layer(self, lo: int, hi: int, wall_s: float) -> dict[str, float]:
        """Spark-engine counters for the jobs in ``[lo, hi)``."""
        jobs = self.jobs(lo, hi)
        stages = self.stages({s for j in jobs for s in j["stageIds"]})
        run_s = sum(s["executorRunTime"] for s in stages) / 1e3
        cpu_s = sum(s["executorCpuTime"] for s in stages) / 1e9
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(
                s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"] for s in stages
            ),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": cpu_s,
            "spark.slot_busy_ratio": run_s / (wall_s * self.slots) if wall_s > 0 else 0.0,
            "spark.task_wait_s": run_s - cpu_s,
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spark.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "spark.python_udf_s": self.python_udf_s(lo, hi),
        }

    def keyed_stage_skew(self, lo: int, hi: int) -> float:
        """max/median executor run time over the tasks of the heaviest
        Python stage in ``[lo, hi)`` (the keyed ``applyInPandas`` stage of
        one micro-batch). The status store names a SQL metric's stage only
        in its formatted value ("... (stage 12.0: task 34)"). 0 when no
        stage ran Python."""
        python_stages = {
            int(m) for v in self._python_metrics(lo, hi) for m in re.findall(r"stage (\d+)\.", v)
        }
        stages = self.stages(python_stages)
        if not stages:
            return 0.0
        runs = self.task_run_ms(max(stages, key=lambda s: s["executorRunTime"]))
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med > 0 else 0.0


def peak_rss_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class PhaseListener(StreamingQueryListener):
    """Collects every micro-batch's trigger-phase durations, from every
    stream in the session, including those a query function starts and
    stops internally."""

    def __init__(self):
        self._lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802 (listener API casing)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        with self._lock:
            self.progress.append(dict(p.durationMs))

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def phases(self) -> dict[str, float]:
        """Seconds per trigger phase summed over the events drained, and
        the number of micro-batches."""
        events = self.drain()
        out = {f"stream.{p}_s": sum(e.get(p, 0) for e in events) / 1e3 for p in STREAM_PHASES}
        out["stream.triggers"] = len(events)
        return out

    def drain(self, quiet_s: float = 0.5, timeout_s: float = 5.0) -> list[dict]:
        """Hand over the collected events once none arrived for ``quiet_s``
        (the listener bus is asynchronous)."""
        deadline = time.monotonic() + timeout_s
        seen, since = -1, time.monotonic()
        while time.monotonic() < deadline:
            with self._lock:
                n = len(self.progress)
            if n != seen:
                seen, since = n, time.monotonic()
            elif time.monotonic() - since >= quiet_s:
                break
            time.sleep(0.05)
        with self._lock:
            out, self.progress = self.progress, []
        return out


class Tracer:
    """In-memory spans: workload -> pass -> query or micro-batch. Each span
    carries the Spark job-id range it covered; ``write`` dumps them."""

    def __init__(self, status: JvmStatus):
        self.status = status
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, kind: str):
        return _Span(self, name, kind)

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str, kind: str):
        self.t, self.name, self.kind = tracer, name, kind

    def __enter__(self):
        t = self.t
        self.rec = {
            "id": len(t.spans),
            "parent": t._stack[-1] if t._stack else None,
            "name": self.name,
            "kind": self.kind,
            "job_lo": t.status.next_job_id(),
            "start": time.perf_counter(),
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.perf_counter()
        self.rec["dur_s"] = self.rec["end"] - self.rec["start"]
        self.rec["job_hi"] = t.status.next_job_id()
        t._stack.pop()
        return False
