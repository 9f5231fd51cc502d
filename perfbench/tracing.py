"""Measurement plumbing: spans, Spark status-store readers, UDF-profiler
harvesting, process-tree RSS sampling, CPU steal and the host block.

Everything here observes the library from outside.  Spans wrap the
benchmark's own calls into the public API; Spark job and stage
intervals and the Python-runner SQL metrics come from Spark's status
stores; per-function times come from Spark's UDF profiler
(``spark.sql.pyspark.udf.profiler=perf``) plus a driver-side cProfile.
"""

from __future__ import annotations

import contextlib
import cProfile
import json
import os
import platform
import pstats
import threading
import time

# Python-runner SQL metrics (same names on FlatMapGroupsInPandas,
# ArrowEvalPython and MapInPandas).
HANDOFF_METRICS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
    "time to run Python workers": "run_ms",
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
}


class Tracer:
    """In-memory spans: id, name, start, end, parent, Spark job group.

    Every span with ``grouped=True`` runs its Spark jobs under a job
    group of its own.  With ``harvest=True`` such a span also turns on
    the UDF profiler and a driver cProfile for its body, and afterwards
    reads the group's jobs and stages from the status store, the
    Python-runner metrics of the SQL executions that ran them, the
    profiles, and the bytes the body broadcast.  Spark job and stage
    intervals become child spans.  Nothing is written until :meth:`dump`.
    """

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._acc_last: dict[int, int] = {}
        self._broadcast_bytes = 0
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._store = self.sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._accums = jvm.org.apache.spark.util.AccumulatorContext
        self._seen_executions = self._sql_store.executionsCount()
        self._count_broadcasts()

    def _count_broadcasts(self) -> None:
        """Wrap this context's ``broadcast`` to add up the pickled bytes
        of every value broadcast (the file PySpark hands to the JVM)."""
        original = self.sc.broadcast

        def broadcast(value):
            bc = original(value)
            self._broadcast_bytes += os.path.getsize(bc._path)
            return bc

        self.sc.broadcast = broadcast

    @contextlib.contextmanager
    def span(self, name: str, grouped: bool = False, harvest: bool = False,
             **attrs):
        """Time the body; yields the span dict, to which callers may add
        fields."""
        rid = len(self.spans)
        group = f"{name}-{rid}" if grouped else None
        rec = {"id": rid, "name": name, "group": group,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rid)
        prof = None
        if group is not None:
            self.sc.setJobGroup(group, name)
            if harvest:
                self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
                self.spark.profile.clear()
                self._broadcast_bytes = 0
                prof = cProfile.Profile()
        rec["start"] = time.time()
        try:
            if prof is not None:
                prof.enable()
            try:
                yield rec
            finally:
                if prof is not None:
                    prof.disable()
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group is not None:
                self.sc._jsc.clearJobGroup()
                if harvest:
                    self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
                    self._collect(rec, prof)

    # -- status-store readers ----------------------------------------------

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _collect(self, rec: dict, driver_prof) -> None:
        group = rec["group"]
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        jobs, stages = [], []
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        empty = self.sc._jvm.java.util.ArrayList()
        for jid in sorted(job_ids):
            job = self._json(self._store.job(jid))
            jobs.append(job)
            for sid in job["stageIds"]:
                for attempt in self._json(self._store.stageData(
                        sid, True, empty, False, no_quantiles)):
                    if attempt.get("submissionTime") is not None:
                        stages.append(attempt)
        rec["traced"] = True
        rec["jobs"] = [{"jobId": j["jobId"], "start": _ms(j["submissionTime"]),
                        "end": _ms(j["completionTime"]),
                        "failed_tasks": j["numFailedTasks"]} for j in jobs]
        rec["stages"] = [_stage_summary(s) for s in stages]
        rec["handoff"] = self._handoff(set(job_ids))
        rec["broadcast_bytes"] = self._broadcast_bytes
        rec["profile"] = _profile_table(self._worker_profile(), driver_prof)
        for j in rec["jobs"]:
            self.spans.append({"id": len(self.spans), "name": "spark.job",
                               "parent": rec["id"], "group": group,
                               "start": j["start"], "end": j["end"],
                               "jobId": j["jobId"]})
        for s in rec["stages"]:
            self.spans.append({"id": len(self.spans), "name": "spark.stage",
                               "parent": rec["id"], "group": group,
                               "start": s["start"], "end": s["end"],
                               "stageId": s["stageId"]})

    def _handoff(self, job_ids: set) -> dict:
        """Sum the Python-runner metrics of the SQL executions that ran
        ``job_ids``.  Values come from the live accumulators (exact
        longs).  An accumulator can appear in several plans (AQE
        re-plans, the cached plan under a persisted table), so each one
        contributes only its growth since it was last read."""
        out = {v: 0 for v in HANDOFF_METRICS.values()}
        total = self._sql_store.executionsCount()
        new = total - self._seen_executions
        if new <= 0:
            return out
        execs = self._sql_store.executionsList(self._seen_executions, new)
        self._seen_executions = total
        for i in range(execs.size()):
            ex = execs.apply(i)
            ran = {int(k) for k in self._json(ex.jobs()).keys()}
            if not ran & job_ids:
                continue
            for m in self._json(ex.metrics()):
                key = HANDOFF_METRICS.get(m["name"])
                if key is None:
                    continue
                acc_id = m["accumulatorId"]
                acc = self._accums.get(acc_id)
                if acc.isDefined():
                    value = int(acc.get().value())
                    out[key] += value - self._acc_last.get(acc_id, 0)
                    self._acc_last[acc_id] = value
        return out

    def _worker_profile(self) -> pstats.Stats:
        results = self.spark._profiler_collector._perf_profile_results
        merged = pstats.Stats()
        for stats in results.values():
            merged.add(stats)
        self.spark.profile.clear()
        return merged

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)


def _ms(v) -> float | None:
    """Status-store timestamps (epoch ms) -> epoch seconds."""
    return None if v is None else float(v) / 1e3


def _stage_summary(s: dict) -> dict:
    tasks = [t["duration"] for t in (s.get("tasks") or {}).values()
             if t.get("duration") is not None]
    return {
        "stageId": s["stageId"], "attemptId": s["attemptId"],
        "start": _ms(s["submissionTime"]), "end": _ms(s.get("completionTime")),
        "run_s": s["executorRunTime"] / 1e3,
        "cpu_s": s["executorCpuTime"] / 1e9,
        "gc_s": s["jvmGcTime"] / 1e3,
        "shuffle_write_bytes": s["shuffleWriteBytes"],
        "shuffle_read_bytes": s["shuffleReadBytes"],
        "fetch_wait_s": s["shuffleFetchWaitTime"] / 1e3,
        "spill_bytes": s["memoryBytesSpilled"] + s["diskBytesSpilled"],
        "result_bytes": s["resultSize"],
        "failed_tasks": s["numFailedTasks"],
        "task_ms": tasks,
    }


def _profile_table(worker: pstats.Stats, driver_prof) -> dict:
    """{"where:file:func": [ncalls, tottime, cumtime, is_root]} over the
    worker profile (UDF bodies) and the driver profile of one span."""
    table: dict[str, list] = {}

    def add(stats, where):
        for (fname, _line, func), (_cc, nc, tt, ct, callers) in \
                stats.stats.items():
            key = f"{where}:{os.path.basename(fname)}:{func}"
            row = table.setdefault(key, [0, 0.0, 0.0, not callers])
            row[0] += nc
            row[1] += tt
            row[2] += ct

    add(worker, "worker")
    if driver_prof is not None:
        add(pstats.Stats(driver_prof), "driver")
    return table


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the Spark JVM and its Python daemon and workers) from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            found.append(child)
            todo.append(child)
    return found


def steal_seconds() -> float:
    """Cumulative CPU steal of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_block(spark, confs: dict) -> dict:
    """This host and software, measured here: nothing in it comes from
    another machine."""
    from importlib.metadata import version

    from fastfilter_spark.functions import native

    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": model,
        "mem_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": version("pyspark"),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
        "numpy": version("numpy"),
        "pyarrow": version("pyarrow"),
        "native_kernel_loaded": native.get_kernel() is not None,
        "spark_confs": confs,
    }
