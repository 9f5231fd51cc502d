"""Per-layer metrics of a traced run, computed from its spans.

Each metric is a mean per traced job, never a whole-run cumulative.
Layers are named after the library's modules: ``engine`` is the Spark
JVM under ``operators.dist`` and ``operators.sketch_agg``; ``handoff``
the Python-runner boundary; ``dist`` the driver and routing code of
``operators.dist``; ``kernel`` ``operators.local`` and
``functions.native``/``functions.kernels``; ``sketch``
``operators.sketch_agg`` and ``functions.sketches``.
"""

from __future__ import annotations

import statistics

# name: (unit, better, {workload: the end-to-end metric it should move})
BUILD, PROBE, SKETCH = "build_urls", "probe_urls", "sketch_urls"
# the engine moves keys_per_s most on the build, least on the probe
ENGINE = {BUILD: "keys_per_s", SKETCH: "keys_per_s", PROBE: "keys_per_s"}
ROUTE = {PROBE: "keys_per_s"}
# the probe filter is built during the probe workload's set-up
KERNEL = {BUILD: "keys_per_s", PROBE: "setup_s"}
SKETCHES = {SKETCH: "keys_per_s, err_ratio"}
LAYERS = {
    "engine.jobs": ("count", "lower", ENGINE),
    "engine.map_stage_s": ("s", "lower", ENGINE),
    "engine.reduce_stage_s": ("s", "lower", ENGINE),
    "engine.cpu_s": ("s", "lower", ENGINE),
    "engine.gc_s": ("s", "lower", ENGINE),
    "engine.shuffle_write_bytes": ("bytes", "lower", ENGINE),
    "engine.shuffle_bytes_per_key": ("bytes", "lower", ENGINE),
    "engine.fetch_wait_s": ("s", "lower", ENGINE),
    "engine.spill_bytes": ("bytes", "lower", ENGINE),
    "engine.task_skew": ("ratio", "lower", ENGINE),
    "engine.tasks_failed": ("count", "lower",
                            {w: "ok_rate" for w in (BUILD, PROBE, SKETCH)}),
    "handoff.bytes_sent": ("bytes", "lower", ENGINE),
    "handoff.bytes_returned": ("bytes", "lower", ENGINE),
    "handoff.run_s": ("s", "lower", ENGINE),
    "handoff.outside_udf_s": ("s", "lower", ENGINE),
    "handoff.start_s": ("s", "lower",
                        {w: "setup_s" for w in (BUILD, PROBE, SKETCH)}),
    "handoff.init_s": ("s", "lower",
                       {w: "setup_s" for w in (BUILD, PROBE, SKETCH)}),
    "dist.driver_s": ("s", "lower", {BUILD: "keys_per_s, peak_rss_mb"}),
    "dist.collect_bytes": ("bytes", "lower", {BUILD: "keys_per_s, peak_rss_mb"}),
    "dist.route_s": ("s", "lower", ROUTE),
    "dist.deserialize_calls": ("count", "lower", ROUTE),
    "dist.broadcast_bytes": ("bytes", "lower", ROUTE),
    "kernel.native": ("bool", "higher", KERNEL),
    "kernel.build_s": ("s", "lower", KERNEL),
    "kernel.unique_s": ("s", "lower", KERNEL),
    "kernel.prepare_s": ("s", "lower", KERNEL),
    "kernel.peel_s": ("s", "lower", KERNEL),
    "kernel.assign_s": ("s", "lower", KERNEL),
    "kernel.serialize_s": ("s", "lower", KERNEL),
    "kernel.seed_attempts": ("count", "lower", KERNEL),
    "kernel.build_ms_max": ("ms", "lower", KERNEL),
    "kernel.shard_rows_skew": ("ratio", "lower", KERNEL),
    # fixed by fuse_layout: reported to show that it holds
    "kernel.bits_per_key": ("bits", "lower", {}),
    "kernel.contain_s": ("s", "lower", ROUTE),
    "sketch.update_s": ("s", "lower", SKETCHES),
    "sketch.merge_s": ("s", "lower", SKETCHES),
    "sketch.serde_s": ("s", "lower", SKETCHES),
    "sketch.partial_bytes": ("bytes", "lower", SKETCHES),
}


# the metrics job_layers gives for each traced job
JOB_KEYS = [k for k in LAYERS if k.startswith(("engine.", "handoff."))] + [
    "dist.driver_s", "dist.collect_bytes"]


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals, in seconds."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if None not in i):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def prof(span: dict, where: str, file: str, funcs, col: int = 2) -> float:
    """Sum one column (0 ncalls, 1 tottime, 2 cumtime) of a span's
    profile rows for ``funcs`` defined in ``file``, on the worker, the
    driver or both (``where`` = "worker driver")."""
    total = 0.0
    for key, row in span.get("profile", {}).items():
        w, f, fn = key.split(":", 2)
        if w in where.split() and f == file and fn in funcs:
            total += row[col]
    return total


def _udf_body_s(span: dict) -> float:
    """Profiled time of the UDF bodies: the worker profile's roots."""
    return sum(row[2] for key, row in span.get("profile", {}).items()
               if key.startswith("worker:") and row[3])


def _wall(span: dict) -> float:
    return span["end"] - span["start"]


def _stage_s(stages) -> float:
    return sum(s["end"] - s["start"] for s in stages)


def job_layers(span: dict, keys: int) -> dict:
    """Engine, handoff and driver metrics of one traced job."""
    stages = span["stages"]
    # map side: scan, project, shuffle write (reads no shuffle); reduce
    # side: shuffle read, Sort and the Python stage after it
    reduce = [s for s in stages if s["shuffle_read_bytes"] > 0]
    mapped = [s for s in stages if s["shuffle_read_bytes"] == 0]
    busiest = max(stages, key=lambda s: s["run_s"], default=None)
    tasks = busiest["task_ms"] if busiest else []
    task_median = statistics.median(tasks) if tasks else 0
    shuffle = sum(s["shuffle_write_bytes"] for s in stages)
    h = span["handoff"]
    run_s = h["run_ms"] / 1e3
    return {
        "engine.jobs": len(span["jobs"]),
        "engine.map_stage_s": _stage_s(mapped),
        "engine.reduce_stage_s": _stage_s(reduce),
        "engine.cpu_s": sum(s["cpu_s"] for s in stages),
        "engine.gc_s": sum(s["gc_s"] for s in stages),
        "engine.shuffle_write_bytes": shuffle,
        "engine.shuffle_bytes_per_key": shuffle / max(keys, 1),
        "engine.fetch_wait_s": sum(s["fetch_wait_s"] for s in stages),
        "engine.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "engine.task_skew": max(tasks) / task_median if task_median else 1.0,
        "engine.tasks_failed": sum(s["failed_tasks"] for s in stages),
        "handoff.bytes_sent": h["bytes_sent"],
        "handoff.bytes_returned": h["bytes_returned"],
        "handoff.run_s": run_s,
        "handoff.outside_udf_s": run_s - _udf_body_s(span),
        "handoff.start_s": h["start_ms"] / 1e3,
        "handoff.init_s": h["init_ms"] / 1e3,
        "dist.driver_s": _wall(span) - union_s(
            (j["start"], j["end"]) for j in span["jobs"]),
        "dist.collect_bytes": sum(s["result_bytes"] for s in stages),
    }


def coverage(span: dict) -> float:
    """(engine stage walls + dist.driver_s) / job wall of one traced job."""
    row = job_layers(span, 1)
    return ((row["engine.map_stage_s"] + row["engine.reduce_stage_s"]
             + row["dist.driver_s"]) / _wall(span))


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _builds(span: dict) -> bool:
    return prof(span, "worker", "dist.py", {"build"}, 0) > 0


def layer_metrics(loop: list[dict], setups: list[dict], keys: int,
                  lineage: list[dict], bits_per_key: float) -> dict:
    """{name: (value, unit)} for every metric in LAYERS.

    ``loop`` are the traced looped jobs, ``setups`` the traced set-ups.
    Kernel metrics come from the looped jobs if they build a filter,
    else from the set-ups that do (the probe filter); ``lineage`` is
    that filter table's rows without payloads."""
    rows = [job_layers(s, keys) for s in loop]
    m = {k: _mean(row[k] for row in rows) for k in JOB_KEYS}
    m["engine.task_skew"] = statistics.median(
        [row["engine.task_skew"] for row in rows] or [1.0])

    def per_job(spans, where, file, funcs, col=2):
        return _mean(prof(s, where, file, funcs, col) for s in spans)

    # routing: the probe UDF body minus the filter probes and the
    # deserialization inside it, i.e. its own time, shard_of_hash,
    # np.unique and the per-shard masks
    m["dist.route_s"] = _mean(
        prof(s, "worker", "dist.py", {"contains"})
        - prof(s, "worker", "local.py", {"contain", "filter_from_bytes"})
        for s in loop)
    m["dist.deserialize_calls"] = per_job(loop, "worker", "local.py",
                                          {"filter_from_bytes"}, 0)
    m["dist.broadcast_bytes"] = _mean(s["broadcast_bytes"] for s in loop)

    builds = [s for s in loop if _builds(s)] or \
        [s for s in setups if _builds(s)]
    shards = sum(prof(s, "worker", "dist.py", {"build"}, 0) for s in builds)
    m["kernel.native"] = float(any(
        prof(s, "worker", "native.py", {"fuse_prepare"}, 0) for s in builds))
    m["kernel.build_s"] = per_job(builds, "worker", "dist.py", {"build"})
    m["kernel.unique_s"] = per_job(builds, "worker", "arraysetops.py",
                                   {"unique"})
    m["kernel.prepare_s"] = (
        per_job(builds, "worker", "native.py", {"fuse_prepare"})
        + per_job(builds, "worker", "kernels.py",
                  {"mix_split", "fuse_index_triple"}))
    m["kernel.peel_s"] = (
        per_job(builds, "worker", "native.py", {"peel_pre", "peel"})
        + per_job(builds, "worker", "local.py", {"_peel"}))
    m["kernel.assign_s"] = (
        per_job(builds, "worker", "native.py", {"assign"})
        + per_job(builds, "worker", "local.py", {"_assign_fingerprints"}))
    m["kernel.serialize_s"] = per_job(builds, "worker", "local.py",
                                      {"to_bytes"})
    attempts = sum(prof(s, "worker", "native.py", {"fuse_prepare"}, 0)
                   + prof(s, "worker", "kernels.py", {"mix_split"}, 0)
                   for s in builds)
    m["kernel.seed_attempts"] = attempts / shards if shards else 0.0
    if lineage:
        shard_rows = sorted(r["input_rows"] for r in lineage)
        m["kernel.build_ms_max"] = max(r["build_ms"] for r in lineage)
        m["kernel.shard_rows_skew"] = (shard_rows[-1]
                                       / statistics.median(shard_rows))
    else:
        m["kernel.build_ms_max"] = m["kernel.shard_rows_skew"] = 0.0
    m["kernel.bits_per_key"] = bits_per_key
    m["kernel.contain_s"] = per_job(loop, "worker", "local.py", {"contain"})

    m["sketch.update_s"] = per_job(loop, "worker driver", "sketches.py",
                                   {"update"})
    m["sketch.merge_s"] = per_job(loop, "worker driver", "sketches.py",
                                  {"merge"})
    m["sketch.serde_s"] = per_job(loop, "worker driver", "sketches.py",
                                  {"to_bytes", "from_bytes",
                                   "sketch_from_bytes"})
    sketching = [s for s in loop if prof(s, "worker", "sketches.py",
                                         {"update"}, 0)]
    m["sketch.partial_bytes"] = _mean(s["handoff"]["bytes_returned"]
                                      for s in sketching)
    return {k: (float(m[k]), LAYERS[k][0]) for k in LAYERS}
