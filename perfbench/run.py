"""Seeded closed-loop benchmark of fastfilter_spark's build, probe and
sketch operations.

    python3 perfbench/run.py --workload build_urls --seed 1 --seconds 8 --trace 0

Run from the repository root.  One driver process, ``local[nproc]``,
shuffle partitions = nproc, one client: each job starts when the
previous one has returned, and every workload loops exactly one public
operation.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
prints the per-layer metrics, tracing every other looped job so that
the jobs in between give the tracing overhead.  The last line of
standard output is the JSON result; the host block, samples, per-layer
table and spans go to ``perfbench/.work/results/``.

Seed 9001 is held out: a gain claimed on other seeds must also hold on
it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 3


def parse_args(argv):
    from workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail(xs) -> tuple[float, int] | None:
    """(value, percentile) of the highest percentile with at least ten
    samples above it (nearest rank); None below 11 samples."""
    xs = sorted(xs)
    if len(xs) < 11:
        return None
    pct = math.floor(100 * (1 - 10 / len(xs)))
    return xs[max(math.ceil(pct / 100 * len(xs)) - 1, 0)], pct


class Checks:
    """Counts jobs attempted and failed; a job fails if it raised or if
    any of its output checks failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, job: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.extend(f"{job}: {p}" for p in problems)

    @property
    def ok_rate(self) -> float:
        return 1.0 - self.failed / max(self.attempted, 1)


def run(spark, wl, seconds: float, trace: bool) -> dict:
    """Set up ``wl`` SETUP_REPEATS times, run one untimed warm-up job,
    then loop its operation for ``seconds``.  Returns the result dict."""
    from layers import coverage, layer_metrics
    from tracing import RssSampler, Tracer, steal_seconds

    tracer = Tracer(spark)
    checks = Checks()

    def attempt(name, fn, check, phase, harvest, **attrs):
        """Run ``fn`` in a span, then ``check`` on its output; record the
        failures; return the span."""
        steal0 = steal_seconds()
        with tracer.span(name, grouped=True, harvest=harvest, phase=phase,
                         **attrs) as sp:
            try:
                out, problems = fn(), None
            except Exception:
                out, problems = None, [traceback.format_exc(limit=4)]
        sp["steal_s"] = steal_seconds() - steal0
        if problems is None:
            problems = check(out)
        checks.record(sp["group"], problems)
        sp["ok"] = not problems
        return sp

    steal0 = steal_seconds()
    with RssSampler() as rss:
        setups = []
        for i in range(SETUP_REPEATS):
            wl.release()
            # set-up returns its own problems
            setups.append(attempt("setup", wl.setup, lambda problems: problems,
                                  "setup", trace, index=i))
        with tracer.span("prepare_checks"):
            wl.prepare_checks()
        # the first call pays Python worker start-up, filter
        # deserialization and JIT, so it is checked but not timed
        attempt(wl.op_name, wl.op, wl.check, "warmup", False)
        loop, start = [], time.time()
        while time.time() - start < seconds:
            # traced run: every other job traced, the rest give the baseline
            loop.append(attempt(wl.op_name, wl.op, wl.check, "loop",
                                trace and len(loop) % 2 == 0))
        with tracer.span("err_ratio"):
            err_ratio = wl.err_ratio()
        lineage = []
        if trace and wl.table is not None:
            # per-shard lineage columns of the filter the kernel metrics
            # describe; re-runs that build, outside every timed span
            with tracer.span("lineage", grouped=True):
                lineage = [r.asDict() for r in
                           wl.table.drop("payload").collect()]
    steal = steal_seconds() - steal0

    walls = [s["end"] - s["start"] for s in loop if s["ok"]]
    traced = [s for s in loop if s.get("traced") and s["ok"]]
    untraced = [s["end"] - s["start"] for s in loop
                if not s.get("traced") and s["ok"]]
    setup_walls = [s["end"] - s["start"] for s in setups]
    res = {
        "workload": wl.name, "seed": wl.seed, "seconds": seconds,
        "trace": int(trace), "steal_s": steal, "rows": wl.rows,
        "keys_per_job": wl.keys_per_job(),
        "samples": walls, "setup_samples": setup_walls,
        "steal_per_job": [s["steal_s"] for s in loop],
        "failures": checks.failures, "attempted": checks.attempted,
        "failed": checks.failed,
        "tracer": tracer,
    }
    if trace:
        res["metrics"] = layer_metrics(
            traced, [s for s in setups if s.get("traced")],
            wl.keys_per_job(), lineage, wl.bits_per_key())
        res["coverage"] = (statistics.median([coverage(s) for s in traced])
                           if traced else None)
        tw = [s["end"] - s["start"] for s in traced]
        res["overhead"] = (statistics.median(tw) / statistics.median(untraced)
                           - 1.0 if tw and untraced else None)
    else:
        res["metrics"] = {
            "setup_s": (statistics.median(setup_walls), "s"),
            "keys_per_s": (wl.keys_per_job() / statistics.median(walls)
                           if walls else 0.0, "1/s"),
            "err_ratio": (err_ratio, "ratio"),
            "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
            "ok_rate": (checks.ok_rate, "ratio"),
        }
    wl.release()
    return res


# -- process and session ------------------------------------------------------

SPARK_CONFS = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # keep nproc tasks per reduce stage: AQE would otherwise coalesce a
    # small shuffle into one partition and idle the other cores
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    # a fixed, pre-touched heap: the JVM's RSS then does not depend on
    # when G1 chose to grow the heap in a given run
    "spark.driver.memory": "2g",
}


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM, PySpark and the native-kernel
    cache write inside ``work``; make workers import the checkout."""
    for d in ("tmp", "cache", "spark-local", "warehouse", "results"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["XDG_CACHE_HOME"] = os.path.join(work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the small JVM spark-submit starts first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    root = os.path.dirname(HERE)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])


def start_spark(work: str, cores: int):
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    confs = dict(SPARK_CONFS, **{
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.default.parallelism": str(cores),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={tmp} -Xms2g -XX:+AlwaysPreTouch",
    })
    b = SparkSession.builder.appName("perfbench")
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, confs


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM,
    its Python daemon and workers have all exited."""
    from tracing import descendants
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    kids = descendants(os.getpid())
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    for pid in kids:
        while time.time() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def result_line(res: dict) -> dict:
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in res["metrics"].items()},
    }


def main(argv=None) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "fastfilter_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root (fastfilter_spark/ "
              "not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    work = os.path.join(HERE, ".work")
    prepare_env(work)
    args = parse_args(argv)
    from layers import LAYERS
    from tracing import host_block
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    t0 = time.time()
    spark, confs = start_spark(work, cores)
    t1 = time.time()
    try:
        host = host_block(spark, confs)
        wl = WORKLOADS[args.workload](spark, args.seed, cores)
        res = run(spark, wl, args.seconds, bool(args.trace))
    finally:
        t2 = time.time()
        stop_spark(spark)
    res["phases_s"] = {"spark_start": t1 - t0, "run": t2 - t1,
                       "spark_stop": time.time() - t2}

    tracer = res.pop("tracer")
    res["host"] = host
    stem = os.path.join(work, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}")
    tracer.dump(stem + "-spans.json")
    with open(stem + ".json", "w") as f:
        json.dump(res, f, indent=1, default=str)

    print(f"host: {json.dumps(host)}")
    print(f"phases: {json.dumps(res['phases_s'])}")
    print(f"steal_s={res['steal_s']:.2f}  setup walls "
          + " ".join(f"{x:.3f}" for x in res["setup_samples"]))
    xs = res["samples"]
    if xs:
        t = tail(xs)
        print(f"job wall: n={len(xs)} median={statistics.median(xs):.4f} s "
              + (f"p{t[1]}={t[0]:.4f} s" if t else "tail: none (n < 11)")
              + f"  keys/job={res['keys_per_job']}")
    if args.trace:
        print(f"coverage (stage walls + driver) / job wall: {res['coverage']}"
              f"  tracing overhead: {res['overhead']}")
    for name, (value, unit) in res["metrics"].items():
        moves = ""
        if args.trace:
            moves = "  moves " + ("; ".join(
                f"{metric} on {w}" for w, metric in LAYERS[name][2].items())
                or "nothing")
        print(f"  {name:<30} {value:>16.6g} {unit:<6}{moves}")
    for line in res["failures"]:
        print(f"  FAILED {line}")
    print(json.dumps(result_line(res)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
