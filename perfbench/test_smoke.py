"""Tiny-input smoke test of the benchmark.

    python -m pytest perfbench -q -p no:cacheprovider

Runs every workload untraced and traced on a few thousand urls and
checks that every metric named in BENCHMARK.json is emitted with its
unit, that a workload times only its own operation, and that a filter
missing a member key fails the probe check and lowers ``ok_rate``.
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run as R  # noqa: E402
from workloads import WORKLOADS, ProbeUrls  # noqa: E402

TINY_ROWS = 20_000


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(HERE, ".work")
    R.prepare_env(work)
    s, _confs = R.start_spark(work, cores=2)
    yield s
    R.stop_spark(s)


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def results(spark):
    """{(workload, trace): result} of one tiny run of each."""
    return {(name, trace): R.run(spark, cls(spark, 1, 2, rows=TINY_ROWS),
                                 seconds=0.5, trace=bool(trace))
            for name, cls in WORKLOADS.items() for trace in (0, 1)}


def test_workload_names_match_benchmark_json(spec):
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted_with_unit(results, spec, workload, trace):
    res = results[(workload, trace)]
    line = R.result_line(res)
    assert line["correct"], res["failures"]
    assert line["attempted"] >= 1 and line["failed"] == 0
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(line["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = line["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
    if not trace:
        assert all(line["metrics"][m["name"]]["value"] > 0 for m in want)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_times_only_its_own_operation(results, workload):
    op = WORKLOADS[workload].op_name
    for trace in (0, 1):
        res = results[(workload, trace)]
        timed = [s for s in res["tracer"].spans
                 if s.get("phase") in ("warmup", "loop")]
        assert {s["name"] for s in timed} == {op}
        loop = [s for s in timed if s["phase"] == "loop"]
        assert len(res["samples"]) == len(loop) >= 1
    # code of the other operations did not run inside the traced jobs
    m = {k: v for k, (v, _unit) in results[(workload, 1)]["metrics"].items()}
    if workload != "probe_urls":
        assert m["dist.route_s"] == m["kernel.contain_s"] == 0
        assert m["dist.broadcast_bytes"] == 0
    if workload != "sketch_urls":
        assert m["sketch.update_s"] == m["sketch.partial_bytes"] == 0
    if workload == "sketch_urls":
        assert m["kernel.build_s"] == m["kernel.seed_attempts"] == 0
    else:
        assert m["kernel.build_s"] > 0 and m["kernel.bits_per_key"] > 0


class ProbeMissingAMember(ProbeUrls):
    """The probe workload with a filter built over every member but one,
    which that filter really answers as absent."""

    def setup(self):
        from pyspark.sql import functions as F

        from fastfilter_spark import build_sharded

        problems = super().setup()
        members = [r["key"] for r in
                   self.probes.where(F.col("key") >= 0).limit(20).collect()]
        keys = self.probes.where(F.col("key") >= 0)
        for missing in members:
            bad, _ = build_sharded(keys.where(F.col("key") != missing), "key",
                                   kind="fuse8", shard_bits=self.shard_bits)
            if not bad.contain_np([missing])[0]:
                self.sf = bad
                return problems
        raise AssertionError("every candidate was a false positive")


def test_filter_missing_a_member_lowers_ok_rate(spark, results):
    res = R.run(spark, ProbeMissingAMember(spark, 2, 2, rows=TINY_ROWS),
                seconds=0.5, trace=False)
    # the warm-up and every looped probe miss the member
    assert res["failed"] == res["attempted"] - R.SETUP_REPEATS >= 2
    assert all(" false negatives" in f for f in res["failures"])
    ok_rate = res["metrics"]["ok_rate"][0]
    assert ok_rate == 1 - res["failed"] / res["attempted"]
    assert ok_rate < results[("probe_urls", 0)]["metrics"]["ok_rate"][0]
