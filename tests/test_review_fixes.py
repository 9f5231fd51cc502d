"""Regression tests for the round-1 self-review findings."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastfilter_spark.operators.local import build_filter, empty_filter


def test_empty_filter_all_kinds():
    for kind in ("xor8", "xor16", "fuse8", "fuse16", "fuse32"):
        f = empty_filter(kind)
        probes = np.random.default_rng(3).integers(0, 1 << 62, 50_000,
                                                   dtype=np.uint64)
        fpp = f.contain(probes).mean()
        bits = f.fingerprints.dtype.itemsize * 8
        assert fpp <= (2.0 ** -bits) * 2 + 1e-9, (kind, fpp)
        # round-trips like any filter
        rt = type(f).from_bytes(f.to_bytes(), f.fingerprint_bits)
        assert (rt.fingerprints == f.fingerprints).all()


def test_salted_agg_rejects_non_algebraic(spark, sf_dir):
    from fastfilter_spark.operators.skew import salted_agg
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # raw Columns (the old API) and unsupported ops are both rejected —
    # there is no way to sneak avg/DISTINCT through the spec form
    with pytest.raises(ValueError, match="algebraic|op"):
        salted_agg(li, ["l_returnflag"], {"bad": F.avg("l_quantity")})
    with pytest.raises(ValueError, match="algebraic|op"):
        salted_agg(li, ["l_returnflag"], {"bad": ("avg", "l_quantity")})


def test_streaming_sketch_replay_idempotent(spark, tmp_path):
    from fastfilter_spark.functions.sketches import KLL
    from fastfilter_spark.streaming.incremental import (
        StreamingSketchAggregator)
    agg = StreamingSketchAggregator(
        "v", {"kll": lambda: KLL(100)}, state_dir=str(tmp_path / "st"))
    batch = spark.range(1000).select(F.col("id").alias("v"))
    agg.process_batch(batch, batch_id=0)
    n1 = agg.sketches["kll"].n
    agg.process_batch(batch, batch_id=0)   # at-least-once replay
    assert agg.sketches["kll"].n == n1     # not double-counted
    agg.process_batch(batch, batch_id=1)
    assert agg.sketches["kll"].n == 2 * n1

    # a fresh instance resumes past the last committed batch
    agg2 = StreamingSketchAggregator(
        "v", {"kll": lambda: KLL(100)}, state_dir=str(tmp_path / "st"))
    agg2.process_batch(batch, batch_id=1)  # replayed on restart
    assert agg2.sketches["kll"].n == 2 * n1


def test_sketch_nullable_long_column(spark):
    """Nulls in a long column must not corrupt large keys via float64."""
    from fastfilter_spark.operators.sketch_agg import sketch_column
    from fastfilter_spark.functions.sketches import HyperLogLog
    big = (1 << 60) + 1
    df = spark.createDataFrame(
        [(big,), (None,), (big + 2,), (None,), (big + 4,)], "k: long")
    hll = sketch_column(df, "k", lambda: HyperLogLog(10))
    # 3 distinct huge keys; float64 corruption would collapse them
    assert 2 <= hll.estimate() <= 4.5


def test_fuse_counter_wrap_abort_parity():
    """64+ keys in one cell must fail the attempt identically on the
    native and numpy tiers (same winning seed)."""
    import subprocess
    import sys
    # duplicates of one key -> its 3 cells exceed the counter limit on
    # attempt 1; dup handling + retry semantics must match across tiers
    keys = np.concatenate([np.arange(2000, dtype=np.uint64),
                           np.full(100, 7, dtype=np.uint64)])
    f_native = build_filter(keys, "fuse8")
    code = (
        "import numpy as np, sys\n"
        "sys.path.insert(0, '/root/repo')\n"
        "from fastfilter_spark.operators.local import build_filter\n"
        "keys = np.frombuffer(sys.stdin.buffer.read(), dtype=np.uint64)\n"
        "f = build_filter(keys, 'fuse8')\n"
        "print(np.uint64(f.seed))\n")
    out = subprocess.run([sys.executable, "-c", code], input=keys.tobytes(),
                         capture_output=True, check=True,
                         env={"FASTFILTER_NO_NATIVE": "1",
                              "PATH": "/usr/bin:/bin"})
    assert int(out.stdout.split()[-1]) == (f_native.seed & (2**64 - 1))
    assert f_native.contain(keys).all()
