"""Differential tests: native (C) kernel vs numpy fallback.

Both implement the same algorithms (SURVEY.md §2); any valid peel order
yields a correct filter, so cross-path guarantees are behavioral:
identical winning seeds (peelability is a set property), zero false
negatives both ways, byte-level self-consistency within a path, and
bit-identical probe results on each other's filters.
"""

import os
import subprocess
import sys

import numpy as np
import pytest

from fastfilter_spark.functions.native import get_kernel

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(get_kernel() is None,
                                reason="no C compiler available")


def _numpy_build(kind: str, keys: np.ndarray):
    """Build in a subprocess with FASTFILTER_NO_NATIVE to get the pure
    numpy path (the flag is read once per process)."""
    code = (
        "import numpy as np, sys\n"
        f"sys.path.insert(0, {_REPO!r})\n"
        "from fastfilter_spark.operators.local import build_filter\n"
        "keys = np.frombuffer(sys.stdin.buffer.read(), dtype=np.uint64)\n"
        f"f = build_filter(keys, '{kind}')\n"
        "sys.stdout.buffer.write(f.to_bytes())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], input=keys.tobytes(),
        capture_output=True, env={"FASTFILTER_NO_NATIVE": "1",
                                  "PATH": "/usr/bin:/bin"},
        check=True)
    return out.stdout


@pytest.mark.parametrize("kind", ["xor8", "xor16", "fuse8", "fuse16", "fuse32"])
def test_native_vs_numpy_same_seed_and_guarantees(kind):
    from fastfilter_spark.operators.local import (
        build_filter, filter_from_bytes)
    keys = (np.arange(20_000, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))
    nat_f = build_filter(keys, kind)                      # native path
    np_bytes = _numpy_build(kind, keys)                   # numpy path
    np_f = filter_from_bytes(np_bytes, kind)
    # identical winning seed: peel success is order-independent
    assert nat_f.seed == np_f.seed
    # identical layout/params => identical serialized length
    assert len(nat_f.to_bytes()) == len(np_bytes)
    # zero false negatives on both
    assert nat_f.contain(keys).all()
    assert np_f.contain(keys).all()
    # native probe of the numpy-built filter (cross-path) still has zero
    # false negatives — probes only depend on (seed, fingerprints)
    assert filter_from_bytes(np_bytes, kind).contain(keys).all()


def test_native_probe_matches_numpy_probe_bitwise():
    """Same filter bytes, both probe paths, random probes -> identical."""
    from fastfilter_spark.operators.local import build_filter
    keys = np.arange(50_000, dtype=np.uint64)
    f = build_filter(keys, "fuse8")
    probes = np.random.default_rng(3).integers(
        0, 1 << 63, size=200_000, dtype=np.uint64)
    nat = get_kernel()
    got_native = nat.fuse_contain(probes, f.seed, f.segment_length,
                                  f.segment_count_length, f.fingerprints)
    # numpy path: call the pure-python logic directly
    from fastfilter_spark.functions import kernels as K
    hashes = K.mix_split(probes, f.seed)
    fv = K.fingerprint64(hashes).astype(f.fingerprints.dtype)
    g0, g1, g2 = K.fuse_index_triple(hashes, f.segment_length,
                                     f.segment_length_mask,
                                     f.segment_count_length)
    fp = f.fingerprints
    got_numpy = (fv ^ fp[g0.astype(np.int64)] ^ fp[g1.astype(np.int64)]
                 ^ fp[g2.astype(np.int64)]) == 0
    assert (got_native == got_numpy).all()


def test_native_duplicate_tolerance():
    from fastfilter_spark.operators.local import build_filter
    keys = np.concatenate([np.arange(5000, dtype=np.uint64),
                           np.arange(10, dtype=np.uint64)])  # 10 dups
    f = build_filter(keys, "fuse8")
    assert f.contain(keys).all()


def test_native_fpp_bound():
    from fastfilter_spark.operators.local import build_filter
    f = build_filter(np.arange(100_000, dtype=np.uint64), "fuse8")
    probes = np.random.default_rng(9).integers(
        1 << 40, 1 << 62, size=1_000_000, dtype=np.uint64)
    assert f.contain(probes).mean() <= (1 / 256) * 1.25


# ---- arity-4 native path (VERDICT r2 missing-item #1) ----------------------

def _numpy_build4(keys: np.ndarray, bits: int) -> bytes:
    code = (
        "import numpy as np, sys\n"
        f"sys.path.insert(0, {_REPO!r})\n"
        "from fastfilter_spark.operators.local import FuseFilter\n"
        "keys = np.frombuffer(sys.stdin.buffer.read(), dtype=np.uint64)\n"
        f"f = FuseFilter.build(keys, fingerprint_bits={bits}, arity=4)\n"
        "sys.stdout.buffer.write(f.to_bytes())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], input=keys.tobytes(),
        capture_output=True, env={"FASTFILTER_NO_NATIVE": "1",
                                  "PATH": "/usr/bin:/bin"},
        check=True)
    return out.stdout


@pytest.mark.parametrize("bits", [8, 16, 32])
def test_native_arity4_vs_numpy(bits):
    """The 4-wise native kernel (ff_fuse_prepare4/ff_peel_pre4) must be
    interchangeable with the numpy fuse_index_quad tier: identical
    winning seed, identical layout, and cross-tier wire compatibility
    (zero false negatives probing each other's filters — the index maps
    and fingerprint fold agree; only peel ORDER may differ)."""
    from fastfilter_spark.operators.local import FuseFilter
    keys = (np.arange(30_000, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))
    nat_f = FuseFilter.build(keys, fingerprint_bits=bits, arity=4)
    assert nat_f.arity == 4
    np_bytes = _numpy_build4(keys, bits)
    np_f = FuseFilter.from_bytes(np_bytes, fingerprint_bits=bits)
    assert np_f.arity == 4              # arity inferred from layout
    assert nat_f.seed == np_f.seed      # identical seed chain
    assert len(nat_f.to_bytes()) == len(np_bytes)
    # cross-tier: native probe of the numpy-built filter and vice versa
    assert nat_f.contain(keys).all()
    assert np_f.contain(keys).all()     # np_f probes natively here
    rng = np.random.default_rng(11)
    others = rng.integers(0, 1 << 63, size=300_000, dtype=np.uint64)
    bound = {8: 2**-8, 16: 2**-16, 32: 2**-32}[bits]
    assert np_f.contain(others).mean() <= bound * 2 + 3e-6


def test_native_arity4_index_map_matches_numpy():
    """The 4-wise cell map itself must agree element-wise (this is what
    guarantees cross-tier compatibility above)."""
    from fastfilter_spark.functions import kernels as K
    from fastfilter_spark.operators.local import fuse_layout
    nat = get_kernel()
    seg_len, seg_cnt, seg_cnt_len, m = fuse_layout(50_000, 4)
    hashes = np.random.default_rng(2).integers(
        0, 1 << 63, size=10_000, dtype=np.uint64)
    g_nat = nat.fuse_index_pre(hashes, seg_len, seg_cnt_len, arity=4)
    g_np = K.fuse_index_quad(hashes, seg_len, seg_len - 1, seg_cnt_len)
    for a, b in zip(g_nat, g_np):
        assert (a.astype(np.int64) == b.astype(np.int64)).all()


def test_native_arity4_emit_path():
    """>= EMIT_MIN_N keys exercises the emit-cells peel + sequential
    assign variant (oc0..oc3 streams)."""
    from fastfilter_spark.operators.local import FuseFilter
    n = get_kernel().EMIT_MIN_N + 10_000
    keys = np.random.default_rng(5).integers(
        0, 1 << 63, size=n, dtype=np.uint64)
    f = FuseFilter.build(keys, fingerprint_bits=8, arity=4)
    assert f.contain(keys).all()


def test_native_arity4_duplicates():
    from fastfilter_spark.operators.local import FuseFilter
    keys = np.concatenate([np.arange(5000, dtype=np.uint64),
                           np.arange(25, dtype=np.uint64)])
    f = FuseFilter.build(keys, fingerprint_bits=8, arity=4)
    assert f.contain(keys).all()


def test_native_arity4_peels_beyond_shard_sizes():
    """Regression for the round-3 peelability fix: offset windows drawn
    from the mulhi-driving high bits left ~78% of rows unpeelable at
    n=5M (every seed), while shard-sized builds (<=2M) worked — so a
    size this large must stay in the differential suite."""
    from fastfilter_spark.operators.local import FuseFilter
    keys = np.random.default_rng(17).integers(
        0, 1 << 63, size=6_000_000, dtype=np.uint64)
    f = FuseFilter.build(keys, fingerprint_bits=8, arity=4)
    assert f.seed is not None
    sample = keys[:: 97]
    assert f.contain(sample).all()


def test_kernel_cache_path_depends_on_isa():
    """The .so is built with -march=native: executors on different CPUs
    sharing one cache directory must get different binaries."""
    import platform

    from fastfilter_spark.functions.native import _isa, _so_path
    src = b"int ff_probe;"
    avx2 = _so_path(src, "x86_64:fpu sse2 avx2")
    assert avx2 != _so_path(src, "x86_64:fpu sse2")
    assert avx2 != _so_path(src, "aarch64:fp asimd")
    assert avx2 == _so_path(src, "x86_64:fpu sse2 avx2")
    assert _isa().startswith(platform.machine() + ":")
