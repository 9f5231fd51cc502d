"""Optional native (C) kernel loader for the filter hot loops.

Compiles fastfilter_spark/native/ffkernel.c on first use with the system
C compiler into a .so cached per source and CPU ISA (atomic rename, safe
for concurrent executor python workers on one host) and exposes thin
ctypes wrappers.  Everything degrades gracefully: if no compiler / the
compile fails, ``get_kernel()`` returns None and callers fall back to
the numpy implementations in operators/local.py.  The two paths are
differential-tested (tests/test_native.py) — probes agree bit-for-bit,
builds succeed on identical seed chains (any valid peel order yields a
correct filter; see operators/local.py module docstring).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import platform
import subprocess
import tempfile

import numpy as np

_SRC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "native", "ffkernel.c")
_kernel = None
_tried = False

_c_u64p = ctypes.POINTER(ctypes.c_uint64)
_c_i32p = ctypes.POINTER(ctypes.c_int32)
_c_u8p = ctypes.POINTER(ctypes.c_uint8)
_c_u16p = ctypes.POINTER(ctypes.c_uint16)
_c_u32p = ctypes.POINTER(ctypes.c_uint32)


def _ptr(arr: np.ndarray, ctype):
    return arr.ctypes.data_as(ctype)


def _read_source() -> bytes:
    """Kernel C source — works from a plain checkout AND from a
    --py-files zip (importlib.resources reads inside the archive)."""
    try:
        with open(_SRC, "rb") as f:
            return f.read()
    except OSError:
        from importlib import resources
        return (resources.files("fastfilter_spark.native") / "ffkernel.c") \
            .read_bytes()


def _isa() -> str:
    """Machine plus CPU feature flags ("" without /proc/cpuinfo)."""
    try:
        with open("/proc/cpuinfo") as f:
            flags = next((ln for ln in f
                          if ln.startswith(("flags", "Features"))), "")
    except OSError:
        flags = ""
    return f"{platform.machine()}:{flags.partition(':')[2].strip()}"


def _so_path(src: bytes, isa: str) -> str:
    """The .so is built with -march=native: executors on different CPUs
    sharing one home directory must not load each other's (SIGILL)."""
    tag = hashlib.sha256(src + b"\0" + isa.encode()).hexdigest()[:16]
    return os.path.join(
        os.environ.get("XDG_CACHE_HOME", os.path.expanduser("~/.cache")),
        "fastfilter_spark", f"ffkernel-{tag}.so")


def _compile() -> str | None:
    src = _read_source()
    so_path = _so_path(src, _isa())
    cache_dir = os.path.dirname(so_path)
    if os.path.exists(so_path):
        return so_path
    os.makedirs(cache_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(suffix=".so", dir=cache_dir)
    os.close(fd)
    # compile from a materialized copy: _SRC may live inside a
    # --py-files zip where cc cannot read it
    fd, tmp_c = tempfile.mkstemp(suffix=".c", dir=cache_dir)
    with os.fdopen(fd, "wb") as f:
        f.write(src)
    try:
        subprocess.run(
            ["cc", "-O3", "-march=native", "-funroll-loops", "-shared",
             "-fPIC", "-o", tmp, tmp_c],
            check=True, capture_output=True, timeout=120)
        os.rename(tmp, so_path)  # atomic on one filesystem
        return so_path
    except Exception:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        return None
    finally:
        try:
            os.unlink(tmp_c)
        except OSError:
            pass


class _Kernel:
    """ctypes facade over the compiled kernel.

    Scratch and output buffers come from a grow-only per-process pool:
    numpy munmaps large arrays on free, so fresh allocations re-fault
    hundreds of MB of pages on every build.  Pooled arrays returned by
    these methods are VALID UNTIL THE NEXT CALL of the same method on
    this process — exactly the per-attempt lifetime the build loop in
    operators/local.py needs (anything that must survive, e.g. the
    fingerprint array, is allocated by the caller).
    """

    def __init__(self, lib: ctypes.CDLL):
        self.lib = lib
        self._pool: dict[str, np.ndarray] = {}

    def _buf(self, name: str, n: int, dtype) -> np.ndarray:
        a = self._pool.get(name)
        if a is None or a.size < n or a.dtype != np.dtype(dtype):
            a = np.empty(max(n, 1), dtype=dtype)
            self._pool[name] = a
        return a[:n]

    # ---- index computation ----

    def fuse_index(self, keys: np.ndarray, seed: int, seg_len: int,
                   seg_cnt_len: int):
        n = keys.size
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        mixed = self._buf("mixed", n, np.uint64)
        g0 = self._buf("g0", n, np.int32)
        g1 = self._buf("g1", n, np.int32)
        g2 = self._buf("g2", n, np.int32)
        self.lib.ff_fuse_index(
            _ptr(keys, _c_u64p), ctypes.c_int64(n),
            ctypes.c_uint64(seed), ctypes.c_uint32(seg_len),
            ctypes.c_uint32(seg_cnt_len),
            _ptr(mixed, _c_u64p), _ptr(g0, _c_i32p), _ptr(g1, _c_i32p),
            _ptr(g2, _c_i32p))
        return mixed, g0, g1, g2

    def fuse_index_sorted(self, keys: np.ndarray, seed: int, seg_len: int,
                          seg_cnt_len: int, seg_cnt: int):
        """Mixed hashes in segment order + cell indices (locality-optimal
        layout for accumulate/peel/assign)."""
        n = keys.size
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        tmp = self._buf("tmp", n, np.uint64)
        bucket_pos = self._buf("bucket_pos", seg_cnt + 2, np.int64)
        mixed = self._buf("mixed", n, np.uint64)
        g0 = self._buf("g0", n, np.int32)
        g1 = self._buf("g1", n, np.int32)
        g2 = self._buf("g2", n, np.int32)
        self.lib.ff_fuse_index_sorted(
            _ptr(keys, _c_u64p), ctypes.c_int64(n), ctypes.c_uint64(seed),
            ctypes.c_uint32(seg_len), ctypes.c_uint32(seg_cnt_len),
            ctypes.c_uint32(seg_cnt),
            _ptr(tmp, _c_u64p), _ptr(bucket_pos, ctypes.POINTER(ctypes.c_int64)),
            _ptr(mixed, _c_u64p), _ptr(g0, _c_i32p), _ptr(g1, _c_i32p),
            _ptr(g2, _c_i32p))
        return mixed, g0, g1, g2

    def fuse_prepare(self, keys: np.ndarray, seed: int, seg_len: int,
                     seg_cnt_len: int, seg_cnt: int, n_cells: int,
                     arity: int = 3):
        """Fused segment-sorted index + cell-state accumulation; pair
        with :meth:`peel_pre` (one fewer sweep than index+peel).
        Returns (mixed, g0..g{arity-1})."""
        n = keys.size
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        tmp = self._buf("tmp", n, np.uint64)
        bucket_pos = self._buf("bucket_pos", seg_cnt + 2, np.int64)
        mixed = self._buf("mixed", n, np.uint64)
        g0 = self._buf("g0", n, np.int32)
        g1 = self._buf("g1", n, np.int32)
        g2 = self._buf("g2", n, np.int32)
        state = self._buf("state", n_cells, np.int64)
        if arity == 4:
            g3 = self._buf("g3", n, np.int32)
            self.lib.ff_fuse_prepare4(
                _ptr(keys, _c_u64p), ctypes.c_int64(n), ctypes.c_uint64(seed),
                ctypes.c_uint32(seg_len), ctypes.c_uint32(seg_cnt_len),
                ctypes.c_uint32(seg_cnt), ctypes.c_int64(n_cells),
                _ptr(tmp, _c_u64p),
                _ptr(bucket_pos, ctypes.POINTER(ctypes.c_int64)),
                _ptr(mixed, _c_u64p), _ptr(g0, _c_i32p), _ptr(g1, _c_i32p),
                _ptr(g2, _c_i32p), _ptr(g3, _c_i32p),
                _ptr(state, ctypes.POINTER(ctypes.c_int64)))
            return mixed, g0, g1, g2, g3
        self.lib.ff_fuse_prepare(
            _ptr(keys, _c_u64p), ctypes.c_int64(n), ctypes.c_uint64(seed),
            ctypes.c_uint32(seg_len), ctypes.c_uint32(seg_cnt_len),
            ctypes.c_uint32(seg_cnt), ctypes.c_int64(n_cells),
            _ptr(tmp, _c_u64p), _ptr(bucket_pos, ctypes.POINTER(ctypes.c_int64)),
            _ptr(mixed, _c_u64p), _ptr(g0, _c_i32p), _ptr(g1, _c_i32p),
            _ptr(g2, _c_i32p), _ptr(state, ctypes.POINTER(ctypes.c_int64)))
        return mixed, g0, g1, g2

    def state_overflow(self, n_cells: int, limit: int = 64) -> bool:
        """True if any cell accumulated >= ``limit`` keys in the state
        filled by fuse_prepare/xor_prepare — mirrors the reference's
        6-bit packed-counter wrap abort (binaryfusefilter.h:374-377) so
        the native and numpy tiers fail attempts on identical seeds."""
        state = self._buf("state", n_cells, np.int64)
        return bool(int(state.max()) >> 32 >= limit)

    # Builds at least this large use the emit-cells peel + sequential
    # assign (ffkernel.c:ff_peel_pre doc): below it, every per-attempt
    # array is L2/L3-resident and the extra ~20 B/row of emitted stores
    # is pure added memory traffic — measurably slower when 32 shard
    # kernels run concurrently against shared DRAM bandwidth.  Above it,
    # the g/mixed arrays outrun cache and moving the gathers into the
    # peel loop is ~+8% single-core (measured at 5M keys).
    EMIT_MIN_N = 1 << 20

    def _peel_bufs(self, n: int, n_cells: int, emit: bool, arity: int = 3):
        # only the arrays the chosen assign variant reads get real
        # capacity; the others stay 1-element dummies for the C ABI
        full = n if emit else 1
        lean = 1 if emit else n
        return (self._buf("order", lean, np.int32),
                self._buf("ocell", n, np.int32),
                self._buf("oc0", full, np.int32),
                self._buf("oc1", full, np.int32),
                self._buf("oc2", full, np.int32),
                self._buf("oc3", full if arity == 4 else 1, np.int32),
                self._buf("ohash", full, np.uint64),
                self._buf("queue", n_cells, np.int32))

    def _peel_call(self, fn3, fn4, n_cells: int, mixed, gs):
        n = gs[0].size
        arity = len(gs)
        emit = n >= self.EMIT_MIN_N
        state = self._buf("state", n_cells, np.int64)
        order, ocell, oc0, oc1, oc2, oc3, ohash, queue = \
            self._peel_bufs(n, n_cells, emit, arity)
        common = [ctypes.c_int64(n), ctypes.c_int64(n_cells),
                  _ptr(mixed, _c_u64p)]
        common += [_ptr(g, _c_i32p) for g in gs]
        common += [_ptr(state, ctypes.POINTER(ctypes.c_int64)),
                   ctypes.c_int32(1 if emit else 0),
                   _ptr(order, _c_i32p), _ptr(ocell, _c_i32p),
                   _ptr(oc0, _c_i32p), _ptr(oc1, _c_i32p),
                   _ptr(oc2, _c_i32p)]
        if arity == 4:
            common.append(_ptr(oc3, _c_i32p))
        common += [_ptr(ohash, _c_u64p), _ptr(queue, _c_i32p)]
        np_peeled = (fn4 if arity == 4 else fn3)(*common)
        if emit:
            po = ("cells", ocell, oc0, oc1, oc2, ohash) if arity == 3 \
                else ("cells4", ocell, oc0, oc1, oc2, oc3, ohash)
        else:
            po = ("order", order, ocell, mixed) + tuple(gs)
        return po, int(np_peeled)

    def peel_pre(self, n_cells: int, mixed, *gs):
        """Peel using the state filled by :meth:`fuse_prepare` (the
        state pool buffer is shared between the two calls).  Returns
        (peel_out, n_peeled); feed peel_out straight to :meth:`assign`.
        peel_out is a tagged tuple — for large builds it carries each
        peeled row's cells + hash (sequential assign), for small ones
        just the peel order (lean assign over the g arrays).  Pass 3 or
        4 g arrays; arity is inferred from the count."""
        return self._peel_call(self.lib.ff_peel_pre, self.lib.ff_peel_pre4,
                               n_cells, mixed, gs)

    def fuse_index_pre(self, mixed: np.ndarray, seg_len: int,
                       seg_cnt_len: int, arity: int = 3):
        n = mixed.size
        mixed = np.ascontiguousarray(mixed, dtype=np.uint64)
        g0 = self._buf("g0", n, np.int32)
        g1 = self._buf("g1", n, np.int32)
        g2 = self._buf("g2", n, np.int32)
        if arity == 4:
            g3 = self._buf("g3", n, np.int32)
            self.lib.ff_fuse_index_pre4(
                _ptr(mixed, _c_u64p), ctypes.c_int64(n),
                ctypes.c_uint32(seg_len), ctypes.c_uint32(seg_cnt_len),
                _ptr(g0, _c_i32p), _ptr(g1, _c_i32p), _ptr(g2, _c_i32p),
                _ptr(g3, _c_i32p))
            return g0, g1, g2, g3
        self.lib.ff_fuse_index_pre(
            _ptr(mixed, _c_u64p), ctypes.c_int64(n),
            ctypes.c_uint32(seg_len), ctypes.c_uint32(seg_cnt_len),
            _ptr(g0, _c_i32p), _ptr(g1, _c_i32p), _ptr(g2, _c_i32p))
        return g0, g1, g2

    def xor_index(self, keys: np.ndarray, seed: int, block_length: int):
        n = keys.size
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        mixed = self._buf("mixed", n, np.uint64)
        g0 = self._buf("g0", n, np.int32)
        g1 = self._buf("g1", n, np.int32)
        g2 = self._buf("g2", n, np.int32)
        self.lib.ff_xor_index(
            _ptr(keys, _c_u64p), ctypes.c_int64(n), ctypes.c_uint64(seed),
            ctypes.c_uint32(block_length),
            _ptr(mixed, _c_u64p), _ptr(g0, _c_i32p), _ptr(g1, _c_i32p),
            _ptr(g2, _c_i32p))
        return mixed, g0, g1, g2

    def xor_prepare(self, keys: np.ndarray, seed: int, block_length: int,
                    n_cells: int, nbuckets: int = 1024):
        """Fused h0-bucketed sort + index + state accumulation for xor
        filters; pair with :meth:`peel_pre`."""
        n = keys.size
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        tmp = self._buf("tmp", n, np.uint64)
        bucket_pos = self._buf("bucket_pos", nbuckets + 2, np.int64)
        mixed = self._buf("mixed", n, np.uint64)
        g0 = self._buf("g0", n, np.int32)
        g1 = self._buf("g1", n, np.int32)
        g2 = self._buf("g2", n, np.int32)
        state = self._buf("state", n_cells, np.int64)
        self.lib.ff_xor_prepare(
            _ptr(keys, _c_u64p), ctypes.c_int64(n), ctypes.c_uint64(seed),
            ctypes.c_uint32(block_length), ctypes.c_uint32(nbuckets),
            ctypes.c_int64(n_cells),
            _ptr(tmp, _c_u64p), _ptr(bucket_pos, ctypes.POINTER(ctypes.c_int64)),
            _ptr(mixed, _c_u64p), _ptr(g0, _c_i32p), _ptr(g1, _c_i32p),
            _ptr(g2, _c_i32p), _ptr(state, ctypes.POINTER(ctypes.c_int64)))
        return mixed, g0, g1, g2

    def xor_index_pre(self, mixed: np.ndarray, block_length: int):
        n = mixed.size
        mixed = np.ascontiguousarray(mixed, dtype=np.uint64)
        g0 = self._buf("g0", n, np.int32)
        g1 = self._buf("g1", n, np.int32)
        g2 = self._buf("g2", n, np.int32)
        self.lib.ff_xor_index_pre(
            _ptr(mixed, _c_u64p), ctypes.c_int64(n),
            ctypes.c_uint32(block_length),
            _ptr(g0, _c_i32p), _ptr(g1, _c_i32p), _ptr(g2, _c_i32p))
        return g0, g1, g2

    # ---- peel + assign ----

    def peel(self, n_cells: int, mixed, *gs):
        """Returns (peel_out, n_peeled) — see :meth:`peel_pre`.  Pass 3
        or 4 g arrays; arity is inferred from the count."""
        return self._peel_call(self.lib.ff_peel, self.lib.ff_peel4,
                               n_cells, mixed, gs)

    def assign(self, n_peeled: int, peel_out, fp: np.ndarray):
        """Reverse-order fingerprint assignment over peel() output."""
        fptr = {1: _c_u8p, 2: _c_u16p, 4: _c_u32p}[fp.itemsize]
        if peel_out[0] == "cells":
            _, ocell, oc0, oc1, oc2, ohash = peel_out
            fn = {1: self.lib.ff_assign8, 2: self.lib.ff_assign16,
                  4: self.lib.ff_assign32}[fp.itemsize]
            fn(ctypes.c_int64(n_peeled), _ptr(ocell, _c_i32p),
               _ptr(oc0, _c_i32p), _ptr(oc1, _c_i32p), _ptr(oc2, _c_i32p),
               _ptr(ohash, _c_u64p), _ptr(fp, fptr))
        elif peel_out[0] == "cells4":
            _, ocell, oc0, oc1, oc2, oc3, ohash = peel_out
            fn = {1: self.lib.ff_assign8_4, 2: self.lib.ff_assign16_4,
                  4: self.lib.ff_assign32_4}[fp.itemsize]
            fn(ctypes.c_int64(n_peeled), _ptr(ocell, _c_i32p),
               _ptr(oc0, _c_i32p), _ptr(oc1, _c_i32p), _ptr(oc2, _c_i32p),
               _ptr(oc3, _c_i32p), _ptr(ohash, _c_u64p), _ptr(fp, fptr))
        elif len(peel_out) == 8:      # ("order", order, ocell, mixed, g0..g3)
            _, order, ocell, mixed, g0, g1, g2, g3 = peel_out
            fn = {1: self.lib.ff_assign8_g4, 2: self.lib.ff_assign16_g4,
                  4: self.lib.ff_assign32_g4}[fp.itemsize]
            fn(ctypes.c_int64(n_peeled), _ptr(order, _c_i32p),
               _ptr(ocell, _c_i32p), _ptr(mixed, _c_u64p),
               _ptr(g0, _c_i32p), _ptr(g1, _c_i32p), _ptr(g2, _c_i32p),
               _ptr(g3, _c_i32p), _ptr(fp, fptr))
        else:
            _, order, ocell, mixed, g0, g1, g2 = peel_out
            fn = {1: self.lib.ff_assign8_g, 2: self.lib.ff_assign16_g,
                  4: self.lib.ff_assign32_g}[fp.itemsize]
            fn(ctypes.c_int64(n_peeled), _ptr(order, _c_i32p),
               _ptr(ocell, _c_i32p), _ptr(mixed, _c_u64p),
               _ptr(g0, _c_i32p), _ptr(g1, _c_i32p), _ptr(g2, _c_i32p),
               _ptr(fp, fptr))

    # ---- probes ----

    def fuse_contain(self, keys: np.ndarray, seed: int, seg_len: int,
                     seg_cnt_len: int, fp: np.ndarray,
                     arity: int = 3) -> np.ndarray:
        n = keys.size
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        fp = np.ascontiguousarray(fp)
        out = np.empty(n, dtype=np.uint8)
        fn = ({1: self.lib.ff_fuse_contain8_4,
               2: self.lib.ff_fuse_contain16_4,
               4: self.lib.ff_fuse_contain32_4}
              if arity == 4 else
              {1: self.lib.ff_fuse_contain8, 2: self.lib.ff_fuse_contain16,
               4: self.lib.ff_fuse_contain32})[fp.itemsize]
        fptr = {1: _c_u8p, 2: _c_u16p, 4: _c_u32p}[fp.itemsize]
        fn(_ptr(keys, _c_u64p), ctypes.c_int64(n), ctypes.c_uint64(seed),
           ctypes.c_uint32(seg_len), ctypes.c_uint32(seg_cnt_len),
           _ptr(fp, fptr), _ptr(out, _c_u8p))
        return out.astype(bool)

    def xor_contain(self, keys: np.ndarray, seed: int, block_length: int,
                    fp: np.ndarray) -> np.ndarray:
        n = keys.size
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        fp = np.ascontiguousarray(fp)
        out = np.empty(n, dtype=np.uint8)
        fn = {1: self.lib.ff_xor_contain8,
              2: self.lib.ff_xor_contain16}[fp.itemsize]
        fptr = {1: _c_u8p, 2: _c_u16p}[fp.itemsize]
        fn(_ptr(keys, _c_u64p), ctypes.c_int64(n), ctypes.c_uint64(seed),
           ctypes.c_uint32(block_length), _ptr(fp, fptr), _ptr(out, _c_u8p))
        return out.astype(bool)


def get_kernel() -> _Kernel | None:
    """Compile-and-load once per process; None if unavailable.  Disable
    explicitly with FASTFILTER_NO_NATIVE=1 (tests use this to exercise
    the numpy fallback)."""
    global _kernel, _tried
    if _tried:
        return _kernel
    _tried = True
    if os.environ.get("FASTFILTER_NO_NATIVE"):
        return None
    try:
        so = _compile()
        if so is None:
            return None
        lib = ctypes.CDLL(so)
        lib.ff_peel.restype = ctypes.c_int64
        lib.ff_peel_pre.restype = ctypes.c_int64
        lib.ff_peel4.restype = ctypes.c_int64
        lib.ff_peel_pre4.restype = ctypes.c_int64
        _kernel = _Kernel(lib)
    except Exception:
        _kernel = None
    return _kernel
