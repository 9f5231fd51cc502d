"""Distributed sharded xor / binary-fuse filter construction on Spark.

The reference library (FastFilter/xor_singleheader) builds one filter per
process over an in-memory ``uint64_t*`` array (populate signatures at
/root/reference/include/xorfilter.h:659 and
/root/reference/include/binaryfusefilter.h:280).  Hypergraph peeling is a
sequential global fixpoint, so the idiomatic distributed construction is
*sharded*: route every key to one of S independent sub-filters by a stable
unseeded hash prefix, build each shard entirely inside one
``groupBy(shard).applyInPandas`` task with the exact reference algorithm
(numpy-vectorized, see operators/local.py), and define the distributed
filter as the sharded collection.  Each shard is a bona-fide reference
filter over that shard's keys, so the per-shard fpp / bits-per-entry
guarantees carry over unchanged and the overall fpp bound is identical.

Scale design notes (targeting a 10^12-key Iceberg table, tested locally):

- ONE shuffle total: keys are repartitioned by shard id once; per-shard
  deduplication happens inside the build kernel via ``np.unique`` (a key's
  shard is a pure function of the key, so shard-local dedup is globally
  exact).  No separate ``dropDuplicates`` pass — that would add a second
  full shuffle on the raw keys.
- Shard count is chosen so a shard's keys + ~24 B/key construction scratch
  (reference README.md:153) fit comfortably in one executor task; default
  target is 2^22 keys/shard (~32 MB keys + ~100 MB scratch).
- Shard ids are ``pmod(xxhash64(key), 2^shard_bits)`` (Spark's built-in
  xxhash64, seed 42; see ``shard_of_hash`` / ``keys_with_shard``) —
  uniform for any input distribution, and skew-free because the route
  hash is independent of the per-shard build seeds.  Hot-key skew in
  the *input* (e.g. duplicate urls) is absorbed by in-kernel dedup; true
  volume skew is split by AQE skew-partition handling upstream.
- The result is tiny relative to the input (~1.1 byte/key for 8-bit
  fingerprints), persisted as one row per shard ``(shard, kind, payload
  binary, lineage...)`` in a parquet "filter table", and broadcast for
  probe-side use.
- Probing is a scalar Arrow UDF over the broadcast shard list: route each
  probe key by the same hash, gather 3 fingerprint cells, xor, compare.
  Used via ``df.filter(sf.contains_udf()(col))`` this is the distributed
  analog of a broadcast left-semi join with the exact hash table replaced
  by a 9-bit/key approximate one.
- Null keys are never members: the build drops them JVM-side
  (``keys_with_shard``) and every probe returns ``False`` for them.

Checkpoint/resume (BASELINE.json:north_rule): ``build_sharded`` with a
``checkpoint_dir`` writes each shard's row as soon as its build task
finishes (partitioned parquet append); a rerun reads the directory,
skips finished shards, and builds only the missing ones.  Idempotent by
shard id; per-shard lineage (input_rows, distinct_keys, seed, size_bytes,
build_ms) is stored alongside the payload.
"""

from __future__ import annotations

import math
import os
import time
import uuid
from dataclasses import dataclass
from functools import partial
from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from fastfilter_spark.functions import kernels as K
from fastfilter_spark.operators.local import (
    build_filter, empty_filter, filter_from_bytes,
)

# Worker-process-global LRU cache of deserialized probe payloads, keyed by
# loader token (see _payload_loader); python workers are reused across
# tasks.  Bounded: a long-lived worker probing many filters must not keep
# every shard list (GBs at high shard_bits); 4 covers realistic probe
# fan-in, and an evicted filter re-deserializes on next touch.
_WORKER_CACHE_MAX = 4
_worker_filter_cache: "dict[str, object]" = {}


def _worker_cache_put(token: str, obj) -> None:
    if token in _worker_filter_cache:
        return
    while len(_worker_filter_cache) >= _WORKER_CACHE_MAX:
        # insertion order is recency order (_worker_cache_get re-inserts)
        _worker_filter_cache.pop(next(iter(_worker_filter_cache)))
    _worker_filter_cache[token] = obj


def _worker_cache_get(token: str):
    """LRU read: a hit re-inserts the token, so eviction follows recency
    of use and the hottest filter is never the victim."""
    obj = _worker_filter_cache.pop(token, None)
    if obj is not None:
        _worker_filter_cache[token] = obj
    return obj


def _deserialize_shards(kind: str, payloads) -> list:
    return [filter_from_bytes(p, kind, view=True) for p in payloads]


def _payload_loader(spark: SparkSession | None, token: str, payload,
                    load):
    """THE probe-side loader: broadcast ``payload`` once (or close over
    it when ``spark`` is None) and return a callable giving
    ``load(payload)``, deserialized at most once per Python worker via
    the LRU cache under ``token``."""
    if spark is not None:
        bc = spark.sparkContext.broadcast(payload)
        get_payload = lambda: bc.value  # noqa: E731
    else:
        get_payload = lambda: payload  # noqa: E731

    def loaded():
        obj = _worker_cache_get(token)
        if obj is None:
            obj = load(get_payload())
            _worker_cache_put(token, obj)
        return obj

    return loaded


def _probe_batch(filters: list, keys) -> np.ndarray:
    """THE route-and-probe routine: membership of each of ``keys``
    (int64/uint64 array-like, or a ``pyarrow.Array`` whose nulls probe
    ``False`` via the validity bitmap) in the shard list ``filters``.
    Groups the batch by ``shard_of_hash`` in one pass, then makes one
    ``contain`` call per non-empty shard."""
    valid = None
    if isinstance(keys, pa.Array):
        if keys.null_count:
            valid = keys.is_valid().to_numpy(zero_copy_only=False)
            keys = keys.fill_null(0)
        keys = keys.to_numpy(zero_copy_only=False)
    keys = K.to_uint64(np.asarray(keys))
    if len(filters) == 1:  # nothing to route (grouping would double cost)
        out = filters[0].contain(keys)
    else:
        shards = shard_of_hash(keys, len(filters).bit_length() - 1)
        # uint16 ids take numpy's O(n) radix sort for a stable argsort
        order = np.argsort(shards.astype(np.uint16)
                           if len(filters) <= 1 << 16 else shards,
                           kind="stable")
        counts = np.bincount(shards, minlength=len(filters))
        ends = np.cumsum(counts)
        grouped = keys[order]
        out = np.empty(keys.size, dtype=bool)
        for sh in np.flatnonzero(counts):
            lo, hi = ends[sh] - counts[sh], ends[sh]
            out[order[lo:hi]] = filters[sh].contain(grouped[lo:hi])
    return out if valid is None else out & valid


# One row per shard; `payload` is the reference wire format (to_bytes).
FILTER_TABLE_SCHEMA = StructType([
    StructField("shard", IntegerType(), False),
    StructField("kind", StringType(), False),
    StructField("num_shards", IntegerType(), False),
    StructField("input_rows", LongType(), False),      # rows fed to the kernel
    StructField("distinct_keys", LongType(), False),   # after in-kernel dedup
    StructField("seed", LongType(), False),            # winning seed (2's-compl)
    StructField("size_bytes", LongType(), False),
    StructField("build_ms", DoubleType(), False),
    StructField("payload", BinaryType(), False),
])


def _input_fingerprint(df: DataFrame) -> str | None:
    """Cheap dataset identity for checkpoint resume: sha256 over the
    scan's file listing (path + size + mtime where the file is locally
    stat-able).  Metadata-only — no Spark job runs.  Returns ``None``
    when the plan has no file scan (in-memory input) or listing fails;
    callers then fall back to the authoritative per-shard recount.

    Paths are content-addressed in practice (parquet part files carry
    writer UUIDs), so a matching listing means the same dataset unless
    someone rewrote a file IN PLACE with the same name — stat info
    catches that for local files; for remote filesystems a same-name
    in-place rewrite is the one case this fast path cannot see, which
    is why validate_checkpoint's recount remains the fallback and the
    override story.

    The hash also covers the NORMALIZED analyzed plan (expression ids
    stripped — they vary per session): two different queries over the
    same files (e.g. a filtered subset vs the full table) are different
    datasets and must not share a fingerprint."""
    import hashlib
    import re
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    h = hashlib.sha256()
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    h.update(re.sub(r"#\d+", "", plan).encode())
    for f in sorted(files):
        h.update(f.encode())
        try:
            st = os.stat(_local_path(f))
            h.update(f",{st.st_size},{st.st_mtime_ns};".encode())
        except OSError:
            h.update(b";")
    return h.hexdigest()


def _local_path(path: str) -> str:
    return path[7:] if path.startswith("file://") else (
        path[5:] if path.startswith("file:") else path)


def _fingerprint_path(checkpoint_dir: str) -> str:
    # leading underscore: Spark's parquet reader treats _-prefixed files
    # as hidden, so the sidecar never pollutes the filter table read
    return os.path.join(_local_path(checkpoint_dir), "_input_fingerprint")


def _read_fingerprint(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read().strip() or None
    except OSError:
        return None


def shard_of_hash(keys_u64: np.ndarray, shard_bits: int) -> np.ndarray:
    """Shard id = pmod(xxhash64(key), 2^shard_bits).

    xxhash64 because Spark has it as a JVM built-in — the build path
    computes the shard column with zero Python (see keys_with_shard) —
    and kernels.xxhash64_long reproduces it bit-identically for
    probe-side routing.  Independent of the per-shard splitmix build
    seeds, so routing never correlates with construction success.
    """
    if shard_bits == 0:
        return np.zeros(len(keys_u64), dtype=np.int32)
    h = K.xxhash64_long(np.asarray(keys_u64))
    # pmod by 2^bits == the low bits of the two's-complement hash
    return (h & np.uint64((1 << shard_bits) - 1)).astype(np.int32)


def choose_shard_bits(approx_distinct: int, target_keys_per_shard: int = 1 << 22,
                      max_bits: int = 16) -> int:
    """Smallest power-of-two shard count keeping shards under the target.

    2^22 keys/shard ~= 32 MB of keys + ~100 MB peel scratch per task —
    safely inside a default executor; raise ``max_bits`` for 10^12 keys
    (2^16 shards x 2^22 keys covers ~3x10^11; 2^20 shards covers 4x10^12).
    """
    if approx_distinct <= target_keys_per_shard:
        return 0
    return min(max_bits, max(0, math.ceil(
        math.log2(approx_distinct / target_keys_per_shard))))


def _build_shard_kernel(kind: str, num_shards: int, arity: int = 3):
    """Grouped-map kernel: one shard's keys -> np.unique dedup -> exact
    reference populate (operators/local.py) -> one filter-table row.

    np.unique both dedups (the Spark-scale replacement for the
    reference's lazy sort-and-dedup, xorfilter.h:24-34; the in-kernel
    duplicate-tolerance path is still implemented and tested in local.py)
    and makes the key order — hence the filter bytes — independent of
    partition/arrival order.

    (A packed-binary-chunk shuffle variant was measured and REJECTED: it
    moves the same bytes through the Python boundary twice more, and the
    Arrow columnar shuffle of plain long rows is already cheaper.)
    """

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.perf_counter()
        shard = int(pdf["shard"].iloc[0])
        raw = K.to_uint64(pdf["key"].to_numpy())
        keys = np.unique(raw)
        filt = build_filter(keys, kind, arity=arity)
        payload = filt.to_bytes()
        ms = (time.perf_counter() - t0) * 1e3
        return pd.DataFrame({
            "shard": [shard], "kind": [kind], "num_shards": [num_shards],
            "input_rows": [int(raw.size)], "distinct_keys": [int(keys.size)],
            "seed": [np.uint64(filt.seed).astype(np.int64).item()],
            "size_bytes": [int(filt.size_in_bytes())],
            "build_ms": [ms], "payload": [payload],
        })

    return build


def keys_with_shard(df: DataFrame, key_col: str, shard_bits: int) -> DataFrame:
    """Project to (key long, shard int) — entirely JVM-side.

    ``pmod(xxhash64(key), S)`` stays inside whole-stage codegen, so the
    scan -> project -> shuffle stage never crosses into Python; the only
    Python in the whole build is the per-shard kernel itself.

    Null keys (and failed casts) are dropped — a null is never a member,
    and one null in a batch sent to Python rounds keys above 2^53 through
    float64 — for every consumer: the build, ``write_bucketed_keys``, the
    checkpoint recount and ``probe_via_join``.
    """
    key = F.col(key_col).cast(LongType())
    return df.where(key.isNotNull()).select(
        key.alias("key"),
        F.pmod(F.xxhash64(key), F.lit(1 << shard_bits))
        .cast(IntegerType()).alias("shard"))


@dataclass
class ShardedFilter:
    """A distributed filter = 2^shard_bits independent reference filters.

    ``payloads[i]`` is shard i's reference wire format; probe routing uses
    the same hash prefix as construction.
    """

    kind: str
    shard_bits: int
    payloads: list[bytes]

    def __post_init__(self):
        # the worker-cache key: per INSTANCE, not per content — an
        # incremental rebuild can change middle shards while the edges
        # stay identical, and hashing every payload per udf is waste
        self._cache_token = uuid.uuid4().hex

    @property
    def num_shards(self) -> int:
        return 1 << self.shard_bits

    # -- construction -----------------------------------------------------

    @classmethod
    def from_filter_table(cls, rows: Iterable) -> "ShardedFilter":
        rows = list(rows)
        if not rows:
            raise ValueError("empty filter table")
        num_shards = rows[0]["num_shards"]
        kind = rows[0]["kind"]
        by_shard: dict[int, bytes] = {}
        for r in rows:
            s = int(r["shard"])
            if s in by_shard:
                raise ValueError(
                    f"filter table has duplicate rows for shard {s} "
                    "(overlapping builds appending to one checkpoint_dir?)")
            by_shard[s] = bytes(r["payload"])
        missing = set(range(num_shards)) - set(by_shard)
        if missing:
            raise ValueError(
                f"filter table incomplete: missing shards "
                f"{sorted(missing)[:8]}... "
                "(use probe_via_join for partial tables)")
        return cls(kind=kind, shard_bits=int(math.log2(num_shards)),
                   payloads=[by_shard[s] for s in range(num_shards)])

    # -- probing ----------------------------------------------------------

    def _loader(self, spark: SparkSession | None):
        return _payload_loader(spark, self._cache_token, self.payloads,
                               partial(_deserialize_shards, self.kind))

    def contain_np(self, keys) -> np.ndarray:
        """Driver-side vectorized probe (for tests / small batches); a
        ``pyarrow.Array``'s nulls probe ``False``."""
        return _probe_batch(_deserialize_shards(self.kind, self.payloads),
                            keys)

    def contains_udf(self, spark: SparkSession | None = None):
        """Scalar Arrow UDF ``long -> boolean`` probing the broadcast
        filter; a null key probes ``False``.

        Payloads are broadcast once and deserialized at most once per
        Python worker (``_payload_loader``), cached under this instance's
        uuid token from ``__post_init__``.  Each key then costs 3 gathers
        + xor + compare (xorfilter.h:96-108, binaryfusefilter.h:178-187).
        """
        filters = self._loader(spark)

        @F.arrow_udf(BooleanType())
        def contains(keys: pa.Array) -> pa.Array:
            return pa.array(_probe_batch(filters(), keys))

        return contains

    def register_sql_udf(self, spark: SparkSession,
                         name: str = "ff_contains"):
        """Expose the probe to pure-SQL users:
        ``spark.sql("SELECT * FROM t WHERE ff_contains(key)")``.

        Registers the :meth:`contains_udf` UDF itself, so SQL and
        DataFrame probes share one path and one worker cache.
        Re-registering a name rebinds it to the new filter.  Returns the
        name for use in query strings.
        """
        spark.udf.register(name, self.contains_udf(spark))
        return name

    def filter_members(self, df: DataFrame, key_col: str,
                       spark: SparkSession | None = None,
                       negate: bool = False) -> DataFrame:
        """Arrow-native row filter: keep rows whose ``key_col`` passes the
        probe (or fails it, with ``negate``).  A null key never passes,
        so ``negate`` keeps it.

        Trade-off (measured): for NARROW frames (key-only or few
        columns) this beats ``df.where(contains_udf(col))`` — the batch
        stays a pyarrow RecordBatch end-to-end.  For
        WIDE frames the where() form wins (~2x on 11-column lineitem):
        there only the key column crosses into Python and the JVM
        filters the full rows, whereas mapInArrow ships every column
        through Python both ways.  semi_join_prune therefore uses
        where(); use this for key streams and projected scans.
        """
        filters = self._loader(spark)

        def probe_batches(batches):
            for batch in batches:
                keep = _probe_batch(filters(), batch.column(key_col))
                if negate:
                    keep = ~keep
                if keep.all():
                    yield batch
                elif keep.any():
                    yield batch.filter(pa.array(keep))

        return df.mapInArrow(probe_batches, df.schema)

    # -- sizing -----------------------------------------------------------

    def size_in_bytes(self) -> int:
        return sum(len(p) for p in self.payloads)

    def bits_per_entry(self, n_keys: int) -> float:
        return self.size_in_bytes() * 8.0 / max(1, n_keys)


def _resolve_shard_bits(df: DataFrame, key_col: str,
                        shard_bits: int | None,
                        target_keys_per_shard: int) -> int:
    """Explicit shard_bits, or sized from an approx-distinct scan."""
    if shard_bits is not None:
        return shard_bits
    approx = df.select(F.approx_count_distinct(key_col).alias("n")) \
               .collect()[0]["n"]
    return choose_shard_bits(approx, target_keys_per_shard)


def build_sharded_table(
    df: DataFrame,
    key_col: str,
    kind: str = "fuse8",
    shard_bits: int | None = None,
    target_keys_per_shard: int = 1 << 22,
    checkpoint_dir: str | None = None,
    validate_checkpoint: bool = True,
    arity: int = 3,
) -> DataFrame:
    """Build the filter TABLE without materializing payloads on the
    driver.

    ``build_sharded`` collects every shard payload to construct the
    broadcastable ``ShardedFilter`` — right for dim-table pruning (MBs),
    wrong for a 10^12-key filter (~1.1 TB of payloads through the
    driver, SCALE.md).  Callers that will probe with ``probe_via_join``
    (which receives one shard row per task and needs no driver copy)
    should use this instead: the result stays a DataFrame end-to-end —
    write it to parquet/Iceberg, read it back, join-probe it; nothing
    larger than the query plan ever lands on the driver.

    Shards that received zero keys produce no row (groupBy emits
    non-empty groups only); ``probe_via_join`` treats an absent shard as
    all-non-member, which is exact for an empty shard.  Plan shape (one
    shuffle; the shard column is JVM-side inside whole-stage codegen):

        scan -> select(key, shard = pmod(xxhash64(key), S))
             -> groupBy(shard)                       [THE shuffle]
             -> applyInPandas(reference populate)    [one task per shard]
             -> 2^bits tiny rows

    With ``checkpoint_dir`` the filter table is appended per-shard to
    parquet and a rerun builds only missing shards (resume-by-shard-id,
    BASELINE.json:north_rule) after validating the input is unchanged.
    """
    spark = df.sparkSession
    # argument errors fail HERE on the driver, not minutes later inside
    # a shard task after the scan and shuffle already ran
    if kind not in ("xor8", "xor16", "fuse8", "fuse16", "fuse32"):
        raise ValueError(f"unknown filter kind: {kind}")
    if arity != 3 and not kind.startswith("fuse"):
        raise ValueError("arity applies to fuse kinds only")
    if arity not in (3, 4):
        # mirror FuseFilter.build — arity=5 must not pass the driver
        # check only to fail minutes later inside a shard task
        raise ValueError(f"arity must be 3 or 4, got {arity}")
    shard_bits = _resolve_shard_bits(df, key_col, shard_bits,
                                     target_keys_per_shard)
    num_shards = 1 << shard_bits

    keyed = keys_with_shard(df, key_col, shard_bits)

    done: set[int] = set()
    requested_validation = validate_checkpoint
    if checkpoint_dir is not None:
        try:
            existing = spark.read.schema(FILTER_TABLE_SCHEMA) \
                .parquet(checkpoint_dir)
            meta = existing.select(
                "shard", "kind", "num_shards", "input_rows").collect()
        except Exception:
            meta = []
        if meta:
            # resume only into a COMPATIBLE checkpoint: mixing kinds or
            # shard counts would deserialize old payloads with the new
            # parameters — silent garbage membership bits
            kinds = {r["kind"] for r in meta}
            shard_counts = {r["num_shards"] for r in meta}
            if kinds != {kind} or shard_counts != {num_shards}:
                raise ValueError(
                    f"checkpoint_dir {checkpoint_dir} holds an incompatible "
                    f"build (kind={sorted(kinds)}, num_shards="
                    f"{sorted(shard_counts)}) vs requested "
                    f"(kind={kind}, num_shards={num_shards}); "
                    "use a fresh directory")
            if kind.startswith("fuse"):
                # FILTER_TABLE_SCHEMA stores no arity column, but each
                # payload's wire layout determines it — inspect one row
                # so an arity-3 checkpoint cannot silently resume into a
                # mixed-arity table when arity=4 was requested
                sample = existing.select("payload").first()["payload"]
                stored_arity = filter_from_bytes(bytes(sample), kind).arity
                if stored_arity != arity:
                    raise ValueError(
                        f"checkpoint_dir {checkpoint_dir} holds "
                        f"{stored_arity}-wise {kind} payloads but "
                        f"arity={arity} was requested; use a fresh "
                        "directory")
            done = {r["shard"] for r in meta}
        if done and validate_checkpoint:
            # input-identity check: a resume against a CHANGED/GROWN input
            # would silently reuse stale shard payloads — new keys routed
            # to a 'done' shard would get false negatives, breaking the
            # zero-false-negative guarantee.
            #
            # FAST PATH first: a dataset fingerprint (file listing hash)
            # persisted at first build.  Matching it is metadata-only —
            # no job, no O(input) scan per resume; only a missing or
            # mismatching fingerprint falls through to the authoritative
            # per-shard recount below.
            fp_stored = _read_fingerprint(_fingerprint_path(checkpoint_dir))
            if fp_stored is not None and fp_stored == _input_fingerprint(df):
                validate_checkpoint = False
        if done and validate_checkpoint:
            # Stored input_rows is the
            # exact pre-dedup row count the kernel saw, so recount the
            # current input per shard (map-side partial agg; only key+
            # shard columns scan) and require equality for done shards.
            stored = {r["shard"]: r["input_rows"] for r in meta}
            current = {r["shard"]: r["n"] for r in
                       keyed.groupBy("shard").agg(F.count("*").alias("n"))
                       .collect()}
            bad = {s: (stored[s], current.get(s, 0))
                   for s in done if stored[s] != current.get(s, 0)}
            if bad:
                ex = dict(list(sorted(bad.items()))[:4])
                raise ValueError(
                    f"checkpoint_dir {checkpoint_dir} was built from a "
                    f"different input: per-shard row counts differ on "
                    f"{len(bad)} completed shard(s) "
                    f"(shard: (checkpointed, current)) {ex}; resuming "
                    "would reuse stale payloads and produce false "
                    "negatives — use a fresh directory "
                    "(or validate_checkpoint=False to override)")
        if done and requested_validation:
            # behavioral spot-check, run even when the fingerprint fast
            # path skipped the recount: row counts and input identity
            # CANNOT catch a payload that is stale because the CODE
            # changed under it (e.g. a 4-wise cell map from an older
            # kernel version — same input, same counts, same layout,
            # different hash mapping).  Probe a small sample of current
            # input keys against their resumed shard payloads: a
            # matching payload can never probe an inserted key negative
            # (the zero-false-negative guarantee), so any miss proves
            # the payload was built by incompatible code or over
            # different keys.  Cost: one tiny sample job + a few
            # KB..MB payload rows to the driver.
            sample = [r for r in
                      keyed.select("shard", "key").limit(256).collect()
                      if r["shard"] in done]
            check = sorted({int(r["shard"]) for r in sample})[:4]
            if check:
                pay = {int(r["shard"]): bytes(r["payload"])
                       for r in existing.where(F.col("shard").isin(check))
                       .select("shard", "payload").collect()}
                for s in check:
                    filt = filter_from_bytes(pay[s], kind, view=True)
                    ks = np.array([r["key"] for r in sample
                                   if r["shard"] == s], dtype=np.int64)
                    if not filt.contain(ks).all():
                        raise ValueError(
                            f"checkpoint_dir {checkpoint_dir}: shard {s} "
                            "payload probes FALSE for keys present in the "
                            "current input — the checkpoint was built over "
                            "different keys or by an incompatible library "
                            "version; resuming would produce false "
                            "negatives.  Use a fresh directory (or "
                            "validate_checkpoint=False to override)")
        if done:
            keyed = keyed.where(~F.col("shard").isin([int(s) for s in done]))

    if len(done) < num_shards:
        built = build_filter_rows(keyed, kind, num_shards, arity=arity)
        if checkpoint_dir is None:
            return built
        built.write.mode("append").parquet(checkpoint_dir)
        # persist the dataset fingerprint once so later resumes can
        # validate input identity without an O(input) recount job
        fp_path = _fingerprint_path(checkpoint_dir)
        if _read_fingerprint(fp_path) is None:
            fp = _input_fingerprint(df)
            if fp is not None:
                try:
                    with open(fp_path, "w") as f:
                        f.write(fp)
                except OSError:
                    pass  # non-local checkpoint fs: recount fallback
    return spark.read.schema(FILTER_TABLE_SCHEMA).parquet(checkpoint_dir)


def build_sharded(
    df: DataFrame,
    key_col: str,
    kind: str = "fuse8",
    shard_bits: int | None = None,
    target_keys_per_shard: int = 1 << 22,
    checkpoint_dir: str | None = None,
    validate_checkpoint: bool = True,
    arity: int = 3,
) -> tuple[ShardedFilter, DataFrame]:
    """Build a sharded filter over ``df[key_col]`` (int64 keys).

    Returns ``(filter, filter_table_df)`` — the filter's payloads are
    MATERIALIZED on the driver for broadcast probing
    (``contains_udf``); when the filter is too large to broadcast and
    probing goes through ``probe_via_join``, use ``build_sharded_table``
    instead (same build plan, no driver materialization).
    """
    shard_bits = _resolve_shard_bits(df, key_col, shard_bits,
                                     target_keys_per_shard)
    table = build_sharded_table(
        df, key_col, kind=kind, shard_bits=shard_bits,
        checkpoint_dir=checkpoint_dir, validate_checkpoint=validate_checkpoint,
        arity=arity)
    return _complete_filter(table.collect(), kind, 1 << shard_bits), table


def _complete_filter(rows: list, kind: str, num_shards: int) -> ShardedFilter:
    """``ShardedFilter`` over filter-table ``rows``.  Shards that received
    no keys have no row (groupBy emits non-empty groups only); they get a
    valid empty filter, so an oversized shard count still yields a
    complete filter."""
    present = {r["shard"] for r in rows}
    payload = empty_filter(kind).to_bytes()
    return ShardedFilter.from_filter_table(rows + [
        {"shard": s, "kind": kind, "num_shards": num_shards,
         "payload": payload}
        for s in range(num_shards) if s not in present])


def write_bucketed_keys(df: DataFrame, key_col: str, shard_bits: int,
                        table_name: str, mode: str = "overwrite") -> None:
    """Persist the key stream as a SHARD-BUCKETED table: the write pays
    the shuffle once, and every subsequent ``build_sharded_from_bucketed``
    is completely shuffle-free (Catalyst sees the scan's
    HashPartitioning(shard) already satisfies the grouped-map
    distribution — asserted in tests/test_plans.py).  This is the
    SCALE.md deployment for a 10^12-key corpus that gets re-filtered
    repeatedly: an Iceberg/bucketBy layout choice, not an engine change.
    """
    keyed = keys_with_shard(df, key_col, shard_bits)
    keyed.write.bucketBy(1 << shard_bits, "shard").sortBy("shard") \
        .mode(mode).saveAsTable(table_name)


def build_sharded_from_bucketed(spark: SparkSession, table_name: str,
                                kind: str = "fuse8",
                                arity: int = 3) -> DataFrame:
    """Shuffle-free filter-table build over a ``write_bucketed_keys``
    table.  Bucket spec (count + column) is read from the catalog and
    validated; returns the filter-table DataFrame (pair with
    ``probe_via_join`` / ``ShardedFilter.from_filter_table``)."""
    desc = {r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE EXTENDED {table_name}").collect()}
    try:
        num_buckets = int(desc.get("Num Buckets", ""))
    except ValueError:
        raise ValueError(f"{table_name} is not a bucketed table")
    if num_buckets <= 0 or (num_buckets & (num_buckets - 1)) != 0:
        raise ValueError(
            f"{table_name}: bucket count {num_buckets} must be a power "
            "of two (write with write_bucketed_keys)")
    # exact match, not substring: a table bucketed by shard_id or by
    # (key, shard) would pass a loose check but NOT satisfy the
    # grouped-map distribution — Catalyst would silently reinsert the
    # Exchange this function exists to avoid
    bucket_cols = [c.strip(" `") for c in
                   desc.get("Bucket Columns", "").strip("[]").split(",")]
    if bucket_cols != ["shard"]:
        raise ValueError(
            f"{table_name} is bucketed by {bucket_cols}, not by exactly "
            "the shard column (write with write_bucketed_keys)")
    return build_filter_rows(spark.table(table_name), kind, num_buckets,
                             arity=arity)


def probe_via_join(probes: DataFrame, key_col: str,
                   filter_table: DataFrame,
                   num_shards: int | None = None) -> DataFrame:
    """Probe WITHOUT broadcasting: cogroup probe keys with filter rows by
    shard id.

    The broadcast probe (``contains_udf``) needs every executor to hold
    the whole filter — fine for dim-table pruning (MBs) but not for a
    10^12-key filter table (~TB, SCALE.md).  Here each task receives ONE
    shard's payload row plus that shard's probe keys, so memory per task
    is one sub-filter + its probes regardless of total filter size.

    Returns (key, member boolean); rows with keys only (no extra
    columns) — join back on key for row-level filtering.
    """
    if num_shards is None:
        # when filter_table is an unmaterialized build plan, reading
        # num_shards would EXECUTE it once just for one number and the
        # cogroup below would execute it again — a full double build.
        # Auto-persist before the lookup so the cogroup reuses the
        # materialized shards; the caller may unpersist after the probe
        # (passing num_shards explicitly skips both the job and the
        # pin).
        from pyspark import StorageLevel
        if filter_table.storageLevel == StorageLevel.NONE:
            filter_table = filter_table.persist()
        num_shards = filter_table.select(F.first("num_shards")).first()[0]
    shard_bits = int(math.log2(num_shards))
    keyed = keys_with_shard(probes, key_col, shard_bits)

    def probe(key, probe_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) \
            -> pd.DataFrame:
        keys = probe_pdf["key"].to_numpy(dtype=np.int64)
        if len(keys) == 0 or len(filt_pdf) == 0:  # shard never built
            return pd.DataFrame({"key": keys,
                                 "member": np.zeros(keys.size, dtype=bool)})
        if len(filt_pdf) > 1:
            # mirror from_filter_table's duplicate-shard error: probing an
            # arbitrary row could pick a stale payload (e.g. overlapping
            # checkpoint appends) and silently return false negatives
            raise ValueError(
                f"filter table has {len(filt_pdf)} rows for shard "
                f"{int(filt_pdf['shard'].iloc[0])} (overlapping builds "
                "appending to one checkpoint_dir?); deduplicate the table "
                "(latest-wins) before probing")
        f = filter_from_bytes(bytes(filt_pdf["payload"].iloc[0]),
                              filt_pdf["kind"].iloc[0], view=True)
        return pd.DataFrame({"key": keys, "member": f.contain(keys)})

    return keyed.groupBy("shard").cogroup(
        filter_table.groupBy("shard")).applyInPandas(
        probe, schema="key long, member boolean")


def build_filter_rows(keyed: DataFrame, kind: str,
                      num_shards: int, arity: int = 3) -> DataFrame:
    """Low-level: (key, shard) rows -> filter-table rows for the shards
    PRESENT in ``keyed`` (no completeness requirement — used by
    checkpoint resume and streaming incremental rebuild).  ``arity=4``
    builds 4-wise fuse shards; probes need no flag (deserialization
    infers arity from each payload's layout)."""
    return keyed.groupBy("shard").applyInPandas(
        _build_shard_kernel(kind, num_shards, arity), schema=FILTER_TABLE_SCHEMA)


def semi_join_prune(fact: DataFrame, fact_key: str, sf: ShardedFilter,
                    dim_keys: DataFrame, dim_key: str,
                    broadcast_dim: bool = True) -> DataFrame:
    """Exact left-semi join accelerated by a filter pre-probe.

    The contains() probe (no false negatives) discards ~all non-matching
    fact rows *before* the shuffle/broadcast of the exact join — at 100 TB
    this is the difference between shuffling the full fact table and
    shuffling the ~matching fraction.  The final exact join removes the
    <=2^-8/2^-16 false positives, so results are exact.

    ``broadcast_dim=True`` (default) force-broadcasts the dim side with
    no size check — right for this function's target shape (a dim small
    enough that its keys also fit in the broadcast filter), and
    deliberate rather than autoBroadcastJoinThreshold-dependent (a dim
    just past the threshold would silently become a full shuffle of the
    pruned fact side).  For a dim too large to broadcast (Spark's 8 GB
    broadcast-table limit / executor memory), pass
    ``broadcast_dim=False`` to get a shuffle semi join — and consider
    ``probe_via_join``, the driver-free path built for that regime.
    """
    spark = fact.sparkSession
    # where(udf), not filter_members: see filter_members docstring
    pruned = fact.where(sf.contains_udf(spark)(F.col(fact_key)))
    # bind the dim side explicitly: an unbound F.col(dim_key) is ambiguous
    # whenever fact has a same-named column (incl. fact_key == dim_key)
    dim = dim_keys.select(dim_key).distinct()
    if broadcast_dim:
        dim = F.broadcast(dim)  # explicit hint: see docstring
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], "left_semi")
