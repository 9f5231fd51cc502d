"""Structured Streaming integration.

The reference library is batch-only — a filter is immutable once
populated (no insert/delete; /root/reference/include/xorfilter.h:659,
binaryfusefilter.h:280) — so the streaming story is *incremental
rebuild*: maintain an up-to-date sharded filter over an append-only key
stream by rebuilding only the shards that received new keys each
micro-batch.  That keeps per-batch work proportional to touched shards
x shard size, not the total key count, and the result after any batch is
byte-identical to a from-scratch batch build over the same key set
(np.unique in the shard kernel makes bytes order-invariant).

Also provided: streaming sketch aggregation via ``foreachBatch`` — each
micro-batch folds into mergeable sketches (functions/sketches.py), the
classic monoid pattern that Structured Streaming cannot express with
built-in aggregates.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from fastfilter_spark.operators.dist import (
    FILTER_TABLE_SCHEMA, ShardedFilter, _complete_filter, build_filter_rows,
    keys_with_shard,
)

# filter-table LOG row: one filter row per (shard, micro-batch that
# touched it); reads resolve latest-wins by `seq`, a log-local
# monotonically increasing sequence number.  Spark's batch_id is logged
# for lineage but NOT used for ordering: batch ids restart at 0 when a
# stream re-attaches with a fresh checkpoint directory, and ordering by
# them would then serve STALE shard rows (silent false negatives for
# keys ingested after the restart).
TABLE_LOG_SCHEMA = StructType(
    list(FILTER_TABLE_SCHEMA.fields)
    + [StructField("batch_id", LongType(), False),
       StructField("seq", LongType(), False)])


class IncrementalFilterMaintainer:
    """foreachBatch sink keeping a sharded filter current over a key stream.

    State = per-shard key stores (parquet of raw keys, partitioned by
    shard) plus an append-only filter-table LOG (parquet rows of
    ``FILTER_TABLE_SCHEMA`` + ``batch_id`` + ``seq``).  A micro-batch
    appends its keys to the key store, rebuilds ONLY the shards it
    touched from their full key sets (partition-pruned read), and
    APPENDS the rebuilt rows stamped with a log-local monotonic ``seq``
    (restart-safe, see TABLE_LOG_SCHEMA).  Readers resolve latest-wins
    per shard, so untouched shards keep serving their previous rows — and,
    unlike a read-modify-write of the whole table, nothing is ever
    collected to the driver: per-batch cost is touched-shards only,
    regardless of total filter size (at 2^18 shards the old
    collect-and-rewrite was ~the whole TB-scale filter per batch).

    Re-delivered batches (foreachBatch is at-least-once) are harmless:
    the duplicate keys collapse in the in-kernel np.unique and the
    duplicate log rows carry identical payloads; latest-wins picks one
    deterministically.  ``compact()`` folds the log back to one row per
    shard when it grows long.
    """

    def __init__(self, base_dir: str, key_col: str = "key",
                 kind: str = "fuse8", shard_bits: int = 4,
                 compact_every: int | None = None):
        self.base_dir = base_dir
        self.key_col = key_col
        self.kind = kind
        self.shard_bits = shard_bits
        self.keys_dir = os.path.join(base_dir, "keys")
        self.table_dir = os.path.join(base_dir, "filters")
        # compact inside the batch callback every N batches: foreachBatch
        # is driver-serial per query, so this can never race an append
        self.compact_every = compact_every
        self._batches_seen = 0

    def _next_seq(self, spark: SparkSession) -> int:
        """Log-local monotonic sequence: max existing + 1 (survives
        stream restarts with fresh checkpoints, unlike batch_id).  The
        log holds tiny per-shard rows, so the max() agg reads KBs."""
        if not self._log_has_files():
            return 1
        # NO broad except here: a transient read error defaulting to
        # seq=1 would stamp new rows BELOW the existing max, so
        # latest-wins would serve stale shard payloads — silent false
        # negatives.  Only a genuinely empty/missing log maps to 1;
        # unexpected read errors propagate (retryable by the stream).
        cur = spark.read.schema(TABLE_LOG_SCHEMA) \
            .parquet(self.table_dir).agg(F.max("seq")).first()[0]
        return int(cur or 0) + 1

    def _log_has_files(self) -> bool:
        """True iff the filter-table log dir holds at least one parquet
        part file (an existing-but-empty dir, e.g. mid-compact, is
        'empty log')."""
        if not os.path.isdir(self.table_dir):
            return False
        return any(name.endswith(".parquet")
                   for name in os.listdir(self.table_dir))

    # -- foreachBatch entry ----------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self._recover_compact()
        keyed = keys_with_shard(batch_df, self.key_col, self.shard_bits)
        # one source scan per trigger: cache the keyed batch, derive the
        # touched-shard list (doubles as the empty check), then append —
        # without the cache this pipeline would re-read the micro-batch
        # source three times (empty-probe, write, distinct)
        keyed.persist()
        try:
            touched = [r["shard"] for r in
                       keyed.select("shard").distinct().collect()]
            if not touched:
                return
            keyed.write.mode("append") \
                .partitionBy("shard").parquet(self.keys_dir)
        finally:
            keyed.unpersist()

        # rebuild touched shards from their full key history (partition
        # pruning: the key store is partitioned by shard, so untouched
        # shards are never read), then append to the log — executors
        # write their own shard rows, the driver moves only shard IDS
        store = spark.read.parquet(self.keys_dir) \
            .where(F.col("shard").isin([int(s) for s in touched]))
        rebuilt = build_filter_rows(store, self.kind, 1 << self.shard_bits)
        seq = self._next_seq(spark)
        rebuilt.withColumn("batch_id", F.lit(int(batch_id)).cast("long")) \
            .withColumn("seq", F.lit(seq).cast("long")) \
            .write.mode("append").parquet(self.table_dir)
        self._batches_seen += 1
        if self.compact_every and self._batches_seen % self.compact_every == 0:
            self.compact(spark)

    # -- reads ------------------------------------------------------------

    def current_table(self, spark: SparkSession) -> DataFrame:
        """Latest filter-table row per shard (FILTER_TABLE_SCHEMA shape,
        no batch_id) — feed this to ``probe_via_join`` for probing that
        never materializes payloads anywhere central."""
        self._recover_compact()
        if not os.path.isdir(self.table_dir):
            raise ValueError(
                f"no micro-batch has been processed yet ({self.table_dir} "
                "does not exist); attach() the stream first")
        log = spark.read.schema(TABLE_LOG_SCHEMA).parquet(self.table_dir)
        # input_rows tiebreak: a re-delivered batch can log the same
        # shard twice at the same seq (identical payload, but the later
        # row saw the re-appended keys, so input_rows is higher) — make
        # the winner deterministic
        w = Window.partitionBy("shard").orderBy(
            F.desc("seq"), F.desc("input_rows"))
        return (log.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn", "batch_id", "seq"))

    def current_filter(self, spark: SparkSession) -> ShardedFilter:
        """Materialize the latest rows into a broadcastable ShardedFilter
        (driver holds one copy — fine for broadcastable sizes; use
        ``current_table`` + ``probe_via_join`` beyond that)."""
        return _complete_filter(self.current_table(spark).collect(),
                                self.kind, 1 << self.shard_bits)

    # -- maintenance -------------------------------------------------------

    def _recover_compact(self) -> None:
        """Heal a compact() interrupted between its two renames: if the
        live dir is gone but the .compact.old snapshot survived, restore
        it (every public entry point calls this first)."""
        old = self.table_dir + ".compact.old"
        if not os.path.isdir(self.table_dir) and os.path.isdir(old):
            os.rename(old, self.table_dir)

    def compact(self, spark: SparkSession) -> None:
        """Fold the log to one (latest) row per shard.  The log grows by
        touched-shard rows per micro-batch; compact periodically to keep
        reads cheap — either pass ``compact_every`` to the constructor
        (runs inside the serial foreachBatch callback, race-free) or
        call this manually ONLY while the stream is stopped/paused: the
        snapshot-and-swap would drop rows appended concurrently.
        Local-FS directory swap, crash-safe via _recover_compact; on an
        object store / Iceberg deployment this is a dynamic partition
        overwrite instead."""
        self._recover_compact()
        log = spark.read.schema(TABLE_LOG_SCHEMA).parquet(self.table_dir)
        w = Window.partitionBy("shard").orderBy(
            F.desc("seq"), F.desc("input_rows"))
        latest = log.withColumn("_rn", F.row_number().over(w)) \
            .where(F.col("_rn") == 1).drop("_rn")
        tmp = self.table_dir + ".compact.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        latest.write.parquet(tmp)
        old = self.table_dir + ".compact.old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.table_dir, old)
        os.rename(tmp, self.table_dir)
        shutil.rmtree(old)

    def attach(self, stream_df: DataFrame, checkpoint: str | None = None):
        """writeStream wiring: returns the started StreamingQuery."""
        return (stream_df.writeStream
                .foreachBatch(self.process_batch)
                .option("checkpointLocation",
                        checkpoint or os.path.join(self.base_dir, "ckpt"))
                .outputMode("update")
                .start())


class StreamingSketchAggregator:
    """foreachBatch sink folding a stream into mergeable sketches.

    ``factories`` maps sketch name -> zero-arg constructor; each batch
    updates every sketch with the batch's column values (sketch classes
    are commutative monoids, so the result is the same as a batch
    aggregation over the whole stream so far).  Sketch state is
    checkpointed as wire bytes per batch for resumability.
    """

    def __init__(self, col: str, factories: dict[str, Callable[[], object]],
                 state_dir: str | None = None, as_float: bool = False):
        self.col = col
        self.factories = factories
        self.state_dir = state_dir
        self.as_float = as_float
        self.sketches = {name: f() for name, f in factories.items()}
        self.last_batch_id = -1
        if state_dir:
            self._load()

    # single-file state layout: marker + every sketch blob committed in
    # ONE os.replace.  Per-sketch files were replaced one by one, so a
    # crash mid-loop left MIXED state (some sketches including the last
    # batch, the marker not) — on redelivery the included ones would
    # double-count (silent for CMS/KLL/t-digest).  Format: ascii header
    # line "ffss1 <batch_id> <n>\n", then per sketch: name line, byte
    # length line, raw wire bytes.
    _STATE_FILE = "sketch_state.bin"

    def _load(self):
        from fastfilter_spark.functions.sketches import sketch_from_bytes
        path = os.path.join(self.state_dir, self._STATE_FILE)
        if not os.path.exists(path):
            return
        with open(path, "rb") as f:
            magic, batch_id, n = f.readline().split()
            if magic != b"ffss1":
                raise ValueError(f"unrecognized sketch state file {path}")
            for _ in range(int(n)):
                name = f.readline().strip().decode()
                size = int(f.readline())
                blob = f.read(size)
                if name in self.factories:
                    self.sketches[name] = sketch_from_bytes(blob)
        self.last_batch_id = int(batch_id)

    def _save(self, batch_id: int):
        if not self.state_dir:
            return
        os.makedirs(self.state_dir, exist_ok=True)
        tmp = os.path.join(self.state_dir, ".sketch_state.tmp")
        with open(tmp, "wb") as f:
            f.write(b"ffss1 %d %d\n" % (batch_id, len(self.sketches)))
            for name, sk in self.sketches.items():
                blob = sk.to_bytes()
                f.write(name.encode() + b"\n%d\n" % len(blob) + blob)
        # one replace = marker and blobs commit atomically together
        os.replace(tmp, os.path.join(self.state_dir, self._STATE_FILE))

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a batch re-delivered after a
        # crash between our _save and Spark's checkpoint commit must not
        # double-count into the (add-semantics) sketches.  Only the next
        # uncommitted batch can legitimately be redelivered, so
        # batch_id == last_batch_id → skip; batch_id < last_batch_id can
        # only mean the stream re-attached with a FRESH checkpoint dir
        # (batch ids restart at 0) against existing sketch state —
        # silently skipping would drop real data and silently folding
        # would double-count any replayed source, so fail loudly.
        if batch_id == self.last_batch_id:
            return
        if batch_id < self.last_batch_id:
            raise ValueError(
                f"batch_id {batch_id} < committed {self.last_batch_id}: "
                "the stream's checkpoint dir was reset while state_dir "
                f"{self.state_dir!r} kept old sketches. Pair state_dir "
                "with its checkpoint (clear both or neither).")
        # distributed fold: executors compute per-task partials for all
        # sketches in ONE scan of the micro-batch (partials + tree merge,
        # operators/sketch_agg.multi_sketch_column); the driver receives
        # and merges only KB wire blobs — never batch rows, so a 10^7-row
        # micro-batch costs the driver the same as a 10^2-row one
        from fastfilter_spark.operators.sketch_agg import multi_sketch_column
        merged = multi_sketch_column(batch_df.select(self.col), self.col,
                                     self.factories, as_float=self.as_float)
        for name, sk in merged.items():
            self.sketches[name] = self.sketches[name].merge(sk)
        self.last_batch_id = batch_id
        self._save(batch_id)

    def attach(self, stream_df: DataFrame, checkpoint: str):
        return (stream_df.writeStream
                .foreachBatch(self.process_batch)
                .option("checkpointLocation", checkpoint)
                .outputMode("update")
                .start())
