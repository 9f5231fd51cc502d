"""Streaming filter probe: semi-join prune an ingest stream.

The batch library builds/maintains sharded xor/fuse filters; this
stage puts them IN FRONT of a stream — "drop urls the crawl has
already seen" / "keep only events whose key belongs to the tracked
set" at ingest time, before anything expensive (fetch, parse, store)
runs.  Reference parity note: xor_singleheader's contain() is the
probe primitive (include/xorfilter.h); the streaming wrapper is
Spark-native surface with no reference counterpart.

Semantics (from the filters' one-sided error):

- members ALWAYS probe True (zero false negatives), so
  ``mode="drop_members"`` never lets a key the loaded snapshot has
  seen through; ~fpp (2^-8 / 2^-16) of NOVEL rows are wrongly
  dropped — the standard crawl-dedup trade.
- ``mode="keep_members"`` keeps every tracked key plus ~fpp extras;
  chase with an exact join downstream when extras matter
  (operators.dist.semi_join_prune is the batch shape of that).
- Staleness: the filter snapshot refreshes between micro-batches
  (``refresh_every``), so keys inserted AFTER the loaded snapshot
  probe False until the next refresh — duplicates can under-drop
  across that bound, never over-drop.

Each micro-batch is probed executor-side via the broadcast
contains() Arrow UDF (only the key column crosses the Python
boundary; a null key probes False) and survivors append to a parquet
sink dir — at deployment scale point the sink at the
object-store/Iceberg landing table instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastfilter_spark.streaming.incremental import (
    IncrementalFilterMaintainer,
)

__all__ = ["StreamingFilterProbe"]


class StreamingFilterProbe:
    """foreachBatch sink pruning a key stream against the maintained
    filter; pair with an :class:`IncrementalFilterMaintainer` that a
    separate stream keeps feeding."""

    def __init__(self, maintainer: IncrementalFilterMaintainer,
                 probe_col: str, out_dir: str,
                 mode: str = "drop_members", refresh_every: int = 1):
        if mode not in ("drop_members", "keep_members"):
            raise ValueError(f"unknown mode {mode!r}")
        if refresh_every < 1:
            raise ValueError("refresh_every must be >= 1")
        self.maintainer = maintainer
        self.probe_col = probe_col
        self.out_dir = out_dir
        self.mode = mode
        self.refresh_every = refresh_every
        self._sf = None
        self._udf = None
        self._loaded_seq = -1
        self._last_batch_id = None

    # -- snapshot management ------------------------------------------------

    def _refresh(self, spark: SparkSession) -> None:
        """Reload the filter snapshot iff the maintainer's log advanced
        (seq probe = one small parquet column read of the compacted
        log; the payloads are only re-broadcast on actual change)."""
        try:
            seq = self.maintainer._next_seq(spark)
        except Exception:
            # unreadable log: keep serving the current snapshot rather
            # than dropping the probe stage mid-stream
            if self._sf is not None:
                return
            raise
        if self._sf is not None and seq == self._loaded_seq:
            return
        if seq == 1:
            # empty/missing log.  BEFORE anything was loaded that means
            # "no batch processed yet": the tracked set is empty.  But
            # once a snapshot exists, an apparently-empty log is a
            # compact() mid-swap (the live dir is renamed away between
            # compact's two renames) — keys are only ever ADDED in this
            # design, so the tracked set cannot have genuinely shrunk
            # to nothing: keep serving the current snapshot.
            if self._sf is None:
                self._loaded_seq = 1
            return
        self._sf = self.maintainer.current_filter(spark)
        # build the probe UDF ONCE per snapshot: contains_udf()
        # broadcasts the shard payloads, so constructing it per batch
        # would re-broadcast an unchanged filter every micro-batch and
        # accumulate live broadcast objects on the driver
        self._udf = self._sf.contains_udf(spark)
        self._loaded_seq = seq

    # -- streaming hooks ------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a crash between the sink write
        # and the checkpoint commit redelivers the same batch_id to the
        # SAME long-lived instance — skip the duplicate append (the
        # same guard StreamingSketchAggregator uses).  Redelivery into
        # a FRESH process re-appends; dedupe the sink downstream or
        # point it at a transactional table format for exactly-once.
        if batch_id == self._last_batch_id:
            return
        spark = batch_df.sparkSession
        if self._loaded_seq < 0 or batch_id % self.refresh_every == 0:
            self._refresh(spark)
        if self._sf is None:
            # empty tracked set: nothing is a member
            out = batch_df if self.mode == "drop_members" \
                else batch_df.limit(0)
        else:
            is_member = self._udf(F.col(self.probe_col))
            out = batch_df.where(~is_member if self.mode == "drop_members"
                                 else is_member)
        out.write.mode("append").parquet(self.out_dir)
        self._last_batch_id = batch_id

    def attach(self, stream_df: DataFrame, checkpoint: str):
        """writeStream wiring: returns the started StreamingQuery."""
        return (stream_df.writeStream
                .foreachBatch(self.process_batch)
                .option("checkpointLocation", checkpoint)
                .outputMode("append")
                .start())
