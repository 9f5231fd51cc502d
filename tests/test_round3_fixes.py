"""Regression tests for the round-2 judge/advisor findings
(VERDICT.md round 2 items 2-5, 9 and ADVICE.md round 2)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ADVICE: _next_seq must not map read errors to seq=1
# ---------------------------------------------------------------------------

def test_next_seq_raises_on_corrupt_log(spark, tmp_path):
    """A transient/real read error on a NON-empty log must propagate:
    defaulting to seq=1 would stamp new rows below the existing max and
    latest-wins would serve stale shards (silent false negatives)."""
    from fastfilter_spark.streaming.incremental import (
        IncrementalFilterMaintainer,
    )
    maint = IncrementalFilterMaintainer(str(tmp_path / "m"))
    # missing dir and existing-but-empty dir are both "empty log" -> 1
    assert maint._next_seq(spark) == 1
    os.makedirs(maint.table_dir)
    assert maint._next_seq(spark) == 1
    # a parquet part file with garbage bytes = read error, NOT seq 1
    with open(os.path.join(maint.table_dir, "part-corrupt.parquet"),
              "wb") as f:
        f.write(b"this is not parquet")
    with pytest.raises(Exception):
        maint._next_seq(spark)


# ---------------------------------------------------------------------------
# ADVICE: theta_intersection key-family validation
# ---------------------------------------------------------------------------

def test_theta_intersection_rejects_mixed_key_types(spark):
    from fastfilter_spark.operators.sketch_agg import theta_intersection
    longs = spark.range(100).select(F.col("id").alias("k"))
    strs = spark.range(100).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(ValueError, match="same family"):
        theta_intersection(longs, "k", strs, "k")


def test_theta_intersection_string_keys_hash_both_sides(spark):
    """Two string sides used to be cast('long') -> all null -> empty
    sketches -> silently-wrong estimate; now both are xxhash64'd."""
    from fastfilter_spark.operators.sketch_agg import theta_intersection
    a = spark.range(0, 3000).select(
        F.concat(F.lit("url-"), F.col("id")).alias("k"))
    b = spark.range(1500, 4500).select(
        F.concat(F.lit("url-"), F.col("id")).alias("k"))
    est = theta_intersection(a, "k", b, "k", k=1024)
    assert 1500 * 0.8 <= est <= 1500 * 1.2


# ---------------------------------------------------------------------------
# ADVICE: bloom_contains_udf null probe keys
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("string_keys", [False, True])
def test_bloom_probe_null_keys_are_false(spark, string_keys):
    from fastfilter_spark.operators.sketch_agg import (
        bloom_contains_udf, bloom_sketch,
    )
    base = spark.range(1000).select(
        (F.col("id").cast("string") if string_keys
         else F.col("id")).alias("k"))
    bf = bloom_sketch(base, "k")
    probes = spark.range(2000).select(
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.col("id").cast("string") if string_keys
                   else F.col("id")).alias("k"))
    got = probes.select(
        F.col("k"), bloom_contains_udf(bf, spark)(F.col("k")).alias("m")
    ).collect()
    for r in got:
        if r["k"] is None:
            assert r["m"] is False          # null was never inserted
    members = {r["k"] for r in got if r["m"]}
    expect = {(str(i) if string_keys else i) for i in range(1000)
              if i % 3 != 0}
    assert expect <= members               # zero false negatives


# ---------------------------------------------------------------------------
# VERDICT #2: streaming sketch aggregation is distributed
# ---------------------------------------------------------------------------

def test_streaming_sketch_aggregator_no_row_collect(spark, tmp_path):
    """process_batch must never collect micro-batch ROWS to the driver —
    only KB sketch blobs (name, sketch) may cross (VERDICT r2 #2).
    Spy DataFrame.collect to record schemas, mirroring the
    incremental-maintainer no-driver-payload test."""
    from tests.conftest import spy_collect

    from fastfilter_spark.functions.sketches import HyperLogLog, KLL
    from fastfilter_spark.streaming.incremental import (
        StreamingSketchAggregator,
    )

    agg = StreamingSketchAggregator(
        "value", {"hll": lambda: HyperLogLog(12), "kll": lambda: KLL(200)},
        state_dir=str(tmp_path / "st"))

    batch = spark.range(50_000).select(
        (F.col("id") * 2654435761).cast("long").alias("value"))

    collected_schemas = []
    with spy_collect(collected_schemas):
        agg.process_batch(batch, 0)

    assert collected_schemas, "expected a blob collect"
    assert all(cols == ["name", "sketch"] for cols in collected_schemas), \
        collected_schemas
    assert agg.sketches["kll"].n == 50_000
    est = agg.sketches["hll"].estimate()
    assert abs(est - 50_000) / 50_000 < 0.1


# ---------------------------------------------------------------------------
# VERDICT #3: embedding_near_dup bucket cap
# ---------------------------------------------------------------------------

def _embedding_rows(spark):
    """64 distinct random vectors + one planted near-pair + 300 copies of
    one 'default' vector (the adversarial hot bucket)."""
    rng = np.random.default_rng(11)
    rows = []
    base = rng.standard_normal((64, 16)).astype(np.float32)
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # planted near-dup of id 0 (tiny perturbation -> cosine ~1)
    near = base[0] + rng.standard_normal(16).astype(np.float32) * 0.01
    rows.append((1000, [float(x) for x in near]))
    hot = rng.standard_normal(16).astype(np.float32)
    for j in range(300):
        rows.append((2000 + j, [float(x) for x in hot]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_dup_caps_hot_buckets(spark):
    from fastfilter_spark.operators.dedup import embedding_near_dup
    df = _embedding_rows(spark)
    capped = embedding_near_dup(df, threshold=0.95, n_planes=8,
                                max_bucket=64).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert (0, 1000) in got                      # planted pair survives
    # the 300-identical-vector bucket (O(B^2) verify) was TRUNCATED to
    # its first 64 rows: the hot group still surfaces through the pairs
    # among kept rows (a wholesale drop would hide it entirely), but the
    # per-task verify stays bounded at max_bucket^2
    hot_pairs = {(a, b) for a, b in got if a >= 2000 and b >= 2000}
    assert hot_pairs, "hot group must not vanish from the result"
    # kept rows = first 64 by id in the hot bucket; non-hot cohabitants
    # may take a few slots, so the hot-pair count is C(k,2) for some
    # 60 <= k <= 64 — bounded far below the uncapped 300*299/2 flood
    assert 60 * 59 // 2 <= len(hot_pairs) <= 64 * 63 // 2
    assert max(max(a, b) for a, b in hot_pairs) < 2000 + 64
    # uncapped, the hot bucket floods the result with ~300*299/2 pairs
    flood = embedding_near_dup(df, threshold=0.95, n_planes=8,
                               max_bucket=None)
    n_hot = flood.where((F.col("id_a") >= 2000)
                        & (F.col("id_b") >= 2000)).count()
    assert n_hot == 300 * 299 // 2


# ---------------------------------------------------------------------------
# VERDICT #4: IVF fit sampling must not be first-N
# ---------------------------------------------------------------------------

def test_ivf_fit_covers_clusters_on_sorted_input(spark):
    """Input sorted by cluster label; sample_rows smaller than the first
    cluster.  limit()-based sampling would see cluster 0 only; the
    hash-ordered take must yield centroids covering ALL clusters."""
    from fastfilter_spark.operators.similarity import IVFIndex
    rng = np.random.default_rng(5)
    dirs = np.eye(4, 12)                       # 4 orthogonal cluster axes
    rows = []
    for label in range(4):
        for i in range(500):
            v = dirs[label] + rng.standard_normal(12) * 0.05
            rows.append((label * 500 + i, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>").orderBy("vec_id")
    idx = IVFIndex.fit(df, ncells=4, sample_rows=400, seed=3)
    cent = idx.centroids
    for label in range(4):
        d = dirs[label] / np.linalg.norm(dirs[label])
        assert (cent @ d).max() > 0.9, f"no centroid near cluster {label}"


# ---------------------------------------------------------------------------
# review: NULL keys through the bloom build/probe path
# ---------------------------------------------------------------------------

def test_bloom_null_keys_excluded_and_probe_false(spark):
    """Spark's xxhash64(NULL) is 42, not NULL: hashing before the null
    drop used to insert a phantom member for every null build row, and
    the probe's keyed.isNull() guard was dead code on the hashed path
    (a NULL probe hit contains(42)).  Build-side nulls must not become
    members; NULL probes must return exactly False."""
    from fastfilter_spark.operators.sketch_agg import (
        bloom_contains_udf, bloom_sketch, hll_count_distinct)
    df = spark.createDataFrame(
        [("a",), ("b",), (None,), ("c",), (None,)], "k string")
    bf = bloom_sketch(df, "k", capacity=100, fpp=1e-4)
    probe = bloom_contains_udf(bf, spark)
    rows = {r["k"]: r["m"] for r in
            df.select("k", probe(F.col("k")).alias("m")).collect()}
    assert rows["a"] and rows["b"] and rows["c"]
    assert rows[None] is False          # NULL probe -> exact False
    # the phantom key 42 (xxhash64 of NULL) must not be a member: probe
    # a long column equal to 42 against a hand-keyed filter
    import numpy as np
    assert not bf.contains(np.array([42], dtype=np.int64))[0]
    # and HLL distinct counts exclude nulls, like SQL COUNT(DISTINCT)
    est = hll_count_distinct(df, "k")
    assert abs(est - 3) < 1


# ---------------------------------------------------------------------------
# round-3 review: behavioral spot-check of resumed checkpoint payloads
# ---------------------------------------------------------------------------
