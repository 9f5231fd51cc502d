"""Distributed sharded-filter tests (local-mode Spark).

Mirrors the reference lifecycle assertions (tests/unit.c:38-101) at the
distributed layer: zero false negatives, fpp bound, byte-level
partition-order invariance, checkpoint resume, semi-join pruning
exactness, null keys, and agreement of every probe entry point.
"""

import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import fastfilter_spark.operators.dist as dist
from fastfilter_spark.functions import kernels as K
from fastfilter_spark.operators.dist import (
    ShardedFilter, build_sharded, build_sharded_table, choose_shard_bits,
    semi_join_prune, shard_of_hash,
)


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_choose_shard_bits():
    assert choose_shard_bits(1000) == 0
    assert choose_shard_bits(1 << 22) == 0
    assert choose_shard_bits((1 << 22) + 1) == 1
    assert choose_shard_bits(1 << 30) == 8
    assert choose_shard_bits(1 << 60) == 16  # capped


@pytest.mark.parametrize("kind,shard_bits", [("fuse8", 2), ("xor8", 1),
                                             ("fuse16", 0)])
def test_sharded_no_false_negatives(spark, lineitem, kind, shard_bits):
    sf, table = build_sharded(lineitem, "l_orderkey", kind=kind,
                              shard_bits=shard_bits)
    rows = table.collect()
    assert len(rows) == 1 << shard_bits
    # lineage sanity
    n_distinct = lineitem.select("l_orderkey").distinct().count()
    assert sum(r["distinct_keys"] for r in rows) == n_distinct
    assert sum(r["input_rows"] for r in rows) == lineitem.count()

    # zero false negatives, probed through the Spark UDF path
    probed = lineitem.select("l_orderkey").distinct() \
        .where(sf.contains_udf(spark)(F.col("l_orderkey"))).count()
    assert probed == n_distinct


def test_sharded_fpp_bound(spark, lineitem):
    sf, _ = build_sharded(lineitem, "l_orderkey", kind="fuse8", shard_bits=2)
    rng = np.random.default_rng(7)
    probes = rng.integers(1 << 40, 1 << 62, size=200_000, dtype=np.uint64)
    hits = int(sf.contain_np(probes).sum())
    fpp = hits / probes.size
    assert fpp <= (1 / 256) * 1.35  # 2^-8 with sampling slack


def test_partition_order_invariance(spark, lineitem):
    """Filter bytes must not depend on input partitioning/order
    (BASELINE.md merge/partition-order invariance target)."""
    a, _ = build_sharded(lineitem, "l_orderkey", kind="fuse8", shard_bits=2)
    shuffled = lineitem.orderBy(F.rand(seed=3)).repartition(13)
    b, _ = build_sharded(shuffled, "l_orderkey", kind="fuse8", shard_bits=2)
    assert a.payloads == b.payloads


def test_checkpoint_resume(spark, lineitem, tmp_path):
    ckpt = str(tmp_path / "filters")
    a, ta = build_sharded(lineitem, "l_orderkey", kind="fuse8", shard_bits=2,
                          checkpoint_dir=ckpt)
    # rerun: all shards present -> no rebuild, identical bytes
    b, tb = build_sharded(lineitem, "l_orderkey", kind="fuse8", shard_bits=2,
                          checkpoint_dir=ckpt)
    assert a.payloads == b.payloads
    assert tb.count() == 4

    # partial resume: drop shards 2,3 from the checkpoint, rebuild only those
    kept = spark.read.parquet(ckpt).where(F.col("shard") < 2)
    tmp2 = str(tmp_path / "filters2")
    kept.write.parquet(tmp2)
    c, tc = build_sharded(lineitem, "l_orderkey", kind="fuse8", shard_bits=2,
                          checkpoint_dir=tmp2)
    assert c.payloads == a.payloads


def test_semi_join_prune_exact(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # dim = customers in nation < 10; filter over their keys
    dim = customer.where(F.col("c_nationkey") < 10) if \
        "c_nationkey" in customer.columns else customer.limit(50)
    sf, _ = build_sharded(dim, "c_custkey", kind="fuse8", shard_bits=1)
    pruned = semi_join_prune(orders, "o_custkey", sf, dim, "c_custkey")
    exact = orders.join(dim.select("c_custkey").distinct(),
                        orders["o_custkey"] == F.col("c_custkey"), "left_semi")
    assert pruned.count() == exact.count()


def test_shard_routing_matches_probe(spark):
    keys = np.arange(10_000, dtype=np.uint64) * np.uint64(2654435761)
    shards = shard_of_hash(keys, 3)
    assert shards.min() >= 0 and shards.max() < 8
    # roughly uniform
    counts = np.bincount(shards, minlength=8)
    assert counts.min() > 10_000 / 8 * 0.8


def test_driver_and_udf_probe_agree(spark, lineitem):
    sf, _ = build_sharded(lineitem, "l_orderkey", kind="xor16", shard_bits=1)
    keys_df = lineitem.select("l_orderkey").distinct().limit(500)
    udf_rows = keys_df.withColumn(
        "hit", sf.contains_udf(spark)(F.col("l_orderkey"))).collect()
    keys = np.array([r["l_orderkey"] for r in udf_rows], dtype=np.int64)
    np_hits = sf.contain_np(keys)
    assert all(bool(r["hit"]) == bool(h) for r, h in zip(udf_rows, np_hits))


def test_probe_batch_matches_per_key_reference():
    """The one-pass grouping answers exactly what routing each key alone
    to its shard's filter answers."""
    from fastfilter_spark.operators.local import build_filter
    rng = np.random.default_rng(4)
    keys = rng.integers(0, 1 << 64, 5000, dtype=np.uint64)
    shards = shard_of_hash(keys, 4)
    filters = [build_filter(np.unique(keys[(shards == s) & (keys % 3 > 0)]),
                            "xor8") for s in range(16)]
    probe = np.concatenate([keys, rng.integers(0, 1 << 64, 5000,
                                               dtype=np.uint64)])
    expect = [bool(filters[s].contain(probe[i:i + 1])[0]) for i, s in
              enumerate(shard_of_hash(probe, 4))]
    assert dist._probe_batch(filters, probe).tolist() == expect


def _probe_batch_rows(seed: int, n: int = 1000) -> list:
    """Members above 2^53 (which float64 cannot hold), random
    non-members and one null: [(i, key)], the null in the middle."""
    rng = np.random.default_rng(seed)
    members = rng.integers(1 << 54, 1 << 63, n, dtype=np.int64)
    others = rng.integers(-(1 << 63), 1 << 63, n, dtype=np.int64)
    keys = [int(k) for k in members] + [None] + [int(k) for k in others]
    return list(enumerate(keys))


def test_build_sharded_drops_null_keys(spark):
    """One null among the build keys must not cost a single member: the
    null is dropped JVM-side instead of turning the kernel's Arrow
    batch into float64 (which rounded every key above 2^53)."""
    rows = _probe_batch_rows(11, n=2000)[:2001]
    df = spark.createDataFrame(rows, "i long, k long")
    sf, table = build_sharded(df, "k", kind="fuse8", shard_bits=0)
    members = np.array([k for _, k in rows if k is not None], np.int64)
    assert sf.contain_np(members).all()
    assert table.first()["input_rows"] == 2000      # the null is not fed
    joined = dist.probe_via_join(df, "k", table)
    assert joined.count() == 2000                   # nor probed by join
    assert joined.where("member").count() == 2000


@pytest.mark.parametrize("shard_bits", [0, 6, 10])
@pytest.mark.parametrize("kind,arity", [("xor8", 3), ("fuse8", 3),
                                        ("fuse16", 3), ("fuse8", 4)])
def test_probe_entry_points_agree(spark, kind, arity, shard_bits):
    """contain_np, contains_udf, the SQL UDF and filter_members (both
    polarities) give the same answer for every key of one batch: all
    members true, the null false, non-members identical everywhere."""
    rows = _probe_batch_rows(shard_bits + arity)
    df = spark.createDataFrame(rows, "i long, k long")
    sf, _ = build_sharded(df.where("i <= 1000"), "k", kind=kind,
                          arity=arity, shard_bits=shard_bits)
    expect = sf.contain_np(pa.array([k for _, k in rows], pa.int64()))
    assert expect[:1000].all() and not expect[1000]

    via_udf = {r["i"]: r["m"] for r in df.select(
        "i", sf.contains_udf(spark)("k").alias("m")).collect()}
    name = sf.register_sql_udf(spark, "ff_agree")
    df.createOrReplaceTempView("agree_batch")
    via_sql = {r["i"]: r["m"] for r in spark.sql(
        f"SELECT i, {name}(k) AS m FROM agree_batch").collect()}
    kept = {r["i"] for r in sf.filter_members(df, "k", spark).collect()}
    dropped = {r["i"] for r in
               sf.filter_members(df, "k", spark, negate=True).collect()}
    for i, _ in rows:
        assert via_udf[i] is via_sql[i] is bool(expect[i]), i
        assert (i in kept) is bool(expect[i]) is (i not in dropped), i


def test_worker_cache_hit_refreshes_recency():
    saved = dict(dist._worker_filter_cache)
    try:
        dist._worker_filter_cache.clear()
        for i in range(dist._WORKER_CACHE_MAX):
            dist._worker_cache_put(f"t{i}", [i])
        # touch the oldest -> it must now survive the next eviction
        assert dist._worker_cache_get("t0") == [0]
        dist._worker_cache_put("fresh", [99])
        assert "t0" in dist._worker_filter_cache
        assert "t1" not in dist._worker_filter_cache  # true LRU victim
        assert dist._worker_cache_get("missing") is None
    finally:
        dist._worker_filter_cache.clear()
        dist._worker_filter_cache.update(saved)


def test_build_sharded_table_rejects_arity_5(spark):
    df = spark.range(100).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="arity must be 3 or 4"):
        build_sharded_table(df, "k", kind="fuse8", shard_bits=1, arity=5)


def test_semi_join_prune_broadcasts_without_threshold(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    dim = orders.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    sf, _ = build_sharded(dim, "o_orderkey", kind="fuse8", shard_bits=1)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = semi_join_prune(li, "l_orderkey", sf, dim, "o_orderkey")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
        expect = li.join(dim.withColumnRenamed("o_orderkey", "k"),
                         li["l_orderkey"] == F.col("k"), "left_semi")
        assert out.count() == expect.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_checkpoint_resume_skips_recount_when_fingerprint_matches(
        spark, sf_dir, tmp_path):
    from tests.conftest import spy_collect

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ckpt = str(tmp_path / "ck")
    build_sharded_table(li, "l_orderkey", kind="fuse8", shard_bits=2,
                        checkpoint_dir=ckpt)
    assert os.path.exists(os.path.join(ckpt, "_input_fingerprint"))

    collected_schemas = []
    with spy_collect(collected_schemas):
        build_sharded_table(li, "l_orderkey", kind="fuse8", shard_bits=2,
                            checkpoint_dir=ckpt)
    # the per-shard recount job (schema [shard, n]) must NOT run when
    # the persisted fingerprint matches the current input
    assert ["shard", "n"] not in collected_schemas, collected_schemas

    # fingerprint gone -> authoritative recount runs again (and passes)
    os.remove(os.path.join(ckpt, "_input_fingerprint"))
    collected_schemas.clear()
    with spy_collect(collected_schemas):
        build_sharded_table(li, "l_orderkey", kind="fuse8", shard_bits=2,
                            checkpoint_dir=ckpt)
    assert ["shard", "n"] in collected_schemas


def test_checkpoint_fingerprint_distinguishes_queries(spark, sf_dir,
                                                      tmp_path):
    """Two different queries over the SAME parquet files are different
    datasets: the fingerprint must not let a full-table resume skip
    validation of a subset-built checkpoint."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    small = li.where(F.col("l_orderkey") % 3 == 0)
    ckpt = str(tmp_path / "ck2")
    build_sharded_table(small, "l_orderkey", kind="fuse8", shard_bits=2,
                        checkpoint_dir=ckpt)
    with pytest.raises(ValueError, match="different input"):
        build_sharded_table(li, "l_orderkey", kind="fuse8", shard_bits=2,
                            checkpoint_dir=ckpt)


def test_checkpoint_spot_check_catches_stale_payload(spark, tmp_path):
    """Row counts and the input fingerprint CANNOT see a payload that is
    stale because the code (or the keys) changed under identical counts
    — e.g. an arity-4 checkpoint written by an older kernel whose cell
    map differed.  The resume path must probe sampled input keys
    against resumed payloads and refuse when an inserted key probes
    negative (a compatible payload can never false-negative)."""
    import shutil
    from pyspark.sql import functions as F
    dir_a = str(tmp_path / "ck_a")
    dir_b = str(tmp_path / "ck_b")
    df_a = spark.range(2000).select(F.xxhash64("id").alias("key"))
    df_b = spark.range(2000, 4000).select(F.xxhash64("id").alias("key"))
    build_sharded_table(df_a, "key", kind="fuse8", shard_bits=0,
                        checkpoint_dir=dir_a).collect()
    build_sharded_table(df_b, "key", kind="fuse8", shard_bits=0,
                        checkpoint_dir=dir_b).collect()
    # sanity: an honest resume passes the spot-check silently
    build_sharded_table(df_a, "key", kind="fuse8", shard_bits=0,
                        checkpoint_dir=dir_a).collect()
    # swap A's payload part-files for B's: identical schema, identical
    # per-shard input_rows (2000), same num_shards/kind/arity — every
    # metadata check passes, only behavior differs
    for name in os.listdir(dir_a):
        if name.endswith(".parquet"):
            os.remove(os.path.join(dir_a, name))
    for name in os.listdir(dir_b):
        if name.endswith(".parquet"):
            shutil.copy(os.path.join(dir_b, name),
                        os.path.join(dir_a, name))
    with pytest.raises(ValueError, match="probes FALSE"):
        build_sharded_table(df_a, "key", kind="fuse8", shard_bits=0,
                            checkpoint_dir=dir_a).collect()
    # explicit opt-out still works for power users
    build_sharded_table(df_a, "key", kind="fuse8", shard_bits=0,
                        checkpoint_dir=dir_a,
                        validate_checkpoint=False).collect()


def test_semi_join_prune_same_key_name(spark, sf_dir):
    """fact_key == dim_key must not raise an ambiguous-reference error."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    dim = orders.select(F.col("o_custkey")).distinct().limit(50)
    sf, _ = build_sharded(dim, "o_custkey", kind="fuse8", shard_bits=0)
    pruned = semi_join_prune(orders, "o_custkey", sf, dim, "o_custkey")
    exact = orders.join(dim, "o_custkey", "left_semi")
    assert pruned.count() == exact.count()


def test_build_sharded_oversized_shard_bits(spark, sf_dir):
    """More shards than distinct keys: empty shards fill with valid
    empty filters instead of failing the build."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    small = li.select("l_orderkey").distinct().limit(10)
    sf, _ = build_sharded(small, "l_orderkey", kind="fuse8", shard_bits=6)
    assert sf.num_shards == 64
    keys = np.array([r[0] for r in small.collect()], dtype=np.int64)
    assert sf.contain_np(keys).all()


def test_from_filter_table_rejects_duplicates(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    _, table = build_sharded(li, "l_orderkey", kind="fuse8", shard_bits=1)
    rows = [r.asDict() for r in table.collect()]
    with pytest.raises(ValueError, match="duplicate"):
        ShardedFilter.from_filter_table(rows + [rows[0]])


def test_worker_cache_distinguishes_rebuilt_filters(spark):
    """Two filters with identical first/last shards but different middle
    shards must not share worker-cached probe state (the incremental-
    rebuild staleness scenario)."""
    df1 = spark.range(0, 4000).select(F.col("id").alias("k"))
    df2 = spark.range(0, 8000).select(F.col("id").alias("k"))
    a, _ = build_sharded(df1, "k", kind="fuse8", shard_bits=2)
    b, _ = build_sharded(df2, "k", kind="fuse8", shard_bits=2)
    # force-share edge payloads so a content-prefix fingerprint would
    # collide; the identity token must still separate them
    b2 = ShardedFilter(kind=b.kind, shard_bits=b.shard_bits,
                       payloads=[a.payloads[0]] + b.payloads[1:3]
                       + [a.payloads[-1]])
    # probe with A first (populates worker caches), then with b2
    n_a = df1.where(a.contains_udf(spark)(F.col("k"))).count()
    assert n_a == 4000
    got_b2 = df1.where(b2.contains_udf(spark)(F.col("k"))).count()
    # b2's middle shards differ from a's: the result must reflect B2's
    # payloads, not a's cached filters.  Compute expectation driver-side.
    exp = int(b2.contain_np(np.arange(4000, dtype=np.int64)).sum())
    assert got_b2 == exp


def test_checkpoint_rejects_changed_input(spark, sf_dir, tmp_path):
    """Resume against a grown input must fail loudly, not silently reuse
    stale shard payloads (ADVICE.md dist.py:376)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    small = li.where(F.col("l_orderkey") % 3 == 0)
    ckpt = str(tmp_path / "ck")
    build_sharded(small, "l_orderkey", kind="fuse8", shard_bits=2,
                  checkpoint_dir=ckpt)
    with pytest.raises(ValueError, match="different input"):
        build_sharded(li, "l_orderkey", kind="fuse8", shard_bits=2,
                      checkpoint_dir=ckpt)
    # same input resumes fine; explicit override also allowed
    sf, _ = build_sharded(small, "l_orderkey", kind="fuse8", shard_bits=2,
                          checkpoint_dir=ckpt)
    keys = np.array(
        [r[0] for r in small.select("l_orderkey").distinct().collect()],
        dtype=np.int64)
    assert sf.contain_np(keys).all()
    build_sharded(li, "l_orderkey", kind="fuse8", shard_bits=2,
                  checkpoint_dir=ckpt, validate_checkpoint=False)


def test_worker_filter_cache_is_bounded():
    """Long-lived workers probing many filters must not grow the
    deserialized-shard cache without bound (ADVICE.md dist.py:71)."""
    saved = dict(dist._worker_filter_cache)
    try:
        dist._worker_filter_cache.clear()
        for i in range(dist._WORKER_CACHE_MAX * 3):
            dist._worker_cache_put(f"tok{i}", [i])
        assert len(dist._worker_filter_cache) == dist._WORKER_CACHE_MAX
        # most-recent tokens survive
        last = f"tok{dist._WORKER_CACHE_MAX * 3 - 1}"
        assert dist._worker_filter_cache[last] == [
            dist._WORKER_CACHE_MAX * 3 - 1]
        # re-putting an existing token is a no-op, not a duplicate
        dist._worker_cache_put(last, [-1])
        assert dist._worker_filter_cache[last] != [-1]
    finally:
        dist._worker_filter_cache.clear()
        dist._worker_filter_cache.update(saved)
