"""Cogrouped join probe (the too-big-to-broadcast deployment mode)."""

import pytest
from pyspark.sql import functions as F

from fastfilter_spark.operators.dist import build_sharded, probe_via_join


def test_probe_via_join_matches_broadcast(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sf, table = build_sharded(li, "l_orderkey", kind="fuse8", shard_bits=2)

    members = li.select("l_orderkey").distinct()
    res = probe_via_join(members, "l_orderkey", table)
    assert res.where("member").count() == members.count()  # no false negs

    rand = spark.range(50_000).select(
        F.xxhash64(F.col("id") + F.lit(99)).alias("l_orderkey"))
    via_join = probe_via_join(rand, "l_orderkey", table) \
        .where("member").count()
    via_bc = rand.where(sf.contains_udf(spark)(F.col("l_orderkey"))).count()
    assert via_join == via_bc  # bit-identical probe decision per key


def test_probe_via_join_missing_shard_rows(spark, sf_dir):
    """Shards absent from the filter table (partial build) => non-member."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    _, table = build_sharded(li, "l_orderkey", kind="fuse8", shard_bits=2)
    partial = table.where(F.col("shard") < 2)
    res = probe_via_join(li.select("l_orderkey").distinct(),
                         "l_orderkey", partial)
    # keys routed to missing shards come back member=false, none crash
    counts = dict(res.groupBy("member").count().collect())
    assert counts.get(True, 0) > 0 and counts.get(False, 0) > 0


def test_register_sql_udf_probes_in_pure_sql(spark):
    """SQL users probe via ff_contains(); zero false negatives and the
    fpp bound must hold through the SQL registration path too."""
    from pyspark.sql import functions as F
    from fastfilter_spark.operators.dist import build_sharded

    keys = spark.range(5000).select(
        (F.col("id") * 2654435761).alias("k"))
    sf, _ = build_sharded(keys, "k", kind="fuse8", shard_bits=2)
    name = sf.register_sql_udf(spark, "ff_contains_test")
    assert name == "ff_contains_test"

    keys.createOrReplaceTempView("member_keys")
    spark.range(5000, 25000).select(
        F.xxhash64(F.col("id") + 999).alias("k")) \
        .createOrReplaceTempView("novel_keys")
    n_members = spark.sql(
        "SELECT count(*) c FROM member_keys "
        "WHERE ff_contains_test(k)").first().c
    assert n_members == 5000          # no false negatives via SQL
    n_novel = spark.sql(
        "SELECT count(*) c FROM novel_keys "
        "WHERE ff_contains_test(k)").first().c
    assert n_novel <= 20000 * 2 * 2**-8   # fpp bound holds

    # re-registration rebinds: an empty-ish filter drops members
    other, _ = build_sharded(
        spark.range(10).select((F.col("id") + 10**15).alias("k")),
        "k", kind="fuse8", shard_bits=2)
    other.register_sql_udf(spark, "ff_contains_test")
    n_after = spark.sql(
        "SELECT count(*) c FROM member_keys "
        "WHERE ff_contains_test(k)").first().c
    assert n_after < 200


def test_probe_via_join_rejects_duplicate_shard_rows(spark, sf_dir):
    """A filter table with two rows for one shard must raise, mirroring
    from_filter_table (ADVICE.md dist.py:433: probing an arbitrary row
    can silently pick a stale payload)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keys = li.select("l_orderkey").distinct().limit(200)
    _, table = build_sharded(keys, "l_orderkey", kind="fuse8", shard_bits=1)
    dup = table.unionAll(table)
    with pytest.raises(Exception, match="rows for shard"):
        probe_via_join(keys, "l_orderkey", dup).collect()


def test_probe_via_join_autopersists_unmaterialized_table(spark):
    """num_shards=None on a raw build plan must not execute the build
    twice: the table is auto-persisted before the num_shards lookup, so
    the cogroup probe reuses the materialized shards."""
    from pyspark import StorageLevel

    from fastfilter_spark.operators.dist import (
        build_sharded_table, probe_via_join)

    keys = spark.range(20_000).select(
        F.xxhash64(F.col("id")).alias("key"))
    ftable = build_sharded_table(keys, "key", kind="fuse8", shard_bits=2)
    assert ftable.storageLevel == StorageLevel.NONE
    out = probe_via_join(keys, "key", ftable, num_shards=None)
    assert ftable.storageLevel != StorageLevel.NONE, \
        "filter table was not pinned before the num_shards lookup"
    assert out.where(F.col("member")).count() == 20_000
    ftable.unpersist()
