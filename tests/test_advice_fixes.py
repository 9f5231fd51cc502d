"""Regression tests for the round-1 judge/advisor findings (ADVICE.md)."""

from pyspark.sql import functions as F

from fastfilter_spark.operators.skew import salted_agg


def test_salted_agg_salt_is_deterministic(spark, sf_dir):
    """The salt must be a pure function of row content — no
    monotonically_increasing_id / rand in the plan (ADVICE.md skew.py:64:
    nondeterministic shuffle keys corrupt results on stage retry)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = salted_agg(li, ["l_returnflag"],
                     {"n": ("count", "*"),
                      "q": ("sum", F.col("l_quantity").cast("long"))},
                     n_salts=8)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "monotonically_increasing_id" not in plan
    assert "rand(" not in plan
    exact = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("q"))
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, exact.collect()))
