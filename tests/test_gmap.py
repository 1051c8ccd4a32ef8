"""grouped_apply must reproduce groupBy().applyInPandas exactly:
one kernel call per group with all of its rows, across Arrow batch
boundaries, null keys, and single-group partitions.

Kernels are defined inside the tests (pickled by value) — a module-
level function would be pickled by reference to a module the Python
workers cannot import under pytest.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ivory_spark.functions.gmap import grouped_apply, spread_partitions

SCHEMA = "k long, sub long, n long, s long"


def _make_agg_fn():
    def agg_fn(key, pdf):
        return pd.DataFrame(
            {"k": [key[0]], "sub": [key[1]], "n": [len(pdf)], "s": [int(pdf["v"].sum())]}
        )

    return agg_fn


@pytest.fixture(scope="module")
def spark():
    from ivory_spark.session import get_spark

    return get_spark("test-gmap", cores=4, shuffle_partitions=4)


def test_matches_apply_in_pandas(spark):
    agg_fn = _make_agg_fn()
    df = spark.range(0, 5000).select(
        (F.col("id") % 37).alias("k"),
        (F.col("id") % 3).alias("sub"),
        F.col("id").alias("v"),
    )
    got = sorted(
        map(tuple, grouped_apply(df, ["k", "sub"], agg_fn, SCHEMA).collect())
    )
    want = sorted(
        map(
            tuple,
            df.groupBy("k", "sub").applyInPandas(agg_fn, SCHEMA).collect(),
        )
    )
    assert got == want


def test_group_straddles_arrow_batches(spark):
    # one giant group forces the carry path across many Arrow batches
    agg_fn = _make_agg_fn()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        df = spark.range(0, 2000).select(
            F.lit(1).alias("k"), F.lit(0).alias("sub"), F.col("id").alias("v")
        )
        rows = grouped_apply(df, ["k", "sub"], agg_fn, SCHEMA).collect()
        assert len(rows) == 1
        assert rows[0]["n"] == 2000
        assert rows[0]["s"] == sum(range(2000))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_null_keys_kept_as_one_group(spark):
    df = spark.createDataFrame(
        [(1, 0, 10), (1, 0, 11), (None, 0, 5), (None, 0, 6), (2, 0, 1)],
        "k long, sub long, v long",
    )

    def fn(key, pdf):
        k = key[0]
        is_null = k is None or k != k  # None or NaN
        return pd.DataFrame(
            {
                "k": [-99 if is_null else int(k)],
                "sub": [int(key[1])],
                "n": [len(pdf)],
                "s": [int(pdf["v"].sum())],
            }
        )

    rows = {r["k"]: (r["n"], r["s"]) for r in
            grouped_apply(df, ["k", "sub"], fn, SCHEMA).collect()}
    assert rows[-99] == (2, 11)  # both null-keyed rows in ONE call
    assert rows[1] == (2, 21)
    assert rows[2] == (1, 1)


def test_spread_partitions_is_adaptive(spark):
    small = spark.range(0, 100).coalesce(1)
    assert spread_partitions(small, 4).rdd.getNumPartitions() == 4
    big = spark.range(0, 100, 1, 8)
    assert spread_partitions(big, 4).rdd.getNumPartitions() == 8  # no-op


def test_spread_partitions_runs_no_upstream_stage(spark, jobs_started, tmp_path):
    """A plan with an Exchange is repartitioned without reading its
    partition count, which under AQE would run the upstream shuffle; a
    one-file parquet scan (the tokenizer's input in build and append)
    still gets its round-robin spread, and a wide one none."""
    grouped = spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 10).alias("k")).count()
    spread, jobs = jobs_started(lambda: spread_partitions(grouped, 4))
    assert jobs == []
    assert spread.rdd.getNumPartitions() == 4
    assert sorted(spread.collect()) == sorted(grouped.collect())

    one = str(tmp_path / "one")
    spark.range(0, 100).coalesce(1).write.parquet(one)
    scan = spark.read.parquet(one)  # schema inference runs a job of its own
    spread, jobs = jobs_started(lambda: spread_partitions(scan, 4))
    assert jobs == []
    plan = spread._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning(4)" in plan and "FileScan parquet" in plan
    wide = str(tmp_path / "wide")
    spark.range(0, 100, 1, 8).write.parquet(wide)
    scan = spark.read.parquet(wide)
    n = scan.rdd.getNumPartitions()
    assert n > 1
    plan = spread_partitions(scan, n)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
