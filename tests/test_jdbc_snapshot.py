"""JDBC snapshot adapter: split planning (pure), option construction, and
the snapshot→envelope→routing path using a parquet stand-in for the JDBC
read (no database in this container)."""

from pyspark.sql import types as T

from conftest import run_batch

from flink_cdc_multi_spark.catalog import TableRegistry
from flink_cdc_multi_spark.sources.jdbc import (
    DEFAULT_SPLIT_SIZE,
    SplitPlan,
    jdbc_options,
    plan_splits,
    snapshot_to_envelope,
)


def test_plan_splits_dense_keys():
    # 100k contiguous rows → ceil(100000/4096) = 25 chunks
    plan = plan_splits(1, 100_000, 100_000)
    assert plan.num_partitions == 25
    assert plan.lower == 1 and plan.upper == 100_000


def test_plan_splits_sparse_keys_capped():
    # keys 100× sparser than rows → distribution factor kicks in
    dense = plan_splits(0, 10_000_000, 100_000)
    assert dense.num_partitions < 25 * 10  # capped, not span/split_size


def test_plan_splits_small_table():
    assert plan_splits(1, 10, 10).num_partitions == 1
    assert plan_splits(0, 0, 0).num_partitions == 1


def test_jdbc_options_partitioned():
    plan = SplitPlan(1, 100_000, 25)
    opts = jdbc_options("jdbc:mysql://h/db", "t", "u", "p", "id", plan)
    assert opts["numPartitions"] == "25"
    assert opts["partitionColumn"] == "id"
    assert opts["fetchsize"] == str(1024)
    # single-partition plans omit the partitioning clause entirely
    opts1 = jdbc_options("jdbc:mysql://h/db", "t", "u", "p", "id", SplitPlan(1, 10, 1))
    assert "partitionColumn" not in opts1


def test_snapshot_envelope_routes_like_stream(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, name string"
    )
    env = snapshot_to_envelope(src, "shop", "users", ts_ms=1700000000000)
    reg = TableRegistry.build(
        "mysql",
        {("shop", "users"): T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
        )},
    )
    run_batch(env, reg, tmp_path, "snap")
    out = spark.read.parquet(str(tmp_path / "snap_shop__users"))
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3]
    assert {r["_op"] for r in out.collect()} == {"READ"}
