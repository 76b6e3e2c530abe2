"""Plan lock for the bucketed co-located join: bucketBy(8)+sortBy on the
join key on BOTH sides must eliminate the join's shuffle exchanges — the
canonical 100 TB shuffle-elimination, verified structurally."""

import hashlib

from pyspark.sql import functions as F

from duckdb_title_mapper_spark.plans import explain_str, without_aqe
from duckdb_title_mapper_spark.plans.tmpstore import store_root
from duckdb_title_mapper_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _bucketed(spark, tbl, key):
    tag = hashlib.md5(f"{SF}-plans".encode()).hexdigest()[:8]
    name = f"{tbl}_bucketed_plan_{tag}"
    if not spark.catalog.tableExists(name):
        (
            load_table(spark, SF, tbl)
            .write.format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{store_root('io')}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    return spark.table(name)


def test_bucketed_join_has_no_join_exchange(spark):
    orders = _bucketed(spark, "orders", "o_custkey")
    customer = _bucketed(spark, "customer", "c_custkey")
    with without_aqe(spark):
        joined = orders.hint("merge").join(
            customer, orders.o_custkey == customer.c_custkey
        ).select("o_orderkey", "c_mktsegment")
        plan = explain_str(joined, "formatted")
    assert "SortMergeJoin" in plan
    # bucketing pre-aligns both sides: no shuffle feeds the join
    assert "Exchange" not in plan, plan


def test_unbucketed_join_does_shuffle(spark):
    # the negative control: same join on raw parquet must exchange
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    with without_aqe(spark):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = orders.hint("merge").join(
                customer, orders.o_custkey == customer.c_custkey
            ).select("o_orderkey", "c_mktsegment")
            plan = explain_str(joined, "formatted")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    assert "Exchange" in plan


def test_bucketed_results_match_plain_join(spark):
    orders = _bucketed(spark, "orders", "o_custkey")
    customer = _bucketed(spark, "customer", "c_custkey")
    bucketed = (
        orders.hint("merge")
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )
    plain = (
        load_table(spark, SF, "orders")
        .join(
            load_table(spark, SF, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(
        map(tuple, plain.collect())
    )
