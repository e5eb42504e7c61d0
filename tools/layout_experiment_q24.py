"""q24/q25 data-layout experiment at sf10 (VERDICT r9 item 3).

The r9 sweep left q24 (3.5-4.9x DuckDB) and q25 (~5.6x) marked weak: the
audited plans have no defects, and the residual was attributed to (a)
q24's 1 GB date-pruned scan of a SINGLE 15-row-group parquet file (scan
parallelism capped at 15 of 32 cores) and (b) q25's statically-planned
lineitem exchange. This experiment isolates the LAYOUT variable: rewrite
lineitem as a dt=YYYY-MM hive-partitioned dataset (the engine's own sink
layout — the pipeline publishes dt= partitions), then interleave-time the
same logical q24/q25 plans on both layouts in one session, min-of-3.

    python tools/layout_experiment_q24.py /tmp/sf10 /tmp/sf10_li_dt

What it decides: whether the production recommendation for this engine's
lake layout (date-partitioned facts) closes the q24/q25 gap — partition
pruning replaces row-group pruning for q24's quarter filter, and ~84
month-files raise scan parallelism for q25's full pass. DuckDB stays on
its single-file layout (its best case; the bar is Spark <= 2x THAT).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from flink_cdc_multi_spark.plans.queries import load_table, q24, q25  # noqa: E402
from flink_cdc_multi_spark.session import get_spark  # noqa: E402


def build_layout(spark, src: str, dst: str) -> None:
    """Materialize lineitem dt=YYYY-MM partitioned (snappy, the W1 sink
    contract) + symlink-free copies of the other tables via views: only
    lineitem changes layout, everything else reads from src."""
    if os.path.exists(f"{dst}/lineitem/_SUCCESS"):
        print("layout exists, reusing", flush=True)
        return
    li = load_table(spark, src, "lineitem")
    (
        li.withColumn("dt", F.date_format("l_shipdate", "yyyy-MM"))
        .repartition("dt")
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(f"{dst}/lineitem")
    )
    print("layout built", flush=True)


def load_lineitem_dt(spark, dst: str):
    return spark.read.parquet(f"{dst}/lineitem").drop("dt")


def q24_on(spark, src: str, lineitem):
    supplier = load_table(spark, src, "supplier")
    li = lineitem.filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    dh = F.floor(F.col("l_discount") * 100 + 0.5).cast("long")
    rev = li.groupBy("l_suppkey").agg(F.sum(cents * (100 - dh)).alias("total_rev_u"))
    mx = rev.agg(F.max("total_rev_u").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_rev_u == F.col("mx"))
        .join(supplier, rev.l_suppkey == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev_u")
    )


def q25_on(spark, src: str, lineitem):
    supplier = load_table(spark, src, "supplier")
    nation = load_table(spark, src, "nation").filter(F.col("n_regionkey") == 0)
    sup = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    qi = F.floor(F.col("l_quantity") + 0.5).cast("long")
    val = (
        lineitem.join(sup, lineitem.l_suppkey == sup.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(cents * qi).alias("value_u"))
    )
    tot = val.agg(F.sum("value_u").alias("tot_u"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value_u") * 2000 > F.col("tot_u"))
        .select("l_partkey", "value_u")
    )


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf10_li_dt"
    spark = get_spark("layout-exp")
    build_layout(spark, src, dst)

    li_single = load_table(spark, src, "lineitem")
    li_dt = load_lineitem_dt(spark, dst)
    plans = {
        "q24_single": q24(spark, src),
        "q24_dt": q24_on(spark, src, li_dt),
        "q25_single": q25(spark, src),
        "q25_dt": q25_on(spark, src, li_dt),
    }
    # sanity: same results on both layouts
    for q in ("q24", "q25"):
        a = sorted(map(tuple, plans[f"{q}_single"].collect()))
        b = sorted(map(tuple, plans[f"{q}_dt"].collect()))
        assert a == b, f"{q}: layout changed the RESULT"
        print(f"{q}: results identical across layouts ({len(a)} rows)", flush=True)

    times: dict[str, list[float]] = {k: [] for k in plans}
    for _ in range(3):  # interleaved min-of-3
        for k, plan in plans.items():
            t0 = time.perf_counter()
            plan.write.format("noop").mode("overwrite").save()
            times[k].append(round(time.perf_counter() - t0, 4))
    print(json.dumps({k: {"times": v, "min": min(v)} for k, v in times.items()},
                     indent=1))
    # partition-pruning proof for q24_dt
    n_parts = len([d for d in os.listdir(f"{dst}/lineitem") if d.startswith("dt=")])
    print(f"lineitem dt partitions: {n_parts}")


if __name__ == "__main__":
    main()
