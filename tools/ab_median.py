"""A/B harness for exact-median formulations (round-13 optimization).

Variants:
  a_builtin     — F.median (ObjectHashAggregate partial_percentile)
  b_two_branch  — counts + cumulative window, one branch per column (shipped r13 draft)
  g_melt        — counts + window over a melted (flag, col_id, value) frame, one pass
  e_rawwindow   — row_number over raw rows (no counts agg), one exchange

Run:  python tools/ab_median.py [runs] [sf_dir]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]  # this checkout
sys.path.insert(0, str(ROOT))

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from chess_pos_db_spark.session import get_spark
from chess_pos_db_spark.tables import t

RUNS = int(sys.argv[1]) if len(sys.argv) > 1 else 3
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"


def a_builtin(spark):
    li = t(spark, SF, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 6).alias("qty_median"),
        F.round(F.median("l_extendedprice"), 6).alias("price_median"),
    )


def b_two_branch(spark):
    import chess_pos_db_spark as engine

    return engine.get_queries()["agg_median"](spark, SF)


def _pick_median(x: DataFrame, part_cols: list[str]) -> DataFrame:
    x = x.withColumn("lo", F.expr("(n + 1) DIV 2")).withColumn(
        "hi", F.expr("n DIV 2 + 1")
    )
    prev = F.col("cum") - F.col("cnt")
    x = x.withColumn(
        "covers_lo", (prev < F.col("lo")) & (F.col("lo") <= F.col("cum"))
    ).withColumn(
        "covers_hi", (prev < F.col("hi")) & (F.col("hi") <= F.col("cum"))
    )
    return (
        x.filter(F.col("covers_lo") | F.col("covers_hi"))
        .groupBy(*part_cols)
        .agg(
            F.round(
                (
                    F.max(F.when(F.col("covers_lo"), F.col("v")))
                    + F.max(F.when(F.col("covers_hi"), F.col("v")))
                )
                / 2,
                6,
            ).alias("med")
        )
    )


def g_melt(spark):
    li = t(spark, SF, "lineitem")
    melted = li.select(
        "l_returnflag",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("c"), F.col("l_quantity").alias("v")),
                F.struct(F.lit(1).alias("c"), F.col("l_extendedprice").alias("v")),
            )
        ).alias("m"),
    ).select("l_returnflag", F.col("m.c").alias("c"), F.col("m.v").alias("v"))
    counted = melted.groupBy("l_returnflag", "c", "v").agg(
        F.count("*").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("l_returnflag", "c")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag", "c")
    x = counted.select(
        "l_returnflag",
        "c",
        "v",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    picked = _pick_median(x, ["l_returnflag", "c"])
    return picked.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("c") == 0, F.col("med"))).alias("qty_median"),
        F.max(F.when(F.col("c") == 1, F.col("med"))).alias("price_median"),
    )


def e_rawwindow(spark):
    li = t(spark, SF, "lineitem")

    def branch(col, alias):
        w_all = Window.partitionBy("l_returnflag")
        w_rn = Window.partitionBy("l_returnflag").orderBy(col)
        x = li.select(
            "l_returnflag",
            F.col(col).alias("v"),
            F.row_number().over(w_rn).alias("rn"),
            F.count("*").over(w_all).alias("n"),
        )
        x = x.withColumn("lo", F.expr("(n + 1) DIV 2")).withColumn(
            "hi", F.expr("n DIV 2 + 1")
        )
        picked = x.filter((F.col("rn") == F.col("lo")) | (F.col("rn") == F.col("hi")))
        return picked.groupBy("l_returnflag").agg(
            F.round(
                (
                    F.max(F.when(F.col("rn") == F.col("lo"), F.col("v")))
                    + F.max(F.when(F.col("rn") == F.col("hi"), F.col("v")))
                )
                / 2,
                6,
            ).alias(alias)
        )

    return branch("l_quantity", "qty_median").join(
        branch("l_extendedprice", "price_median"), "l_returnflag"
    ).select("l_returnflag", "qty_median", "price_median")


def main() -> None:
    spark = get_spark("ab-median")
    variants = {
        "a_builtin": a_builtin,
        "b_two_branch": b_two_branch,
        "g_melt": g_melt,
        "e_rawwindow": e_rawwindow,
    }

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    # results must agree
    ref = sorted(map(tuple, a_builtin(spark).collect()))
    for name, fn in variants.items():
        got = sorted(map(tuple, fn(spark).collect()))
        status = "OK" if got == ref else f"MISMATCH {got} vs {ref}"
        print(f"equal[{name}]: {status}")

    for name, fn in variants.items():
        run(fn(spark))  # warm codegen
    best = {}
    for _ in range(RUNS):
        for name, fn in variants.items():
            spark.sparkContext.setJobDescription(f"ab:{name}")
            t0 = time.perf_counter()
            run(fn(spark))
            dt = time.perf_counter() - t0
            best[name] = min(best.get(name, 9e9), dt)
    for name, dt in best.items():
        print(f"{name}: {dt:.3f}s")


if __name__ == "__main__":
    main()

def h_onepass(spark):
    li = t(spark, SF, "lineitem")
    totals = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    w_q = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    w_p = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    x = (
        li.select("l_returnflag", "l_quantity", "l_extendedprice")
        .join(F.broadcast(totals), "l_returnflag")
        .select(
            "l_returnflag",
            "l_quantity",
            "l_extendedprice",
            "n",
            F.row_number().over(w_q).alias("rn_q"),
            F.row_number().over(w_p).alias("rn_p"),
        )
    )
    x = x.withColumn("lo", F.expr("(n + 1) DIV 2")).withColumn(
        "hi", F.expr("n DIV 2 + 1")
    )
    hit_q = (F.col("rn_q") == F.col("lo")) | (F.col("rn_q") == F.col("hi"))
    hit_p = (F.col("rn_p") == F.col("lo")) | (F.col("rn_p") == F.col("hi"))
    return (
        x.filter(hit_q | hit_p)
        .groupBy("l_returnflag")
        .agg(
            F.round(
                (
                    F.max(F.when(F.col("rn_q") == F.col("lo"), F.col("l_quantity")))
                    + F.max(F.when(F.col("rn_q") == F.col("hi"), F.col("l_quantity")))
                )
                / 2,
                6,
            ).alias("qty_median"),
            F.round(
                (
                    F.max(F.when(F.col("rn_p") == F.col("lo"), F.col("l_extendedprice")))
                    + F.max(F.when(F.col("rn_p") == F.col("hi"), F.col("l_extendedprice")))
                )
                / 2,
                6,
            ).alias("price_median"),
        )
    )
