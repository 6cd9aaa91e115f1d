#!/usr/bin/env python
"""Phase-split timing for q_prefix_filter_pairs (guide §1): where do
the ~6 s go — ordered build, sizing action, candidate generation, or
the array_intersect verify?  Replicates operators/dedup.py
prefix_filter_pairs with timers between phases (measurement only)."""

from __future__ import annotations

import os
import sys
import time
from fractions import Fraction

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    from pyspark.sql import functions as F

    from osmexpress_spark import get_spark
    from osmexpress_spark.operators.dedup import shingles
    from osmexpress_spark.queries_data import SHINGLE_K, t as table
    from osmexpress_spark.registry import live

    spark = get_spark(app_name="profile-prefix", cpus=CPUS,
                      shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    live()["q_projection"](spark, SF_DIR).write.format(
        "noop").mode("overwrite").save()

    k, threshold = SHINGLE_K, 0.8
    id_col, text_col = "doc_id", "text"
    frac = Fraction(threshold).limit_denominator(1_000_000)
    num, den = frac.numerator, frac.denominator

    for rep in range(3):
        df = table(spark, SF_DIR, "documents")
        t0 = time.monotonic()
        docs = (
            df.where(F.size(F.split(F.col(text_col), " ")) >= k)
            .select(
                F.col(id_col).alias("id"),
                F.transform(
                    shingles(F.col(text_col), k), lambda s: F.xxhash64(s)
                ).alias("sh"),
            )
            .select("id", "sh", F.size("sh").alias("n"))
        )
        inv = docs.select("id", "n", F.explode("sh").alias("s"))
        freq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("df_s"))
        ordered = inv.join(freq, "s").groupBy("id", "n").agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df_s"), F.col("s")))
            ).alias("ord")
        )
        ordered = ordered.localCheckpoint(eager=True)
        t1 = time.monotonic()
        print(f"rep{rep} ordered build+checkpoint: {t1-t0:.2f}")

        stats = ordered.select(
            F.count(F.lit(1)).alias("rows"), F.sum("n").alias("toks")
        ).first()
        t2 = time.monotonic()
        print(f"rep{rep} stats.first(): {t2-t1:.2f}  rows={stats['rows']} toks={stats['toks']}")

        ceil_tn = F.floor((F.col("n") * num + (den - 1)) / den)
        ceil_2tn = F.floor(
            (F.col("n") * (2 * num) + (num + den - 1)) / (num + den)
        )
        prefix = ordered.select(
            "id", "n",
            F.slice(
                F.transform("ord", lambda x: x["s"]),
                F.lit(1),
                (F.col("n") - ceil_tn + 1).cast("int"),
            ).alias("pre"),
            (F.col("n") - ceil_2tn + 1).cast("int").alias("li"),
        )
        pr = prefix.select(
            "id", "n", "li", F.posexplode("pre").alias("pos", "s")
        )
        a = pr.where(F.col("pos") < F.col("li")).select(
            F.col("id").alias("id_a"), F.col("n").alias("n_a"),
            F.col("pos").alias("pos_a"), "s",
        )
        b = pr.select(
            F.col("id").alias("id_b"), F.col("n").alias("n_b"),
            F.col("pos").alias("pos_b"), "s",
        )
        overlap_ub = F.lit(1) + F.least(
            F.col("n_a") - (F.col("pos_a") + 1),
            F.col("n_b") - (F.col("pos_b") + 1),
        )
        cand = (
            a.join(b, "s")
            .where(
                (
                    (F.col("n_a") < F.col("n_b"))
                    | (
                        (F.col("n_a") == F.col("n_b"))
                        & (F.col("id_a") < F.col("id_b"))
                    )
                )
                & (F.col("n_b") * num <= F.col("n_a") * den)
                & (
                    overlap_ub * (num + den)
                    >= (F.col("n_a") + F.col("n_b")) * num
                )
            )
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .distinct()
        )
        n_cand = cand.count()
        t3 = time.monotonic()
        print(f"rep{rep} candidates distinct count: {t3-t2:.2f}  n={n_cand}")

        arrays = ordered.select(
            "id", "n", F.transform("ord", lambda x: x["s"]).alias("sh")
        )
        est_bytes = (stats["rows"] or 0) * 40 + (stats["toks"] or 0) * 12
        broadcast_arrays = est_bytes <= 64 * 1024 * 1024
        print(f"rep{rep} est_bytes={est_bytes} broadcast={broadcast_arrays}")
        if broadcast_arrays:
            arrays = F.broadcast(arrays)
        sh_a = arrays.select(
            F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
            F.col("n").alias("n_a"),
        )
        sh_b = arrays.select(
            F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
            F.col("n").alias("n_b"),
        )
        cand2 = cand
        if broadcast_arrays:
            cand2 = cand.repartition(
                cand.sparkSession.sparkContext.defaultParallelism
            )
        out = (
            cand2.join(sh_a, "id_a")
            .join(sh_b, "id_b")
            .select(
                "id_a", "id_b",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
                "n_a", "n_b",
            )
            .where(
                F.col("n_inter") * den
                >= (F.col("n_a") + F.col("n_b") - F.col("n_inter")) * num
            )
        )
        out.write.format("noop").mode("overwrite").save()
        t4 = time.monotonic()
        print(f"rep{rep} verify join+intersect+noop: {t4-t3:.2f}")
        print(f"rep{rep} TOTAL: {t4-t0:.2f}")
        print()


if __name__ == "__main__":
    main()
