#!/usr/bin/env python
"""A/B (VERDICT r11 #4): interpreted JVM HOF fold vs mapInArrow+numpy
for the embedding gram statistic, at sf0.1 and at a 25x synthetic
scale.  Exactness: integer matmul partials summed as DECIMAL(38,0) —
integer addition is associative, so regrouping per Arrow batch is
exact; equality is asserted on the collected rows."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def gram_arrow(df, dim, vec_col="embedding"):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators.similarity import _micros

    q = df.select(_micros(F.col(vec_col)).alias("q"))

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        iu = np.triu_indices(dim)
        i_arr = pa.array(iu[0].astype("int32"))
        j_arr = pa.array(iu[1].astype("int32"))
        for batch in batches:
            col = batch.column(0)
            flat = np.asarray(col.flatten(), dtype=np.int64)
            m = flat.reshape(-1, dim)
            g = m.T @ m  # int64 matmul: exact
            p = g[iu]
            yield pa.RecordBatch.from_arrays(
                [
                    i_arr,
                    j_arr,
                    pa.array(p.astype(object), type=pa.decimal128(38, 0)),
                    pa.array(
                        np.full(len(p), m.shape[0], dtype="int64")
                    ),
                ],
                ["i", "j", "p", "n"],
            )

    from pyspark.sql import functions as F2

    partials = q.mapInArrow(fn, "i int, j int, p decimal(38,0), n long")
    return partials.groupBy("i", "j").agg(
        F2.sum("p").cast("decimal(38,0)").alias("gram"),
        F2.sum("n").alias("n"),
    )


def main() -> None:
    from pyspark.sql import functions as F

    from osmexpress_spark import get_spark
    from osmexpress_spark.operators import similarity
    from osmexpress_spark.queries_data import EMB_DIM, t as table
    from osmexpress_spark.registry import live

    spark = get_spark(app_name="ab-gram", cpus=CPUS,
                      shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    live()["q_projection"](spark, SF_DIR).write.format(
        "noop").mode("overwrite").save()
    # warm the python workers so the A/B compares steady states
    spark.range(128).repartition(int(CPUS)).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    emb = table(spark, SF_DIR, "embeddings")
    from osmexpress_spark import lineage

    big = emb
    for _ in range(5):  # 32x rows via self-union
        big = big.unionByName(big)
    big = lineage.cut(
        big.repartition(int(CPUS)).select("embedding")
    )  # materialized once so the A/B times ONLY the gram computation

    for label, frame in (("sf0.1 (4k rows)", emb), ("32x (128k rows)", big)):
        for name, fn in (
            ("jvm", lambda d: similarity.embedding_gram(d, EMB_DIM)),
            ("arrow", lambda d: gram_arrow(d, EMB_DIM)),
        ) * 3:
            t0 = time.monotonic()
            fn(frame).write.format("noop").mode("overwrite").save()
            print(f"{label} {name}: {time.monotonic() - t0:.2f}")
    # exactness on the real table
    a = sorted(map(tuple, similarity.embedding_gram(emb, EMB_DIM).collect()))
    b = sorted(map(tuple, gram_arrow(emb, EMB_DIM).collect()))
    print("identical:", a == b, "rows:", len(a))
    if a != b:
        for x, y in zip(a, b):
            if x != y:
                print("first diff:", x, y)
                break
    spark.stop()


if __name__ == "__main__":
    main()
