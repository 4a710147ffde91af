#!/usr/bin/env python
"""Microbenchmark: HOF (zip_with+aggregate) dot/cosine vs unrolled
codegen expression, and per-pair vs precomputed norms.

Times the knn_bruteforce shape (corpus × 10 queries, full cosine rank)
and the _assign_cells shape (corpus × 64 centroids) on the sf0.1
embeddings, inflated ×16 to get above the per-stage floor. Checks that
both forms produce IDENTICAL rounded values before timing.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_saas_etl_spark.catalog import load_table
from aws_saas_etl_spark.operators.similarity import EMBED_DIM, cosine, dot, norm
from aws_saas_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
INFLATE = int(os.environ.get("INFLATE", "16"))


def dot_unrolled(a, b, dim=EMBED_DIM):
    out = F.lit(0.0)
    for i in range(dim):
        out = out + a[i].cast("double") * b[i].cast("double")
    return out


def cosine_unrolled(a, b):
    return dot_unrolled(a, b) / (
        F.sqrt(dot_unrolled(a, a)) * F.sqrt(dot_unrolled(b, b))
    )


def timeit(df, label, reps=3):
    best = None
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        runs.append(round(dt, 3))
        best = dt if best is None else min(best, dt)
    print(f"{label:55s} best {best:7.3f}s  runs {runs}", flush=True)
    return best


def main():
    spark = get_spark(app_name="microbench-dot")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    # inflate corpus: new ids, same vectors
    emb = emb.crossJoin(
        F.broadcast(spark.range(INFLATE).withColumnRenamed("id", "rep"))
    ).select(
        (F.col("vec_id") * INFLATE + F.col("rep")).alias("vec_id"), "embedding"
    )
    emb = emb.repartition(32).localCheckpoint()
    n = emb.count()
    print(f"corpus rows: {n}")

    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    ).localCheckpoint()

    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )

    # --- value identity check (HOF vs unrolled) on a sample
    chk = (
        corpus.limit(200)
        .crossJoin(F.broadcast(queries))
        .select(
            F.round(cosine("q_emb", "c_emb"), 6).alias("h"),
            F.round(cosine_unrolled(F.col("q_emb"), F.col("c_emb")), 6).alias("u"),
        )
        .where(~F.col("h").eqNullSafe(F.col("u")))
        .count()
    )
    print(f"value mismatches (must be 0): {chk}")

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )

    def knn(sim_expr, cor, qs):
        return (
            cor.crossJoin(F.broadcast(qs))
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", F.round(sim_expr, 6).alias("cos_sim"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
        )

    # A: HOF per-pair cosine (current)
    timeit(knn(cosine("q_emb", "c_emb"), corpus, queries), "knn HOF cosine (current)")
    # B: unrolled per-pair cosine
    timeit(knn(cosine_unrolled(F.col("q_emb"), F.col("c_emb")), corpus, queries), "knn unrolled cosine")
    # C: unrolled dot + precomputed norms
    cor_n = corpus.withColumn("c_n", F.sqrt(dot_unrolled(F.col("c_emb"), F.col("c_emb"))))
    q_n = queries.withColumn("q_n", F.sqrt(dot_unrolled(F.col("q_emb"), F.col("q_emb"))))
    sim_pre = dot_unrolled(F.col("q_emb"), F.col("c_emb")) / (F.col("q_n") * F.col("c_n"))
    timeit(knn(sim_pre, cor_n, q_n), "knn unrolled + precomputed norms")
    # D: HOF dot + precomputed norms (isolate the two effects)
    cor_nh = corpus.withColumn("c_n", norm("c_emb"))
    q_nh = queries.withColumn("q_n", norm("q_emb"))
    sim_preh = dot("q_emb", "c_emb") / (F.col("q_n") * F.col("c_n"))
    timeit(knn(sim_preh, cor_nh, q_nh), "knn HOF + precomputed norms")

    # assign_cells shape: corpus x 64 centroids argmax
    cents = emb.limit(64).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid")
    ).localCheckpoint()

    def assign(sim_expr, vecs, cs):
        return (
            vecs.crossJoin(F.broadcast(cs))
            .select("vec_id", sim_expr.alias("cell_sim"), "cell")
            .groupBy("vec_id")
            .agg(
                F.max_by(
                    "cell",
                    F.struct(F.col("cell_sim").alias("s"), (-F.col("cell")).alias("t")),
                ).alias("cell")
            )
        )
    timeit(assign(cosine("embedding", "centroid"), emb, cents), "assign HOF cosine (current)")
    timeit(assign(cosine_unrolled(F.col("embedding"), F.col("centroid")), emb, cents), "assign unrolled cosine")
    emb_n = emb.withColumn("v_n", F.sqrt(dot_unrolled(F.col("embedding"), F.col("embedding"))))
    cents_n = cents.withColumn("c_n", F.sqrt(dot_unrolled(F.col("centroid"), F.col("centroid"))))
    sim_pre2 = dot_unrolled(F.col("embedding"), F.col("centroid")) / (F.col("v_n") * F.col("c_n"))
    timeit(assign(sim_pre2, emb_n, cents_n), "assign unrolled + precomputed norms")

    spark.stop()


if __name__ == "__main__":
    main()
