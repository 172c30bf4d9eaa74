"""Capture .explain('formatted') for the r6-touched queries.

Usage: python plans/r06/capture_plans.py <suffix>   (suffix = before|after)
Writes plans/r06/<name>_<suffix>.txt for each touched query on sf0.001.
"""

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from pyspark.sql import SparkSession  # noqa: E402

from selma_spark.spark import queries as q  # noqa: E402
from selma_spark.spark import simsearch, textops  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
OUT_DIR = os.path.dirname(os.path.abspath(__file__))
SUFFIX = sys.argv[1]

spark = (
    SparkSession.builder.master("local[8]")
    .appName("r06-plan-capture")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")


def cap(name, df):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    path = os.path.join(OUT_DIR, f"{name}_{SUFFIX}.txt")
    with open(path, "w") as fh:
        fh.write(buf.getvalue())
    print(f"wrote {path}")


docs = q.load(spark, SF_DIR, "documents")
emb = q.load(spark, SF_DIR, "embeddings")

cap("kmeans_refined_assign", simsearch.kmeans_refined_assign(emb, rounds=1))
cap("embedding_topk_ivf_refined",
    simsearch.topk_cosine_ivf_refined(emb, rounds=1))
cap("simhash", textops.simhash64(docs))
cap("simhash_near_dup", textops.simhash_near_dup(docs))
cap("near_dup_verified", textops.near_dup_verified(docs))
cap("near_dup_pairs", textops.near_dup_pairs(docs))
cap("near_dup_clusters", textops.near_dup_clusters(docs))
cap("embedding_near_dup", simsearch.near_dup_cosine(emb))
spark.stop()
