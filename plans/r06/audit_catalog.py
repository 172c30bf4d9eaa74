"""r6 catalog-wide plan audit: one row per catalog entry (the 50
build_queries() entries) with the plan signals that matter at 100 TB — Exchange count,
join strategies, Python-eval nodes, single-partition exchanges, nested
loops. Output: plans/r06/catalog_audit.tsv (+ stderr progress).

Queries that eagerly run jobs at build time (kmeans chain, top_terms
vocabulary guard) still only pay sf0.001-sized jobs here.
"""

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from pyspark.sql import SparkSession  # noqa: E402

from selma_spark.spark import queries as q  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "catalog_audit.tsv")

spark = (
    SparkSession.builder.master("local[8]")
    .appName("r06-catalog-audit")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

rows = []
for name, fn in q.build_queries().items():
    try:
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode="simple")
        plan = buf.getvalue()
        rows.append((
            name,
            plan.count("Exchange") - plan.count("ReusedExchange"),
            plan.count("BroadcastHashJoin"),
            plan.count("SortMergeJoin"),
            plan.count("ShuffledHashJoin"),
            plan.count("BatchEvalPython"),
            plan.count("ArrowEvalPython") + plan.count("MapInArrow")
            + plan.count("MapInPandas") + plan.count("FlatMapGroupsInPandas"),
            plan.count("BroadcastNestedLoopJoin"),
            plan.count("Exchange SinglePartition"),
            "",
        ))
        print(f"ok {name}", file=sys.stderr)
    except Exception as exc:  # noqa: BLE001
        rows.append((name, -1, -1, -1, -1, -1, -1, -1, -1,
                     re.sub(r"\s+", " ", str(exc))[:120]))
        print(f"ERR {name}: {exc}", file=sys.stderr)

with open(OUT, "w") as fh:
    fh.write("query\texchanges\tbhj\tsmj\tshj\tbatch_eval_py\t"
             "arrow_py\tbnlj\tsingle_part_exchange\terr\n")
    for r in rows:
        fh.write("\t".join(str(x) for x in r) + "\n")
print(f"wrote {OUT} ({len(rows)} entries)")
spark.stop()
