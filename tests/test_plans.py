"""Physical-plan audits: the scale claims (pushdown, pruning, narrow
rewrite, top-k) asserted against Catalyst's actual output, not prose.

These pin the properties that matter at 100 TB:
* filters reach the parquet scan (PushedFilters),
* projections prune the read schema (ReadSchema),
* the rewrite pipeline is a narrow plan (zero Exchange),
* top-k compiles to TakeOrderedAndProject (no global sort).
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from selma_spark.spark import queries as q
from selma_spark.spark.pipeline import rewrite_documents
from selma_spark.spark import textops, simsearch

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("selma-plan-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = q.load(spark, SF_DIR, "documents").where(F.col("lang") == "en")
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan.replace(" ", "")


def test_column_pruning_in_read_schema(spark):
    # token_counts touches doc_id + text only; the scan must not read
    # lang/source/n_chars
    df = textops.token_counts(q.load(spark, SF_DIR, "documents"))
    plan = plan_of(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    line = read_schema[0]
    assert "doc_id" in line and "text" in line
    assert "n_chars" not in line and "source" not in line


def test_rewrite_pipeline_is_narrow(spark):
    # the flagship rewrite is mapInArrow over the scan: ZERO shuffles
    docs = q.spans_df(spark, SF_DIR)
    out = rewrite_documents(docs, "relaxed")
    plan = plan_of(out, mode="simple")
    assert "Exchange" not in plan, plan


def test_topk_uses_take_ordered(spark):
    emb = q.load(spark, SF_DIR, "embeddings")
    qv = simsearch.query_vector(spark, emb, 0)
    df = simsearch.topk_cosine(emb, qv, k=10, exclude_vec_id=0)
    plan = plan_of(df, mode="simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_byte_weighted_bucketing_has_no_global_window(spark):
    # the LPT deal's row_number window must be PARTITIONED (hash
    # exchange over (stratum, salt)), never a single-partition global
    # sort — that would serialize the whole corpus through one task
    from selma_spark.spark.pipeline import bucketed

    docs = q.spans_df(spark, SF_DIR)
    b = bucketed(docs, 8, byte_weighted=True)
    plan = plan_of(b, mode="simple")
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange hashpartitioning" in plan, plan


def test_dimension_joins_broadcast_the_small_side(spark):
    # orders->customer->nation->region must be all BroadcastHashJoin:
    # the fact table never shuffles for the joins
    from selma_spark.spark import relational

    df = relational.revenue_by_nation(
        q.load(spark, SF_DIR, "orders"),
        q.load(spark, SF_DIR, "customer"),
        q.load(spark, SF_DIR, "nation"),
        q.load(spark, SF_DIR, "region"),
    )
    plan = plan_of(df, mode="simple")
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_brand_topk_broadcasts_and_takes_ordered(spark):
    from selma_spark.spark import relational

    df = relational.brand_revenue_topk(
        q.load(spark, SF_DIR, "lineitem"), q.load(spark, SF_DIR, "part")
    )
    plan = plan_of(df, mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_priority_window_is_partitioned(spark):
    from selma_spark.spark import relational

    df = relational.priority_top_orders(q.load(spark, SF_DIR, "orders"))
    plan = plan_of(df, mode="simple")
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange hashpartitioning(o_orderpriority" in plan, plan


def test_exact_dedup_has_partial_aggregation(spark):
    # groupBy(md5) must plan a map-side partial HashAggregate before the
    # exchange (one shuffle total)
    df = textops.dedup_exact(q.load(spark, SF_DIR, "documents"))
    plan = plan_of(df, mode="simple")
    assert plan.count("HashAggregate") >= 2, plan
    # exactly one exchange for the aggregation (plus possibly one for the
    # presentation sort)
    assert plan.count("Exchange") <= 2, plan


def test_top_terms_broadcasts_the_vocabulary_side(spark):
    # tf⋈df joins on the raw term (stopwords = hot keys); for a
    # broadcastable vocabulary the df side must plan a BroadcastHashJoin
    # so the corpus-sized tf side never shuffles on term
    df = textops.top_terms_tfidf(q.load(spark, SF_DIR, "documents"))
    plan = plan_of(df, mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pq_adc_topk_broadcasts_and_takes_ordered(spark):
    # the ADC distance table (m*k = 64 rows) must broadcast, and the
    # top-k must compile to TakeOrderedAndProject — the scan side only
    # ever touches codes, never raw vectors
    df = simsearch.topk_pq_adc(q.load(spark, SF_DIR, "embeddings"))
    plan = plan_of(df, mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_asof_join_is_window_not_nested_loop(spark):
    # the as-of join must compile to a user_id-partitioned window over
    # the tagged union — never an inequality join (BroadcastNestedLoop),
    # which is the scale trap a naive range-condition join falls into
    from selma_spark.spark import relational

    df = relational.asof_last_view_before_purchase(
        q.load(spark, SF_DIR, "events")
    )
    plan = plan_of(df, mode="simple")
    assert "NestedLoop" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_range_join_is_bucketed_hash_join(spark):
    # interval containment must compile to an equi-join on the time
    # bucket (BroadcastHashJoin) + refine filter — never the quadratic
    # BroadcastNestedLoopJoin a raw range-condition join produces
    from selma_spark.spark.queries import q_range_join_promos

    df = q_range_join_promos(spark, SF_DIR)
    plan = plan_of(df, mode="simple")
    assert "NestedLoop" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_kmeans_refined_assign_is_narrow_inline_argmax(spark):
    # r6: the final assignment against refined centroids inlines the
    # KB-sized centroid table as literals and computes the argmax per
    # row — no join of ANY kind, no aggregate, no window; the only
    # exchange in the whole plan is the presentation sort
    df = simsearch.kmeans_refined_assign(
        q.load(spark, SF_DIR, "embeddings"), rounds=1
    )
    plan = plan_of(df, mode="simple")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Exchange rangepartitioning" in plan, plan


def _column_dot(a, b):
    """The Column-call dot product _lit_best_struct and topk_cosine were
    built from before they became SQL text; kept here as the independent
    reference for the two differentials below."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _column_norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def test_lit_best_struct_expr_matches_column_tree(spark):
    """r6 pass 7: _lit_best_struct is built as ONE parsed SQL string
    (~60ms of py4j per centroid saved — ~6s per kmeans_refined_assign
    call). The parsed tree must stay bit-identical to the Column-built
    tree it replaced: same zip_with/aggregate fold with per-element
    CAST AS DOUBLE, same round(…, 9), same (c, nc) struct comparator.
    This differential pins that — any drift in the SQL string (operator
    order, literal formatting, cast placement) fails exact equality."""
    import math

    emb = q.load(spark, SF_DIR, "embeddings")
    rows = simsearch._collect_centroids(emb)

    def column_tree(cents_rows, ne_col):
        structs = []
        for cid, vec in cents_rows:
            acc = 0.0
            for v in vec:
                acc += v * v
            cn = math.sqrt(acc)
            clit = F.array(*[F.lit(v) for v in vec])
            structs.append(
                F.struct(
                    F.round(
                        _column_dot(F.col("embedding"), clit)
                        / (ne_col * F.lit(cn)),
                        9,
                    ).alias("c"),
                    F.lit(-cid).alias("nc"),
                )
            )
        return F.array_max(F.array(*structs))

    base = emb.withColumn("_ne", _column_norm(F.col("embedding")))
    old = (
        base.withColumn("_m", column_tree(rows, F.col("_ne")))
        .select("vec_id", "_m")
        .orderBy("vec_id")
        .collect()
    )
    # the production side: _lit_assign's SQL norm column, then the struct
    new = (
        emb.withColumn("_ne", F.expr(simsearch._norm("embedding")))
        .withColumn("_m", simsearch._lit_best_struct(rows))
        .select("vec_id", "_m")
        .orderBy("vec_id")
        .collect()
    )
    assert old == new
    # non-finite components must fail loudly, not emit invalid SQL, and
    # say which literal was being built
    with pytest.raises(ValueError, match="x: nan"):
        simsearch._dlit(float("nan"), "x")
    with pytest.raises(ValueError, match="component of centroid 7: inf"):
        simsearch._lit_best_struct([(3, [0.5, 0.5]), (7, [0.5, float("inf")])])
    with pytest.raises(ValueError, match="query vector index 1: nan"):
        simsearch.topk_cosine(None, [0.5, float("nan")])


def test_topk_cosine_expr_matches_column_tree(spark):
    """r6 pass 7 (same as the kmeans pin above): topk_cosine's query
    literal + dot/norm trees are one parsed SQL string; exact equality
    against the Column-built tree it replaced, over every vector."""
    emb = q.load(spark, SF_DIR, "embeddings")
    qv = simsearch.query_vector(spark, emb, 0)
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    old_sim = _column_dot(F.col("embedding"), qlit) / (
        _column_norm(F.col("embedding")) * _column_norm(qlit)
    )
    old = (
        emb.select("vec_id", F.round(old_sim, 4).alias("cosine"))
        .orderBy("vec_id")
        .collect()
    )
    n = emb.count()
    new = (
        simsearch.topk_cosine(emb, qv, k=n)
        .orderBy("vec_id")
        .collect()
    )
    assert len(new) == n
    assert old == new


def test_decoded_resize_is_narrow_before_the_udf(spark):
    # explode + image-class filter are JVM-side and the pandas UDF runs
    # directly over the scan without any shuffle — the ONLY Exchange in
    # the whole plan is the final presentation sort
    df = q.q_decoded_resize(spark, SF_DIR)
    plan = plan_of(df, mode="simple")
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Exchange rangepartitioning" in plan, plan


def test_near_dup_chain_never_planner_broadcasts(spark):
    """r5 soak-caught scale bug: frames descending from localCheckpointed
    signature frames carry the TINY source-parquet size estimate, so the
    planner broadcast the corpus-scaled shingle/band tables — an 8 GiB
    broadcast failure at the 3.2M-doc soak point. Every join side in the
    near-dup chains is corpus-scaled; the plans must carry NO
    BroadcastExchange at all (tiny sides elsewhere in the engine remain
    explicit F.broadcast — none live in these chains)."""
    from selma_spark.spark import textops

    docs = q.load(spark, SF_DIR, "documents")
    for df in (
        textops.near_dup_verified(docs),
        textops.near_dup_pairs(docs),
        textops.simhash_near_dup(docs),
        # r6 (ADVICE r5 #3): the star-contraction output carries the same
        # tiny checkpoint-ancestry estimates — pin it too so a dropped
        # merge hint can't regress unpinned
        textops.near_dup_clusters(docs),
    ):
        plan = plan_of(df, mode="simple")
        assert "BroadcastExchange" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
