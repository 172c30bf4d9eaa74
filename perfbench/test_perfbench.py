"""Tests for the benchmark's own pieces.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_same_seed_same_input_and_fixed_shape():
    a = list(gen.span_docs(7, 500))
    assert gen.fingerprint(a) == gen.fingerprint(gen.span_docs(7, 500))
    b = list(gen.span_docs(8, 500))
    assert gen.fingerprint(a) != gen.fingerprint(b)
    # only content depends on the seed: span layout is positional
    assert [[s[0] for s in spans] for _, spans in a] == \
        [[s[0] for s in spans] for _, spans in b]

    p1 = list(gen.pages(3, 4, 2))
    assert gen.fingerprint(p1) == gen.fingerprint(gen.pages(3, 4, 2))
    assert len(p1) == 4 + 2 + 3
    assert 6_500_000 < len(p1[-1][1][0][1]) < 7_500_000

    rows, planted = gen.near_dup_docs(5, 20, 3, 10, 30)
    rows2, planted2 = gen.near_dup_docs(5, 20, 3, 10, 30)
    assert gen.fingerprint(rows) == gen.fingerprint(rows2) and planted == planted2
    assert len(rows) == 20 * 3 + 2 * 10 + 30
    text = dict(rows)
    for a_id, b_id in planted:
        assert gen.jaccard(gen.shingles(text[a_id]), gen.shingles(text[b_id])) >= 0.5


def test_tracer_self_time_subtracts_children():
    tr = Tracer("t", enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    st = tr.self_times()
    assert st["inner"] == pytest.approx(inner.dt)
    assert st["outer"] == pytest.approx(outer.dt - inner.dt)
    off = Tracer("t", enabled=False)
    with off.span("x") as s:
        pass
    assert s.dt >= 0 and off.spans == []


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from selma_spark.spark.session import get_spark

    tmp = tmp_path_factory.mktemp("spark")
    s = get_spark(cpus=2, app_name="perfbench-test", extra_conf={
        "spark.driver.memory": "1g",
        "spark.local.dir": str(tmp),
        "spark.ui.showConsoleProgress": "false",
    })
    yield s
    s.stop()


def test_metrics_helper_on_tiny_frame(spark):
    from pyspark.sql import functions as F

    from selma_spark.spark.datagen import DOC_SCHEMA
    from selma_spark.spark.pipeline import rewrite_documents
    from sparkmetrics import arrow_metrics, stage_metrics

    rows = [(f"d{i}", [("text", f"<p onclick='x'>doc {i}</p><script>1</script>",
                        None, 0)]) for i in range(200)]
    docs = spark.createDataFrame(rows, DOC_SCHEMA).repartition(2)
    spark.sparkContext.setJobGroup("perfbench-test", "tiny rewrite")
    out = rewrite_documents(docs, "relaxed").select(
        F.count("*"), F.sum(F.xxhash64("doc_id", "spans").cast("decimal(38,0)")))
    assert out.collect()[0][0] == 200

    sm = stage_metrics(spark, "perfbench-test")
    assert sm["jobs"] > 0 and sm["tasks"] > 0 and sm["stages"] > 0
    assert sm["executor_run_s"] > 0 and sm["jvm_cpu_s"] > 0
    assert sm["failed_tasks"] == 0 and sm["retried_stages"] == 0

    am = arrow_metrics(out)
    assert am["nodes"] == 1
    assert am["rows_received"] == 200
    assert am["bytes_sent"] > 0 and am["bytes_received"] > 0
