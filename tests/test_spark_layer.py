"""Structural guards over the Spark layer (selma_spark/spark/*.py).

* No module holds a Column or DataFrame: expression trees are built per
  call (the costly higher-order-function ones as SQL text), so nothing
  at module level can outlive the session or JVM gateway it came from.
* Every function that hands Python code to the executors (mapInArrow,
  mapInPandas, applyInPandas*, udf.register) also calls ensure_shipped,
  so workers can import the package from any driver cwd. Checked on the
  source, so it covers entry points no Spark test reaches.
"""

import ast
import importlib
import pkgutil
from pathlib import Path

import pytest
from pyspark.sql import Column, DataFrame, SparkSession

import selma_spark.spark
from selma_spark.spark import datagen, pipeline, simsearch, textops

SF_DIR = "/root/testdata/sf0.001"
SPARK_DIR = Path(selma_spark.spark.__file__).resolve().parent


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("selma-spark-layer-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


def _spark_objects(value, where, depth=0):
    """(where, type name) for every Column/DataFrame in ``value``, looking
    into dict/list/tuple/set values up to three levels deep."""
    if isinstance(value, (Column, DataFrame)):
        return [(where, type(value).__name__)]
    if depth >= 3:
        return []
    if isinstance(value, dict):
        items = [(f"{where}[{k!r}]", v) for k, v in value.items()]
    elif isinstance(value, (list, tuple, set, frozenset)):
        items = [(f"{where}[{i}]", v) for i, v in enumerate(value)]
    else:
        return []
    found = []
    for w, v in items:
        found += _spark_objects(v, w, depth + 1)
    return found


def test_no_module_level_column_or_dataframe_state(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # every builder that once kept its expression tree in a module global
    spans = datagen.interleaved_spans(docs)
    datagen.bench_spans(docs)
    datagen.bench_spans(docs, skew_pct=0.25, skew_factor=3)
    pipeline.rewritten_text(spans, "relaxed")
    textops.minhash_signatures(docs)
    textops.near_dup_pairs(docs)  # builds the checkpointed signature frame
    simsearch.near_dup_cosine(emb)
    simsearch.kmeans_refined_assign(emb, rounds=1)

    names = [m.name for m in pkgutil.iter_modules([str(SPARK_DIR)])]
    assert {"datagen", "pipeline", "simsearch", "textops"} <= set(names)
    held = []
    for name in names:
        mod = importlib.import_module(f"selma_spark.spark.{name}")
        for attr, value in vars(mod).items():
            held += _spark_objects(value, f"{name}.{attr}")
    assert held == []


_UDF_METHODS = ("mapInArrow", "mapInPandas")


def _own_calls(fn):
    """Calls in ``fn``'s body, not counting nested function bodies."""
    stack, calls = list(fn.body), []
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        if isinstance(node, ast.Call):
            calls.append(node.func)
        stack.extend(ast.iter_child_nodes(node))
    return calls


def _ships_python(func) -> bool:
    if not isinstance(func, ast.Attribute):
        return False
    if func.attr in _UDF_METHODS or func.attr.startswith("applyInPandas"):
        return True
    return (
        func.attr == "register"
        and isinstance(func.value, ast.Attribute)
        and func.value.attr == "udf"
    )


def _called_name(func) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def test_only_the_commit_unit_tallies_lineage():
    """One commit unit: ``_commit_buckets`` is the only function that
    builds a ``_BucketStats`` accumulator or passes ``_stats`` to
    ``make_rewrite_fn``, and run_pipeline and stream_rewrite are the
    only functions that call it. It writes one aux table: its one call
    of the sink's ``write_lineage`` is the only one."""
    stats_users, commit_callers, lineage_writes = set(), set(), []
    for path in sorted(SPARK_DIR.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        # every top-level statement, nested defs counted in their parent
        for top in tree.body:
            where = f"{path.name}:{getattr(top, 'name', '<module>')}"
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                name = _called_name(node.func)
                if name == "_BucketStats" or any(
                    kw.arg == "_stats" for kw in node.keywords
                ):
                    stats_users.add(where)
                if name == "_commit_buckets":
                    commit_callers.add(where)
                if name == "write_lineage":
                    lineage_writes.append(where)
    assert stats_users == {"pipeline.py:_commit_buckets"}, stats_users
    assert lineage_writes == ["pipeline.py:_commit_buckets"], lineage_writes
    assert commit_callers == {
        "pipeline.py:run_pipeline",
        "streaming.py:stream_rewrite",
    }, commit_callers


def test_every_python_udf_entry_point_calls_ensure_shipped():
    entry_points, missing = [], []
    for path in sorted(SPARK_DIR.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        # the module body itself (nested defs excluded) counts as a unit
        units = [ast.Module(body=tree.body, type_ignores=[])]
        units += [
            n for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for unit in units:
            calls = _own_calls(unit)
            if not any(_ships_python(c) for c in calls):
                continue
            where = f"{path.name}:{getattr(unit, 'name', '<module>')}"
            entry_points.append(where)
            if "ensure_shipped" not in {_called_name(c) for c in calls}:
                missing.append(where)
    # the scan must see exactly the real entry points, or it proves
    # nothing; a new one is added here deliberately
    assert sorted(entry_points) == [
        "functions.py:register_sql_functions",
        "layout.py:decoded_layout",
        "layout.py:layout_blocks",
        "multimodal.py:decoded_resize",
        "pipeline.py:_commit_buckets",
        "pipeline.py:_per_doc_rows",
        "pipeline.py:rewrite_documents",
        "streaming.py:stream_near_dup_flags",
    ], entry_points
    assert missing == []
