"""Deterministic interleaved text+media span documents.

The pipeline's input table shape (BASELINE.json input_hint):

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Two generators, both derived from the driver-provided testdata
``documents`` parquet (never from randomness, so every run — Spark or
DuckDB — reproduces the same bytes):

* :func:`interleaved_spans` — a *SQL-expressible* construction (plain
  column expressions, no UDF) whose sanitized output is also
  SQL-expressible; this is what the DuckDB correctness oracle mirrors.
* :func:`bench_spans` — a richer corpus cycling the reference's golden
  HTML fixtures (test/test_helper.rb:38-70) with nested span wrappers
  (test_helper.rb:24-26) and an optional 1%% skew tail of documents
  ~50x base size, exercising the salting/repartition path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SPAN_SCHEMA = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
DOC_SCHEMA = f"doc_id string, spans {SPAN_SCHEMA}"

# Wrapper shapes keyed by doc_id % 6. Kept deliberately SQL-simple so the
# DuckDB oracle can reproduce both the construction and the DEFAULT- and
# RELAXED-sanitized outputs (see queries.py). Reads ``_id``, a column of
# the frame it runs on, never the select's own ``doc_id`` alias.
_WRAPPERS_SQL_SPARK = """
CASE _id % 6
  WHEN 0 THEN concat('<div>', text, '</div>')
  WHEN 1 THEN concat('<b>', text, '</b>')
  WHEN 2 THEN concat('<p class="x">', text, '</p>')
  WHEN 3 THEN concat(text, '<script>alert(1)</script>')
  WHEN 4 THEN concat('<a href="http://example.com/">', text, '</a>')
  ELSE concat('<span><strong>', text, '</strong></span>')
END
"""

# The span projections are SQL text parsed in one selectExpr: the same
# tree composed from Column calls costs one py4j round trip per node.
_NO_SPANS = f"CAST(array() AS {SPAN_SCHEMA})"
_MEDIA_SPAN = (
    "named_struct('kind', 'media', 'text', CAST(NULL AS STRING),"
    " 'media_ref', concat('media://', CAST(_id AS STRING), '/1'),"
    " 'offset', CAST(1 AS INT))"
)


def _text_span(text: str, offset: str) -> str:
    return (
        f"named_struct('kind', 'text', 'text', {text},"
        f" 'media_ref', CAST(NULL AS STRING), 'offset', CAST({offset} AS INT))"
    )


def _sql_str(s: str) -> str:
    """Any Python string as a SQL string expression: UTF-8 bytes in a hex
    literal, so quotes, backslashes and non-ASCII need no escaping."""
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def interleaved_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, ...) -> interleaved span documents.

    Layout per doc (deterministic in doc_id):
      span 0: text span, HTML wrapper chosen by doc_id %% 6
      span 1: media span 'media://{doc_id}/1'      iff doc_id %% 4 == 0
      span N: text span '<em>ok</em>'              iff doc_id %% 3 == 0
    """
    extra = _text_span("'<em>ok</em>'", "CASE WHEN _id % 4 = 0 THEN 2 ELSE 1 END")
    spans = (
        f"concat(array({_text_span(_WRAPPERS_SQL_SPARK, '0')}),"
        f" CASE WHEN _id % 4 = 0 THEN array({_MEDIA_SPAN}) ELSE {_NO_SPANS} END,"
        f" CASE WHEN _id % 3 = 0 THEN array({extra}) ELSE {_NO_SPANS} END)"
    )
    return documents.selectExpr(
        "CAST(doc_id AS BIGINT) AS _id", "text"
    ).selectExpr("CAST(_id AS STRING) AS doc_id", f"{spans} AS spans")


def golden_payloads() -> list[str]:
    """The reference's golden HTML inputs, cycled into bench documents."""
    from ..golden import PROTOCOLS, STRINGS  # noqa: PLC0415
    payloads = [STRINGS[k]["html"] for k in sorted(STRINGS)]
    payloads += [PROTOCOLS[k]["html"] for k in sorted(PROTOCOLS)]
    # the null-byte vector breaks parquet round-trips in some readers;
    # keep corpus printable for the bench path
    return [p.replace("\0", "") for p in payloads]


def _bench_spans_sql(skew_pct: float, skew_factor: int) -> str:
    payloads = golden_payloads()
    payload = (
        f"element_at(array({', '.join(_sql_str(p) for p in payloads)}),"
        f" CAST(_id % {len(payloads)} + 1 AS INT))"
    )
    depth = "CAST(_id % 9 AS INT)"
    base_html = (
        f"concat(repeat('<span>', {depth}), '<p>', text, '</p>', {payload},"
        f" repeat('</span>', {depth}))"
    )
    skew_mod = max(2, int(round(1 / skew_pct)))
    html = (
        f"CASE WHEN _id % {skew_mod} = 0"
        f" THEN concat_ws('<br>', array_repeat({base_html}, {skew_factor}))"
        f" ELSE {base_html} END"
    )
    tail = _text_span(
        f"concat('<b>tail ', CAST({depth} AS STRING), '</b>')",
        "CASE WHEN _id % 2 = 0 THEN 2 ELSE 1 END",
    )
    return (
        f"concat(array({_text_span(html, '0')}),"
        f" CASE WHEN _id % 2 = 0 THEN array({_MEDIA_SPAN}) ELSE {_NO_SPANS} END,"
        f" array({tail}))"
    )


def bench_spans(
    documents: DataFrame,
    skew_pct: float = 0.01,
    skew_factor: int = 50,
    replicate: int = 1,
    n_partitions: int | None = None,
) -> DataFrame:
    """Richer deterministic corpus for benchmarking: golden HTML cycled by
    doc_id, wrapped in <span> nests of depth doc_id%%9, interleaved with
    media spans; ~skew_pct of documents carry a text span repeated
    skew_factor times (the 'giant document' tail)."""
    d = documents.select(
        F.col("doc_id").cast("bigint").alias("_id"), F.col("text")
    )
    if replicate > 1:
        # deterministic corpus scale-up: doc_id' = doc_id*replicate + rep.
        # The testdata parquet is one small file (one input split); a real
        # 100TB corpus arrives pre-split, so simulate that with an explicit
        # fixed-width repartition below.
        reps = F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("_rep")
        d = d.select("*", reps).select(
            (F.col("_id") * replicate + F.col("_rep")).alias("_id"), "text"
        )
    if n_partitions:
        d = d.repartition(n_partitions)
    return d.selectExpr(
        "CAST(_id AS STRING) AS doc_id",
        f"{_bench_spans_sql(skew_pct, skew_factor)} AS spans",
    )
