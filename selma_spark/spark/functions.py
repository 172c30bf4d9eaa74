"""Spark SQL function surface: the engine as registered SQL UDFs.

Gives pure-SQL users the rewrite capability:

    SELECT selma_sanitize(html, 'relaxed') FROM pages
    SELECT selma_extract_text(html) FROM pages

Both are arrow-vectorized pandas UDFs (one Rewriter per (worker, config),
cached module-level — the per-executor handler-table reuse the reference
leaves as a TODO, reference rewriter.rs:330,363)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession

_REWRITER_CACHE: dict = {}


def _rewriter_for(config_name: str):
    rw = _REWRITER_CACHE.get(config_name)
    if rw is None:
        from ..rewriter import Rewriter  # noqa: PLC0415
        from ..sanitizer import BUILTIN_CONFIGS  # noqa: PLC0415

        rw = Rewriter(sanitizer=BUILTIN_CONFIGS[config_name.lower()])
        _REWRITER_CACHE[config_name] = rw
    return rw


def _extractor_rewriter():
    rw = _REWRITER_CACHE.get("__extract__")
    if rw is None:
        from ..extract import TextBreaker  # noqa: PLC0415
        from ..rewriter import Rewriter  # noqa: PLC0415
        from ..sanitizer import DEFAULT  # noqa: PLC0415

        rw = Rewriter(sanitizer=DEFAULT, handlers=[TextBreaker()])
        _REWRITER_CACHE["__extract__"] = rw
    return rw


def _sanitize_impl(html: pd.Series, config: pd.Series) -> pd.Series:
    out = []
    for h, c in zip(html, config):
        if h is None:
            out.append(None)
        elif "<" not in h:
            out.append(h)
        else:
            out.append(_rewriter_for(c or "default").rewrite(h))
    return pd.Series(out)


def _extract_text_impl(html: pd.Series) -> pd.Series:
    out = []
    for h in html:
        if h is None:
            out.append(None)
        elif "<" not in h:
            out.append(h)
        else:
            out.append(_extractor_rewriter().rewrite(h))
    return pd.Series(out)


def _main_content_impl(html: pd.Series) -> pd.Series:
    """DensityTextExtractor.main_text per row. Tag-free text sits in no
    block, so it gives '' (no ``"<" not in h`` identity shortcut here).
    One Rewriter per batch; the extractor's state is reset per row."""
    from ..extract import DensityTextExtractor  # noqa: PLC0415
    from ..rewriter import Rewriter  # noqa: PLC0415

    ex = DensityTextExtractor()
    rw = Rewriter(sanitizer=None, handlers=[ex]).rewrite
    out = []
    for h in html:
        if h is None:
            out.append(None)
        else:
            ex.reset()
            rw(h)
            out.append(ex.main_text)
    return pd.Series(out)


def register_sql_functions(spark: SparkSession) -> None:
    """Register the engine's SQL functions on a session (also ships the
    package to workers)."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    from .shipping import ensure_shipped

    ensure_shipped(spark)
    spark.udf.register("selma_sanitize", pandas_udf(_sanitize_impl, "string"))
    spark.udf.register(
        "selma_extract_text", pandas_udf(_extract_text_impl, "string")
    )
    spark.udf.register(
        "selma_main_content", pandas_udf(_main_content_impl, "string")
    )
