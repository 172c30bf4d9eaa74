"""Driver-facing query catalog: every operator as a (spark, sf_dir) ->
DataFrame callable, plus a DuckDB oracle SQL string where the operator is
ANSI-SQL-expressible.

Column aliases in the Spark plans and oracle SQL match EXACTLY (the
driver's compare sorts columns by name before hashing values).

The interleaved-span construction and its DEFAULT/RELAXED sanitized
outputs are deliberately SQL-expressible (see datagen.py) so the oracle
can verify the *distributed rewrite output values*, not just row counts.
The golden_* queries additionally pin the engine to the reference's own
expected outputs (test/test_helper.rb:38-192) as VALUES literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..golden import PROTOCOLS, STRINGS
from . import layout, simsearch, textops
from .datagen import bench_spans, interleaved_spans
from .multimodal import decoded_resize, media_manifest
from .pipeline import (
    bucketed,
    collect_scoped_text,
    density_extract_stats,
    extract_links,
    rewrite_documents,
    rewritten_text,
    with_doc_bytes,
)
from .textops import MINHASH_SALTS, STOPWORDS


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Parquet source with a SESSION-scoped metadata cache (r6, guide
    §6): a bare ``spark.read.parquet`` re-reads the footer schema and
    rebuilds the file index on EVERY call (~0.13 s each here), which a
    catalog-backed ``spark.table`` would cache per session. Caching the
    lazy DataFrame (a logical plan, no data) removes that repeated
    driver-side metadata work; the scan itself still runs per action.
    Caveat (same as any catalog metadata cache): a path whose files
    change mid-session would serve a stale listing — the engine's
    sources are immutable snapshot dirs."""
    cache = getattr(spark, "_selma_load_cache", None)
    if cache is None:
        cache = {}
        spark._selma_load_cache = cache
    key = (sf_dir, table)
    df = cache.get(key)
    if df is None:
        df = cache[key] = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    return df


def spans_df(spark, sf_dir):
    return interleaved_spans(load(spark, sf_dir, "documents"))


def load_split(spark, sf_dir, table):
    """Like load(), pre-split across the session's parallelism. The
    testdata parquet is ONE file/rowgroup (one input split); a real
    100TB corpus arrives in thousands of splits, so compute-heavy
    queries (shingles + 4x md5 per doc) simulate that with an explicit
    repartition instead of single-tasking the whole table."""
    return load(spark, sf_dir, table).repartition(
        spark.sparkContext.defaultParallelism
    )


# --------------------------------------------------------------------------
# golden corpus through the distributed pipeline
# --------------------------------------------------------------------------

# cases whose input embeds raw control bytes that cannot round-trip
# through a SQL literal for the oracle side
_SQL_UNSAFE_PROTOCOL_CASES = ("protocol_based_js_injection_null_char",)

_CONFIGS = ("default", "restricted", "basic", "relaxed")


def _golden_cases(corpus):
    for case in sorted(corpus):
        if case in _SQL_UNSAFE_PROTOCOL_CASES:
            continue
        yield case, corpus[case]


def q_golden_protocols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The golden PROTOCOLS corpus through the distributed rewrite under
    every built-in config."""
    rows = [
        (case, data["html"]) for case, data in _golden_cases(PROTOCOLS)
    ]
    parts = []
    for config in _CONFIGS:
        docs = spark.createDataFrame(rows, "case_name string, html string").select(
            F.col("case_name").alias("doc_id"),
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.col("html").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).cast("int").alias("offset"),
                )
            ).alias("spans"),
        )
        parts.append(
            rewritten_text(docs, config).select(
                F.col("doc_id").alias("case_name"),
                F.lit(config).alias("config"),
                F.col("out_text").alias("output"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("case_name", "config")


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _golden_oracle(corpus) -> str:
    values = []
    for case, data in _golden_cases(corpus):
        for config in _CONFIGS:
            values.append(
                f"({_sql_quote(case)}, {_sql_quote(config)}, "
                f"{_sql_quote(data[config])})"
            )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(values)
        + ") AS t(case_name, config, output) ORDER BY case_name, config"
    )


# --------------------------------------------------------------------------
# distributed rewrite over the interleaved-span corpus
# --------------------------------------------------------------------------

def q_sanitize_default_roundtrip(spark, sf_dir):
    return rewritten_text(spans_df(spark, sf_dir), "default").orderBy("doc_id")


ORACLE_DEFAULT_ROUNDTRIP = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
  (CASE doc_id % 6
     WHEN 0 THEN ' ' || text || ' '
     WHEN 2 THEN ' ' || text || ' '
     ELSE text END)
  || (CASE WHEN doc_id % 3 = 0 THEN 'ok' ELSE '' END) AS out_text
FROM documents ORDER BY doc_id
"""


def q_media_passthrough(spark, sf_dir):
    out = rewrite_documents(spans_df(spark, sf_dir), "relaxed")
    return (
        out.select("doc_id", F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select("doc_id", F.col("s.media_ref").alias("media_ref"))
        .orderBy("doc_id")
    )


ORACLE_MEDIA_PASSTHROUGH = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       'media://' || doc_id || '/1' AS media_ref
FROM documents WHERE doc_id % 4 = 0 ORDER BY doc_id
"""


def q_relaxed_unchanged_docs(spark, sf_dir):
    """Set-op demo: doc_ids whose RELAXED rewrite equals the input text
    (everything except the wrapper-3 docs, whose <script> is stripped)."""
    docs = spans_df(spark, sf_dir)
    inp = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            "",
        ).alias("out_text"),
    )
    out = rewritten_text(docs, "relaxed")
    changed = inp.exceptAll(out).select("doc_id")
    return (
        docs.select("doc_id").exceptAll(changed).orderBy("doc_id")
    )


ORACLE_RELAXED_UNCHANGED = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents
WHERE doc_id % 6 <> 3 ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# text-analytics / training-data ops (SQL-parity oracles)
# --------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return textops.dedup_exact(load(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS n_dups,
       min(doc_id) AS keeper_doc_id
FROM documents GROUP BY 1 ORDER BY 1
"""


def q_token_counts(spark, sf_dir):
    return textops.token_counts(load(spark, sf_dir, "documents"))


ORACLE_TOKEN_COUNTS = """
SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
FROM documents ORDER BY doc_id
"""


_DUCK_SHINGLES = """
CASE WHEN len(toks) >= 3
     THEN list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
     ELSE [array_to_string(toks, ' ')] END
"""


def q_minhash_signatures(spark, sf_dir):
    return textops.minhash_signatures(load(spark, sf_dir, "documents"))


_MH_COLS = ", ".join(
    f"list_min(list_transform(sh, x -> md5('{salt}' || x))) AS mh{i}"
    for i, salt in enumerate(MINHASH_SALTS)
)

ORACLE_MINHASH = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM t)
SELECT doc_id, {_MH_COLS} FROM s ORDER BY doc_id
"""


# multi-band (b=4, r=1) candidate generation with the bucket-size cap
# mirrored from textops.lsh_bands (buckets > 50 docs dropped pre-join)
_DUCK_LSH_BANDS = f"""
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, {{shingles}} AS sh FROM t),
sig AS (SELECT doc_id,
        {", ".join(f"list_min(list_transform(sh, x -> md5('s{i}' || x))) AS mh{i}" for i in range(4))}
        FROM s),
bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {i} AS band_id, mh{i} AS band_val FROM sig" for i in range(4))}),
kept AS (
  SELECT doc_id, band_id, band_val FROM bands
  QUALIFY count(*) OVER (PARTITION BY band_id, band_val) <= 50)
"""


def q_near_dup_verified(spark, sf_dir):
    return textops.near_dup_verified(load_split(spark, sf_dir, "documents"))


ORACLE_NEAR_DUP_VERIFIED = f"""
WITH {_DUCK_LSH_BANDS.format(shingles=_DUCK_SHINGLES)},
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id),
dsh AS (SELECT doc_id, list_distinct(sh) AS dsh FROM s),
scored AS (
  SELECT c.doc_a, c.doc_b,
    round(CAST(len(list_filter(a.dsh, x -> list_contains(b.dsh, x))) AS DOUBLE)
          / len(list_distinct(list_concat(a.dsh, b.dsh))), 4) AS jaccard
  FROM cands c
  JOIN dsh a ON a.doc_id = c.doc_a
  JOIN dsh b ON b.doc_id = c.doc_b)
SELECT doc_a, doc_b, jaccard FROM scored
WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b
"""


def q_simhash(spark, sf_dir):
    return textops.simhash64(load(spark, sf_dir, "documents"))


def _simhash_weight_sql(j: int) -> str:
    # bit 63's weight is INT64_MIN, written as an expression because the
    # bare literal -9223372036854775808 fails to parse (unary minus binds
    # after the out-of-range positive literal)
    return str(1 << j) if j < 63 else "(-9223372036854775807 - 1)"


# mirror of textops._SIMHASH64_EXPR: digs = per-token 16 md5 hex-digit
# values (md5 computed once per token); simhash bit j = majority vote of
# bit (j % 4) of digit (j // 4 + 1). The >> & 1 arithmetic is identical
# in both engines for the non-negative digit values.
_SIMHASH_BITS_SQL = " + ".join(
    f"(CASE WHEN 2 * len(list_filter(digs, dv -> ((dv[{j // 4 + 1}] >> {j % 4}) & 1) = 1)) "
    f"> n THEN {_simhash_weight_sql(j)} ELSE 0 END)"
    for j in range(64)
)

_SIMHASH_DIGS_SQL = """
d AS (SELECT doc_id, len(toks) AS n,
        list_transform(
          list_transform(toks, s -> md5(s)),
          h -> list_transform(range(1, 17),
                 i -> strpos('0123456789abcdef', substr(h, i, 1)) - 1)) AS digs
      FROM t)
"""

ORACLE_SIMHASH = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
{_SIMHASH_DIGS_SQL}
SELECT doc_id, CAST({_SIMHASH_BITS_SQL} AS BIGINT) AS simhash
FROM d ORDER BY doc_id
"""


def q_lang_id_trigram(spark, sf_dir):
    """Corpus-profile char-trigram language ID (Cavnar-Trenkle style):
    per-lang top-64 document-frequent trigram profiles, broadcast into
    per-document overlap scoring."""
    return textops.lang_id_trigram(load(spark, sf_dir, "documents"))


# mirrors textops.lang_id_trigram: distinct char trigrams, per-lang
# top-64 by document frequency (ties lexicographic), overlap fraction,
# argmax with smallest-lang tie-break, 'und' for trigram-less docs
_DUCK_TRIGRAMS = """
CASE WHEN length(coalesce(text, '')) >= 3
     THEN list_distinct(list_transform(
            range(1, length(coalesce(text, '')) - 1),
            i -> substr(text, i, 3)))
     ELSE [] END
"""

ORACLE_LANG_ID_TRIGRAM = f"""
WITH tg AS (
  SELECT doc_id, lang, u.tg
  FROM (SELECT doc_id, lang, {_DUCK_TRIGRAMS} AS l FROM documents),
       UNNEST(l) AS u(tg)),
dfreq AS (SELECT lang, tg, count(*) AS df FROM tg GROUP BY 1, 2),
prof AS (
  SELECT lang, tg FROM (
    SELECT lang, tg,
           row_number() OVER (PARTITION BY lang ORDER BY df DESC, tg) AS rk
    FROM dfreq) WHERE rk <= 64),
doc_n AS (SELECT doc_id, count(*) AS n_tg FROM tg GROUP BY 1),
hits AS (
  SELECT t.doc_id, p.lang,
         round(count(*) / CAST(min(n.n_tg) AS DOUBLE), 9) AS score
  FROM tg t
  JOIN prof p ON t.tg = p.tg
  JOIN doc_n n ON n.doc_id = t.doc_id
  GROUP BY 1, 2),
best AS (SELECT doc_id, max(score) AS b FROM hits GROUP BY 1),
pred AS (
  SELECT h.doc_id, min(h.lang) AS pred_lang
  FROM hits h JOIN best b ON h.doc_id = b.doc_id AND h.score = b.b
  GROUP BY 1)
SELECT d.doc_id, coalesce(p.pred_lang, 'und') AS pred_lang
FROM documents d LEFT JOIN pred p USING (doc_id) ORDER BY doc_id
"""


def q_layout_reading_order(spark, sf_dir):
    """PDF/layout-parse leg: mapInPandas block parse (stub parser,
    deterministic fake layout) -> reading-order span assembly."""
    docs = load(spark, sf_dir, "documents")
    spans = layout.reading_order_spans(layout.layout_blocks(docs))
    return spans.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size("spans").alias("n_blocks"),
        F.array_join(
            F.transform("spans", lambda s: F.coalesce(s["text"], s["media_ref"])),
            "|",
        ).alias("reading_order"),
    ).orderBy("doc_id")


def q_decoded_layout(spark, sf_dir):
    """REAL PDF parse leg (de-stubbed r5, VERDICT r4 #5): per document,
    synthesize a deterministic spec-conformant PDF (uncompressed content
    streams + a shared grayscale image XObject), parse it with the real
    dependency-free xref/content-stream parser (layout.parse_pdf_bytes),
    and aggregate reading-order facts. The oracle reproduces every
    value arithmetically — including the image XObject's actual
    stream-byte sum inside media_ref — so the driver row pins real
    byte-level parsing, not plumbing."""
    return layout.decoded_layout(load(spark, sf_dir, "documents"))


ORACLE_DECODED_LAYOUT = """
WITH pages AS (
  SELECT doc_id AS d, CAST(u.p AS BIGINT) AS p
  FROM documents, UNNEST(range(0, 1 + doc_id % 2)) AS u(p)),
tb AS (
  SELECT d, p,
         92 + 40*j + (d + p) % 25 AS y,
         36 + (d*7 + p*13 + j*29) % 400 AS x,
         'Doc ' || d || ' (p' || p || ' b' || j || ')' AS t
  FROM (SELECT d, p, CAST(u.j AS BIGINT) AS j
        FROM pages, UNNEST(range(0, 2 + (d + p) % 3)) AS u(j))),
ib AS (
  SELECT d, p,
         672 - (d*3) % 50 AS y,
         36 + (d*11 + p*17) % 300 AS x,
         'Im0:' || (8 + d % 16) || 'x' || (8 + (d*3) % 16) || ':' ||
           (3*(8 + (d*3)%16)*(8 + d%16)*(7 + d%16)//2
            + 5*(8 + d%16)*(8 + (d*3)%16)*(7 + (d*3)%16)//2
            + (8 + d%16)*(8 + (d*3)%16)*(d%16)) AS t
  FROM pages WHERE (d + p) % 4 = 0),
b AS (SELECT * FROM tb UNION ALL SELECT * FROM ib)
SELECT d AS doc_id,
  CAST(max(p) + 1 AS BIGINT) AS n_pages,
  count(*) AS n_blocks,
  string_agg(t, '|' ORDER BY p, y, x) AS reading_order,
  CAST(sum((p + 1) * (y * 1000 + x)) AS BIGINT) AS coord_sum
FROM b GROUP BY d ORDER BY d
"""


ORACLE_LAYOUT_READING_ORDER = """
WITH b AS (
  SELECT d.doc_id, CAST(u.j AS BIGINT) AS j,
         CAST(u.j // 2 AS BIGINT) AS page_no,
         (u.j * 37 + d.doc_id) % 100 AS y,
         (u.j * 53 + d.doc_id) % 50 AS x
  FROM documents d, UNNEST(range(0, 3 + d.doc_id % 3)) AS u(j))
SELECT doc_id, CAST(count(*) AS INT) AS n_blocks,
  string_agg(
    CASE WHEN (doc_id + j) % 5 = 0
         THEN 'media://' || doc_id || '/p' || page_no || 'b' || j
         ELSE 'block ' || j || ' of ' || doc_id END,
    '|' ORDER BY page_no, y, x, j) AS reading_order
FROM b GROUP BY doc_id ORDER BY doc_id
"""


def q_rolling_fingerprints(spark, sf_dir):
    return textops.rolling_fingerprints(load(spark, sf_dir, "documents"))


# literal coefficients = 131^4..131^0, modulus 1000003, window 5,
# selection hash % 16 == 0 — identical int64 arithmetic to the Spark plan
ORACLE_ROLLING_FP = """
WITH h AS (
  SELECT doc_id,
    CASE WHEN length(coalesce(text, '')) >= 5 THEN
      list_transform(range(1, length(coalesce(text, '')) - 3),
        i -> (CAST(ascii(substr(text, i, 1)) AS BIGINT) * 294499921
            + ascii(substr(text, i + 1, 1)) * 2248091
            + ascii(substr(text, i + 2, 1)) * 17161
            + ascii(substr(text, i + 3, 1)) * 131
            + ascii(substr(text, i + 4, 1))) % 1000003)
    ELSE [] END AS hashes
  FROM documents)
SELECT doc_id, len(hashes) AS n_windows,
       len(list_filter(hashes, x -> x % 16 = 0)) AS n_fp,
       list_min(list_filter(hashes, x -> x % 16 = 0)) AS min_fp,
       list_max(list_filter(hashes, x -> x % 16 = 0)) AS max_fp
FROM h ORDER BY doc_id
"""


def q_embedding_near_dup(spark, sf_dir):
    # pre-split: the in-bucket pair join + 64-dim dot products are the
    # heaviest embedding op and the testdata parquet is one split
    return simsearch.near_dup_cosine(load_split(spark, sf_dir, "embeddings"))


def _near_dup_cosine_oracle() -> str:
    bucket_sql = (
        "(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)"
        " + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)"
        " + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)"
        " + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)"
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
                  {bucket_sql} AS bucket FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  round(list_dot_product(a.emb, b.emb)
        / (sqrt(list_dot_product(a.emb, a.emb))
           * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cosine
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.emb, b.emb)
        / (sqrt(list_dot_product(a.emb, a.emb))
           * sqrt(list_dot_product(b.emb, b.emb))), 4) >= 0.4
ORDER BY cosine DESC, vec_a, vec_b
"""


def q_largest_docs_by_lang(spark, sf_dir):
    """Window/top-k: 3 largest documents per language (skew report)."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    )


ORACLE_LARGEST_DOCS = """
SELECT lang, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents) WHERE rn <= 3 ORDER BY lang, doc_id
"""


def q_golden_sql_udf(spark, sf_dir):
    """The golden STRINGS corpus through the registered `selma_sanitize`
    SQL function — pins the SQL-UDF surface to the same reference
    constants as the pipeline path."""
    from .functions import register_sql_functions

    register_sql_functions(spark)
    rows = []
    for case, data in _golden_cases(STRINGS):
        for config in _CONFIGS:
            rows.append((case, config, data["html"]))
    df = spark.createDataFrame(rows, "case_name string, config string, html string")
    df.createOrReplaceTempView("golden_inputs")
    return spark.sql(
        "SELECT case_name, config, selma_sanitize(html, config) AS output "
        "FROM golden_inputs ORDER BY case_name, config"
    )


def q_user_sessions(spark, sf_dir):
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds 30 minutes. Both windows are PARTITIONED by
    user_id (lag + running sum) — no global sort; per-session rollup is
    one more user-partitioned shuffle."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ: compare the interval difference directly
    # (no epoch cast — NTZ refuses numeric casts, and tz offsets would
    # cancel anyway)
    new_sess = F.when(
        F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES"),
        1,
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


ORACLE_USER_SESSIONS = """
WITH marked AS (
  SELECT user_id, event_id, ts,
    CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) > 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id, ts,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sess GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_event_window_rollup(spark, sf_dir):
    """Tumbling-window rollup over the events table: event count and
    value sum per (10-minute window, event_type), with decimal sums for
    exact cross-engine equality."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_s"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            F.col("_s").cast("string").alias("value_sum"),
        )
        .orderBy("window_start", "event_type")
    )


ORACLE_EVENT_WINDOW = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS value_sum
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# similarity search over embeddings
# --------------------------------------------------------------------------

def q_embedding_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    qv = simsearch.query_vector(spark, emb, 0)
    return simsearch.topk_cosine(emb, qv, k=10, exclude_vec_id=0)


ORACLE_EMBEDDING_TOPK = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
           WHERE vec_id = 0)
SELECT e.vec_id,
  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
        / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                 CAST(e.embedding AS DOUBLE[])))
           * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cosine
FROM embeddings e, q WHERE e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id LIMIT 10
"""


def q_embedding_topk_lsh(spark, sf_dir):
    """ANN variant: brute-force restricted to the query's sign-LSH
    bucket (the candidate-pruning scale path; recall<1 by design but
    deterministic, so SQL-checkable)."""
    emb = load(spark, sf_dir, "embeddings")
    qv = simsearch.query_vector(spark, emb, 0)
    return simsearch.topk_cosine_lsh(emb, qv, k=10, exclude_vec_id=0)


def _lsh_topk_oracle() -> str:
    bucket_sql = (
        "(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)"
        " + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)"
        " + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)"
        " + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)"
    )
    return f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe, {bucket_sql} AS qb
           FROM embeddings WHERE vec_id = 0),
c AS (SELECT e.*, q.qe FROM embeddings e, q WHERE {bucket_sql} = q.qb)
SELECT vec_id,
  round(list_dot_product(CAST(embedding AS DOUBLE[]), qe)
        / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])))
           * sqrt(list_dot_product(qe, qe))), 4) AS cosine
FROM c WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 10
"""


# --------------------------------------------------------------------------
# multimodal
# --------------------------------------------------------------------------

def q_media_manifest(spark, sf_dir):
    return media_manifest(spans_df(spark, sf_dir))


ORACLE_MEDIA_MANIFEST = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       'media://' || doc_id || '/1' AS media_ref,
       CASE WHEN substr(md5('media://' || doc_id || '/1'), 1, 1)
                 IN ('0','1','2','3','4','5') THEN 'image/jpeg'
            WHEN substr(md5('media://' || doc_id || '/1'), 1, 1)
                 IN ('6','7','8','9','a') THEN 'audio/wav'
            ELSE 'video/mp4' END AS mime
FROM documents WHERE doc_id % 4 = 0 ORDER BY doc_id, media_ref
"""


def q_decoded_resize(spark, sf_dir):
    """De-stubbed multimodal path: REAL BMP decode -> nearest-neighbor
    resize -> position-weighted pixel checksum of the resized image
    (each ref's deterministic BMP payload is synthesized, then parsed by
    the real dependency-free decoder — the oracle recomputes every
    checksum from the pixel formula, pinning actual output pixels)."""
    return decoded_resize(spans_df(spark, sf_dir)).orderBy("media_ref")


# dims w=4+hex0, h=4+hex1, seed=byte1 of md5(ref); aspect-fit into 8px;
# NN sample sx=(x*w)//nw, sy=(y*h)//nh; channels affine in (sx,sy,seed)
# mod 256; checksum position-weighted so pixel ORDER is pinned too
ORACLE_DECODED_RESIZE = """
WITH m AS (
  SELECT 'media://' || doc_id || '/1' AS media_ref FROM documents
  WHERE doc_id % 4 = 0),
hh AS (SELECT media_ref, md5(media_ref) AS hx FROM m
       WHERE substr(md5(media_ref), 1, 1) IN ('0','1','2','3','4','5')),
img AS (
  SELECT media_ref,
    3 + strpos('0123456789abcdef', substr(hx, 1, 1)) AS w,
    3 + strpos('0123456789abcdef', substr(hx, 2, 1)) AS ht,
    (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
      + strpos('0123456789abcdef', substr(hx, 4, 1)) - 1 AS seed
  FROM hh),
fit AS (
  SELECT media_ref, w, ht, seed,
    CASE WHEN greatest(w, ht) <= 8 THEN w
         ELSE w * 8 // greatest(w, ht) END AS nw,
    CASE WHEN greatest(w, ht) <= 8 THEN ht
         ELSE ht * 8 // greatest(w, ht) END AS nh
  FROM img),
px AS (
  SELECT media_ref, w, ht, nw, nh,
    CAST(uy.y AS BIGINT) AS y, CAST(ux.x AS BIGINT) AS x,
    (CAST(ux.x AS BIGINT) * w) // nw AS sx,
    (CAST(uy.y AS BIGINT) * ht) // nh AS sy, seed
  FROM fit, UNNEST(range(0, nh)) AS uy(y), UNNEST(range(0, nw)) AS ux(x))
SELECT media_ref, CAST(w AS INT) AS width, CAST(ht AS INT) AS height,
  CAST(nw AS INT) AS new_width, CAST(nh AS INT) AS new_height,
  CAST(sum((y * nw + x + 1) * ((sx*7 + sy*13 + seed) % 256
       + 2 * ((sx*11 + sy*3 + seed) % 256)
       + 4 * ((sx*5 + sy*17 + seed) % 256))) AS BIGINT) AS checksum
FROM px GROUP BY 1, 2, 3, 4, 5 ORDER BY media_ref
"""


# --------------------------------------------------------------------------
# flagship extraction (rows-only: HTML rewriting is not SQL-expressible)
# --------------------------------------------------------------------------

def _extract_handlers():
    from ..extract import ContentExtractor  # noqa: PLC0415

    return [ContentExtractor()]


def q_byte_weighted_buckets(spark, sf_dir):
    """Explicit skew handling: byte-weighted greedy-LPT bucketing of the
    span corpus (1%% of docs are 50x base size at bench scale); per-bucket
    doc counts and byte sums must balance."""
    docs = spans_df(spark, sf_dir)
    b = bucketed(docs, 8, byte_weighted=True)
    return (
        with_doc_bytes(b)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"), F.sum("_bytes").alias("sum_bytes"))
        .orderBy("bucket")
    )


# doc bytes = strlen(text) (UTF-8 bytes, like Spark's octet_length) +
# wrapper overhead (by doc_id%%6) + 11 ('<em>ok</em>') when doc_id%%3=0;
# media spans carry NULL text. The deal is the
# stratified-salted LPT from pipeline.bucketed: stratum = digit count of
# bytes, salt = first md5 hex digit of doc_id, row_number within
# (stratum, salt) over (bytes DESC, doc_id ASC), bucket =
# (rn - 1 + stratum*16 + salt) %% 8.
ORACLE_BYTE_BUCKETS = """
WITH sized AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
    strlen(text)
      + (CASE doc_id % 6 WHEN 0 THEN 11 WHEN 1 THEN 7 WHEN 2 THEN 17
                         WHEN 3 THEN 25 WHEN 4 THEN 34 ELSE 30 END)
      + (CASE WHEN doc_id % 3 = 0 THEN 11 ELSE 0 END) AS bytes
  FROM documents),
keyed AS (
  SELECT doc_id, bytes,
         length(CAST(bytes AS VARCHAR)) AS stratum,
         strpos('0123456789abcdef', substr(md5(doc_id), 1, 1)) - 1 AS salt
  FROM sized),
ranked AS (
  SELECT bytes, stratum, salt,
         row_number() OVER (PARTITION BY stratum, salt
                            ORDER BY bytes DESC, doc_id) AS rn
  FROM keyed)
SELECT CAST((rn - 1 + stratum * 16 + salt) % 8 AS INT) AS bucket,
       count(*) AS n_docs,
       CAST(sum(bytes) AS BIGINT) AS sum_bytes
FROM ranked GROUP BY 1 ORDER BY 1
"""


def q_extract_links(spark, sf_dir):
    """Attribute-selector handler surface through the distributed path:
    every a[href] collected per document."""
    return extract_links(spans_df(spark, sf_dir)).orderBy("doc_id")


# only the doc_id%6==4 wrapper carries an <a href>; nothing else in the
# interleaved corpus produces anchors
ORACLE_EXTRACT_LINKS = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(CASE WHEN doc_id % 6 = 4 THEN 1 ELSE 0 END AS INT) AS n_links,
       CASE WHEN doc_id % 6 = 4 THEN 'http://example.com/' ELSE '' END
         AS hrefs_csv
FROM documents ORDER BY doc_id
"""


def _single_text_span_docs(docs, html):
    """(doc_id string, spans) frame wrapping one synthesized text span."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                html.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )


def q_text_within_ignore(spark, sf_dir):
    """match_text_within + ignore_text_within dispatch end-to-end: text
    chunks within <div> are collected EXCEPT those inside a nested <b>
    subtree (indirect-ancestor suppression). HTML synthesized from
    doc_id/text JVM-side; the kept chunk set is deterministic."""
    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<div>"), F.col("text"),
        F.lit("<b>secret "), did, F.lit("</b>"),
        F.lit("<i>seen "), did, F.lit("</i>"),
        F.lit("</div><p>outside "), did, F.lit("</p>"),
    )
    return collect_scoped_text(_single_text_span_docs(docs, html)).orderBy(
        "doc_id"
    )


# chunks within the div: the document text, then "seen {id}" (the <i>
# does not suppress); "secret {id}" is inside <b> -> ignored; "outside
# {id}" is not within any div -> never dispatched
ORACLE_TEXT_WITHIN_IGNORE = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(2 AS INT) AS n_chunks,
       text || '|seen ' || doc_id AS chunks_csv
FROM documents ORDER BY doc_id
"""


def q_main_content_density(spark, sf_dir):
    """DOM-heuristics leg: boilerpipe-style link-density main-content
    extraction over the interleaved corpus."""
    return density_extract_stats(spans_df(spark, sf_dir)).orderBy("doc_id")


# The interleaved corpus is wrapper-deterministic: only the doc_id%6 in
# (0,2) wrappers (<div>/<p>) open a block element, the block's text is
# exactly the document text, link density is 0, and the block is kept
# iff len(trim(text)) >= 60 (DensityTextExtractor defaults). All other
# wrappers (b/a/span/script-suffix) never open a block -> 0 blocks.
ORACLE_MAIN_CONTENT_DENSITY = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(CASE WHEN doc_id % 6 IN (0, 2)
                  AND length(trim(text)) >= 60 THEN 1 ELSE 0 END AS INT)
         AS n_blocks,
       CAST(CASE WHEN doc_id % 6 IN (0, 2)
                  AND length(trim(text)) >= 60
                 THEN length(trim(text)) ELSE 0 END AS BIGINT)
         AS main_chars
FROM documents ORDER BY doc_id
"""


def q_extract_flagship(spark, sf_dir):
    """RELAXED sanitize + boilerplate-strip over the bench corpus
    (golden fixture HTML embedded in nested spans + skew tail)."""
    docs = bench_spans(load(spark, sf_dir, "documents"))
    out = rewrite_documents(docs, "relaxed", handlers_factory=_extract_handlers)
    return out.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.aggregate(
            "spans", F.lit(0).cast("bigint"),
            lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
        ).alias("out_chars"),
    ).orderBy("doc_id")


def _flagship_constants():
    """Per-document-class (payload p, nest depth k, skew s) constants for
    the flagship oracle: expected out_chars = C + M * len(text) + 0.

    The bench corpus embeds the document text inside a fixed HTML shell
    (datagen.bench_spans); the text itself is plain ASCII prose (no
    '<'/'&'), so the RELAXED+ContentExtractor output length is affine in
    len(text). C and M are measured by probing the pure-Python core —
    which is pinned byte-identical to the reference by the golden
    corpus — with two text lengths, and spot-checked with a third
    (linearity assert). span2's contribution ('tail {k}') folds into C."""
    from ..extract import ContentExtractor  # noqa: PLC0415
    from ..rewriter import Rewriter  # noqa: PLC0415
    from .datagen import golden_payloads  # noqa: PLC0415
    from .pipeline import resolve_config  # noqa: PLC0415

    payloads = golden_payloads()
    cfg = resolve_config("relaxed")

    def out_len(html: str) -> int:
        r = Rewriter(sanitizer=cfg, handlers=[ContentExtractor()])
        return len(r.rewrite(html))

    def doc_out(p: int, k: int, skew: bool, text: str) -> int:
        base = (
            "<span>" * k + "<p>" + text + "</p>" + payloads[p] + "</span>" * k
        )
        html = "<br>".join([base] * 50) if skew else base
        return out_len(html) + out_len(f"<b>tail {k}</b>")

    rows = []
    for p in range(len(payloads)):
        for k in range(9):
            for s in (0, 1):
                c0 = doc_out(p, k, bool(s), "")
                c4 = doc_out(p, k, bool(s), "xxxx")
                assert (c4 - c0) % 4 == 0, (p, k, s, c0, c4)
                m = (c4 - c0) // 4
                if (p * 9 + k) % 13 == 0:  # spot-check linearity
                    assert doc_out(p, k, bool(s), "z" * 9) == c0 + 9 * m, (p, k, s)
                rows.append((p, k, s, c0, m))
    return len(payloads), rows


def _flagship_oracle() -> str:
    n_payloads, rows = _flagship_constants()
    values = ",".join(f"({p},{k},{s},{c},{m})" for p, k, s, c, m in rows)
    return f"""
WITH cls(p, k, s, c, m) AS (VALUES {values}),
d AS (SELECT doc_id AS id, length(text) AS tl FROM documents)
SELECT CAST(id AS VARCHAR) AS doc_id,
       CAST(2 + (CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END) AS INT) AS n_spans,
       CAST(c + m * tl AS BIGINT) AS out_chars
FROM d JOIN cls ON cls.p = id % {n_payloads} AND cls.k = id % 9
     AND cls.s = (CASE WHEN id % 100 = 0 THEN 1 ELSE 0 END)
ORDER BY doc_id
"""


def q_top_terms(spark, sf_dir):
    """Per-doc top-3 salient terms, BM25-ish rational idf."""
    return textops.top_terms_tfidf(load(spark, sf_dir, "documents"))


ORACLE_TOP_TERMS = """
WITH terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS nd FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * (n.nd - df.df + 0.5) / (df.df + 0.5) AS score
  FROM tf JOIN df ON tf.term = df.term, n),
ranked AS (
  SELECT doc_id, term, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rk
  FROM scored)
SELECT doc_id, CAST(rk AS INT) AS rk, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       round(score, 4) AS score
FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk
"""


def q_near_dup_clusters(spark, sf_dir):
    """Connected components over the LSH near-dup graph (min-label
    propagation to fixpoint); cluster_id = keeper doc_id."""
    return textops.near_dup_clusters(load_split(spark, sf_dir, "documents"))


ORACLE_NEAR_DUP_CLUSTERS = f"""
WITH RECURSIVE {_DUCK_LSH_BANDS.format(shingles=_DUCK_SHINGLES)},
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cands
  UNION ALL SELECT doc_b, doc_a FROM cands),
verts AS (SELECT DISTINCT src AS doc FROM edges),
reach(doc, lab) AS (
  SELECT doc, doc FROM verts
  UNION
  SELECT e.src, r.lab FROM reach r JOIN edges e ON e.dst = r.doc)
SELECT doc AS doc_id, min(lab) AS cluster_id
FROM reach GROUP BY 1 ORDER BY 1
"""


def q_chunk_documents(spark, sf_dir):
    """Token-window chunking (128-token windows, 16 overlap)."""
    return textops.chunk_documents(load(spark, sf_dir, "documents"))


ORACLE_CHUNKS = r"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
c AS (
  SELECT doc_id, n,
    greatest(1, CAST(ceil((n - 16) / CAST(112 AS DOUBLE)) AS INT)) AS n_chunks
  FROM t)
SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
       CAST(least(128, n - u.i * 112) AS INT) AS n_tokens
FROM c, UNNEST(range(0, n_chunks)) AS u(i)
ORDER BY doc_id, chunk_id
"""


def q_redact_pii(spark, sf_dir):
    """PII scrub: email + long-digit-run redaction counts."""
    return textops.redact_pii(load(spark, sf_dir, "documents"))


ORACLE_REDACT = r"""
WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
    AS n_emails,
  CAST(len(regexp_extract_all(
        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '[0-9]{9,}')) AS INT) AS n_longnums,
  CAST(length(regexp_replace(
        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '[0-9]{9,}', '<NUM>', 'g')) AS INT) AS redacted_chars
FROM d ORDER BY doc_id
"""


def q_corpus_keep_list(spark, sf_dir):
    """Composed training-data filter: exact-dedup keeper + min token
    count + stopword-ratio cap, in one pass + one shuffle."""
    return textops.corpus_keep_list(load(spark, sf_dir, "documents"))


_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)

ORACLE_KEEP_LIST = f"""
WITH scored AS (
  SELECT doc_id, md5(text) AS h,
    len(string_split(text, ' ')) AS n_tokens,
    CAST(len(list_filter(string_split(text, ' '),
         t -> t IN ({_STOP_SQL}))) AS DOUBLE)
      / len(string_split(text, ' ')) AS stop_ratio
  FROM documents),
keepers AS (SELECT h, min(doc_id) AS doc_id FROM scored GROUP BY h)
SELECT s.doc_id, CAST(s.n_tokens AS INT) AS n_tokens
FROM scored s JOIN keepers k ON s.h = k.h AND s.doc_id = k.doc_id
WHERE s.n_tokens >= 20 AND s.stop_ratio <= 0.5
ORDER BY s.doc_id
"""


def _duck_md5_byte(i: int) -> str:
    """DuckDB expression for byte i of the md5 hex digest ``hx`` as an
    integer."""
    d1 = f"substr(hx, {2 * i + 1}, 1)"
    d2 = f"substr(hx, {2 * i + 2}, 1)"
    return (
        f"((strpos('0123456789abcdef', {d1}) - 1) * 16"
        f" + strpos('0123456789abcdef', {d2}) - 1)"
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language Bernoulli corpus sampling (md5-hash
    membership — reproducible across runs/partitionings/engines)."""
    return textops.stratified_sample(load(spark, sf_dir, "documents"))


def _stratified_sample_oracle() -> str:
    from .textops import SAMPLE_DEFAULT_RATE, SAMPLE_RATES  # noqa: PLC0415

    # u = first 32 md5 bits of CAST(doc_id AS VARCHAR), via 4 hex-byte
    # extractions
    u = " + ".join(
        f"{_duck_md5_byte(i)} * {1 << (8 * (3 - i))}" for i in range(4)
    )
    case = "CASE "
    for lang, rate in sorted(SAMPLE_RATES.items()):
        case += f"WHEN lang = '{lang}' THEN {int(rate * (1 << 32))} "
    case += f"ELSE {int(SAMPLE_DEFAULT_RATE * (1 << 32))} END"
    return f"""
WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx
           FROM documents)
SELECT doc_id, lang FROM h
WHERE {u} < {case}
ORDER BY doc_id
"""


def q_salted_lang_counts(spark, sf_dir):
    """Explicit two-stage salted aggregation (hot-key spreading) with a
    deterministic salt so the per-salt partial count is value-checked."""
    return textops.salted_lang_counts(load(spark, sf_dir, "documents"))


ORACLE_SALTED_LANG_COUNTS = """
WITH staged AS (
  SELECT lang, doc_id % 8 AS salt,
         count(*) AS n, sum(length(text)) AS c
  FROM documents GROUP BY 1, 2)
SELECT lang, CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(sum(c) AS BIGINT) AS sum_chars,
       count(*) AS n_salt_parts
FROM staged GROUP BY 1 ORDER BY 1
"""


_DUCK_IVF_ASSIGN = """
c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb
      FROM embeddings WHERE vec_id < 16),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
scored AS (
  SELECT e.vec_id, c.cid,
    round(list_dot_product(emb, cemb)
      / (sqrt(list_dot_product(emb, emb))
         * sqrt(list_dot_product(cemb, cemb))), 9) AS cos
  FROM e, c),
best AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cid) AS rn
    FROM scored) WHERE rn = 1)
"""


def q_embedding_topk_ivf(spark, sf_dir):
    """IVF ANN top-k: probe the 4 cells nearest the query, brute-force
    cosine inside them (recall < 1 by design, deterministic)."""
    return simsearch.topk_cosine_ivf(load(spark, sf_dir, "embeddings"))


ORACLE_EMBEDDING_TOPK_IVF = f"""
WITH {_DUCK_IVF_ASSIGN},
probe AS (
  SELECT cid FROM scored WHERE vec_id = 0 ORDER BY cos DESC, cid LIMIT 4),
q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0)
SELECT b.vec_id,
  round(list_dot_product(e.emb, q.qemb)
        / (sqrt(list_dot_product(e.emb, e.emb))
           * sqrt(list_dot_product(q.qemb, q.qemb))), 4) AS cosine
FROM best b
JOIN probe p ON b.cid = p.cid
JOIN e ON e.vec_id = b.vec_id, q
WHERE b.vec_id <> 0
ORDER BY cosine DESC, b.vec_id LIMIT 10
"""


def q_kmeans_refined_assign(spark, sf_dir):
    """IVF assignment against Lloyd-REFINED centroids (5 full
    assign+recompute rounds from the deterministic seeds — VERDICT r3
    #2). Pins per-vector cell AND cosine-to-refined-centroid."""
    return simsearch.kmeans_refined_assign(load(spark, sf_dir, "embeddings"))


_KMEANS_COS9 = (
    "round(list_dot_product(emb, cemb)"
    " / (sqrt(list_dot_product(emb, emb))"
    " * sqrt(list_dot_product(cemb, cemb))), 9)"
)


def _kmeans_cte_prefix(rounds: int) -> str:
    """Unrolled Lloyd refinement as a WITH-prefix: round r = argmax-
    cosine assignment against c{r-1} + 6-decimal mean recompute into
    c{r}, mirroring simsearch.kmeans_refine's rounding discipline
    exactly (cosine rounded to 9 BEFORE the argmax, centroid components
    to 6). Leaves c{rounds} as the refined centroid table."""
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb"
        " FROM embeddings),\n"
        "c0 AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16)"
    ]
    for r in range(rounds):
        parts.append(f""",
a{r + 1} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_KMEANS_COS9} DESC, c.cid) AS rn
    FROM e, c{r} c) WHERE rn = 1),
c{r + 1} AS (
  SELECT cid, list(c ORDER BY dimn) AS cemb FROM (
    SELECT a.cid, CAST(u.d AS INT) AS dimn, round(avg(e.emb[u.d + 1]), 6) AS c
    FROM a{r + 1} a JOIN e ON e.vec_id = a.vec_id,
         UNNEST(range(0, 64)) AS u(d)
    GROUP BY 1, 2) GROUP BY cid)""")
    return "".join(parts)


def _kmeans_refined_oracle(rounds: int | None = None) -> str:
    if rounds is None:
        rounds = simsearch.KMEANS_ROUNDS
    return f"""{_kmeans_cte_prefix(rounds)}
SELECT vec_id, cid, round({_KMEANS_COS9}, 4) AS cosine FROM (
  SELECT e.vec_id, c.cid, e.emb, c.cemb,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_KMEANS_COS9} DESC, c.cid) AS rn
  FROM e, c{rounds} c) WHERE rn = 1 ORDER BY vec_id"""


def q_embedding_topk_ivf_refined(spark, sf_dir):
    """IVF ANN top-k probing the Lloyd-refined quantizer (nprobe=4;
    refined index quality, identical plan shape to embedding_topk_ivf)."""
    return simsearch.topk_cosine_ivf_refined(load(spark, sf_dir, "embeddings"))


def _ivf_refined_topk_oracle(rounds: int | None = None) -> str:
    if rounds is None:
        rounds = simsearch.KMEANS_ROUNDS
    return f"""{_kmeans_cte_prefix(rounds)},
scoredN AS (
  SELECT e.vec_id, c.cid, e.emb, {_KMEANS_COS9} AS cos
  FROM e, c{rounds} c),
bestN AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cid) AS rn
    FROM scoredN) WHERE rn = 1),
probe AS (
  SELECT cid FROM scoredN WHERE vec_id = 0 ORDER BY cos DESC, cid LIMIT 4),
q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0)
SELECT b.vec_id,
  round(list_dot_product(e.emb, q.qemb)
        / (sqrt(list_dot_product(e.emb, e.emb))
           * sqrt(list_dot_product(q.qemb, q.qemb))), 4) AS cosine
FROM bestN b
JOIN probe p ON b.cid = p.cid
JOIN e ON e.vec_id = b.vec_id, q
WHERE b.vec_id <> 0
ORDER BY cosine DESC, b.vec_id LIMIT 10"""


# elementwise (x-y)^2 summed in index order, rounded to 9 BEFORE the
# per-(vec, subspace) argmin — mirrors simsearch._l2sq / pq_codes (the
# codes topk_pq_adc scans)
_DUCK_PQ_CODES = """
c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb
      FROM embeddings WHERE vec_id < 16),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
sd AS (
  SELECT e.vec_id, c.cid, CAST(u.j AS INT) AS j,
    round(list_sum(list_transform(range(1, 17),
      i -> (emb[u.j*16 + i] - cemb[u.j*16 + i])
         * (emb[u.j*16 + i] - cemb[u.j*16 + i]))), 9) AS d2
  FROM e, c, UNNEST(range(0, 4)) AS u(j)),
codes AS (
  SELECT vec_id, j, cid FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, cid) AS rn
    FROM sd) WHERE rn = 1)
"""


def q_embedding_topk_pq(spark, sf_dir):
    """PQ ANN top-k via ADC: broadcast the query's 64-row distance
    table, scan only the codes (recall < 1 by design, deterministic)."""
    return simsearch.topk_pq_adc(load(spark, sf_dir, "embeddings"))


ORACLE_EMBEDDING_TOPK_PQ = f"""
WITH {_DUCK_PQ_CODES},
q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
dtab AS (
  SELECT CAST(u.j AS INT) AS j, c.cid,
    round(list_sum(list_transform(range(1, 17),
      i -> (qemb[u.j*16 + i] - cemb[u.j*16 + i])
         * (qemb[u.j*16 + i] - cemb[u.j*16 + i]))), 9) AS d2
  FROM q, c, UNNEST(range(0, 4)) AS u(j)),
adc AS (
  SELECT codes.vec_id, round(sum(dtab.d2), 6) AS adc_d2
  FROM codes JOIN dtab ON codes.j = dtab.j AND codes.cid = dtab.cid
  GROUP BY 1)
SELECT vec_id, adc_d2 FROM adc WHERE vec_id <> 0
ORDER BY adc_d2, vec_id LIMIT 10
"""


def q_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 3) via 4x16-bit-band pigeonhole
    candidates + bit_count verify."""
    return textops.simhash_near_dup(load_split(spark, sf_dir, "documents"))


# bands = (simhash >> 16k) & 0xFFFF: the mask keeps only the band's own
# 16 bits, so signed-shift semantics cannot differ between engines
ORACLE_SIMHASH_NEAR_DUP = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
{_SIMHASH_DIGS_SQL},
sh AS (SELECT doc_id, CAST({_SIMHASH_BITS_SQL} AS BIGINT) AS simhash FROM d),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, simhash, {k} AS band_id, "
      f"(simhash >> {16 * k}) & 65535 AS band_val FROM sh"
      for k in range(4))}),
kept AS (
  SELECT doc_id, simhash, band_id, band_val FROM bands
  QUALIFY count(*) OVER (PARTITION BY band_id, band_val) <= 100)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM kept a JOIN kept b
  ON a.band_id = b.band_id AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b
"""


def q_contamination_check(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any word 8-gram
    with the deterministic held-out slice (doc_id % 97 == 0); benchmark
    gram table broadcast, corpus side narrow. Demo window n=3 (the
    synthetic corpus has no natural 8-gram overlap; production uses
    8-13 — same plan)."""
    return textops.contamination_check(load(spark, sf_dir, "documents"))


ORACLE_CONTAMINATION = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, u.g FROM (
    SELECT doc_id, CASE WHEN len(t) >= 3
      THEN list_distinct(list_transform(range(1, len(t) - 1),
           i -> array_to_string(t[i:i+2], ' ')))
      ELSE [array_to_string(t, ' ')] END AS gs
    FROM toks) x, UNNEST(gs) AS u(g)),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
SELECT grams.doc_id, count(*) AS n_hits
FROM grams JOIN bench USING (g)
WHERE grams.doc_id % 97 <> 0
GROUP BY 1 ORDER BY 1
"""


def q_length_quantiles(spark, sf_dir):
    """Per-language corpus length profile: exact p50/p90/p99 (DuckDB
    quantile_cont twin; percentile_approx is the 100TB variant)."""
    return textops.length_quantiles(load(spark, sf_dir, "documents"))


ORACLE_LENGTH_QUANTILES = """
SELECT lang, count(*) AS n_docs,
  round(quantile_cont(length(text), 0.5), 4) AS p50,
  round(quantile_cont(length(text), 0.9), 4) AS p90,
  round(quantile_cont(length(text), 0.99), 4) AS p99
FROM documents GROUP BY lang ORDER BY lang
"""


def q_repetition_scores(spark, sf_dir):
    """Gopher-style repetition signals: top-2gram fraction and distinct
    token ratio per doc (boilerplate/looped-text filters)."""
    return textops.repetition_scores(load(spark, sf_dir, "documents"))


ORACLE_REPETITION = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
base AS (
  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct,
    CASE WHEN len(t) >= 2
      THEN list_transform(range(1, len(t)),
           i -> array_to_string(t[i:i+1], ' '))
      ELSE [array_to_string(t, ' ')] END AS gs
  FROM toks),
pg AS (
  SELECT doc_id, n_tokens, n_distinct, u.g, count(*) AS c
  FROM base, UNNEST(gs) AS u(g) GROUP BY 1, 2, 3, 4)
SELECT doc_id,
  round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_2gram_frac,
  round(CAST(any_value(n_distinct) AS DOUBLE) / any_value(n_tokens), 4)
    AS distinct_token_ratio
FROM pg GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# relational (TPC-H-style tables)
# --------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    from . import relational  # noqa: PLC0415

    return relational.pricing_summary(load(spark, sf_dir, "lineitem"))


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
  count(*) AS n_items,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR)
    AS sum_qty,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR)
    AS sum_base_price,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
       * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
       AS DECIMAL(38,4)) AS VARCHAR) AS sum_disc_price
FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_revenue_by_nation(spark, sf_dir):
    from . import relational  # noqa: PLC0415

    return relational.revenue_by_nation(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
    )


ORACLE_REVENUE_BY_NATION = """
SELECT r_name, n_name, count(*) AS n_orders,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR)
    AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_brand_revenue_topk(spark, sf_dir):
    from . import relational  # noqa: PLC0415

    return relational.brand_revenue_topk(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    )


ORACLE_BRAND_REVENUE_TOPK = """
WITH agg AS (
  SELECT p_brand, count(*) AS n_items,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
         AS DECIMAL(38,4)) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1)
SELECT p_brand, n_items, CAST(rev AS VARCHAR) AS revenue
FROM agg ORDER BY rev DESC, p_brand LIMIT 10
"""


def q_revenue_rollup(spark, sf_dir):
    from . import relational  # noqa: PLC0415

    return relational.revenue_rollup(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
    )


ORACLE_REVENUE_ROLLUP = """
SELECT coalesce(r_name, '(all)') AS r_name,
       coalesce(n_name, '(all)') AS n_name,
       count(*) AS n_orders,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR)
    AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY 1, 2
"""


def q_funnel_steps(spark, sf_dir):
    from . import relational  # noqa: PLC0415

    return relational.funnel_steps(load(spark, sf_dir, "events"))


ORACLE_FUNNEL_STEPS = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY 1),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
  WHERE e.event_type = 'click' GROUP BY 1),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase' GROUP BY 1)
SELECT v.user_id,
  CAST(1 + (c.user_id IS NOT NULL)::INT + (p.user_id IS NOT NULL)::INT AS INT)
    AS steps_reached,
  CAST(v.t_view AS VARCHAR) AS t_view,
  coalesce(CAST(c.t_click AS VARCHAR), '') AS t_click,
  coalesce(CAST(p.t_purchase AS VARCHAR), '') AS t_purchase
FROM v LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
ORDER BY v.user_id
"""


_PROMOS = [
    # (promo_id, start, end): 20 seven-hour promo windows, 36h apart,
    # covering the corpus's single month (2024-01) deterministically
    (
        p,
        f"2024-01-{1 + (36 * p) // 24:02d} {(36 * p) % 24:02d}:00:00",
        f"2024-01-{1 + (36 * p + 7) // 24:02d} {(36 * p + 7) % 24:02d}:00:00",
    )
    for p in range(20)
]


def q_range_join_promos(spark, sf_dir):
    """Bucketed range join: events contained in deterministic promo
    intervals (6-hour-grid candidate buckets + exact refine)."""
    from . import relational  # noqa: PLC0415

    intervals = spark.createDataFrame(
        _PROMOS, "promo_id int, start_ts string, end_ts string"
    ).select(
        "promo_id",
        F.col("start_ts").cast("timestamp_ntz").alias("start_ts"),
        F.col("end_ts").cast("timestamp_ntz").alias("end_ts"),
    )
    return relational.promo_range_join(
        load(spark, sf_dir, "events"), intervals
    )


def _range_join_oracle() -> str:
    values = ", ".join(
        f"({p}, TIMESTAMP '{s}', TIMESTAMP '{e}')" for p, s, e in _PROMOS
    )
    return f"""
WITH promos(promo_id, start_ts, end_ts) AS (VALUES {values})
SELECT e.event_id, p.promo_id
FROM events e JOIN promos p
  ON e.ts >= p.start_ts AND e.ts < p.end_ts
ORDER BY e.event_id, p.promo_id
"""


def q_asof_view_purchase(spark, sf_dir):
    """AS-OF join (union + partitioned running-max window in Spark,
    native ASOF JOIN in the DuckDB oracle)."""
    from . import relational  # noqa: PLC0415

    return relational.asof_last_view_before_purchase(
        load(spark, sf_dir, "events")
    )


ORACLE_ASOF_VIEW_PURCHASE = """
WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
SELECT p.event_id, p.user_id,
       CAST(p.ts AS VARCHAR) AS purchase_ts,
       coalesce(CAST(v.ts AS VARCHAR), '') AS last_view_ts
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND v.ts <= p.ts
ORDER BY p.event_id
"""


def q_priority_top_orders(spark, sf_dir):
    from . import relational  # noqa: PLC0415

    return relational.priority_top_orders(load(spark, sf_dir, "orders"))


ORACLE_PRIORITY_TOP_ORDERS = """
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders)
SELECT o_orderpriority, CAST(rk AS INT) AS rk, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total_price
FROM ranked WHERE rk <= 5 ORDER BY o_orderpriority, rk
"""


# --------------------------------------------------------------------------
# catalog
# --------------------------------------------------------------------------

# The driver records CORRECTNESS rows for the FIRST 50 queries() keys
# (insertion order — confirmed r2: 51 entries -> 50 rows; r3: 63 -> the
# first 50 exactly). Policy (VERDICT r3 #1): keep the catalog at EXACTLY
# 50 so every entry gets an independent driver row, ordered
# newest/least-driver-verified FIRST. This is the only registry: adding
# a query means replacing one.
DRIVER_CATALOG_CAP = 50


def build_queries():
    # r5 rotation (VERDICT r4 #2): entries with ZERO lifetime driver rows
    # + the new decoded_layout lead the window. Every entry has >= 1
    # lifetime driver-green CORRECTNESS row.
    return {
        # --- round-5 addition (no driver evidence yet) ---
        "decoded_layout": q_decoded_layout,
        # --- zero lifetime driver rows before r5 ---
        "contamination_check": q_contamination_check,
        "repetition_scores": q_repetition_scores,
        "length_quantiles": q_length_quantiles,
        "embedding_topk_ivf_refined": q_embedding_topk_ivf_refined,
        "golden_sql_udf": q_golden_sql_udf,
        "token_counts": q_token_counts,
        "largest_docs_by_lang": q_largest_docs_by_lang,
        "minhash_signatures": q_minhash_signatures,
        "simhash": q_simhash,
        "media_manifest": q_media_manifest,
        "brand_revenue_topk": q_brand_revenue_topk,
        # --- driver-verified first in r4 ---
        "kmeans_refined_assign": q_kmeans_refined_assign,
        "decoded_resize": q_decoded_resize,
        # --- round-3 additions (driver-verified r4) ---
        "simhash_near_dup": q_simhash_near_dup,
        "embedding_topk_ivf": q_embedding_topk_ivf,
        "embedding_topk_pq": q_embedding_topk_pq,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "priority_top_orders": q_priority_top_orders,
        "revenue_rollup": q_revenue_rollup,
        "funnel_steps": q_funnel_steps,
        "asof_view_purchase": q_asof_view_purchase,
        "range_join_promos": q_range_join_promos,
        # --- driver-verified in r1-r4 ---
        "golden_protocols": q_golden_protocols,
        "sanitize_default_roundtrip": q_sanitize_default_roundtrip,
        "media_passthrough": q_media_passthrough,
        "relaxed_unchanged_docs": q_relaxed_unchanged_docs,
        "dedup_exact": q_dedup_exact,
        "near_dup_verified": q_near_dup_verified,
        "lang_id_trigram": q_lang_id_trigram,
        "layout_reading_order": q_layout_reading_order,
        "rolling_fingerprints": q_rolling_fingerprints,
        "embedding_near_dup": q_embedding_near_dup,
        "event_window_rollup": q_event_window_rollup,
        "user_sessions": q_user_sessions,
        "embedding_topk_lsh": q_embedding_topk_lsh,
        "embedding_topk": q_embedding_topk,
        "byte_weighted_buckets": q_byte_weighted_buckets,
        "extract_flagship": q_extract_flagship,
        "main_content_density": q_main_content_density,
        "extract_links": q_extract_links,
        "text_within_ignore": q_text_within_ignore,
        "top_terms": q_top_terms,
        "near_dup_clusters": q_near_dup_clusters,
        "chunk_documents": q_chunk_documents,
        "redact_pii": q_redact_pii,
        "corpus_keep_list": q_corpus_keep_list,
        "stratified_sample": q_stratified_sample,
        "salted_lang_counts": q_salted_lang_counts,
    }


def build_oracles():
    """DuckDB oracle for every driver-visible queries() key (same
    insertion order)."""
    return {
        "decoded_layout": ORACLE_DECODED_LAYOUT,
        "contamination_check": ORACLE_CONTAMINATION,
        "repetition_scores": ORACLE_REPETITION,
        "length_quantiles": ORACLE_LENGTH_QUANTILES,
        "embedding_topk_ivf_refined": _ivf_refined_topk_oracle(),
        "golden_sql_udf": _golden_oracle(STRINGS),
        "token_counts": ORACLE_TOKEN_COUNTS,
        "largest_docs_by_lang": ORACLE_LARGEST_DOCS,
        "minhash_signatures": ORACLE_MINHASH,
        "simhash": ORACLE_SIMHASH,
        "media_manifest": ORACLE_MEDIA_MANIFEST,
        "brand_revenue_topk": ORACLE_BRAND_REVENUE_TOPK,
        "kmeans_refined_assign": _kmeans_refined_oracle(),
        "decoded_resize": ORACLE_DECODED_RESIZE,
        "simhash_near_dup": ORACLE_SIMHASH_NEAR_DUP,
        "embedding_topk_ivf": ORACLE_EMBEDDING_TOPK_IVF,
        "embedding_topk_pq": ORACLE_EMBEDDING_TOPK_PQ,
        "pricing_summary": ORACLE_PRICING_SUMMARY,
        "revenue_by_nation": ORACLE_REVENUE_BY_NATION,
        "priority_top_orders": ORACLE_PRIORITY_TOP_ORDERS,
        "revenue_rollup": ORACLE_REVENUE_ROLLUP,
        "funnel_steps": ORACLE_FUNNEL_STEPS,
        "asof_view_purchase": ORACLE_ASOF_VIEW_PURCHASE,
        "range_join_promos": _range_join_oracle(),
        "golden_protocols": _golden_oracle(PROTOCOLS),
        "sanitize_default_roundtrip": ORACLE_DEFAULT_ROUNDTRIP,
        "media_passthrough": ORACLE_MEDIA_PASSTHROUGH,
        "relaxed_unchanged_docs": ORACLE_RELAXED_UNCHANGED,
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "near_dup_verified": ORACLE_NEAR_DUP_VERIFIED,
        "lang_id_trigram": ORACLE_LANG_ID_TRIGRAM,
        "layout_reading_order": ORACLE_LAYOUT_READING_ORDER,
        "rolling_fingerprints": ORACLE_ROLLING_FP,
        "embedding_near_dup": _near_dup_cosine_oracle(),
        "event_window_rollup": ORACLE_EVENT_WINDOW,
        "user_sessions": ORACLE_USER_SESSIONS,
        "embedding_topk_lsh": _lsh_topk_oracle(),
        "embedding_topk": ORACLE_EMBEDDING_TOPK,
        "byte_weighted_buckets": ORACLE_BYTE_BUCKETS,
        "extract_flagship": _flagship_oracle(),
        "main_content_density": ORACLE_MAIN_CONTENT_DENSITY,
        "extract_links": ORACLE_EXTRACT_LINKS,
        "text_within_ignore": ORACLE_TEXT_WITHIN_IGNORE,
        "top_terms": ORACLE_TOP_TERMS,
        "near_dup_clusters": ORACLE_NEAR_DUP_CLUSTERS,
        "chunk_documents": ORACLE_CHUNKS,
        "redact_pii": ORACLE_REDACT,
        "corpus_keep_list": ORACLE_KEEP_LIST,
        "stratified_sample": _stratified_sample_oracle(),
        "salted_lang_counts": ORACLE_SALTED_LANG_COUNTS,
    }

