"""End-to-end Spark pipeline tests: per-document span-sequence equality
(kind, text, media_ref, order) against the pure-Python core, plus
checkpoint-resume lineage semantics."""

import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from selma_spark import sanitizer as S
from selma_spark.golden import STRINGS
from selma_spark.rewriter import Rewriter
from selma_spark.spark.datagen import bench_spans, interleaved_spans
from selma_spark.spark.pipeline import (
    _run_spec,
    bucketed,
    rewrite_documents,
    run_pipeline,
    with_doc_bytes,
)

SF_DIR = "/root/testdata/sf0.001"
REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("selma-pipeline-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def make_span_docs(spark):
    """Interleaved docs carrying the golden corpus: text + media + text."""
    rows = []
    for i, (case, data) in enumerate(sorted(STRINGS.items())):
        rows.append(
            (
                f"doc-{i}",
                [
                    {"kind": "text", "text": data["html"], "media_ref": None,
                     "offset": 0},
                    {"kind": "media", "text": None,
                     "media_ref": f"media://doc-{i}/1", "offset": 1},
                    {"kind": "text", "text": "<b>tail</b>", "media_ref": None,
                     "offset": 2},
                ],
            )
        )
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def test_span_sequence_equality_against_core(spark):
    """The distributed rewrite must equal the pure-Python core span by
    span: (kind, text, media_ref, order)."""
    docs = make_span_docs(spark)
    out = {r["doc_id"]: r["spans"] for r in
           rewrite_documents(docs, "relaxed").collect()}
    core = Rewriter(sanitizer=S.RELAXED)
    for i, (case, data) in enumerate(sorted(STRINGS.items())):
        spans = out[f"doc-{i}"]
        assert [s["kind"] for s in spans] == ["text", "media", "text"]
        assert [s["offset"] for s in spans] == [0, 1, 2]
        assert spans[0]["text"] == core.rewrite(data["html"]) == data["relaxed"]
        assert spans[1]["media_ref"] == f"media://doc-{i}/1"
        assert spans[1]["text"] is None
        assert spans[2]["text"] == core.rewrite("<b>tail</b>")


@pytest.mark.parametrize("config", ["default", "restricted", "basic"])
def test_span_sequence_equality_against_golden(spark, config):
    """The other builtin profiles through the distributed rewrite: text
    spans equal the golden expectations, the media span and the
    (kind, offset) skeleton pass through unchanged."""
    out = {r["doc_id"]: r["spans"] for r in
           rewrite_documents(make_span_docs(spark), config).collect()}
    tail = Rewriter(sanitizer=S.BUILTIN_CONFIGS[config]).rewrite("<b>tail</b>")
    for i, (case, data) in enumerate(sorted(STRINGS.items())):
        spans = out[f"doc-{i}"]
        assert [(s["kind"], s["offset"]) for s in spans] == [
            ("text", 0), ("media", 1), ("text", 2)]
        assert spans[0]["text"] == data[config], case
        assert spans[1]["media_ref"] == f"media://doc-{i}/1"
        assert spans[2]["text"] == tail


@pytest.mark.parametrize("config", sorted(S.BUILTIN_CONFIGS))
def test_rewrite_documents_is_idempotent(spark, config):
    """A sanitize-only rewrite is a fixpoint: rewriting its own output
    changes no span."""
    once = rewrite_documents(make_span_docs(spark), config)
    twice = rewrite_documents(once, config)
    assert once.count() > 0
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_media_spans_byte_identical_order_preserved(spark):
    docs = bench_spans(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), replicate=2
    )
    before = docs.select(
        "doc_id", F.expr("filter(spans, s -> s.kind = 'media')").alias("m")
    )
    after = rewrite_documents(docs, "default").select(
        "doc_id", F.expr("filter(spans, s -> s.kind = 'media')").alias("m")
    )
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0


def _expected_interleaved(doc_id, text):
    """interleaved_spans' documented layout, built in Python."""
    wrap = (
        ("<div>", "</div>"), ("<b>", "</b>"), ('<p class="x">', "</p>"),
        ("", "<script>alert(1)</script>"),
        ('<a href="http://example.com/">', "</a>"),
        ("<span><strong>", "</strong></span>"),
    )[doc_id % 6]
    spans = [("text", wrap[0] + text + wrap[1], None, 0)]
    if doc_id % 4 == 0:
        spans.append(("media", None, f"media://{doc_id}/1", 1))
    if doc_id % 3 == 0:
        spans.append(("text", "<em>ok</em>", None, len(spans)))
    return (str(doc_id), spans)


def test_interleaved_spans_needs_no_lateral_alias(spark):
    """The generator's SQL reads only columns of the frame it runs on: with
    Spark's implicit lateral column alias resolution off, it builds the
    same rows (it once read its own ``doc_id`` alias and failed there
    with UNRESOLVED_COLUMN)."""
    raw = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    expected = sorted(
        _expected_interleaved(r["doc_id"], r["text"])
        for r in raw.select("doc_id", "text").collect()
    )
    key = "spark.sql.lateralColumnAlias.enableImplicitResolution"
    prev = spark.conf.get(key)
    try:
        for value in ("true", "false"):
            spark.conf.set(key, value)
            got = sorted(
                (r["doc_id"], [tuple(s) for s in r["spans"]])
                for r in interleaved_spans(raw).collect()
            )
            assert got == expected, value
    finally:
        spark.conf.set(key, prev)
    assert len(expected) == raw.count() > 0


def test_bucketing_modes(spark):
    docs = interleaved_spans(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    h = bucketed(docs, 8)
    assert h.select("bucket").distinct().count() <= 8
    # deterministic: same doc -> same bucket across invocations
    a = {r["doc_id"]: r["bucket"] for r in h.select("doc_id", "bucket").collect()}
    b = {r["doc_id"]: r["bucket"] for r in
         bucketed(docs, 8).select("doc_id", "bucket").collect()}
    assert a == b
    # byte-weighted mode balances bytes across buckets
    bw = bucketed(docs, 8, byte_weighted=True)
    sizes = (
        with_doc_bytes(bw).groupBy("bucket").agg(F.sum("_bytes").alias("b"))
        .collect()
    )
    vals = [r["b"] for r in sizes]
    assert max(vals) <= 1.5 * min(vals)


def test_doc_bytes_counts_utf8_bytes(spark):
    """Byte-weighted bucketing balances BYTES, so a doc's weight is the
    UTF-8 size of its text spans (3 bytes per CJK char), not their
    character count; NULL text and media spans weigh nothing."""
    docs = spark.createDataFrame(
        [("cjk", [("text", "日本語" * 4, None, 0)]),
         ("mixed", [("text", "<b>é</b>", None, 0),
                    ("media", None, "media://m/1", 1),
                    ("text", None, None, 2)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = {r["doc_id"]: r["_bytes"] for r in with_doc_bytes(docs).collect()}
    assert got == {"cjk": 36, "mixed": 9}


def test_run_pipeline_writes_and_resumes(spark):
    tmp = tempfile.mkdtemp(prefix="selma_pipe_")
    try:
        docs = interleaved_spans(
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
        )
        res = run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
        out = spark.read.parquet(res.output_path)
        assert out.count() == docs.count()
        lineage = spark.read.parquet(res.lineage_path)
        assert lineage.where("status = 'ok'").count() == 4
        # one row per bucket is the whole run record: no metrics table
        assert lineage.columns == [
            "partition_id", "doc_count", "checksum", "status", "attempt",
            "ts", "bytes_in", "bytes_out", "wall_ms", "spec",
        ]
        assert not Path(tmp, "metrics").exists()
        assert sorted(p.name for p in Path(tmp).iterdir()) == [
            "documents", "lineage"]
        assert lineage.where(
            "bytes_in > 0 AND bytes_out > 0 AND wall_ms >= 0").count() == 4
        assert {r["spec"] for r in lineage.collect()} == {
            _run_spec("xxhash64-v1/4", "default", None)}

        chk1 = {r["partition_id"]: r["checksum"] for r in lineage.collect()}

        # resume: all buckets complete -> rewrite recomputes nothing, output
        # survives (dynamic overwrite leaves completed buckets intact)
        res2 = run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
        out2 = spark.read.parquet(res2.output_path)
        assert out2.count() == docs.count()
        chk2 = {
            r["partition_id"]: r["checksum"]
            for r in spark.read.parquet(res2.lineage_path).collect()
        }
        assert chk1 == chk2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_run_pipeline_resumes_after_partial_failure(spark):
    """Crash-mid-run semantics: lineage records only SOME buckets 'ok'
    and the others' data is gone. The restart must recompute exactly the
    missing buckets while leaving completed bucket files untouched."""
    import glob
    import os

    tmp = tempfile.mkdtemp(prefix="selma_partial_")
    try:
        docs = interleaved_spans(
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
        )
        res = run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
        lineage = spark.read.parquet(res.lineage_path)
        keep_buckets = {0, 1}

        # simulate the crash: drop buckets 2/3's output AND their
        # lineage rows (as if the job died before committing them)
        partial = lineage.where(F.col("partition_id").isin(*keep_buckets))
        partial.write.mode("overwrite").parquet(f"{tmp}/lineage_partial")
        spark.catalog.refreshByPath(f"{tmp}/lineage_partial")
        spark.read.parquet(f"{tmp}/lineage_partial").write.mode(
            "overwrite"
        ).parquet(res.lineage_path)
        spark.catalog.refreshByPath(res.lineage_path)
        for b in (2, 3):
            shutil.rmtree(f"{res.output_path}/bucket={b}", ignore_errors=True)
        # fingerprint the COMPLETED buckets' files (mtime+size): the
        # restart must not rewrite them
        def snap():
            return {
                p: (os.path.getmtime(p), os.path.getsize(p))
                for b in keep_buckets
                for p in glob.glob(f"{res.output_path}/bucket={b}/*.parquet")
            }

        before = snap()
        spark.catalog.refreshByPath(res.output_path)

        res2 = run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
        out = spark.read.parquet(res2.output_path)
        assert out.count() == docs.count()
        assert out.select("bucket").distinct().count() == 4
        assert snap() == before  # completed buckets byte-untouched
        lineage2 = spark.read.parquet(res2.lineage_path)
        assert lineage2.where("status = 'ok'").count() == 4
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_run_pipeline_resume_raises_on_corrupt_lineage(spark):
    """Only a missing lineage dir means "no run yet". A lineage dir that
    cannot be read must fail the resume loudly, not fall back to a
    silent full recompute."""
    import glob

    tmp = tempfile.mkdtemp(prefix="selma_corrupt_")
    try:
        docs = interleaved_spans(
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
        )
        res = run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
        parts = glob.glob(f"{res.lineage_path}/*.parquet")
        assert parts
        for p in parts:
            with open(p, "wb") as fh:
                fh.write(b"not a parquet file")
        spark.catalog.refreshByPath(res.lineage_path)
        with pytest.raises(Exception):
            run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_run_pipeline_resumes_byte_weighted_across_partition_counts(spark):
    """Resume chaos under BYTE-WEIGHTED bucketing: the stratified-salted
    LPT deal must reproduce the identical doc->bucket assignment on a
    restart that runs with a DIFFERENT shuffle-partition count —
    otherwise the lineage anti-join would skip buckets whose membership
    silently moved, losing documents. (The deal is row_number over a
    total order within (stratum, salt) — partition-layout independent by
    construction; this pins it.)"""
    import glob
    import os

    tmp = tempfile.mkdtemp(prefix="selma_bw_resume_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        docs = interleaved_spans(
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
        )
        # assignment itself is partition-count independent
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = {
            r["doc_id"]: r["bucket"]
            for r in bucketed(docs, 8, byte_weighted=True)
            .select("doc_id", "bucket").collect()
        }
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        b = {
            r["doc_id"]: r["bucket"]
            for r in bucketed(docs, 8, byte_weighted=True)
            .select("doc_id", "bucket").collect()
        }
        assert a == b

        spark.conf.set("spark.sql.shuffle.partitions", "3")
        res = run_pipeline(
            spark, docs, tmp, config="default", n_buckets=4, byte_weighted=True
        )
        lineage = spark.read.parquet(res.lineage_path)
        keep_buckets = {0, 1}
        partial = lineage.where(F.col("partition_id").isin(*keep_buckets))
        partial.write.mode("overwrite").parquet(f"{tmp}/lineage_partial")
        spark.catalog.refreshByPath(f"{tmp}/lineage_partial")
        spark.read.parquet(f"{tmp}/lineage_partial").write.mode(
            "overwrite"
        ).parquet(res.lineage_path)
        spark.catalog.refreshByPath(res.lineage_path)
        for bk in (2, 3):
            shutil.rmtree(f"{res.output_path}/bucket={bk}", ignore_errors=True)

        def snap():
            return {
                p: (os.path.getmtime(p), os.path.getsize(p))
                for bk in keep_buckets
                for p in glob.glob(f"{res.output_path}/bucket={bk}/*.parquet")
            }

        before = snap()
        spark.catalog.refreshByPath(res.output_path)

        # the restart runs with a different partition count
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        res2 = run_pipeline(
            spark, docs, tmp, config="default", n_buckets=4, byte_weighted=True
        )
        out = spark.read.parquet(res2.output_path)
        assert out.count() == docs.count()
        assert out.select("doc_id").distinct().count() == docs.count()
        assert out.select("bucket").distinct().count() == 4
        assert snap() == before  # completed buckets byte-untouched
        lineage2 = spark.read.parquet(res2.lineage_path)
        assert lineage2.where("status = 'ok'").count() == 4
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(tmp, ignore_errors=True)


def _group_jobs(spark, group):
    """(jobs, input records) over every job run under ``group``, read
    from the status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    records = sum(
        store.lastStageAttempt(s).inputRecords()
        for j in jobs
        for s in sc.statusTracker().getJobInfo(j).stageIds
    )
    return len(jobs), records


def _doc_text_bytes(spans):
    return sum(len(s["text"].encode()) for s in spans or [] if s["text"] is not None)


def test_run_pipeline_lineage_and_metrics_match_ground_truth(spark):
    """Every bucket's lineage and metrics row against values recomputed
    here from the input and output frames: doc count, checksum (count
    and the sum mod 2^64 of an 8-byte blake2b of each doc_id), and UTF-8
    text bytes in and out. An empty bucket is recorded with zeros."""
    import hashlib

    tmp = tempfile.mkdtemp(prefix="selma_truth_")
    try:
        extra = spark.createDataFrame(
            [
                ("cjk", [{"kind": "text", "text": "<b>日本語 😀</b><script>x</script>",
                          "media_ref": None, "offset": 0}]),
                ("null-text", [{"kind": "text", "text": None, "media_ref": None,
                                "offset": 0}]),
                ("null-spans", None),
                ("no-spans", []),
            ],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )
        docs = make_span_docs(spark).unionByName(extra)
        n_buckets = 32  # more buckets than docs: some stay empty
        res = run_pipeline(spark, docs, tmp, config="relaxed", n_buckets=n_buckets)
        inputs = {r["doc_id"]: r["spans"] for r in docs.collect()}
        out = spark.read.parquet(res.output_path).collect()
        assert sorted(r["doc_id"] for r in out) == sorted(inputs)

        want = {k: [0, 0, 0, 0] for k in range(n_buckets)}
        for r in out:
            w = want[r["bucket"]]
            w[0] += 1
            w[1] += _doc_text_bytes(inputs[r["doc_id"]])
            w[2] += _doc_text_bytes(r["spans"])
            w[3] += int.from_bytes(
                hashlib.blake2b(r["doc_id"].encode(), digest_size=8).digest(),
                "little",
            )
        assert any(w[0] == 0 for w in want.values())
        assert sum(w[1] != w[2] for w in want.values()) > 0

        lineage = {r["partition_id"]: r for r in
                   spark.read.parquet(res.lineage_path).collect()}
        assert sorted(lineage) == list(range(n_buckets))
        for k, (n, b_in, b_out, h) in want.items():
            row = lineage[k]
            assert (row["doc_count"], row["checksum"], row["bytes_in"],
                    row["bytes_out"], row["status"]) == (
                n, f"{n}:{h % 2**64:016x}", b_in, b_out, "ok")
        assert res.doc_count == len(inputs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_lineage_tallies_add_up_across_any_split():
    """The lineage checksum does not depend on how the documents are cut
    into tasks or batches: per-task tallies merged by ``_add_tally`` in
    any order give the same checksum as one tally of the whole set. A
    stream's per-micro-batch rows and run_pipeline's per-bucket rows
    over the same documents therefore sum to the same total."""
    import random

    from selma_spark.spark.pipeline import (
        _add_tally,
        _doc_id_hashes,
        _lineage_checksum,
    )

    ids = [f"doc-{i}" for i in range(300)] + ["日本語", "😀", "", None]
    hashes = [int(h) for h in _doc_id_hashes(ids)]
    whole = _lineage_checksum(len(ids), sum(hashes))
    assert whole.startswith(f"{len(ids)}:") and len(whole.split(":")[1]) == 16
    assert hashes[-1] == hashes[-2]  # a NULL id hashes as ''

    rng = random.Random(7)
    for _ in range(5):
        # random tasks, each tallying its documents into random buckets
        tallies = []
        for doc_id, h in zip(ids, hashes):
            if not tallies or rng.random() < 0.1:
                tallies.append({})
            t = tallies[-1].setdefault(rng.randrange(4), [0, 0, 0, 0])
            t[0] += 1
            t[1] += len((doc_id or "").encode())
            t[3] = (t[3] + h) % 2**64
        rng.shuffle(tallies)
        acc = {}
        for t in tallies:
            _add_tally(acc, t)
        n = sum(c[0] for c in acc.values())
        h = sum(c[3] for c in acc.values())
        assert _lineage_checksum(n, h) == whole
        assert sum(c[1] for c in acc.values()) == sum(
            len((d or "").encode()) for d in ids)
    # one document more or less changes the checksum
    assert _lineage_checksum(len(ids) - 1, sum(hashes[1:])) != whole


def test_commit_buckets_keeps_prior_rows_verbatim(spark):
    """``_commit_buckets`` writes the prior lineage rows unchanged, in
    any checksum format (an old 64-hex sha2 row included) and with their
    own bytes, followed by one row per ``todo`` bucket; the table it
    returns is the one it wrote, and it writes no other table.
    Documents land in ``bucket=<k>`` partitions."""
    import datetime

    import pyarrow as pa

    from selma_spark.spark.pipeline import (
        LINEAGE_SCHEMA,
        ParquetSink,
        _arrow_schema,
        _commit_buckets,
        _doc_id_hashes,
        _lineage_checksum,
    )

    tmp = tempfile.mkdtemp(prefix="selma_commit_")
    try:
        schema = _arrow_schema(LINEAGE_SCHEMA)
        ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
        prior = pa.Table.from_pydict({
            "partition_id": [7, 9],
            "doc_count": [3, 5],
            "checksum": ["ab" * 32, "5:00000000000000ff"],
            "status": ["ok", "ok"],
            "attempt": [2, 1],
            "ts": [ts, ts],
            "bytes_in": [300, 500],
            "bytes_out": [200, 400],
            "wall_ms": [11, 13],
            "spec": ["s", "s"],
        }, schema=schema)
        docs = make_span_docs(spark)
        ids = sorted(r["doc_id"] for r in docs.collect())
        b = docs.withColumn(
            "bucket",
            F.when(F.col("doc_id") < F.lit(ids[len(ids) // 2]), 0).otherwise(1),
        )
        sink = ParquetSink(tmp)
        sink.prepare(spark)
        lineage = _commit_buckets(spark, sink, b, [0, 1, 2], prior, "s",
                                  "default", None)

        written = spark.read.parquet(sink.lineage_path).toArrow().cast(schema)
        assert written.to_pylist() == lineage.to_pylist()
        rows = lineage.to_pylist()
        assert rows[:2] == prior.to_pylist()
        by_bucket = {0: ids[:len(ids) // 2], 1: ids[len(ids) // 2:], 2: []}
        for row, k in zip(rows[2:], [0, 1, 2]):
            want = by_bucket[k]
            h = sum(int(x) for x in _doc_id_hashes(want))
            assert (row["partition_id"], row["doc_count"], row["checksum"],
                    row["status"], row["attempt"], row["spec"]) == (
                k, len(want), _lineage_checksum(len(want), h), "ok", 1, "s")
            assert (row["bytes_in"] > 0) == (row["bytes_out"] > 0) == bool(want)
        assert len(rows) == 5

        out = spark.read.parquet(sink.output_path)
        assert {r["bucket"]: r["n"] for r in
                out.groupBy("bucket").agg(F.count("*").alias("n")).collect()
                } == {0: len(by_bucket[0]), 1: len(by_bucket[1])}
        assert sorted(p.name for p in Path(tmp).iterdir()) == [
            "documents", "lineage"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _write_lineage_file(spark, path, table):
    """Replace the lineage parquet at ``path`` with ``table``."""
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    Path(path).mkdir(parents=True)
    pq.write_table(table, f"{path}/part-00000.parquet")
    spark.catalog.refreshByPath(path)


def test_resume_keeps_the_first_runs_bytes(spark):
    """A resume recomputes only the buckets missing from the lineage; the
    rows of the buckets it skips keep the first run's bytes, ts and
    wall_ms verbatim, and the recomputed buckets get the same doc counts,
    checksums and bytes as the first run gave them."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="selma_resume_bytes_")
    try:
        docs = interleaved_spans(
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
        )
        res = run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
        first = {r["partition_id"]: r for r in
                 pq.read_table(res.lineage_path).to_pylist()}
        assert all(first[k]["bytes_in"] > 0 for k in range(4))

        # the crash: buckets 2 and 3 were never committed
        kept = pq.read_table(res.lineage_path)
        kept = kept.filter(pc.less(kept["partition_id"], 2))
        _write_lineage_file(spark, res.lineage_path, kept)
        for k in (2, 3):
            shutil.rmtree(f"{res.output_path}/bucket={k}")
        spark.catalog.refreshByPath(res.output_path)

        res2 = run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
        second = {r["partition_id"]: r for r in
                  pq.read_table(res2.lineage_path).to_pylist()}
        assert sorted(second) == [0, 1, 2, 3]
        for k in (0, 1):
            assert second[k] == first[k]
        for k in (2, 3):
            for col in ("doc_count", "checksum", "bytes_in", "bytes_out",
                        "spec"):
                assert second[k][col] == first[k][col], (k, col)
            assert second[k]["ts"] > first[k]["ts"]
        assert res2.doc_count == docs.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _probe_docs(spark, n=400):
    return spark.createDataFrame(
        [(f"d{i}", [("text", f"<b>{i}</b><script>x</script>", None, 0)])
         for i in range(n)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def _probe_handlers():
    return []


def test_resume_refuses_a_changed_run_spec(spark):
    """A resume whose bucket count, bucketing mode, config or handlers
    factory differ from the lineage's raises ValueError naming both run
    specs, and writes nothing (a resume from n_buckets=4 to 8 used to
    leave 612 output rows for 400 doc_ids). A resume under the same spec
    stays a no-op; resume=False recomputes under the new spec."""
    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="selma_spec_")
    try:
        docs = _probe_docs(spark)
        res = run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
        first = pq.read_table(res.lineage_path).to_pylist()
        spec = _run_spec("xxhash64-v1/4", "default", None)
        assert {r["spec"] for r in first} == {spec}

        for kwargs, moved in (
            ({"n_buckets": 8}, ("xxhash64-v1/8", "default", None)),
            ({"byte_weighted": True}, ("bytes-v2/4", "default", None)),
            ({"config": "relaxed"}, ("xxhash64-v1/4", "relaxed", None)),
            ({"handlers_factory": _probe_handlers},
             ("xxhash64-v1/4", "default", _probe_handlers)),
        ):
            kwargs = {"config": "default", "n_buckets": 4, **kwargs}
            with pytest.raises(ValueError) as e:
                run_pipeline(spark, docs, tmp, **kwargs)
            msg = str(e.value)
            assert repr(spec) in msg and "resume=False" in msg, msg
            assert repr(_run_spec(*moved)) in msg, msg
            assert pq.read_table(res.lineage_path).to_pylist() == first
            out = spark.read.parquet(res.output_path)
            assert out.count() == 400

        same = run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
        assert same.doc_count == 400
        assert pq.read_table(res.lineage_path).to_pylist() == first

        res8 = run_pipeline(spark, docs, tmp, config="default", n_buckets=8,
                            resume=False)
        out = spark.read.parquet(res8.output_path)
        assert out.count() == out.select("doc_id").distinct().count() == 400
        assert {r["spec"] for r in pq.read_table(res8.lineage_path)
                .to_pylist()} == {_run_spec("xxhash64-v1/8", "default", None)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_refuses_a_lineage_without_run_spec(spark):
    """A lineage written before run specs were recorded (its rows have
    no ``spec``, nor bytes) cannot show that a resume keeps its bucket
    layout, so a resume raises and says to rerun with resume=False; the
    rerun then recomputes every bucket."""
    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="selma_nospec_")
    try:
        docs = _probe_docs(spark, 40)
        res = run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
        old = pq.read_table(res.lineage_path).select(
            ["partition_id", "doc_count", "checksum", "status", "attempt",
             "ts"])
        _write_lineage_file(spark, res.lineage_path, old)
        with pytest.raises(ValueError, match="before run specs") as e:
            run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
        assert "resume=False" in str(e.value)

        res2 = run_pipeline(spark, docs, tmp, config="default", n_buckets=4,
                            resume=False)
        rows = pq.read_table(res2.lineage_path).to_pylist()
        assert sorted(r["partition_id"] for r in rows) == [0, 1, 2, 3]
        assert all(r["spec"] is not None and r["bytes_in"] is not None
                   for r in rows)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_iceberg_sink_reads_an_old_lineage_table_as_specless(spark):
    """IcebergSink reads its lineage with ``spark.read.table``, so an old
    table lacking the run-record columns would fail the resume's select
    with an analysis error; instead the missing columns read as NULL and
    the resume is refused with the same ValueError as ParquetSink's. A
    temp view stands in for the old table (no Iceberg runtime needed)."""
    import datetime

    from pyspark.sql.types import _parse_datatype_string

    from selma_spark.spark.pipeline import LINEAGE_SCHEMA, IcebergSink

    old = spark.createDataFrame(
        [(0, 3, "3:00000000000000ff", "ok", 1,
          datetime.datetime(2024, 1, 1))],
        "partition_id int, doc_count long, checksum string, status string, "
        "attempt int, ts timestamp",
    )
    old.createOrReplaceTempView("selma_old_docs_lineage")
    try:
        sink = IcebergSink("selma_old_docs")
        lineage = sink.read_lineage(spark)
        assert lineage.schema.simpleString() == (
            _parse_datatype_string(LINEAGE_SCHEMA).simpleString())
        row = lineage.collect()[0]
        assert (row["doc_count"], row["bytes_in"], row["spec"]) == (3, None, None)
        with pytest.raises(ValueError, match="before run specs"):
            run_pipeline(spark, _probe_docs(spark, 8), "ignored",
                         n_buckets=4, sink=sink)
    finally:
        spark.catalog.dropTempView("selma_old_docs_lineage")


def test_run_spec_is_canonical():
    """The run spec names the bucketing, a config digest and the handlers
    factory's qualified name. A builtin name and its config dict share a
    digest, and a config holding sets digests the same under any hash
    seed (set iteration order moves with it)."""
    import os
    import subprocess
    import sys

    assert _run_spec("b", "relaxed", None) == _run_spec("b", S.RELAXED, None)
    assert _run_spec("b", "relaxed", None) != _run_spec("b", "default", None)
    assert _run_spec("b", None, None) == "bucketing=b;config=none;handlers=none"
    assert _run_spec("b", None, _probe_handlers).endswith(
        ";handlers=test_spark_pipeline._probe_handlers")

    script = (
        f"import sys; sys.path.insert(0, {str(REPO)!r})\n"
        "from selma_spark.spark.pipeline import _run_spec\n"
        "els = frozenset(f'tag{i}' for i in range(40))\n"
        "cfg = {'elements': els, 'attributes': {'a': {'href', 'rel', 'x'}}}\n"
        "print(_run_spec('b', cfg, None), list(els)[:5])\n"
    )
    specs, orders = set(), set()
    for seed in ("1", "2", "3", "4"):
        proc = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True,
            env=dict(os.environ, PYTHONHASHSEED=seed), timeout=120,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        spec, order = proc.stdout.strip().split(" ", 1)
        specs.add(spec)
        orders.add(order)
    assert len(orders) > 1  # the seeds did move the set order
    assert len(specs) == 1, specs


def test_run_pipeline_reads_documents_once_and_noop_resume_reads_none(spark):
    """A run reads its input once and never reads its output back (the
    status store's input records over the call's job group equal the
    input doc count). A resume whose lineage already has every bucket
    'ok' runs no job over documents: only the lineage read runs."""
    tmp = tempfile.mkdtemp(prefix="selma_noop_")
    sc = spark.sparkContext
    try:
        docs = interleaved_spans(
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
        )
        n_docs = docs.count()
        sc.setJobGroup("selma-run", "first run")
        run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
        jobs, records = _group_jobs(spark, "selma-run")
        assert records == n_docs
        assert jobs <= 2  # the bucket exchange's map stage + the write

        sc.setJobGroup("selma-noop-resume", "no-op resume")
        res = run_pipeline(spark, docs, tmp, config="default", n_buckets=4)
        jobs, records = _group_jobs(spark, "selma-noop-resume")
        assert (jobs, records) == (1, 4)  # the 4 lineage rows
        assert res.doc_count == n_docs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        shutil.rmtree(tmp, ignore_errors=True)


def _run_script(script, cwd, *args):
    """Run ``script`` with a fresh interpreter in ``cwd``; the package is
    importable on the driver only (through sys.path, not PYTHONPATH,
    which Spark would hand on to its Python workers)."""
    import os
    import subprocess
    import sys

    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    env.pop("PYTHONPATH", None)
    return subprocess.run(
        [sys.executable, "-c", script, *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )


_SCRIPT_HEAD = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from pyspark.sql import SparkSession
from selma_spark.spark.pipeline import run_pipeline
DOC_SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
"""


def test_pipeline_and_streams_ship_the_package_from_any_cwd():
    """run_pipeline, stream_rewrite and the stateful stream_near_dup_flags
    ship selma_spark to the Python workers themselves: one driver whose
    cwd is outside the repo runs all three (one child process, so one
    Spark start)."""
    tmp = tempfile.mkdtemp(prefix="selma_cwd_")
    try:
        proc = _run_script(_SCRIPT_HEAD + """
import datetime
from selma_spark.spark.streaming import stream_near_dup_flags, stream_rewrite
tmp = sys.argv[1]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
docs = spark.createDataFrame(
    [(f"d{i}", [("text", "<b>x</b><script>y</script>", None, 0)])
     for i in range(20)], DOC_SCHEMA)
res = run_pipeline(spark, docs, tmp + "/out", config="relaxed", n_buckets=2)
print("docs", res.doc_count)

docs.coalesce(1).write.parquet(tmp + "/stream_in")
q = stream_rewrite(spark, tmp + "/stream_in", tmp + "/stream_out",
                   tmp + "/stream_ckpt", config="relaxed")
assert q.awaitTermination(120)
print("streamed", spark.read.parquet(tmp + "/stream_out/documents").count())

t0 = datetime.datetime(2026, 1, 1)
text = ("the quick brown fox jumps over the lazy dog while seventeen "
        "sailors navigate northern waters")
for f, rows in (("f1", [("a", text, t0)]), ("f2", [("b", text, t0)])):
    spark.createDataFrame(rows, "doc_id string, text string, ingest_ts timestamp"
                          ).coalesce(1).write.parquet(tmp + "/nd_in/" + f)
q = stream_near_dup_flags(spark, tmp + "/nd_in/*", tmp + "/nd_ckpt",
                          query_name="nd")
assert q.awaitTermination(120)
for r in spark.sql("SELECT doc_id, min(near_dup_of) AS of FROM nd "
                   "GROUP BY 1 ORDER BY 1").collect():
    print("near_dup", r.doc_id, r.of)
""", tmp, tmp)
        assert proc.returncode == 0, proc.stderr[-3000:]
        assert "docs 20" in proc.stdout, proc.stdout
        assert "streamed 20" in proc.stdout, proc.stdout
        assert "near_dup a None" in proc.stdout, proc.stdout
        assert "near_dup b a" in proc.stdout, proc.stdout
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_run_pipeline_lineage_survives_task_retries():
    """On local[4,2] every write task may fail once. A handler that
    raises mid-task (after several arrow batches) on each task's first
    attempt only: the retried run's lineage must count every output doc
    once, and every bucket's checksum must equal a clean run's."""
    import json

    tmp = tempfile.mkdtemp(prefix="selma_retry_")
    try:
        proc = _run_script(_SCRIPT_HEAD + """
import json
from pyspark import TaskContext
from selma_spark.selector import Selector

class FailFirstAttempt:
    fail = True

    def __init__(self):
        self.n = 0

    def selector(self):
        return Selector(match_element="b")

    def handle_element(self, el):
        self.n += 1
        if (self.fail and self.n == 25
                and TaskContext.get().attemptNumber() == 0):
            raise RuntimeError("injected first-attempt failure")

class Clean(FailFirstAttempt):
    fail = False

spark = (SparkSession.builder.master("local[4,2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
         .getOrCreate())
docs = spark.createDataFrame(
    [(f"d{i}", [("text", f"<b>{i}</b>", None, 0)]) for i in range(400)],
    DOC_SCHEMA)
sc = spark.sparkContext
store = sc._jsc.sc().statusStore()
got = {}
for name, handler in (("retried", FailFirstAttempt), ("clean", Clean)):
    sc.setJobGroup(name, name)
    res = run_pipeline(spark, docs, f"{sys.argv[1]}/{name}", config=None,
                       handlers_factory=lambda h=handler: [h()], n_buckets=4)
    lineage = spark.read.parquet(res.lineage_path).collect()
    got[name] = {
        "failed_tasks": sum(
            store.lastStageAttempt(s).numFailedTasks()
            for j in sc.statusTracker().getJobIdsForGroup(name)
            for s in sc.statusTracker().getJobInfo(j).stageIds),
        "out_rows": spark.read.parquet(res.output_path).count(),
        "doc_count": sum(r["doc_count"] for r in lineage),
        "checksums": {r["partition_id"]: r["checksum"] for r in lineage},
    }
print(json.dumps(got))
""", tmp, tmp)
        assert proc.returncode == 0, proc.stderr[-3000:]
        got = json.loads(proc.stdout.strip().splitlines()[-1])
        retried, clean = got["retried"], got["clean"]
        assert retried["failed_tasks"] > 0 and clean["failed_tasks"] == 0
        assert retried["out_rows"] == retried["doc_count"] == 400
        assert retried["checksums"] == clean["checksums"]
        assert len(clean["checksums"]) == 4
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_oversized_docs_quarantined(spark):
    # the cap counts UTF-8 bytes: "<b>ééé</b>" is 10 characters but 13
    # bytes, so it is quarantined too; "<b>é</b>" (9 bytes) is rewritten
    docs = make_span_docs(spark).unionByName(spark.createDataFrame(
        [("doc-utf8", [{"kind": "text", "text": "<b>ééé</b>",
                        "media_ref": None, "offset": 0},
                       {"kind": "text", "text": "<b>é</b>",
                        "media_ref": None, "offset": 1}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    ))
    inputs = {r["doc_id"]: r["spans"] for r in docs.collect()}
    out = rewrite_documents(docs, "default", max_text_bytes=10).collect()
    # every text span over the cap passes through byte-identical
    # (DEFAULT would otherwise strip all its tags)
    checked = set()
    for r in out:
        for s, orig in zip(r["spans"], inputs[r["doc_id"]]):
            if (s["kind"] == "text"
                    and len((orig["text"] or "").encode("utf-8")) > 10):
                assert s["text"] == orig["text"]
                checked.add(r["doc_id"])
        if r["doc_id"] == "doc-utf8":
            assert r["spans"][1]["text"] == "é"
    assert "doc-utf8" in checked


def _span_batch(texts):
    """One arrow batch, one document, one text span per entry."""
    import pyarrow as pa

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    spans = pa.array(
        [[{"kind": "text", "text": t, "media_ref": None, "offset": i}
          for i, t in enumerate(texts)]],
        type=pa.list_(span),
    )
    return pa.RecordBatch.from_arrays(
        [pa.array(["d"]), spans], names=["doc_id", "spans"]
    )


@pytest.mark.parametrize(
    "text, cap, quarantined",
    [
        ("<b>abc</b>", 10, False),     # 10 bytes: at the cap
        ("<b>abcd</b>", 10, True),     # 11 bytes
        ("<b>é</b>", 10, False),       # 8 chars, 9 bytes
        ("<b>éé</b>", 10, True),       # 9 chars, 11 bytes
        ("<b>日本</b>", 12, True),      # 9 chars, 13 bytes
        ("<b>😀</b>", 11, False),      # 8 chars, 11 bytes: at the cap
        ("<b>😀</b>", 10, True),       # 8 chars, 11 bytes
        ("<b>" + "x" * 100 + "</b>", None, False),  # no cap
    ],
    ids=["ascii-at-cap", "ascii-over", "2byte-under", "2byte-over",
         "3byte-over", "4byte-at-cap", "4byte-over", "no-cap"],
)
def test_max_text_bytes_counts_utf8_bytes(text, cap, quarantined):
    """The candidate mask compares UTF-8 byte length with the cap: a
    span over it keeps its original text, one at or under it is
    rewritten (DEFAULT strips the <b>)."""
    from selma_spark.spark.pipeline import make_rewrite_fn

    fn = make_rewrite_fn("default", max_text_bytes=cap)
    (out,) = list(fn(iter([_span_batch([text, "<i>x</i>"])])))
    got = out.column(out.schema.get_field_index("spans")).to_pylist()[0]
    assert got[0]["text"] == (text if quarantined else text[3:-4])
    assert got[1]["text"] == "x"
    assert [s["offset"] for s in got] == [0, 1]


def test_on_error_keep_contains_failures(spark):
    # a handler that blows up on every element; on_error="keep" must
    # pass documents through instead of failing the job
    def boom_handlers():
        from selma_spark.selector import Selector

        class Boom:
            def selector(self):
                return Selector(match_element="*")

            def handle_element(self, el):
                raise ValueError("boom")

        return [Boom()]

    docs = make_span_docs(spark)
    out = rewrite_documents(
        docs, "relaxed", handlers_factory=boom_handlers, on_error="keep"
    )
    # every span of every doc has an element, so every rewrite raises:
    # each doc must come back whole and unmodified (not dropped, not
    # partially rewritten, spans in order)
    before = {r["doc_id"]: r["spans"] for r in docs.collect()}
    after = {r["doc_id"]: r["spans"] for r in out.collect()}
    assert after == before


def _blink_boom_factory():
    """A handlers_factory whose handler raises on every <blink>. Built
    inside a function so cloudpickle ships it by value to the workers,
    which cannot import this test module."""
    def factory():
        from selma_spark.selector import Selector

        class BlinkBoom:
            def selector(self):
                return Selector(match_element="blink")

            def handle_element(self, el):
                raise ValueError("boom on blink")

        return [BlinkBoom()]

    return factory


def _blink_docs(spark):
    return spark.createDataFrame(
        [("ok", [("text", "<b>x</b>", None, 0)]),
         ("bad", [("text", "<blink>y</blink>", None, 0),
                  ("media", None, "media://bad/1", 1),
                  ("text", "<i>z</i>", None, 2)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def test_on_error_keep_rewrites_the_spans_that_do_not_fail(spark):
    """Containment is as narrow as the failure: only a span whose
    rewrite raises passes through unmodified; the other spans of the
    same doc, and every other doc, are still rewritten."""
    out = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in rewrite_documents(
            _blink_docs(spark), "default",
            handlers_factory=_blink_boom_factory(), on_error="keep",
        ).collect()
    }
    assert out == {
        "ok": [("text", "x", None, 0)],
        "bad": [("text", "<blink>y</blink>", None, 0),
                ("media", None, "media://bad/1", 1),
                ("text", "z", None, 2)],
    }


def test_on_error_raise_fails_the_job(spark):
    """The default on_error="raise" surfaces a handler failure as a job
    failure instead of passing the span through."""
    out = rewrite_documents(
        _blink_docs(spark), "default", handlers_factory=_blink_boom_factory()
    )
    with pytest.raises(Exception, match="boom on blink"):
        out.collect()


def test_stateful_handler_sees_every_repeated_span(spark):
    """Handlers are never memoized: three docs carrying the same span,
    rewritten in one task by a handler that numbers the elements it
    sees, come out numbered 1, 2, 3 (a memo would repeat the first
    outcome three times)."""
    from selma_spark.selector import Selector

    def numbering_handlers():
        class Numbering:
            n = 0

            def selector(self):
                return Selector(match_element="b")

            def handle_element(self, el):
                self.n += 1
                el.set_attribute("data-n", str(self.n))

        return [Numbering()]

    docs = spark.createDataFrame(
        [(f"d{i}", [("text", "<b>x</b>", None, 0)]) for i in range(3)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    ).coalesce(1)
    out = rewrite_documents(docs, None, handlers_factory=numbering_handlers)
    got = sorted(r["spans"][0]["text"] for r in out.collect())
    assert got == [f'<b data-n="{n}">x</b>' for n in (1, 2, 3)]


def test_rewrite_without_config_or_handlers_is_identity(spark):
    """config=None with no handlers is the pure passthrough: every doc,
    NULL spans arrays, NULL and '' texts and tag-bearing texts
    included, comes back exactly as it went in."""
    docs = spark.createDataFrame(
        [("a", [("text", "<script>x</script><b>y</b>", None, 0),
                ("media", None, "media://a/1", 1)]),
         ("b", None),
         ("c", []),
         ("d", [("text", None, None, 0), ("text", "", None, 1)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    before = {r["doc_id"]: r["spans"] for r in docs.collect()}
    after = {
        r["doc_id"]: r["spans"] for r in rewrite_documents(docs, None).collect()
    }
    assert after == before


def test_make_rewrite_fn_has_only_the_narrow_path_options():
    """One documents-rewrite path: the arrow fn and its public wrapper
    take exactly these options, and no dedup/memo knob."""
    import inspect

    from selma_spark.spark.pipeline import make_rewrite_fn

    assert list(inspect.signature(make_rewrite_fn).parameters) == [
        "config", "handlers_factory", "max_text_bytes", "on_error", "_stats",
    ]
    assert list(inspect.signature(rewrite_documents).parameters) == [
        "docs", "config", "handlers_factory", "max_text_bytes", "on_error",
    ]


def test_byte_weighted_buckets_match_oracle_on_multibyte_text(spark):
    """Spark's byte-weighted deal and its DuckDB oracle weigh the same
    UTF-8 bytes on a non-ASCII corpus (CJK and emoji texts whose byte
    and character counts fall in different size strata), so they agree
    bucket for bucket."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from selma_spark.spark.queries import (
        ORACLE_BYTE_BUCKETS,
        q_byte_weighted_buckets,
    )

    alphabet = ["a", "é", "日", "😀"]
    texts = [alphabet[i % 4] * (1 + (i * 7) % 40) for i in range(96)]
    tmp = tempfile.mkdtemp(prefix="selma_mb_")
    try:
        pq.write_table(
            pa.table({"doc_id": pa.array(range(96), pa.int64()),
                      "text": pa.array(texts, pa.string())}),
            f"{tmp}/documents.parquet",
        )
        got = sorted(
            tuple(r) for r in q_byte_weighted_buckets(spark, tmp).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet')"
        )
        want = sorted(con.execute(ORACLE_BYTE_BUCKETS).fetchall())
        con.close()
        assert got == want
        # both sides weigh UTF-8 bytes: text plus the ASCII wrapper
        # overhead interleaved_spans adds (by doc_id % 6, and 11 for the
        # '<em>ok</em>' span when doc_id % 3 == 0)
        wrap = [11, 7, 17, 25, 34, 30]
        assert sum(b for _, _, b in got) == sum(
            len(t.encode("utf-8")) + wrap[i % 6] + (11 if i % 3 == 0 else 0)
            for i, t in enumerate(texts)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_null_and_empty_spans_round_trip(spark):
    """Dirty-corpus shapes: a NULL spans array must stay NULL (the arrow
    reconstruction must propagate the list null mask), an empty array
    stays empty, a null text span stays NULL and an empty-string text
    span stays '' (never swapped for each other), and a media span ahead
    of a text span keeps its place."""
    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    rows = [
        ("a", [("text", "<b>x</b>", None, 0)]),
        ("b", None),
        ("c", []),
        ("d", [("text", None, None, 0)]),
        ("e", [("text", "", None, 0)]),
        ("f", [("media", None, "media://f/0", 0), ("text", "<i>y</i>", None, 1)]),
    ]
    docs = spark.createDataFrame(rows, schema)
    out = {
        r["doc_id"]: r["spans"]
        for r in rewrite_documents(docs, "default").collect()
    }
    assert out["b"] is None
    assert out["c"] == []
    assert out["d"][0]["text"] is None
    assert out["e"][0]["text"] == ""
    assert out["a"][0]["text"] == "x"
    assert [tuple(s) for s in out["f"]] == [
        ("media", None, "media://f/0", 0), ("text", "y", None, 1)
    ]


def test_rewrite_paths_agree_on_random_dirty_corpus(spark):
    """Seeded random corpus exercising every dirty shape at once — NULL
    spans, empty arrays, NULL/empty text, media-only docs, duplicate
    payloads, multibyte text, skewed sizes — must produce through the
    arrow path the span sequences an in-process oracle builds span by
    span: NULL and [] arrays unchanged, media spans and text spans
    without '<' unchanged, every other text span rewritten by a fresh
    Rewriter."""
    import random

    rng = random.Random(20260816)
    payload_pool = [
        "<b>dup</b>", "<script>x</script>", "plain é中文 text", "",
        "<div><a href='/x'>l</a></div>", "<p>" + "w " * 40 + "</p>",
        "<iframe>f</iframe>", "1 < 2 & 3", None, "<title>t</title>",
    ]
    rows = []
    for i in range(120):
        shape = rng.random()
        if shape < 0.05:
            rows.append((f"d{i}", None))
            continue
        if shape < 0.1:
            rows.append((f"d{i}", []))
            continue
        spans = []
        for off in range(rng.randint(1, 4)):
            if rng.random() < 0.25:
                spans.append(("media", None, f"media://{i}/{off}", off))
            else:
                spans.append(("text", rng.choice(payload_pool), None, off))
        rows.append((f"d{i}", spans))
    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    docs = spark.createDataFrame(rows, schema)

    def oracle_span(span, cfg):
        kind, text, media_ref, offset = span
        if kind == "text" and text is not None and "<" in text:
            text = Rewriter(sanitizer=S.BUILTIN_CONFIGS[cfg]).rewrite(text)
        return (kind, text, media_ref, offset)

    for cfg in ("default", "relaxed"):
        expected = {
            doc_id: None if spans is None
            else [oracle_span(sp, cfg) for sp in spans]
            for doc_id, spans in rows
        }
        got = {
            r["doc_id"]: None if r["spans"] is None
            else [tuple(sp) for sp in r["spans"]]
            for r in rewrite_documents(docs, cfg).collect()
        }
        assert got == expected, cfg


def test_task_local_rewrite_memo_is_differential_and_bounded():
    """r6: make_rewrite_fn memoizes sanitize-only rewrite outcomes for
    short spans within a task. Drive the arrow fn directly (no session):
    (a) repeated + distinct spans must be byte-identical to a fresh
    Rewriter per span, (b) blowing past _DOC_MEMO_CAP (clear-on-overflow)
    must not change outputs, (c) handler paths must NOT memoize (handlers
    may be stateful across calls)."""
    import pyarrow as pa

    from selma_spark.spark import pipeline as P

    def batch_of(texts):
        spans = [
            [{"kind": "text", "text": t, "media_ref": None, "offset": 0}]
            for t in texts
        ]
        return pa.RecordBatch.from_arrays(
            [
                pa.array([f"d{i}" for i in range(len(texts))]),
                pa.array(
                    spans,
                    type=pa.list_(
                        pa.struct(
                            [
                                ("kind", pa.string()),
                                ("text", pa.string()),
                                ("media_ref", pa.string()),
                                ("offset", pa.int32()),
                            ]
                        )
                    ),
                ),
            ],
            names=["doc_id", "spans"],
        )

    def run(fn, texts):
        out = []
        for b in fn(iter([batch_of(texts)])):
            for row in b.column(1).to_pylist():
                out.append(row[0]["text"])
        return out

    # (a)+(b): repeated boilerplate + enough distinct spans to overflow
    # the cap twice, interleaved so hits and clears both happen mid-batch
    distinct = [f"<b onclick=x>s{i}</b>" for i in range(2 * P._DOC_MEMO_CAP + 7)]
    texts = []
    for i, t in enumerate(distinct):
        texts.append(t)
        if i % 3 == 0:
            texts.append("<span class=nav>boilerplate</span>")
            texts.append(distinct[0])
    for cfg in ("default", "relaxed"):
        got = run(P.make_rewrite_fn(cfg), texts)
        fresh = [
            Rewriter(sanitizer=P.resolve_config(cfg)).rewrite(t)
            for t in texts
        ]
        assert got == fresh, cfg
    # long spans are rewritten but never stored
    long_span = "<div>" + "x" * (P._DOC_MEMO_MAX_LEN + 10) + "</div>"
    got = run(P.make_rewrite_fn("relaxed"), [long_span, long_span])
    assert got == [
        Rewriter(sanitizer=S.RELAXED).rewrite(long_span)
    ] * 2

    # (c): a stateful handler must see EVERY span, repeats included
    from selma_spark.selector import Selector

    class Counter:
        def __init__(self):
            self.n = 0

        def selector(self):
            return Selector(match_element="b")

        def handle_element(self, el):
            self.n += 1

    seen = []

    def factory():
        c = Counter()
        seen.append(c)
        return [c]

    run(P.make_rewrite_fn(None, handlers_factory=factory),
        ["<b>same</b>", "<b>same</b>", "<b>same</b>"])
    assert sum(c.n for c in seen) == 3


def test_iceberg_sink_seam(spark):
    """run_pipeline(sink=IcebergSink(...)) is the swap-in path for
    clusters with Iceberg jars; this container has none (CLAUDE.md), so
    the test exercises the seam up to the catalog boundary and skips if
    the Iceberg classes are absent."""
    from selma_spark.spark.pipeline import IcebergSink

    sink = IcebergSink("local.db.docs")
    assert sink.output_path == "local.db.docs"
    assert sink.lineage_path == "local.db.docs_lineage"
    docs = make_span_docs(spark)
    try:
        run_pipeline(spark, docs, "ignored", n_buckets=4, sink=sink)
    except Exception as e:
        msg = str(e)
        # narrow matcher: only the errors that mean "no Iceberg
        # runtime/catalog here" may skip; anything else is a real bug
        if (
            "iceberg" in msg.lower()
            or "ClassNotFound" in msg
            or "REQUIRES_SINGLE_PART_NAMESPACE" in msg
            or "CATALOG_NOT_FOUND" in msg
        ):
            pytest.skip(f"no Iceberg runtime in this container: {msg[:120]}")
        raise
    out = spark.read.table("local.db.docs")
    assert out.count() == docs.count()


def test_lsh_hot_band_is_capped(spark):
    """A 1000-copy boilerplate cluster must NOT produce ~500k candidate
    pairs: buckets over max_band_size are dropped before the self-join
    (those docs are exact-dup territory), so the pair count stays
    bounded while genuinely-near docs still pair via the other bands."""
    from selma_spark.spark import textops

    rows = [(str(i), "copy copy copy boilerplate nav footer") for i in range(1000)]
    rows += [
        ("u1", "a genuinely unique document about owls and lighthouses"),
        ("u2", "a genuinely unique document about owls and lightships"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = textops.near_dup_pairs(docs, max_band_size=50)
    n = pairs.count()
    # the hot cluster contributes zero pairs; u1/u2 share 4 of their
    # shingles' bands at most -> a handful of pairs, never quadratic
    assert n <= 10, n
    # exact dedup still catches the hot cluster
    dups = textops.dedup_exact(docs).where(F.col("n_dups") >= 1000)
    assert dups.count() == 1


_BODY = ("The real article body, long enough to clear the minimum "
         "text threshold for a main-content block easily.")


@pytest.mark.parametrize(
    "collect, html, empty",
    [
        ("extract_links", '<a href="/1">a</a><p><a href="/2">b</a></p>',
         (0, "")),
        ("collect_scoped_text", "<div>kept <b>ignored</b> too</div>",
         (0, "")),
        ("density_extract_stats", f"<div><p>{_BODY}</p></div>", (0, 0)),
    ],
)
def test_per_doc_collectors_reset_state_per_document(spark, collect, html,
                                                     empty):
    """One row per document, and handler state never leaks between the
    documents of one task: a media-only or null-spans document after a
    full one reads empty, and a repeat of the full one reads the same."""
    from selma_spark.spark import pipeline

    def text(t, off=0):
        return {"kind": "text", "text": t, "media_ref": None, "offset": off}

    docs = spark.createDataFrame(
        [("a", [text(html)]),
         ("b", [{"kind": "media", "text": None, "media_ref": "m://b",
                 "offset": 0}]),
         ("c", None),
         ("d", [text(html[: len(html) // 2]),
                text(html[len(html) // 2:], 1)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    ).coalesce(1)
    rows = getattr(pipeline, collect)(docs).collect()
    out = {r[0]: tuple(r[1:]) for r in rows}
    assert len(rows) == 4
    assert out["a"] != empty
    assert out["b"] == out["c"] == empty
    # text spans are concatenated before the one parse, so a document
    # split mid-tag reads like the whole one
    assert out["d"] == out["a"]


def test_sql_function_main_content(spark):
    from selma_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    row = spark.sql(
        "SELECT selma_main_content("
        "'<div><a href=/1>Home</a> <a href=/2>About</a> "
        "<a href=/3>More nav</a> <a href=/4>Links</a></div>"
        "<div><p>The real article body, long enough to clear the minimum "
        "text threshold for a main-content block easily.</p></div>') AS m"
    ).collect()[0]
    assert "real article body" in row["m"] and "Home" not in row["m"]


def test_sql_main_content_equals_the_extractor(spark):
    """SQL ``selma_main_content`` equals ``DensityTextExtractor().main_text``
    row by row: tag-free text sits in no block and gives '' (it used to
    come back verbatim), short blocks give '', long blocks their text.
    One batch holds every row, so block state must not leak between
    rows."""
    from selma_spark.extract import DensityTextExtractor
    from selma_spark.spark.functions import register_sql_functions

    register_sql_functions(spark)
    long_block = ("<div><p>" + "A long article paragraph with words. " * 3
                  + "</p></div>")
    inputs = [
        long_block,
        "short nav",
        "tag-free text long enough to pass the block threshold " * 3,
        "<p>short block</p>",
        "<div>short block</div> trailing tag-free text",
        long_block + "<div>unclosed block with text",
        "",
        None,
    ]
    df = spark.createDataFrame(list(enumerate(inputs)), "i int, h string")
    got = {r["i"]: r["m"] for r in
           df.coalesce(1).selectExpr("i", "selma_main_content(h) AS m")
           .collect()}
    for i, h in enumerate(inputs):
        want = None
        if h is not None:
            ex = DensityTextExtractor()
            Rewriter(sanitizer=None, handlers=[ex]).rewrite(h)
            want = ex.main_text
        assert got[i] == want, (i, h)
    assert got[1] == got[2] == "" and got[0]


def test_spark_submit_pyfiles_launch(spark):
    """North-rule launch mode: spark-submit --py-files <zip> job.py must
    run the resumable pipeline end-to-end with the package provided ONLY
    by the zip (cwd is outside the repo)."""
    import os
    import subprocess
    import sys

    import pyspark

    import selma_spark.spark.job as job_mod
    from selma_spark.spark.shipping import build_pyfiles_zip

    zip_path = build_pyfiles_zip()
    tmp = tempfile.mkdtemp(prefix="selma_submit_")
    try:
        docs = interleaved_spans(
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
        ).limit(50)
        docs.write.parquet(f"{tmp}/input")
        spark_submit = os.path.join(
            os.path.dirname(pyspark.__file__), "bin", "spark-submit"
        )
        env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
        env.pop("PYTHONPATH", None)
        proc = subprocess.run(
            [
                spark_submit, "--master", "local[2]",
                "--py-files", zip_path,
                "--conf", "spark.ui.enabled=false",
                job_mod.__file__,
                "--input", f"{tmp}/input", "--output", f"{tmp}/out",
                "--config", "relaxed", "--buckets", "2",
            ],
            cwd=tmp, env=env, capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "wrote 50 documents" in proc.stdout, proc.stdout
        out = spark.read.parquet(f"{tmp}/out/documents")
        assert out.count() == 50
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
