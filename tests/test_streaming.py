"""Structured Streaming paths: the micro-batch rewrite commits through
run_pipeline's commit unit (same output, same lineage checksum, one UDF
run per input partition per micro-batch, replay-safe lineage); exact
dedup within a watermark; stateful near-dup flagging."""

import os
import random
import shutil
import tempfile

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from selma_spark.spark.datagen import interleaved_spans
from selma_spark.spark.pipeline import rewrite_documents, run_pipeline
from selma_spark.spark.streaming import stream_rewrite

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("selma-streaming-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def _lineage_total(rows):
    """(summed doc counts, summed doc_id hashes mod 2^64) over lineage
    rows whose checksums are ``"<count>:<16 hex>"``."""
    n = h = 0
    for r in rows:
        count, hex_sum = r["checksum"].split(":")
        assert int(count) == r["doc_count"]
        n += int(count)
        h = (h + int(hex_sum, 16)) % 2**64
    return n, h


def test_stream_rewrite_matches_batch(spark):
    """The stream's output equals rewrite_documents; its rewrite UDF runs
    once per input partition per micro-batch (a marking
    handlers_factory records each task run with its batch id); its
    lineage totals equal run_pipeline's over the same documents."""
    tmp = tempfile.mkdtemp(prefix="selma_stream_")
    mark = f"{tmp}/mark"
    os.makedirs(mark)

    def marking_factory():
        import uuid  # noqa: PLC0415

        from pyspark import TaskContext  # noqa: PLC0415

        tc = TaskContext.get()
        batch = tc.getLocalProperty("streaming.sql.batchId")
        open(f"{mark}/{batch}_{tc.partitionId()}_{uuid.uuid4().hex}",
             "w").close()
        return []  # no handlers: the same rewrite as config alone

    try:
        docs = interleaved_spans(
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
        )
        # stage input as several files so multiple micro-batches fire
        docs.repartition(4).write.parquet(f"{tmp}/in")
        q = stream_rewrite(
            spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt", config="default",
            handlers_factory=marking_factory,
        )
        assert q.awaitTermination(120)
        q.stop()

        streamed = spark.read.parquet(f"{tmp}/out/documents")
        batch = rewrite_documents(docs, "default")
        assert streamed.count() == docs.count()
        # value equality, order-insensitive
        s_out = streamed.select("doc_id", "spans")
        assert s_out.exceptAll(batch).count() == 0
        assert batch.exceptAll(s_out).count() == 0

        lineage = spark.read.parquet(f"{tmp}/out/lineage").collect()
        assert all(r["status"] == "ok" for r in lineage)
        batch_ids = sorted(r["partition_id"] for r in lineage)
        # run_pipeline's layout: one bucket per micro-batch
        assert sorted(
            r["bucket"] for r in streamed.select("bucket").distinct().collect()
        ) == batch_ids

        runs = [name.split("_")[:2] for name in os.listdir(mark)]
        assert runs and {int(b) for b, _ in runs} == set(batch_ids)
        assert len(runs) == len({tuple(r) for r in runs}), sorted(runs)

        res = run_pipeline(spark, docs, f"{tmp}/batch", config="default",
                           n_buckets=4)
        want = _lineage_total(spark.read.parquet(res.lineage_path).collect())
        assert _lineage_total(lineage) == want
        assert want[0] == docs.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_rewrite_resumes_from_checkpoint(spark):
    """Checkpoint-resume: stop the stream, land NEW files, restart with
    the SAME checkpoint — already-processed files are not reprocessed
    and the combined output covers exactly the union of doc_ids. The
    last batch's commit is dropped before the restart, so Structured
    Streaming replays it: the replay must replace its lineage row, not
    append a second one."""
    tmp = tempfile.mkdtemp(prefix="selma_stream_resume_")
    in_dir, out_dir, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
    try:
        docs = interleaved_spans(
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
        )
        first = docs.where(F.col("doc_id").cast("bigint") < 100)
        second = docs.where(
            (F.col("doc_id").cast("bigint") >= 100)
            & (F.col("doc_id").cast("bigint") < 200)
        )
        first.write.parquet(f"{in_dir}/part1")
        q = stream_rewrite(spark, f"{in_dir}/*", out_dir, ckpt, "default")
        assert q.awaitTermination(120)
        got1 = spark.read.parquet(f"{out_dir}/documents")
        n1 = got1.count()
        assert n1 == first.count()

        last = max(int(n) for n in os.listdir(f"{ckpt}/commits")
                   if n.isdigit())
        for name in (str(last), f".{last}.crc"):
            os.remove(f"{ckpt}/commits/{name}")
        second.write.parquet(f"{in_dir}/part2")
        q2 = stream_rewrite(spark, f"{in_dir}/*", out_dir, ckpt, "default")
        assert q2.awaitTermination(120)
        assert q2.recentProgress[0].batchId == last  # the replay
        got = spark.read.parquet(f"{out_dir}/documents")
        ids = [r["doc_id"] for r in got.select("doc_id").collect()]
        assert len(ids) == len(set(ids)) == 200  # no reprocessing dupes
        # lineage: one ok row per micro-batch, the replayed one included
        lin = spark.read.parquet(f"{out_dir}/lineage").collect()
        batch_ids = [r["partition_id"] for r in lin]
        assert len(batch_ids) == len(set(batch_ids)) and last in batch_ids
        assert all(r["status"] == "ok" for r in lin)
        assert _lineage_total(lin)[0] == 200
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _text_bytes(spans):
    return sum(len(s["text"].encode()) for s in spans or []
               if s["text"] is not None)


def test_stream_keeps_every_batchs_bytes(spark):
    """Two micro-batches leave two lineage rows, each with its own
    batch's doc count and UTF-8 text bytes in and out (recomputed here
    from the input and from ``documents/bucket=<batch id>``); the second
    batch's commit keeps the first batch's row. A restart under another
    config is refused when the query starts."""
    tmp = tempfile.mkdtemp(prefix="selma_stream_bytes_")
    in_dir, out_dir, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
    try:
        docs = interleaved_spans(
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
        ).where(F.col("doc_id").cast("bigint") < 120)
        ids = F.col("doc_id").cast("bigint")
        docs.where(ids < 50).write.parquet(f"{in_dir}/part1")
        q = stream_rewrite(spark, f"{in_dir}/*", out_dir, ckpt, "relaxed")
        assert q.awaitTermination(120)
        docs.where(ids >= 50).write.parquet(f"{in_dir}/part2")
        q = stream_rewrite(spark, f"{in_dir}/*", out_dir, ckpt, "relaxed")
        assert q.awaitTermination(120)

        inputs = {r["doc_id"]: r["spans"] for r in docs.collect()}
        out = spark.read.parquet(f"{out_dir}/documents").collect()
        want = {}
        for r in out:
            w = want.setdefault(r["bucket"], [0, 0, 0])
            w[0] += 1
            w[1] += _text_bytes(inputs[r["doc_id"]])
            w[2] += _text_bytes(r["spans"])
        lineage = spark.read.parquet(f"{out_dir}/lineage").collect()
        got = {r["partition_id"]: [r["doc_count"], r["bytes_in"],
                                   r["bytes_out"]] for r in lineage}
        assert len(lineage) == 2 and sorted(got) == [0, 1]
        assert got == want
        assert [w[0] for _, w in sorted(want.items())] == [50, 70]
        assert all(w[1] != w[2] for w in want.values())

        with pytest.raises(ValueError, match="run spec"):
            stream_rewrite(spark, f"{in_dir}/*", out_dir, ckpt, "default")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_near_dup_flags(spark):
    """Near-identical docs arriving in DIFFERENT micro-batches are
    flagged against the earlier doc (state survives the batch
    boundary); identical docs within ONE batch flag the later one
    against the earlier; unrelated docs stay unflagged. Cross-checked
    against the batch simhash path: the flagged pairs' hamming distance
    must be <= 3 by textops.simhash64 on the same texts."""
    import datetime
    import pathlib

    from selma_spark.spark import textops
    from selma_spark.spark.streaming import stream_near_dup_flags

    tmp = tempfile.mkdtemp(prefix="selma_snear_")
    try:
        inp, ckpt = f"{tmp}/in", f"{tmp}/ckpt"
        pathlib.Path(inp).mkdir(parents=True)
        t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
        base = (
            "the quick brown fox jumps over the lazy dog while seventeen "
            "sailors navigate treacherous northern waters seeking safe "
            "harbor before the winter storms arrive in earnest"
        )
        other = (
            "completely unrelated quarterly revenue figures demonstrate "
            "sustained growth across emerging markets despite currency "
            "headwinds and persistent supply chain disruptions worldwide"
        )
        schema = "doc_id string, text string, ingest_ts timestamp"
        # batch 1: the original + an unrelated doc
        spark.createDataFrame(
            [("a", base, t0), ("c", other, t0)], schema
        ).coalesce(1).write.mode("append").parquet(f"{inp}/f1")
        # batch 2: an exact re-send of base (hamming 0 vs a) + a fresh
        # within-batch identical pair (d, e)
        spark.createDataFrame(
            [("b", base, t0), ("d", other + " appendix", t0),
             ("e", other + " appendix", t0)],
            schema,
        ).coalesce(1).write.mode("append").parquet(f"{inp}/f2")

        q = stream_near_dup_flags(
            spark, f"{inp}/*", ckpt, query_name="snear_test"
        )
        assert q.awaitTermination(120)
        q.stop()

        rows = spark.sql(
            "SELECT doc_id, min(near_dup_of) AS dup_of, "
            "count(near_dup_of) AS n_hits FROM snear_test GROUP BY 1"
        ).collect()
        got = {r["doc_id"]: (r["dup_of"], r["n_hits"]) for r in rows}
        assert got["a"][1] == 0          # first arrival: clean
        assert got["c"][1] == 0          # unrelated: clean
        assert got["b"][0] == "a" and got["b"][1] > 0   # cross-batch dup
        assert got["d"][1] == 0          # earlier of the in-batch pair
        assert got["e"][0] == "d" and got["e"][1] > 0   # in-batch dup

        # batch-path consistency: simhash hamming of flagged pairs <= 3
        sh = {
            r["doc_id"]: r["simhash"]
            for r in textops.simhash64(
                spark.createDataFrame(
                    [("a", base), ("b", base),
                     ("d", other + " appendix"), ("e", other + " appendix")],
                    "doc_id string, text string",
                )
            ).collect()
        }
        for x, y in (("a", "b"), ("d", "e")):
            assert ((sh[x] ^ sh[y]) & 0xFFFFFFFFFFFFFFFF).bit_count() <= 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_near_dup_state_ttl_evicts_idle_buckets(spark):
    """Bounded state, part 2 (timer path): once the watermark passes an
    idle band bucket's horizon, its event-time timer fires in a batch
    with no data for it and removes the state, so a duplicate arriving
    AFTER the horizon is NOT flagged — mirroring
    dropDuplicatesWithinWatermark's bounded-memory contract. A copy
    whose own ingest_ts is behind the watermark is late: it gets no
    output row and is counted in numRowsDroppedByWatermark. The session
    time zone is west of UTC: timers must be set in epoch time, not in
    the naive wall-clock time the state function's pandas frames hold."""
    import datetime
    import pathlib

    from selma_spark.spark.streaming import stream_near_dup_flags

    tmp = tempfile.mkdtemp(prefix="selma_snear_ttl_")
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        inp, ckpt = f"{tmp}/in", f"{tmp}/ckpt"
        pathlib.Path(inp).mkdir(parents=True)
        t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
        t10 = t0 + datetime.timedelta(minutes=10)
        base = (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon"
        )
        schema = "doc_id string, text string, ingest_ts timestamp"
        # one file per micro-batch (maxFilesPerTrigger=1):
        #   f1 a at t0; f2 filler z at t0+10min moves the watermark to
        #   t0+9min; f3 filler y has no data for a's buckets, so their
        #   timers (t0+60s) fire there; f4 b, a copy of a, at t0+10min;
        #   f5 a late copy of a at t0, behind the watermark
        filler_z = "totally different interleaved filler words here"
        filler_y = "another unrelated filler line about harbor cranes"
        for name, doc_id, text, ts in (
            ("f1", "a", base, t0),
            ("f2", "z", filler_z, t10),
            ("f3", "y", filler_y, t10),
            ("f4", "b", base, t10),
            ("f5", "late", base, t0),
        ):
            spark.createDataFrame([(doc_id, text, ts)], schema).coalesce(1) \
                .write.mode("append").parquet(f"{inp}/{name}")

        q = stream_near_dup_flags(
            spark, f"{inp}/*", ckpt, query_name="snear_ttl_test",
            state_ttl_ms=60_000,
        )
        assert q.awaitTermination(120)
        q.stop()
        rows = spark.sql(
            "SELECT doc_id, count(near_dup_of) AS n_hits "
            "FROM snear_ttl_test GROUP BY 1"
        ).collect()
        got = {r["doc_id"]: r["n_hits"] for r in rows}
        assert got["a"] == 0
        # a's 4 band cells were removed by their timers, so the
        # byte-identical re-send b is NOT flagged
        assert got["b"] == 0, got
        assert "late" not in got, got
        ops = [p.stateOperators[0] for p in q.recentProgress]
        assert sum(o.numRowsRemoved for o in ops) >= 4
        assert sum(o.numRowsDroppedByWatermark for o in ops) == 4
    finally:
        spark.conf.set("spark.sql.session.timeZone", session_tz)
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_near_dup_event_time_eviction(spark):
    """EVENT-time horizon (VERDICT r4 #6), arrival path: duplicates
    arriving within the event-time TTL are flagged; a duplicate whose
    ingest_ts is past the horizon is NOT. It lands in the first batch
    after the watermark passes the bucket's horizon, where Spark fires
    no timer for a bucket that has data, so the arrival check expires
    the state. No wall-clock sleeps anywhere in the test (deterministic
    by construction)."""
    import datetime
    import pathlib

    from selma_spark.spark.streaming import stream_near_dup_flags

    tmp = tempfile.mkdtemp(prefix="selma_snear_evt_")
    try:
        inp, ckpt = f"{tmp}/in", f"{tmp}/ckpt"
        pathlib.Path(inp).mkdir(parents=True)
        t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
        base = (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon"
        )
        schema = "doc_id string, text string, ingest_ts timestamp"
        # f1: the original at t0
        spark.createDataFrame([("a", base, t0)], schema).coalesce(1) \
            .write.mode("append").parquet(f"{inp}/f1")
        # f2: an IN-horizon re-send (t0+30s < 60s ttl) + an unrelated doc
        # far in the future that drags the watermark past a's horizon
        spark.createDataFrame(
            [("c", base, t0 + datetime.timedelta(seconds=30)),
             ("z", "totally different interleaved filler words here",
              t0 + datetime.timedelta(minutes=10))],
            schema,
        ).coalesce(1).write.mode("append").parquet(f"{inp}/f2")
        # f3: a byte-identical re-send whose EVENT time is ~9.5 min past
        # the bucket's last activity — beyond the 60s event-time horizon
        spark.createDataFrame(
            [("b", base, t0 + datetime.timedelta(minutes=10))], schema
        ).coalesce(1).write.mode("append").parquet(f"{inp}/f3")

        q = stream_near_dup_flags(
            spark, f"{inp}/*", ckpt, query_name="snear_evt_test",
            state_ttl_ms=60_000,
        )
        assert q.awaitTermination(120)
        q.stop()
        rows = spark.sql(
            "SELECT doc_id, min(near_dup_of) AS dup_of, "
            "count(near_dup_of) AS n_hits FROM snear_evt_test GROUP BY 1"
        ).collect()
        got = {r["doc_id"]: (r["dup_of"], r["n_hits"]) for r in rows}
        assert got["a"][1] == 0                       # first arrival
        assert got["c"][0] == "a" and got["c"][1] > 0  # inside horizon
        assert got["z"][1] == 0                       # unrelated
        assert got["b"][1] == 0, got                  # past horizon: evicted
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_match_and_absorb_cap_replay_lowest_id_and_sign():
    """The pure per-bucket matcher, no Spark: the bucket stops growing
    at the cap, a replayed doc_id neither matches itself nor burns a
    cap slot, the lowest matching doc_id wins, and signed simhashes are
    compared as unsigned 64-bit words."""
    from selma_spark.spark.streaming import (
        NEAR_DUP_MAX_BAND_STATE,
        _match_and_absorb,
    )

    cap = NEAR_DUP_MAX_BAND_STATE
    # seeded random words: no two lie within hamming 3 of each other
    rng = random.Random(7)
    batch = [(f"d{i:04d}", rng.getrandbits(64)) for i in range(cap + 5)]

    # cap: every arrival gets a row, only the first `cap` are stored
    doc_ids, sims = [], []
    rows = _match_and_absorb(batch, doc_ids, sims, 2)
    assert rows == [(d, 2, None) for d, _ in batch]
    assert list(zip(doc_ids, sims)) == batch[:cap]

    # replay: an already-stored doc_id is not its own match and takes
    # no slot, so a distinct doc still fits the last slot
    doc_ids = [d for d, _ in batch[:cap - 1]]
    sims = [s for _, s in batch[:cap - 1]]
    rows = _match_and_absorb([batch[3], batch[cap]], doc_ids, sims, 0)
    assert rows == [(batch[3][0], 0, None), (batch[cap][0], 0, None)]
    assert list(zip(doc_ids, sims)) == batch[:cap - 1] + [batch[cap]]

    # lowest doc_id wins among several matches, whatever the stored order
    rows = _match_and_absorb([("z", 0b1000)], ["m", "c", "x"],
                             [0b1001, 0b1010, 0b1000], 1)
    assert rows == [("z", 1, "c")]

    # signed pairs go through the 64-bit mask: 1 vs -2**63 differ in 2
    # bits (sign-magnitude bit_count would say 63); 0 vs -1 differ in
    # all 64 (sign-magnitude would say 1)
    assert _match_and_absorb([("b", -2**63)], ["a"], [1], 3) == [("b", 3, "a")]
    assert _match_and_absorb([("b", -1)], ["a"], [0], 3) == [("b", 3, None)]


def test_stream_dedup_documents(spark):
    """Duplicate payloads arriving across micro-batches inside the
    watermark horizon are suppressed; distinct payloads all land."""
    import pathlib

    from selma_spark.spark.streaming import stream_dedup_documents

    tmp = tempfile.mkdtemp(prefix="selma_sdedup_")
    try:
        inp, outp, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
        pathlib.Path(inp).mkdir(parents=True)
        schema = (
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>, ingest_ts timestamp"
        )
        import datetime

        t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
        rows1 = [
            ("a", [("text", "<b>same</b>", None, 0)], t0),
            ("b", [("text", "<i>other</i>", None, 0)], t0),
        ]
        # second file: one exact re-send (same payload, new doc_id) and
        # one genuinely new payload
        rows2 = [
            ("c", [("text", "<b>same</b>", None, 0)], t0),
            ("d", [("text", "<u>fresh</u>", None, 0)], t0),
        ]
        spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        q = stream_dedup_documents(spark, inp, outp, ckpt)
        assert q.awaitTermination(120)
        out = spark.read.parquet(outp)
        texts = sorted(
            r["spans"][0]["text"] for r in out.collect()
        )
        assert texts == ["<b>same</b>", "<i>other</i>", "<u>fresh</u>"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
