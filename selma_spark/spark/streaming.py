"""Structured Streaming ingest for the rewrite pipeline.

The reference has no cross-document streaming (its "streaming" is within
one document); this is the pipeline-added micro-batch ingest path
(SURVEY.md §2B): new span documents land in a directory (stand-in for an
Iceberg/queue source), and ``foreachBatch`` commits each micro-batch
through run_pipeline's own commit unit (``pipeline._commit_buckets``):
the same vectorized rewrite UDF, one write, and one lineage row per
micro-batch from the UDF's per-bucket tally — so the streaming and
batch paths share one code path and one output contract.

Also provides streaming exact dedup within a watermark and stateful
band-keyed near-dup flagging."""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datagen import DOC_SCHEMA
from .pipeline import ParquetSink, _commit_buckets, _ok_lineage, _run_spec
from .textops import _SIMHASH64_EXPR, SIMHASH_MAX_HAMMING


# files per micro-batch of the document streams: bounds micro-batch size
# the way arrow batch rows bound UDF memory
MAX_FILES_PER_TRIGGER = 8
# stream_dedup_documents' horizon in event time (ingest_ts)
DEDUP_WATERMARK = "1 hour"


def read_document_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of span documents (parquet files appearing in
    input_dir), MAX_FILES_PER_TRIGGER files per micro-batch."""
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(input_dir)
    )


def stream_rewrite(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    config="default",
    handlers_factory=None,
):
    """Continuously rewrite arriving documents. Returns the streaming
    query; callers stop() it or awaitTermination().

    Each micro-batch is one bucket of run_pipeline's layout: its batch
    id is the ``bucket``, so its documents land in
    ``documents/bucket=<batch id>`` (dynamic partition overwrite) and
    its lineage row has ``partition_id = <batch id>`` and
    run_pipeline's checksum. The rewrite UDF runs once per input
    partition per micro-batch, in the write itself. The lineage is read
    once when the query starts and rewritten whole after every batch:
    a replayed batch (Structured Streaming re-runs a batch whose commit
    was not recorded) overwrites its documents and replaces its lineage
    row, so it never appends a second one. Every batch's row keeps its
    own doc count, checksum and text bytes in and out. A lineage written
    under another run spec (another config or other handlers, or a
    run_pipeline output) raises ValueError when the query starts."""
    sink = ParquetSink(output_dir)
    sink.prepare(spark)
    spec = _run_spec("micro-batch", config, handlers_factory)
    lineage = _ok_lineage(spark, sink, spec)

    def write_batch(batch_df: DataFrame, batch_id: int):
        nonlocal lineage
        kept = lineage.filter(pc.not_equal(lineage["partition_id"], batch_id))
        lineage = _commit_buckets(
            spark, sink, batch_df.withColumn("bucket", F.lit(batch_id)),
            [batch_id], kept, spec, config, handlers_factory,
        )

    return (
        read_document_stream(spark, input_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_documents(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Streaming exact-dedup: documents arriving within the
    DEDUP_WATERMARK horizon are deduplicated on their content hash with
    dropDuplicatesWithinWatermark — the state store evicts hashes older
    than the watermark, so state is bounded (a plain dropDuplicates
    would grow state forever at corpus scale). Re-sends of the same
    payload across micro-batches inside the horizon are suppressed."""
    stream = (
        spark.readStream.schema(DOC_SCHEMA + ", ingest_ts timestamp")
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(input_dir)
    )
    # per-span fingerprint covers kind + text + media_ref, with NULL
    # text and '' given different keys (md5(coalesce(text, '')) would
    # collide them) — two distinct media-only docs must NOT collide and
    # be dropped as duplicates
    span_fp = F.transform(
        "spans",
        lambda s: F.concat_ws(
            "\x01",
            F.coalesce(s["kind"], F.lit("")),
            F.when(s["text"].isNull(), F.lit("null:")).otherwise(
                F.concat(F.lit("md5:"), F.md5(s["text"]))
            ),
            F.coalesce(s["media_ref"], F.lit("")),
        ),
    )
    # NULL spans array must not collide with the empty array (both would
    # reduce to concat_ws('') otherwise) — same null-vs-empty class as
    # the per-span text marker above
    doc_fp = F.when(F.col("spans").isNull(), F.lit("nullspans:")).otherwise(
        F.concat(F.lit("spans:"), F.md5(F.concat_ws("\x00", span_fp)))
    )
    deduped = (
        stream.withColumn("_h", doc_fp)
        .withWatermark("ingest_ts", DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# --- streaming near-dup (stateful simhash banding) ---------------------------

# bounded-state discipline (same philosophy as the batch pigeonhole
# cap): a band bucket holding this many signatures is an exact-dup
# mega-cluster, not near-dup territory — stop growing its state
NEAR_DUP_MAX_BAND_STATE = 100
# last_ts_ms is the bucket's last-seen EVENT time, so an arrival can
# prune a bucket whose horizon passed without an intervening batch
NEAR_DUP_STATE_SCHEMA = (
    "doc_ids array<string>, sims array<bigint>, last_ts_ms bigint"
)
NEAR_DUP_OUTPUT_SCHEMA = "doc_id string, band_id int, near_dup_of string"


# state TTL: a band bucket idle this long in event time is evicted
# (bounded-state horizon, the stateful-op analogue of
# dropDuplicatesWithinWatermark's watermark)
NEAR_DUP_STATE_TTL_MS = 30 * 60 * 1000


def _match_and_absorb(batch, doc_ids, sims, band_id):
    """Flag each arrival against the bucket's stored signatures AND
    earlier same-batch arrivals, absorbing new signatures in-place up to
    the cap. Among several matches the lowest doc_id wins. A
    re-sent/replayed doc_id neither matches itself nor burns a cap slot —
    duplicate entries would evict room for genuinely distinct signatures
    in hot buckets (ADVICE r4 #1). Hamming uses an unsigned-64 mask
    before bit_count — Python's int.bit_count is sign-magnitude, not
    two's-complement."""
    seen = set(doc_ids)  # O(1) replay check alongside the ordered lists
    rows = []
    for doc_id, sim in batch:
        match = None
        for od, osim in zip(doc_ids, sims):
            if od == doc_id:
                continue
            if ((sim ^ osim) & 0xFFFFFFFFFFFFFFFF).bit_count() \
                    <= SIMHASH_MAX_HAMMING and (match is None or od < match):
                match = od
        rows.append((doc_id, band_id, match))
        if doc_id not in seen and len(doc_ids) < NEAR_DUP_MAX_BAND_STATE:
            doc_ids.append(doc_id)
            sims.append(sim)
            seen.add(doc_id)
    return rows


def _near_dup_band_fn(key, pdf_iter, state, ttl_ms):
    """applyInPandasWithState function for one (band_id, band_val)
    bucket: match each arriving signature against the bucket's stored
    signatures (state) AND earlier arrivals in the same batch, flag
    hamming <= SIMHASH_MAX_HAMMING (the batch path's bound). Arrivals
    are processed in doc_id order so within-batch pairing is
    deterministic regardless of task scheduling.

    The bucket horizon ``ttl_ms`` is measured in the data's own
    ``ingest_ts``, like stream_dedup_documents' watermark, never in
    wall-clock. It is read from ``ts_ms``, the JVM's epoch millis of
    ``ingest_ts``: the pandas ``ingest_ts`` column holds naive wall-clock
    time in the session time zone, which would shift every timer by the
    zone's UTC offset (west of UTC, setTimeoutTimestamp then rejects a
    timeout behind the watermark). Eviction is double-pathed and fully
    deterministic:

    1. timer path — the timeout TIMESTAMP is (last event ts + ttl); when
       the stream's watermark passes it with no new data for the bucket,
       the timed-out invocation sees no input rows and removes the state
       wholesale;
    2. arrival path — a batch whose EARLIEST event time is beyond
       (last_ts + ttl) clears the inherited signatures before matching,
       because Spark does not fire a group's timer in a batch where that
       group also has data: without this check a late re-send arriving
       exactly when the timer should have fired would still match
       horizon-expired state.
    """
    import pandas as pd  # noqa: PLC0415

    band_id = int(key[0])
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame(columns=["doc_id", "band_id", "near_dup_of"])
        return
    if state.exists:
        doc_ids, sims, last_ts_ms = state.get
        doc_ids, sims = list(doc_ids), list(sims)
    else:
        doc_ids, sims, last_ts_ms = [], [], None
    batch, stamps = [], []
    for pdf in pdf_iter:
        for doc_id, sim, ts_ms in zip(
            pdf["doc_id"], pdf["simhash"], pdf["ts_ms"]
        ):
            batch.append((str(doc_id), int(sim)))
            stamps.append(int(ts_ms))
    if last_ts_ms is not None and min(stamps) - int(last_ts_ms) > ttl_ms:
        doc_ids, sims = [], []  # horizon passed: expire inherited state
    batch.sort()
    rows = _match_and_absorb(batch, doc_ids, sims, band_id)
    new_last = max(int(last_ts_ms or 0), max(stamps))
    state.update((doc_ids, sims, new_last))
    state.setTimeoutTimestamp(new_last + ttl_ms)
    yield pd.DataFrame(rows, columns=["doc_id", "band_id", "near_dup_of"])


def stream_near_dup_flags(
    spark: SparkSession, input_dir: str, checkpoint_dir: str,
    query_name: str = "near_dup_flags",
    state_ttl_ms: int = NEAR_DUP_STATE_TTL_MS,
):
    """Streaming NEAR-duplicate detection (VERDICT r3 #7, beyond the
    exact dedup above): per micro-batch, each document's 64-bit simhash
    (the SAME JVM-side SQL expression as the batch path) is split into
    4x16-bit pigeonhole bands; a band-keyed stateful operator
    (applyInPandasWithState) matches arrivals against the signatures
    already seen in that band bucket, across AND within micro-batches.
    Any pair within hamming 3 agrees exactly on >= 1 band, so banding
    loses no candidates while keying state by (band_id, band_val) keeps
    each state cell tiny and the shuffle an equi-partition on the band
    key — the same scale shape as the batch simhash_near_dup join.

    State per cell is DOUBLY bounded: capped signature count (saturated
    cells are exact-dup territory) AND an event-time TTL
    (``state_ttl_ms``) that evicts idle buckets — the stateful-op
    analogue of dropDuplicatesWithinWatermark's horizon. The clock is
    the data's own ``ingest_ts`` under a watermark of (max ingest_ts -
    state_ttl_ms) with EventTimeTimeout, so expiry is deterministic
    under replay/backfill and the availableNow query terminates once
    its input is drained.

    A doc whose ``ingest_ts`` is already older than the watermark when
    it arrives is late: Spark drops it before the state function, so it
    gets NO output row. Late docs are counted, per micro-batch, in the
    query progress field ``stateOperators[0].numRowsDroppedByWatermark``
    (one dropped row per band, i.e. 4 per doc).

    A doc is a near-dup iff ANY of its 4 band rows carries a non-null
    near_dup_of (aggregate downstream). Update-mode in-memory sink."""
    import functools  # noqa: PLC0415

    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    from .shipping import ensure_shipped  # noqa: PLC0415

    ensure_shipped(spark)
    docs = (
        spark.readStream.schema("doc_id string, text string, ingest_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    ttl_ms = int(state_ttl_ms)
    # EventTimeTimeout requires a watermark on the grouped stream; the
    # horizon itself doubles as the allowed lateness
    sh = docs.select(
        "doc_id", "ingest_ts", F.expr(_SIMHASH64_EXPR).alias("simhash")
    ).withWatermark("ingest_ts", f"{ttl_ms} milliseconds")
    # the grouped rows keep the watermarked ingest_ts (Spark rejects an
    # event-time timeout without it); ts_ms is its epoch millis for the
    # state function's clock
    bands = sh.select(
        "doc_id",
        "simhash",
        "ingest_ts",
        F.unix_millis("ingest_ts").alias("ts_ms"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_id"),
                        F.shiftright(F.col("simhash"), 16 * k)
                        .bitwiseAND(F.lit(65535))
                        .alias("band_val"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("b"),
    ).select(
        "doc_id", "simhash", "ingest_ts", "ts_ms", "b.band_id", "b.band_val"
    )
    flags = bands.groupBy("band_id", "band_val").applyInPandasWithState(
        functools.partial(_near_dup_band_fn, ttl_ms=ttl_ms),
        outputStructType=NEAR_DUP_OUTPUT_SCHEMA,
        stateStructType=NEAR_DUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return (
        flags.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
