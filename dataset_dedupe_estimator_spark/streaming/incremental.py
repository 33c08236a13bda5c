"""Structured-Streaming extensions (beyond reference surface — the
reference is batch-only, SURVEY §2.5 "Streaming: absent").

incremental chunk estimator: new files landing in a directory are chunked
as they arrive and appended to a persistent chunk table; dedup stats over
the accumulated table answer "how much would the corpus dedup so far"
without re-chunking history. This is the streaming form of the reference's
`de dedup` loop — per-file work is identical, only discovery is
incremental.

windowed event aggregation: watermarked tumbling-window counts over an
event stream — the streaming form of queries/events.events_hourly.

Scale notes: the file-source handles bookkeeping (processed-file log in
the checkpoint); chunk rows append without shuffle; stats are an on-demand
batch aggregation over the chunk table (or a HLL sketch via approx_stats
for continuous monitoring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.operators.chunker import (
    CHUNK_DDL,
    ChunkerParams,
    make_chunk_partition_fn,
)
from dataset_dedupe_estimator_spark.plans.estimate import chunk_stats


def chunk_file_stream(
    spark: SparkSession,
    input_dir: str,
    glob_pattern: str = "*",
    params: ChunkerParams = ChunkerParams(),
) -> DataFrame:
    """Streaming DataFrame of chunk rows for files arriving in input_dir.

    Uses the binaryFile streaming source for discovery but drops `content`
    immediately — the chunker streams bytes from the path inside the task
    (no 2 GB row limit, no content through the scan).

    file_idx is not meaningful under streaming arrival (no input-list
    order); provenance keys on `path`.
    """
    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", glob_pattern)
        .load(input_dir)
        .select(F.lit(-1).cast("long").alias("file_idx"), F.col("path"))
    )
    # binaryFile yields file:/... URIs; the chunker opens local paths
    files = files.withColumn("path", F.regexp_replace("path", "^file:", ""))
    chunks = files.mapInArrow(
        make_chunk_partition_fn(params, False), "param_idx long, " + CHUNK_DDL
    )
    return chunks.drop("param_idx", "data", "file_idx")


def run_incremental_chunker(
    spark: SparkSession,
    input_dir: str,
    chunk_table_dir: str,
    checkpoint_dir: str,
    glob_pattern: str = "*",
    params: ChunkerParams = ChunkerParams(),
):
    """One availableNow pass: chunk all not-yet-processed files into the
    chunk table. Returns the finished StreamingQuery. Call repeatedly (or
    switch to a continuous trigger) as data lands."""
    q = (
        chunk_file_stream(spark, input_dir, glob_pattern, params)
        .writeStream.format("parquet")
        .option("path", chunk_table_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def incremental_stats(spark: SparkSession, chunk_table_dir: str) -> DataFrame:
    """Dedup stats over the accumulated chunk table (C6 on streamed data)."""
    return chunk_stats(spark.read.parquet(chunk_table_dir))


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop duplicate *keys* within the watermark
    horizon (state is bounded — duplicates older than the watermark are
    forgotten, the standard at-scale trade-off for unbounded streams).

    ``dropDuplicatesWithinWatermark`` dedups on the keys alone, so a
    re-delivered document with a different arrival timestamp is still
    dropped (plain ``dropDuplicates([*keys, ts])`` would keep it).

    The batch form is dedup_keep_first; this is its streaming sibling for
    ingest pipelines (e.g. re-delivered documents)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (streaming events_hourly).

    ``events`` is a streaming DataFrame with (ts timestamp, event_type
    string, value double); late data beyond the watermark is dropped and
    state is bounded — the 100 TB/day design point.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def admit_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    glob_pattern: str = "*",
):
    """Continuous admission into the persistent chunk index: each
    microbatch of newly-arrived files becomes ONE index generation
    (plans/chunk_index.update_index — anti-join against all history,
    O(novel) write). The file-source checkpoint makes admission
    exactly-once per file across restarts: a re-listed file is never
    re-chunked, and a crash between batches resumes at the un-admitted
    files.

    The foreachBatch body collects file *paths* only (one short row per
    file — driver-scale metadata, the same listing the source itself
    performs); chunking and the anti-join run distributed inside
    update_index. Returns the per-batch admission stats, one dict per
    generation created in this pass (availableNow: drains everything
    pending, then stops).
    """
    from dataset_dedupe_estimator_spark.plans.chunk_index import update_index

    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", glob_pattern)
        .load(input_dir)
        .select(F.regexp_replace("path", "^file:", "").alias("path"))
    )
    admissions: list[dict] = []

    def admit(batch_df, _batch_id):
        paths = sorted(r.path for r in batch_df.collect())
        if paths:
            admissions.append(update_index(spark, paths, index_dir))

    q = (
        files.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return admissions


def admit_docs_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    pairs_out: str | None = None,
):
    """Continuous near-dup admission into the persistent LSH document
    index (plans/lsh_index.py): each microbatch of newly-arrived
    document rows becomes ONE index generation, and the near-dup
    candidate pairs it surfaces (batch-vs-ALL-history plus
    batch-vs-batch) are appended to ``pairs_out`` — the quarantine feed
    a continuous-ingestion dedup pipeline consumes.

    The parquet file source + checkpoint make admission exactly-once
    per input file across restarts. Everything heavy — shingling,
    signatures, the band-key join — runs distributed inside
    admit_docs; the foreachBatch body never collects document rows.

    Delivery contract: index admission is exactly-once (re-admission of
    an already-indexed doc_id is a no-op by construction), so the index
    itself is always correct. The ``pairs_out`` feed is at-most-once on
    a crash in the narrow window between the index's manifest commit
    and the pairs append — a consumer needing the lost pairs re-derives
    them from the index (the band rows of any generation can be
    re-joined against history at any time).
    availableNow: drains everything pending, then stops. Returns one
    admission report per generation created in this pass.
    """
    from dataset_dedupe_estimator_spark.plans.lsh_index import admit_docs

    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")  # drops may be dataset dirs
        .parquet(input_dir)
        .select("doc_id", "text")
    )
    admissions: list[dict] = []

    def admit(batch_df, _batch_id):
        if not batch_df.isEmpty():
            cands, report = admit_docs(spark, batch_df, index_dir)
            if pairs_out is not None:
                cands.withColumn("generation", F.lit(report["generation"])).write.mode(
                    "append"
                ).parquet(pairs_out)
            admissions.append(report)

    q = (
        docs.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return admissions


def admit_grams_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    spans_out: str | None = None,
):
    """Continuous exact-substring admission into the persistent gram
    index (plans/gram_index.py): each microbatch of newly-arrived
    document rows becomes ONE index generation, and the duplicate
    token spans it surfaces (batch-vs-ALL-history plus intra-batch)
    are appended to ``spans_out`` — the span-strip feed a continuous
    ingestion pipeline consumes before training-set materialization.

    Same delivery contract as admit_docs_stream: the file source +
    checkpoint make admission exactly-once per input file across
    restarts, so the index store is always correct; the ``spans_out``
    feed is at-most-once on a crash in the narrow window between the
    manifest commit and the span append — a consumer re-derives lost
    spans with gram_index.query_docs (read-only) at any time.
    availableNow: drains everything pending, then stops. Returns one
    admission report per generation created in this pass.
    """
    from dataset_dedupe_estimator_spark.plans.gram_index import admit_docs

    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")  # drops may be dataset dirs
        .parquet(input_dir)
        .select("doc_id", "text")
    )
    admissions: list[dict] = []

    def admit(batch_df, _batch_id):
        if not batch_df.isEmpty():
            spans, report = admit_docs(spark, batch_df, index_dir)
            if spans_out is not None:
                spans.withColumn(
                    "generation", F.lit(report["generation"])
                ).write.mode("append").parquet(spans_out)
            admissions.append(report)

    q = (
        docs.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return admissions


def admit_text_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
):
    """Continuous admission into the persistent inverted text index
    (plans/text_index.py): each microbatch of newly-arrived document
    rows becomes ONE index generation, immediately searchable —
    postings and corpus stats (N, avgdl) committed together by the
    manifest replace, so a query between microbatches always scores
    against a consistent snapshot.

    Same delivery contract as the other index drains: the file source +
    checkpoint make admission exactly-once per input file across
    restarts; already-indexed doc_ids are skipped inside admit_docs, so
    a replayed batch is a no-op generation-wise. availableNow: drains
    everything pending, then stops. Returns one admission report per
    generation created in this pass.
    """
    from dataset_dedupe_estimator_spark.plans.text_index import admit_docs

    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")  # drops may be dataset dirs
        .parquet(input_dir)
        .select("doc_id", "text")
    )
    admissions: list[dict] = []

    def admit(batch_df, _batch_id):
        if not batch_df.isEmpty():
            report = admit_docs(spark, batch_df, index_dir)
            if report["generation"] is not None:
                admissions.append(report)

    q = (
        docs.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return admissions
