"""Incremental / streaming execution of the KG pipeline.

The reference's "streaming" is a bounded-memory micro-batch loop:
read `raw_input_read_batch` docs, score, write a per-batch TSV, union
at the end (src/renet2/raw.py:1384-1638 generator + driver loop
src/renet2/predict.py:383-443, union at 433-443). Two Spark-native
equivalents:

* :func:`run_incremental` — partition-bucket micro-batches with
  per-bucket lineage via CheckpointStore: each bucket of documents is
  scored and appended exactly once; a killed run resumes at the first
  uncommitted bucket. This is the reference's loop made idempotent.
* :func:`stream_edges` — Structured Streaming file source ->
  foreachBatch(build_edges) -> parquet append, availableNow trigger.
  New parquet files dropped into the input dir are picked up
  incrementally with exactly-once sink semantics via the streaming
  checkpoint. (The reference corpus is static; this is the shape a
  continuously-ingesting corpus would use.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import build_edges
from ..sources.checkpoint import CheckpointStore


def run_incremental(
    spark: SparkSession,
    documents: DataFrame,
    store: CheckpointStore,
    buckets: int = 8,
    corpus: str = "auto",
) -> DataFrame:
    """Score documents in `buckets` micro-batches with lineage."""
    return store.run_stage(
        "edges",
        documents,
        lambda docs: build_edges(spark, docs, corpus=corpus),
        key_col="doc_id",
        buckets=buckets,
    )


def stream_windowed_mention_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id bigint, text string, ts timestamp",
    window_minutes: int = 10,
    watermark_minutes: int = 30,
) -> None:
    """Event-time windowed mention-throughput aggregation with a
    watermark for late documents: readStream -> tag mentions ->
    groupBy(window(ts), type) counts -> append sink. The reference is
    fully batch (SURVEY §2.9); this is the Structured-Streaming shape a
    continuously-ingesting corpus uses — late rows inside the watermark
    still update their window, older ones are dropped, and append mode
    emits each window exactly once when the watermark passes it.
    State is bounded by (windows in flight x entity types)."""
    from ..dictionaries import entity_dict_fused_df

    stream = spark.readStream.schema(schema).parquet(input_dir)
    d = entity_dict_fused_df(spark)
    words = F.split(F.col("text"), " ")
    toks = stream.select(
        "ts", F.explode(words).alias("token")
    ).join(F.broadcast(d), F.lower(F.col("token")) == d.surface, "inner")
    agg = (
        toks.withWatermark("ts", f"{watermark_minutes} minutes")
        .groupBy(
            F.window("ts", f"{window_minutes} minutes").alias("win"), "type"
        )
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "type",
            "n_mentions",
        )
    )
    (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", output_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_session_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = "event_id bigint, ts timestamp, user_id bigint",
    gap_minutes: int = 30,
    watermark_minutes: int = 60,
) -> None:
    """Streaming-native gap sessionization: the unbounded-input
    counterpart of operators/sessionize.sessionize, built on Spark's
    session_window (merging event-time sessions that close after
    gap_minutes of per-user inactivity). Append mode emits each
    session exactly once, when the watermark passes its close; state
    is bounded by sessions-in-flight. Boundary nuance vs the batch
    operator: session_window's interval is end-EXCLUSIVE, so an event
    at exactly last_ts + gap starts a NEW session, while the batch
    operator keeps an exact-gap event in-session."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    agg = (
        stream.withWatermark("ts", f"{watermark_minutes} minutes")
        .groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("sw"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", output_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id bigint, text string",
) -> None:
    """Cross-micro-batch EXACT dedup as a CUSTOM STATEFUL operator
    (applyInPandasWithState): the stream is keyed by md5(text); per
    key, the state remembers whether that hash was ever emitted, so
    only the FIRST document with a given text — across all batches the
    query has ever processed, surviving restarts via the state-store
    checkpoint — is emitted (earliest doc_id wins within a batch,
    deterministic). Output: (text_hash, keeper_doc_id).

    State is one boolean per distinct hash — the minimal streaming-
    dedup state; a production deployment bounds it with a TTL
    (GroupStateTimeout.ProcessingTimeTimeout + state.setTimeoutDuration)
    accepting re-emission after the TTL. The reference has no streaming
    at all (SURVEY §2.9); this is the Structured-Streaming shape of
    operators/dedup.dedup_exact."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(input_dir)
    hashed = stream.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5("text").alias("text_hash"),
    )

    out_schema = "text_hash string, keeper_doc_id string"
    state_schema = "seen boolean"

    def dedup(key, pdfs, state):
        import pandas as pd

        if state.exists:
            for _ in pdfs:  # drain: hash already emitted earlier
                pass
            return
        keeper = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["doc_id"].min())
                keeper = m if keeper is None else min(keeper, m)
        if keeper is None:
            return
        state.update((True,))
        yield pd.DataFrame(
            {"text_hash": [key[0]], "keeper_doc_id": [str(keeper)]}
        )

    deduped = hashed.groupBy("text_hash").applyInPandasWithState(
        dedup,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", output_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_edges(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id bigint, text string, lang string, "
    "source string, n_chars bigint",
) -> None:
    """Structured Streaming: watch input_dir for document parquet
    files, extract edges per micro-batch, append to output_dir."""
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            build_edges(spark, batch_df.select("doc_id", "text"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(output_dir)
        )

    (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
