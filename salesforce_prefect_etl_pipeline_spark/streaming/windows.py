"""Structured Streaming over the events table.

The reference's "streaming" is a 15-minute cron re-run of the batch flow
(deployments/serve_15min.py:5-14); Structured Streaming with
``Trigger.AvailableNow`` reproduces exactly that periodic-batch semantics
(process everything new, then stop) while upgrading the surface with real
event-time windows, watermarks, and sessionization:

- tumbling / sliding windows: ``F.window(ts, size[, slide])``
- session windows: ``F.session_window(ts, gap)`` (also usable in batch,
  which is how the DuckDB oracle checks it via lag+cumsum sessionization)
- late data: ``withWatermark`` bounds state; with AvailableNow over a
  static file everything arrives in one batch, so results equal the batch
  plan — which is what makes the streaming path oracle-checkable.

Scale: event-time aggregation state is partitioned by (window, keys);
watermarks bound it. The drift check (reference X10,
tasks/quality_parallel.py:159-189) becomes a foreachBatch comparison
against a state table (see operators/quality.py).
"""

from __future__ import annotations

import os
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from salesforce_prefect_etl_pipeline_spark.functions import exact_sum

def _normalize_ts(df: DataFrame, ts_type: str | None) -> DataFrame:
    """``ts`` -> session-tz TIMESTAMP, dispatched on the physical read
    type (the testdata generator has shipped several encodings):

    - ``bigint``: epoch-nanos under spark.sql.legacy.parquet.nanosAsLong
      (TIMESTAMP(NANOS) files) — truncate to micros, same as DuckDB's
      TIMESTAMP_NS -> TIMESTAMP cast;
    - ``timestamp_ntz``: TIMESTAMP(MICROS, isAdjustedToUTC=false) files —
      cast interprets the wall-clock in the session zone (pinned UTC),
      matching DuckDB's naive TIMESTAMP reading;
    - ``timestamp``: already the target type.
    """
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_events_dir(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    Streaming requires an explicit schema, which must match the physical
    file encoding — a hardcoded one silently misreads when the encoding
    changes (e.g. a LongType field over a MICROS column reads micros as
    if they were nanos, collapsing every timestamp to ~1970). The schema
    is therefore sniffed from a batch footer read of the same directory,
    and the dtype-dispatched ts normalization applied on top.
    """
    from salesforce_prefect_etl_pipeline_spark.plans import ensure_session_confs

    ensure_session_confs(spark)
    static = spark.read.parquet(src_dir)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _normalize_ts(reader.parquet(src_dir), dict(static.dtypes).get("ts"))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the testdata events table (ts normalized
    exactly like ``plans.compiler.load_table``).

    The streaming file source only accepts directories; the testdata dir
    holds all tables side by side (and is read-only), so the events file
    is exposed through a one-file symlink directory (:func:`table_link_dir`).
    """
    return stream_events_dir(spark, table_link_dir(sf_dir, "events"))


def table_link_dir(sf_dir: str, table: str) -> str:
    """One-file directory ``<sf_dir>_<table>`` under the temp dir whose
    only entry is a symlink to ``{sf_dir}/{table}.parquet`` — the
    streaming file source only accepts directories."""
    link_dir = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_streams",
        f"{sf_dir.strip('/').replace('/', '_')}_{table}",
    )
    os.makedirs(link_dir, exist_ok=True)
    link = os.path.join(link_dir, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/{table}.parquet"), link)
    return link_dir


def tumbling_agg(events: DataFrame, size: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window counts+sums per event_type."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("records"), exact_sum("value").alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            "records",
            "sum_value",
        )
    )


def sliding_agg(
    events: DataFrame,
    size: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding event-time windows (each event lands in size/slide buckets)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", size, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("records"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            "records",
        )
    )


def session_agg(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Gap-based session windows per user: session = maximal run of
    events with inter-event gap < ``gap``; window end = last ts + gap.
    Output times as epoch micros (exact integers, hash-stable)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), exact_sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key in state only until
    the watermark passes it, so state size is (keys arriving within the
    horizon), not (all keys ever) — the difference between a dedup that
    survives 100 TB/day and one whose state store grows without bound
    (plain ``dropDuplicates`` on a stream). Batch input degrades to
    ordinary dropDuplicates (same API contract as the reference's D1
    keep-one-per-key, tasks/quality_parallel.py:92-95).

    Which duplicate survives is arrival-order-dependent — compose with
    survivor-insensitive downstreams (aggregates over the key columns)
    when determinism is required.
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def dedup_user_type_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Distinct (user_id, event_type) dedup -> per-type unique-user
    counts. Two chained stateful operators when streaming (dedup state +
    aggregation state); deterministic because the aggregate only sees
    the key columns, never the arbitrary survivor row."""
    deduped = dedup_within_watermark(events, ["user_id", "event_type"], watermark)
    return (
        deduped.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select("event_type", "n_users")
    )


def stream_static_enriched(
    events: DataFrame,
    customer: DataFrame,
    size: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STATIC join: enrich each (possibly streaming) event with a
    dimension row — the canonical streaming-ETL enrichment shape. The
    static side is broadcast, so the streaming side never shuffles for
    the join; the only stateful operator is the windowed aggregate.

    Events carry no customer key, so one is derived deterministically
    (user_id mod max(c_custkey) + 1 — the oracle reproduces it); output
    is hourly counts per market segment."""
    max_key = customer.agg(F.max("c_custkey")).collect()[0][0]
    dim = customer.select(F.col("c_custkey").alias("cust_key"), "c_mktsegment")
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    mapped = src.withColumn(
        "cust_key", F.pmod(F.col("user_id"), F.lit(max_key)) + F.lit(1)
    )
    joined = mapped.join(F.broadcast(dim), "cust_key")
    return (
        joined.groupBy(F.window("ts", size).alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("records"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "c_mktsegment",
            "records",
        )
    )


def stream_stream_attribution(
    events: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM interval join: attribute each purchase to the same
    user's clicks in the preceding ``attribution_window`` — the canonical
    streaming attribution shape (two live streams, neither broadcastable).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can expire join state: a buffered click is dropped
    once the purchase-side watermark passes click_ts + window. Without
    the time-range condition stream-stream state grows without bound —
    THAT is the 100 TB/day contract here, not the join itself. State is
    keyed by user_id (the equi-join key), so both streams shuffle once on
    user_id. Batch input degrades to an ordinary range self-join, which
    is exactly what the DuckDB oracle replays (single-batch AvailableNow
    input makes the streaming result batch-equal).

    Output: one row per (click, purchase) attribution pair, times as
    epoch micros (exact integers, hash-stable)."""
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", watermark)
        purchases = purchases.withWatermark("purchase_ts", watermark)
    joined = clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL {attribution_window}
            """
        ),
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )


def stream_stream_attribution_outer(
    events: DataFrame,
    attribution_window: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every click, attributed
    purchases OR NULLs — the "which clicks never converted" feed. The
    outer side is what makes this a distinct streaming capability: an
    unmatched click can only be emitted once the purchase-side
    watermark proves no in-window purchase can still arrive, so the
    nulls appear with watermark latency (with AvailableNow over one
    batch, everything finalizes at end-of-batch, making the result
    batch-equal to a LEFT JOIN — the oracle). Same bounded join state
    as the inner variant; the outer rows add no state, only deferred
    emission."""
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", watermark)
        purchases = purchases.withWatermark("purchase_ts", watermark)
    joined = clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL {attribution_window}
            """
        ),
        "left_outer",
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )


#: Shuffle-partition pin for STATEFUL streaming queries. AQE is disabled
#: inside stateful streaming (Spark pins the plan so state-store
#: partitioning stays stable across batches), so the session's pre-AQE
#: upper bound — sized for batch scans — becomes the literal state-store
#: count, and every micro-batch pays a fixed per-store instantiation
#: cost. Measured at sf0.1 local[32]: click attribution 5-8 s at 32
#: stores vs 2.5 s at 8; hourly tumbling 1.5-2.2 s vs ~1.1 s. On a real
#: cluster size this to state volume (~2-3x cores), not to this local
#: floor.
STREAM_SHUFFLE_PARTITIONS = 8


def run_available_now(
    df: DataFrame,
    on_batch: Callable[[DataFrame, int], None] | None = None,
    query_name: str | None = None,
    mode: str = "update",
    checkpoint_dir: str | None = None,
) -> None:
    """Run a streaming plan with Trigger.AvailableNow (process everything
    new, then stop) and wait for it: into ``on_batch`` via foreachBatch,
    called for non-empty micro-batches only, or into the memory sink
    table ``query_name``.

    The checkpoint is a temp dir removed afterwards unless the caller
    passes ``checkpoint_dir``, which is kept so the next run resumes
    from the last committed offset. ``spark.sql.shuffle.partitions`` is
    pinned to ``STREAM_SHUFFLE_PARTITIONS`` for the stream's whole
    lifetime and restored after, also when a callback raises: state
    partitioning is fixed at first start from this value and AQE cannot
    coalesce it later, and callbacks that plan through the caller's
    session see the same value as the stream's own plans."""
    spark = df.sparkSession
    ctx = None
    if checkpoint_dir is None:
        ctx = tempfile.TemporaryDirectory(prefix="ckpt_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
    try:
        writer = (
            df.writeStream.outputMode(mode)
            .option("checkpointLocation", checkpoint_dir or ctx.name)
            .trigger(availableNow=True)
        )
        if on_batch is None:
            writer = writer.format("memory").queryName(query_name)
        else:

            def _non_empty(batch_df: DataFrame, batch_id: int) -> None:
                if not batch_df.isEmpty():
                    on_batch(batch_df, batch_id)

            writer = writer.foreachBatch(_non_empty)
        writer.start().awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if ctx is not None:
            ctx.cleanup()


def run_stream_to_batch(
    result: DataFrame, name: str, mode: str = "complete"
) -> DataFrame:
    """Execute a streaming plan with Trigger.AvailableNow into a memory
    sink and return the materialized result (the reference's
    run-the-whole-batch-now cadence, X-ref serve_15min.py). Aggregating
    plans use ``complete`` mode; stream-stream joins emit with
    ``append`` (rows finalize when the watermark passes them)."""
    run_available_now(result, query_name=name, mode=mode)
    return result.sparkSession.table(name)


def stream_upsert_snapshot(
    result: DataFrame,
    snapshot_path: str,
    key: str,
    version_col: str,
    checkpoint_dir: str | None = None,
) -> str:
    """Streaming upsert sink: ``foreachBatch`` folds every micro-batch
    into a keyed parquet snapshot via ``merge_snapshot`` — the
    plain-parquet MERGE INTO. This is the durable-sink half of the
    exactly-once story: Structured Streaming replays an
    incompletely-committed batch after a crash, and the merge is
    idempotent per key+version, so replays converge to the same end
    state (the same composition the batch watermark extractor uses,
    sources/salesforce.py + sources/io.py). With a persistent
    ``checkpoint_dir`` the stream also resumes from the last committed
    offset instead of re-reading history.

    ``update`` output mode: aggregating plans emit only the groups a
    batch changed, exactly the delta the merge needs — ``complete``
    would rewrite every group every batch."""
    from salesforce_prefect_etl_pipeline_spark.sources.io import merge_snapshot

    spark = result.sparkSession
    run_available_now(
        result,
        lambda batch_df, _: merge_snapshot(
            spark, snapshot_path, batch_df, key, version_col
        ),
        checkpoint_dir=checkpoint_dir,
    )
    return snapshot_path
