"""Structured Streaming operators over the `events` table.

Design: every streaming op is expressed against `readStream` exactly as
it would run against Kafka/files on a cluster; tests and the driver
replay the static events parquet through the file source with an
`availableNow` trigger into a memory sink, which drains the whole table
synchronously. Batch-equivalence (streaming result == batch SQL on the
same rows) is the correctness gate — the oracle side is plain SQL.

Watermarks: aggregations used for oracle comparison run in `complete`
output mode (no watermark) so every window is emitted regardless of
where the replay's final watermark lands. The watermark + append path
(late-data drop) is exercised separately (`stream_watermark_append`) as
a rows-only check, because its emitted set intentionally depends on
watermark progression, which is a streaming-only concept.

Scale: windowed/stateful aggs shuffle on (key, window); state lives in
the state store keyed the same way. `session_window` merges per key;
`dropDuplicates` state is bounded by watermark on a real stream.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata06_spark.catalog import normalize_events_ts, parquet_schema, table_path


def _events_stream_dir(sf_dir: str) -> str:
    """The file stream source wants a DIRECTORY of data files; the
    driver tables are single read-only files (and probe datasets are
    Spark-written directories of part files — which must be linked
    file-by-file: the source lists the top level only, so one symlink
    TO a directory reads as zero files). Symlink into a per-sf temp
    dir."""
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), "bigdata06_stream", key, "events")
    os.makedirs(d, exist_ok=True)
    src = table_path(sf_dir, "events")
    if os.path.isdir(src):
        stale = os.path.join(d, "events.parquet")
        if os.path.islink(stale):  # pre-fix dir symlink: unreadable
            os.remove(stale)
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                link = os.path.join(d, f)
                if not os.path.exists(link):
                    os.symlink(os.path.join(src, f), link)
    else:
        link = os.path.join(d, "events.parquet")
        if not os.path.exists(link):
            os.symlink(src, link)
    return d


def _dir_bytes(d: str) -> int:
    """Total bytes of the (symlinked) data files under a stream dir —
    the input-size signal stream_state_partitions scales from."""
    total = 0
    try:
        for root, _dirs, files in os.walk(d, followlinks=True):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    except OSError:
        pass
    return total


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as an unbounded stream (file source).

    The file source needs an explicit schema; take it from the footer
    of the same file (`parquet_schema`) so the stream tracks whatever vintage
    the driver testdata is (TIMESTAMP(NANOS)-as-long vs µs NTZ), then
    apply the catalog's shared ts normalization."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = parquet_schema(spark, table_path(sf_dir, "events"))
    d = _events_stream_dir(sf_dir)
    spark._bd6_stream_bytes = _dir_bytes(d)  # sizes the state partitions
    raw = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .load(d)
    )
    return normalize_events_ts(raw)


def as_event_time(events: DataFrame) -> DataFrame:
    """Cast `ts` to TIMESTAMP (LTZ) for watermark-bearing ops.

    `withWatermark` rejects TIMESTAMP_NTZ outright
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The cast interprets the
    naive wall clock in the session timezone (pinned UTC by
    session.py), so epoch micros — and therefore window bounds and
    join intervals — are unchanged, and collected values render the
    same wall clock the oracle sees."""
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


#: compressed input bytes per streaming STATE partition. Each shuffle
#: partition of a stateful operator is a state-store instance that
#: pays open/commit/snapshot PER MICRO-BATCH (several stores per
#: partition for a two-sided join) — the dominant fixed cost of a
#: replay at small state. 2 MB of parquet events ≈ 100k rows ≈ tens
#: of thousands of state entries: comfortably one store.
_BYTES_PER_STATE_PARTITION = 2 << 20


def stream_state_partitions(nbytes: int | None) -> int:
    """State-partition count for a streaming drain, derived from the
    stream's INPUT SIZE (guide §2: scale-adaptive partitioning — the
    streaming twin of session.input_scaled_partitions). The r10 form
    pinned 32 regardless of input; at sf0.1 that meant 32 state-store
    instances × stores-per-operator × batches for ~40k state rows —
    measured 5.2 s for stream_stream_join's EMPTY finalization batch
    alone (pure store open/evict/commit). Floored at 8 so tiny test
    streams still exercise multi-partition state; grows with input
    (a 100 TB stream gets thousands). `SPARK_GRAFT_STREAM_PARTITIONS`
    overrides for cluster tuning."""
    env = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            raise ValueError(
                "SPARK_GRAFT_STREAM_PARTITIONS must be a positive "
                f"integer, got {env!r}"
            ) from None
    if not nbytes:
        return 32  # unknown input: the former fixed clamp
    return max(8, -(-nbytes // _BYTES_PER_STATE_PARTITION))


def run_to_table(result: DataFrame, mode: str) -> DataFrame:
    """Drain a streaming DataFrame through availableNow → memory sink;
    return the materialized table.

    Sets shuffle partitions for the replay to the input-scaled state
    partition count (`stream_state_partitions`; the source builders
    stash the stream's input bytes on the session) and RESTORES the
    session value afterwards — the r10 form clamped 200 → 32 as a
    permanent session side effect; batch queries running after a
    drain now keep their own partitioning."""
    spark = result.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions", "200")
    target = stream_state_partitions(getattr(spark, "_bd6_stream_bytes", None))
    spark.conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        name = f"stream_out_{uuid.uuid4().hex[:12]}"
        q = (
            result.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        # the byte stamp is per-drain state: clear it so a later drain
        # whose source builder did not stash a size falls back to the
        # fixed clamp instead of silently inheriting THIS stream's
        # bytes (ADVICE r11)
        if hasattr(spark, "_bd6_stream_bytes"):
            del spark._bd6_stream_bytes
    return result.sparkSession.table(name)


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window count/sum per event_type."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sliding_counts(events: DataFrame, width: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    """Sliding-window count per user (each event lands in width/slide windows)."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-merged in the streaming state store)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def static_segment_counts(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a BATCH dim
    (customer market segment), then aggregate per (segment, type).

    The static side is planned as an ordinary batch relation re-joined
    in every micro-batch — no join state is kept for it (unlike
    stream-stream joins), and at dim sizes like this it broadcasts, so
    the stream side never shuffles for the join; the only stateful
    shuffle is the aggregation's. Left join: stream rows without a dim
    match still flow (segment null)."""
    seg = customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    return (
        events.join(seg, "user_id", "left")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
        )
    )


def dedup_counts(events: DataFrame) -> DataFrame:
    """Streaming dedup on (user_id, event_type) → counts per type.
    On a real stream `dropDuplicatesWithinWatermark` bounds the state."""
    return (
        events.dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_distinct_users"))
    )


def watermarked_tumbling(events: DataFrame, width: str = "1 hour", late: str = "10 minutes") -> DataFrame:
    """Append-mode watermarked aggregation: emits a window only once the
    watermark passes its end (late data beyond `late` dropped)."""
    return (
        as_event_time(events)
        .withWatermark("ts", late)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


#: how far back a view may precede the purchase it joins
_LOOKBACK = "1 hour"


def purchase_view_join(events: DataFrame, how: str) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's views within the preceding `_LOOKBACK`; `how`
    is the join type ("inner", "left_outer" or "full_outer"). Both
    sides carry watermarks and the join condition time-bounds view_ts
    relative to p_ts — the two requirements that let Structured
    Streaming expire join state (a view older than the lookback past
    the watermark can never match a future purchase and is evicted).

    Inner join in append mode is batch-equivalent on a full replay.
    Outer results cannot be emitted eagerly (a matching row may still
    come), so Structured Streaming holds the unmatched rows in state —
    purchases for a left join, both sides for a full join — and
    releases them with NULLs only when the watermark passes their join
    window. On a bounded replay the watermark never does, so outer
    joins need the flush punctuation of `stream_events_with_flush`;
    with it the final watermark passes every window and the emitted
    set equals the batch join (exact oracle). `v_user` is the view
    side's user (NULL on an unmatched purchase); only the full join
    needs it, to carry the user of an unmatched view."""
    events = as_event_time(events)
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_event_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("p_ts"), "value")
        .withWatermark("p_ts", "1 hour")
    )
    return purchases.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("view_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {_LOOKBACK}"))
        & (F.col("view_ts") <= F.col("p_ts")),
        how,
    ).select("event_id", "user_id", "v_user", "view_event_id", "value")


def stream_events_with_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events stream plus two FLUSH rows (one per join side, sentinel
    user_id = -1) 3 hours past the corpus max ts (strictly beyond
    every row's release point: an unmatched VIEW releases only when
    the watermark strictly passes view_ts + lookback, so the flush
    must clear max_ts + lookback + watermark-delay). Outer joins and
    other watermark-gated emitters hold their last rows until the
    watermark passes them — on a bounded replay it never does, so the
    tail stays unemitted. The flush rows are the standard punctuation
    fix: they advance BOTH sides' watermarks past every real row's
    join window, then filter out of the result on the sentinel id.
    Written to a SEPARATE stream dir so the shared replay dirs other
    streaming queries use are untouched."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = table_path(sf_dir, "events")
    raw = spark.read.schema(parquet_schema(spark, src)).parquet(src)
    key = hashlib.md5((sf_dir + "#flush").encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), "bigdata06_stream", key, "events")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    flush_path = os.path.join(d, "flush.parquet")
    if not os.path.exists(flush_path + "/_SUCCESS"):
        ts_field = raw.schema["ts"].dataType.simpleString()
        two_h = 3 * 3600 * (10**9 if ts_field == "bigint" else 1)
        mx = raw.agg(F.max("ts").alias("m"))
        flush = (
            mx.crossJoin(
                spark.createDataFrame(
                    [(-1, "view"), (-2, "purchase")], ["fuser", "ftype"]
                )
            )
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                (
                    (F.col("m") + F.lit(two_h))
                    if ts_field == "bigint"
                    else (F.col("m") + F.expr("INTERVAL 3 HOURS"))
                ).alias("ts"),
                F.col("fuser").cast("long").alias("user_id"),
                F.col("ftype").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit(None).cast(raw.schema["props"].dataType).alias("props"),
            )
        )
        flush.coalesce(1).write.mode("overwrite").parquet(flush_path)
    raw_schema = raw.schema
    spark._bd6_stream_bytes = _dir_bytes(d)  # sizes the state partitions
    stream = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("recursiveFileLookup", "true")
        .load(d)
    )
    return normalize_events_ts(stream)


def watermarked_dedup_counts(events: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Streaming dedup via dropDuplicatesWithinWatermark: state for a
    key is dropped once the watermark passes its last-seen ts +
    horizon — the bounded-state form of dropDuplicates (which keeps
    every key forever). Counts per type make the output deterministic
    (which physical row survives per key is arrival-order-dependent)."""
    return (
        as_event_time(events)
        .withWatermark("ts", horizon)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_distinct_users"))
    )
