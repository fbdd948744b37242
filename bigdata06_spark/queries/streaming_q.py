"""Streaming queries (SURVEY.md §2.B streaming, §7 M4): the events
table replayed through Structured Streaming (availableNow → memory
sink), oracle-checked against the equivalent batch SQL — the
batch-equivalence gate for every streaming operator with deterministic
output. Watermark/append and custom-state ops are rows-only (their
emitted sets depend on watermark progression / batch boundaries, which
is streaming-only semantics DuckDB can't mirror)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window

from pyspark.sql import functions as F

from bigdata06_spark.queries import register
from bigdata06_spark.streaming import ops as SO
from bigdata06_spark.streaming.stateful import (
    running_user_totals,
    user_last3_events,
    user_pattern_matches,
    user_peak_totals,
    user_type_counts,
)


@register(
    "stream_tumbling_agg",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type, streamed (complete mode).
    Oracle = batch epoch-hour bucketing: Spark's tumbling windows align
    to the epoch, so `window.start == floor(epoch_us/3.6e9)`."""
    return SO.run_to_table(SO.tumbling_counts(SO.stream_events(spark, sf_dir)), "complete")


@register(
    "stream_sliding_agg",
    oracle="""
    WITH x AS (
      SELECT user_id,
             make_timestamp(((epoch_us(ts) // 3600000000) - o.off) * 3600000000) AS window_start
      FROM events, (VALUES (0), (1)) AS o(off)
    )
    SELECT window_start, user_id, count(*) AS n
    FROM x GROUP BY 1, 2
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h/1h windows per user, streamed (complete mode). Each
    event lands in exactly width/slide = 2 windows — the oracle
    replicates via the two-offset union."""
    return SO.run_to_table(SO.sliding_counts(SO.stream_events(spark, sf_dir)), "complete")


@register(
    "stream_session_window",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts ASC) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ), s AS (
      SELECT user_id, ts,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM gaps
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`session_window(ts, '30 minutes')` per user — gap-merged sessions
    in the streaming state store. Oracle = batch sessionization with
    end = last_event + gap (the session_window end semantics)."""
    return SO.run_to_table(SO.session_windows(SO.stream_events(spark, sf_dir)), "complete")


@register(
    "stream_dedup_counts",
    oracle="""
    SELECT event_type, count(*) AS n_distinct_users
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    GROUP BY event_type
    """,
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type) then count per type.
    State = one entry per distinct pair (watermark-bounded via
    dropDuplicatesWithinWatermark on a real stream)."""
    return SO.run_to_table(SO.dedup_counts(SO.stream_events(spark, sf_dir)), "complete")


@register(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           count(*) AS n,
           CAST(sum(CAST(e.value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static left join (event stream ⋈ batch customer dim) then
    per-(segment, type) aggregation, complete mode. The static dim is
    re-read per micro-batch with no join state — see streaming/ops.py."""
    from bigdata06_spark.catalog import load_table

    return SO.run_to_table(
        SO.static_segment_counts(
            SO.stream_events(spark, sf_dir), load_table(spark, "customer", sf_dir)
        ),
        "complete",
    )


@register(
    "stream_watermark_append",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
           event_type,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    HAVING make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
             + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
)
def stream_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode aggregation (10-min late-data bound):
    emits each window once the watermark passes its end; windows still
    open at end-of-replay stay unemitted. On a bounded availableNow
    replay the FINAL watermark is itself deterministic (max ts −
    bound), so the emitted set equals the batch windows whose end
    precedes it — the watermark SEMANTICS are in the oracle now
    (window_end ≤ max(ts) − 10min), promoting this from rows-only to
    the exact value-hash gate."""
    return SO.run_to_table(SO.watermarked_tumbling(SO.stream_events(spark, sf_dir)), "append")


@register(
    "stream_stateful_running",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running totals across micro-batches, state held as integer CENTS
    so accumulation is associative (exact under any batch split). The
    final emission per user (max n_events) equals the batch totals —
    promoted from a rows-only check to the exact value-hash oracle."""
    out = SO.run_to_table(running_user_totals(SO.stream_events(spark, sf_dir)), "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


@register(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id, p.user_id, v.event_id AS view_event_id, p.value
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 1 HOUR
     AND v.ts <= p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchases ⋈ same-user views in the
    preceding hour), both sides watermarked so join state is evictable.
    Inner join in append mode is batch-equivalent on a full replay →
    exact oracle."""
    return SO.run_to_table(
        SO.purchase_view_join(SO.stream_events(spark, sf_dir), "inner"), "append"
    ).drop("v_user")


@register(
    "stream_stream_left_join",
    oracle="""
    SELECT p.event_id, p.user_id, v.event_id AS view_event_id, p.value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR
     AND v.ts <= p.ts
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: unmatched purchases are
    held in state and released with NULL view columns only once the
    watermark proves no match can arrive — the outer-specific state
    machinery on top of the inner variant. The replay source carries
    flush punctuation rows (sentinel user, +2h) so the final watermark
    closes every real row's window; with that, full replay ≡ batch
    LEFT JOIN → exact oracle."""
    out = SO.run_to_table(
        SO.purchase_view_join(SO.stream_events_with_flush(spark, sf_dir), "left_outer"),
        "append",
    )
    return out.filter(F.col("user_id") >= 0).drop("v_user")


@register(
    "stream_stream_full_join",
    oracle="""
    SELECT p.event_id, p.user_id, v.user_id AS v_user,
           v.event_id AS view_event_id, p.value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR
     AND v.ts <= p.ts
    """,
)
def stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join: both sides' unmatched
    rows surface with NULLs once the watermark closes their windows —
    the flush punctuation closes every real window on the bounded
    replay, so the emitted set equals the batch FULL JOIN (exact
    oracle). Completes the stream-stream join family
    (inner/left/full)."""
    out = SO.run_to_table(
        SO.purchase_view_join(SO.stream_events_with_flush(spark, sf_dir), "full_outer"),
        "append",
    )
    return out.filter(
        (F.coalesce(F.col("user_id"), F.lit(0)) >= 0)
        & (F.coalesce(F.col("v_user"), F.lit(0)) >= 0)
    )


@register(
    "stream_transform_with_state",
    oracle="""
    SELECT user_id, count(*) AS n_events, max(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas (Spark 4 typed streaming state, on
    RocksDB): per-user cumulative count + running max via a ValueState
    handle, executed with the vendored protobuf runtime (compat.py —
    activated for the running session's workers, so this runs under
    the driver's vanilla session too). Update mode emits one row per
    user per micro-batch; the state is CUMULATIVE, so the final value
    per user is the max over emitted rows — reduced here to make the
    replay batch-equivalent and exactly oracle-checkable."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    out = SO.run_to_table(user_peak_totals(SO.stream_events(spark, sf_dir)), "update")
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("max_value").alias("max_value")
    )


@register(
    "stream_tws_list_state",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    l3 AS (
      SELECT user_id,
             array_to_string(list(event_id ORDER BY rn), ',') AS last3
      FROM ranked WHERE rn <= 3 GROUP BY user_id
    ),
    n AS (SELECT user_id, count(*) AS n_seen FROM events GROUP BY user_id)
    SELECT n.user_id, CAST(n.n_seen AS BIGINT) AS n_seen, l3.last3
    FROM n JOIN l3 USING (user_id)
    """,
)
def stream_tws_list_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with LISTSTATE: per-user last-3
    event ids by event time, state bounded at 3 rows/key regardless
    of stream length (the "recent actions" feature buffer). Update
    mode emits per batch; the final emission (max n_seen per user) is
    batch-equivalent, so the typed-list state machinery sits under the
    exact value-hash oracle. The id list is emitted as a joined string
    (repo convention: arrays stay native inside the engine, collapse
    at the oracle edge). Timestamps are µs-aligned with no
    per-user ties (checked), so the (ts desc, event_id desc) order is
    cross-engine deterministic."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    out = SO.run_to_table(user_last3_events(SO.stream_events(spark, sf_dir)), "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_seen",
            F.concat_ws(",", F.col("last3").cast("array<string>")).alias("last3"),
        )
    )


@register(
    "stream_tws_map_state",
    oracle="""
    WITH pc AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(sum(n) AS BIGINT) AS n_total,
           string_agg(event_type || ':' || n, ',' ORDER BY event_type) AS type_counts
    FROM pc GROUP BY user_id
    """,
)
def stream_tws_map_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with MAPSTATE: per-user event_type
    histogram maintained by point lookups/upserts against the state
    store (the map never round-trips whole — MapState's reason to
    exist over a ValueState dict). Canonical sorted 'type:count'
    string emission; the final per-user emission (max n_total) equals
    the batch GROUP BY — exact value-hash oracle. Completes the typed
    state trio (ValueState / ListState / MapState) under the gate."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    out = SO.run_to_table(user_type_counts(SO.stream_events(spark, sf_dir)), "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_total"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_total", "type_counts")
    )


@register(
    "stream_match_recognize",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ),
    v AS (
      SELECT user_id, rn,
             rn - row_number() OVER (PARTITION BY user_id ORDER BY rn)
               AS island
      FROM seq WHERE event_type = 'view'
    ),
    runs AS (
      SELECT user_id, CAST(max(rn) AS BIGINT) AS v_end_rn,
             CAST(count(*) AS BIGINT) AS n_views
      FROM v GROUP BY user_id, island
    ),
    m AS (
      SELECT r.user_id, r.n_views
      FROM runs r
        JOIN seq e1 ON e1.user_id = r.user_id AND e1.rn = r.v_end_rn + 1
                   AND e1.event_type = 'click'
        JOIN seq e2 ON e2.user_id = r.user_id AND e2.rn = r.v_end_rn + 2
                   AND e2.event_type = 'purchase'
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches,
           CAST(sum(n_views) AS BIGINT) AS views_matched
    FROM m GROUP BY user_id
    """,
)
def stream_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MATCH_RECOGNIZE (new r10): the quantified row pattern
    `view+ click purchase` matched per user BY A DFA CARRIED AS TYPED
    STREAMING STATE (transformWithStateInPandas ValueState — one
    4-field row per user: run length, click-pending, cumulative
    matches, matched views). The batch twin `events_match_recognize`
    compiles the pattern to gaps-and-islands; the streaming form needs
    neither the numbered stream nor the islands — O(1) state per key,
    each event advancing the automaton once, which is what makes
    pattern matching viable over an unbounded stream. Rows sort by
    (ts, event_id) within each batch before the DFA steps; across
    batches the DFA position carries, so a time-ordered batch
    sequence replays the batch answer exactly — pinned against the
    SAME islands oracle, per-user rollup. Update mode; final per-user
    emission = max cumulative matches; users with zero matches drop
    (the oracle's inner joins produce no row for them)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    out = SO.run_to_table(
        user_pattern_matches(SO.stream_events(spark, sf_dir)), "update"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("n_matches"), F.desc("views_matched")
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("n_matches") > 0))
        .select("user_id", "n_matches", "views_matched")
    )


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_type, count(*) AS n_distinct_users
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    GROUP BY event_type
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: dedup state is EVICTED once the
    watermark passes last-seen + horizon (plain dropDuplicates keeps
    every key forever — unbounded state on an infinite stream). On a
    full single-pass replay no key re-appears past the horizon, so the
    counts equal batch DISTINCT — the oracle."""
    return SO.run_to_table(
        SO.watermarked_dedup_counts(SO.stream_events(spark, sf_dir)), "complete"
    )


@register(
    "stream_lakehouse_sink",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           CAST(min(event_id) AS BIGINT) AS first_id,
           CAST(max(event_id) AS BIGINT) AS last_id
    FROM events
    GROUP BY event_type
    """,
)
def stream_lakehouse_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING LAKEHOUSE SINK: the events stream written via
    `writeStream.format("lakehouse")` — every micro-batch commits as
    one OCC APPEND version with an idempotence ledger entry
    (txnAppId, batchId), i.e. Delta's exactly-once streaming-sink
    design: a batch replayed after a crash between the sink's log
    commit and Spark's checkpoint commit is a true no-op. The query
    then reads the TABLE back (read_version at latest) and
    aggregates — matching the batch oracle proves the sink wrote
    exactly the stream, no duplicated and no dropped batches. The
    checkpoint + table persist per SF: reruns re-drain zero files
    and commit zero versions (idempotent build)."""
    import os as _os

    from bigdata06_spark import lakehouse as LH
    from bigdata06_spark.queries.qutil import side_dir
    from bigdata06_spark.sources.lakehouse_datasource import (
        register as register_ds,
    )

    register_ds(spark)
    tag = _os.path.basename(sf_dir.rstrip("/"))
    tbl = side_dir("lakehouse_stream_sink", sf_dir)
    ckpt = side_dir("lakehouse_stream_sink_ckpt", sf_dir)
    q = (
        SO.stream_events(spark, sf_dir)
        .select("event_id", "event_type", "value")
        .writeStream.format("lakehouse")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("txnAppId", f"events-sink-{tag}")
        .trigger(availableNow=True)
        .start(tbl)
    )
    q.awaitTermination()
    t = LH.read_version(spark, tbl, LH.current_version(tbl))
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("event_id").cast("long").alias("sum_id"),
        F.min("event_id").cast("long").alias("first_id"),
        F.max("event_id").cast("long").alias("last_id"),
    )


def _stream_cms_oracle() -> str:
    """The batch CMS oracle verbatim — streaming/batch equivalence IS
    the gate. (Executed at decoration time like every oracle; the
    local import is namespacing, not deferral — analytics is already
    fully imported when load_all_queries reaches this module.)"""
    from bigdata06_spark.queries.analytics import _cms_oracle

    return _cms_oracle()


@register("stream_count_min_sketch", oracle=_stream_cms_oracle())
def stream_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maintenance of the count-min sketch: the depth-4 ×
    width-512 cell grid is a streaming groupBy over (depth, bucket) in
    complete mode — the canonical sketch-as-streaming-state shape. The
    state store holds ≤ 2048 counters REGARDLESS of stream length
    (sketches bound state the way watermarks bound windows), and cells
    ADD across micro-batches exactly as they add across partitions and
    streams — the mergeability the batch twin (`agg_count_min_sketch`)
    claims, exercised under the micro-batch engine. After the drain,
    the probe set estimates from the materialized grid with the same
    fixed-LCG portable hashing, so the SAME exact oracle gates both:
    streaming/batch equivalence under the value hash."""
    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.queries.analytics import (
        _CMS_MOD,
        _CMS_WIDTH,
        _cms_consts,
    )

    consts = _cms_consts()

    def bkt(col, a: int, b: int):
        return (((col % _CMS_MOD) * a + b) % _CMS_MOD) % _CMS_WIDTH

    cell_structs = [
        F.struct(F.lit(d).alias("d"), bkt(F.col("user_id"), a, b).alias("bkt"))
        for d, (a, b) in enumerate(consts)
    ]
    ev = SO.stream_events(spark, sf_dir)
    grid = SO.run_to_table(
        ev.select(F.explode(F.array(*cell_structs)).alias("c"))
        .groupBy(F.col("c.d").alias("d"), F.col("c.bkt").alias("bkt"))
        .agg(F.count(F.lit(1)).alias("cnt")),
        "complete",
    )
    probes = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("user_id") % 13 == 0)
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    )
    pb = probes.select("user_id", F.explode(F.array(*cell_structs)).alias("c")) \
        .select("user_id", "c.d", "c.bkt")
    est = (
        pb.join(F.broadcast(grid), ["d", "bkt"])
        .groupBy("user_id").agg(F.min("cnt").alias("est"))
    )
    return probes.join(est, "user_id").select(
        "user_id",
        F.col("est").cast("long").alias("est"),
        F.col("exact").cast("long").alias("exact"),
        (F.col("est") - F.col("exact")).cast("long").alias("overestimate"),
    )


_SHH_PHI_NUM, _SHH_PHI_DEN = 5, 1000  # phi = 0.005
_SHH_BUCKETS = 8
_SHH_CAPACITY = 1600  # >= buckets/phi: candidate recall guaranteed
#: Zipf-ish derived key, the streaming twin of agg_heavy_hitters'
#: _HH_KEY (VERDICT r8 #3): share of key z is ~1/(z(z+1)) — scale-free,
#: so heavy hitters exist (~14 keys, z <= 13 at phi=0.005) at every sf.
#: Raw user_id's per-user share shrinks ~1/users (empty above sf0.01).
#: event_id reduced mod a prime < 1e9 before multiplying, same
#: overflow-proofing as _HH_KEY (ADVICE r9): identity at fixture SFs,
#: keeps the product < 2^62 at any SF.
_SHH_KEY = "1000 DIV (1 + ((event_id % 999999937) * 2654435761) % 1000)"
_SHH_KEY_SQL = "1000 // (1 + ((event_id % 999999937) * 2654435761) % 1000)"


@register(
    "stream_heavy_hitters",
    oracle=f"""
    WITH k AS (SELECT {_SHH_KEY_SQL} AS hh_key FROM events
               WHERE event_id IS NOT NULL),
    t AS (SELECT count(hh_key) AS total FROM k)
    SELECT hh_key, count(*) AS n_events
    FROM k, t
    GROUP BY hh_key, t.total
    HAVING count(*) >= ({_SHH_PHI_NUM} * t.total + {_SHH_PHI_DEN - 1})
                       // {_SHH_PHI_DEN}
    ORDER BY n_events DESC, hh_key
    """,
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact heavy hitters — Misra-Gries as streaming state
    (the heavy-hitter twin of `stream_count_min_sketch`): events are
    keyed by a hash bucket of the Zipf-ish derived key `_SHH_KEY`
    (non-empty at every sf — see agg_heavy_hitters), each bucket's
    applyInPandasWithState function maintains a <= capacity-entry MG
    summary across micro-batches, and every batch's emission carries a
    per-bucket sequence number so the FINAL candidate set is the
    max-seq emission per bucket — deterministic extraction from an
    update-mode sink. Candidates then get the same exact batch recount
    and integer-pinned threshold as `agg_heavy_hitters`, so the output
    is the exact answer no matter how the replay batched: the sketch
    can only widen candidates (bucketing by key keeps each key's whole
    count in one summary, capacity >= buckets/phi), the recount is
    exact — the same superset-then-recount proof, carried across the
    micro-batch boundary.

    Scale: state is buckets x capacity counters total (bounded like
    the CMS grid); the recount is one batch scan through a broadcast
    candidate set."""
    from bigdata06_spark.catalog import load_table
    from bigdata06_spark.streaming.stateful import mg_bucket_candidates

    sink = SO.run_to_table(
        mg_bucket_candidates(
            SO.stream_events(spark, sf_dir)
            .filter(F.col("event_id").isNotNull())
            .select(F.expr(_SHH_KEY).alias("hh_key")),
            "hh_key",
            _SHH_BUCKETS,
            _SHH_CAPACITY,
        ),
        "update",
    )
    w = Window.partitionBy("bucket")
    cand = (
        sink.withColumn("mx", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("mx"))
        .select(F.col("k").alias("hh_key"))
        .distinct()
    )
    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_id").isNotNull())
        .select(F.expr(_SHH_KEY).alias("hh_key"))
    )
    total = ev.count()  # bounded: one scalar
    thresh = (_SHH_PHI_NUM * total + _SHH_PHI_DEN - 1) // _SHH_PHI_DEN
    return (
        ev.join(F.broadcast(cand), "hh_key", "left_semi")
        .groupBy("hh_key")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") >= thresh)
        .orderBy(F.desc("n_events"), "hh_key")
    )
