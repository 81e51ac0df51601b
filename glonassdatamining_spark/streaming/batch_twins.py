"""§2.L — streaming operators, declared via their deterministic batch
twins (Structured Streaming's unified model: the same DataFrame plan
runs incrementally under readStream — live forms in streaming/live.py).

The DuckDB oracle is batch-only, so each twin is the exact relational
semantics of the streaming op on the static events table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from glonassdatamining_spark.registry import register
from glonassdatamining_spark.sources import load
from glonassdatamining_spark.sources.scans import SCRATCH_ROOT
from glonassdatamining_spark.stable import EVENTS_CTE, dec, dsum, o_dsum


@register(
    "l1_tumbling_window",
    oracle=(
        EVENTS_CTE + " SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, "
        "event_type, COUNT(*) AS n, " + o_dsum("value", "sum_value")
        + " FROM events GROUP BY 1, 2"
    ),
    section="L1",
)
def l1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form: readStream.groupBy(window(ts, '10 minutes'),
    event_type) with a watermark; the batch twin is the identical
    windowed aggregate. Epoch-aligned buckets match time_bucket."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value")
    )


@register(
    "l2_sliding_window",
    oracle=(
        EVENTS_CTE + ", expanded AS ("
        "  SELECT unnest([time_bucket(INTERVAL '5 minutes', ts), "
        "                 time_bucket(INTERVAL '5 minutes', ts) - INTERVAL 5 MINUTE]) AS w_start, "
        "  value FROM events) "
        "SELECT w_start, COUNT(*) AS n, " + o_dsum("value", "sum_value")
        + " FROM expanded GROUP BY w_start"
    ),
    section="L2",
)
def l2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10-minute window, 5-minute slide: every event lands in
    exactly two windows. Spark's window() does the expansion natively;
    the oracle expands via unnest of the two aligned starts."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("w_start"), "n", "sum_value")
    )


_SESSION_GAP = "5 minutes"
_SESSION_GAP_S = 300


@register(
    "l3_session_window",
    oracle=(
        EVENTS_CTE + ", flagged AS ("
        "  SELECT user_id, ts, event_id, "
        "  CASE WHEN lag(ts) OVER w IS NULL "
        f"       OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= {_SESSION_GAP_S * 1000} "
        "       THEN 1 ELSE 0 END AS new_session "
        "  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "sess AS (SELECT user_id, ts, SUM(new_session) OVER ("
        "  PARTITION BY user_id ORDER BY ts, event_id "
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM flagged) "
        "SELECT user_id, MIN(ts) AS w_start, "
        f"MAX(ts) + INTERVAL {_SESSION_GAP} AS w_end, COUNT(*) AS n "
        "FROM sess GROUP BY user_id, sid"
    ),
    section="L3",
)
def l3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (gap-close semantics: a session extends
    while events arrive within the gap; window end = last event + gap).
    The oracle reproduces it with the lag/running-sum construction —
    note Spark closes a session when the next event is >= gap away."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", _SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "n")
    )


@register(
    "l4_watermark_filter",
    oracle=(
        EVENTS_CTE + " SELECT event_id, user_id, ts FROM events "
        "WHERE ts > (SELECT MAX(ts) FROM events) - INTERVAL 3 DAY"
    ),
    section="L4",
)
def l4_watermark_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics twin: drop rows older than max(event time)
    minus the allowed lateness. The scalar max is computed once and
    broadcast — no per-row subquery."""
    ev = load(spark, sf_dir, "events")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 3 DAYS")).alias("wm"))
    return (
        ev.crossJoin(broadcast(wm))
        .filter(F.col("ts") > F.col("wm"))
        .select("event_id", "user_id", "ts")
    )


@register(
    "l5_stateful_dedup",
    oracle=(
        EVENTS_CTE + " SELECT user_id, event_type, MIN(event_id) AS first_event_id, "
        "COUNT(*) AS n_dupes FROM events GROUP BY user_id, event_type"
    ),
    section="L5",
)
def l5_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark twin: keep the first event per
    (user, type) key. Deterministic representative via MIN(event_id) —
    dropDuplicates itself keeps an arbitrary row (SURVEY §5.3.3)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"), F.count(F.lit(1)).alias("n_dupes")
    )


_SEVERITY = [("error", 3), ("purchase", 2), ("signup", 1)]


@register(
    "l6_stream_static_join",
    oracle=(
        EVENTS_CTE + " SELECT COALESCE(sev.severity, 0) AS severity, COUNT(*) AS n, "
        + o_dsum("value", "sum_value")
        + " FROM events LEFT JOIN (VALUES "
        + ", ".join(f"('{t}', {s})" for t, s in _SEVERITY)
        + ") sev(event_type, severity) ON events.event_type = sev.event_type "
        "GROUP BY 1"
    ),
    section="L6",
)
def l6_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join twin: the static dim is broadcast;
    in the live form each micro-batch joins against the same table."""
    ev = load(spark, sf_dir, "events")
    sev = spark.createDataFrame(_SEVERITY, "event_type STRING, severity INT")
    return (
        ev.join(broadcast(sev), "event_type", "left")
        .withColumn("severity", F.coalesce("severity", F.lit(0)))
        .groupBy("severity")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
    )


@register(
    "l7_stateful_running",
    oracle=(
        EVENTS_CTE + " SELECT event_id, user_id, ts, "
        "COUNT(*) OVER w AS events_so_far, "
        "CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS value_so_far "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    ),
    section="L7",
)
def l7_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful-op twin: per-user running state. The live
    form (transformWithStateInPandas) keeps the same state keyed by
    user_id; declared here as the equivalent running window."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("events_so_far"),
        F.sum(dec("value")).over(w).cast("double").alias("value_so_far"),
    )


@register(
    "l8_foreach_batch_sink",
    oracle=None,  # side-effecting streaming sink — rows-only on read-back
    section="L8",
)
def l8_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run: readStream over the events
    parquet → foreachBatch writes each micro-batch to parquet →
    availableNow trigger drains the source and terminates → return the
    read-back. Proves the incremental engine end-to-end in batch tests.
    """
    import os

    import shutil

    sf = os.path.basename(sf_dir.rstrip("/"))
    src = f"{SCRATCH_ROOT}/l8_src_{sf}"
    out = f"{SCRATCH_ROOT}/l8_sink_{sf}"
    ckpt = out + "_ckpt"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    # FileStreamSource requires a directory — stage the single fixture file.
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events.parquet")

    stream = spark.readStream.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    ).parquet(src)
    counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(out)

    q = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out)


@register(
    "l9_stream_stream_join",
    oracle=(
        EVENTS_CTE + " SELECT c.user_id, c.event_id AS click_id, "
        "p.event_id AS purchase_id, "
        "CAST(epoch_ms(p.ts) - epoch_ms(c.ts) AS BIGINT) AS lag_ms "
        "FROM events c JOIN events p ON c.user_id = p.user_id "
        "AND c.event_type = 'click' AND p.event_type = 'purchase' "
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE"
    ),
    section="L9",
)
def l9_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join twin: each purchase pairs with the
    same user's clicks from the preceding 30 minutes (click-attribution
    — the canonical stream-stream join). The equi key (user_id) makes
    this a sort-merge join with a residual time-band predicate — one
    shuffle per side, never a nested loop; in the live form
    (``streaming.live.l9_streaming``) the same condition plus
    two-sided watermarks bounds each side's join state to the band
    width, which is what makes it runnable forever at 100 TB.
    lag_ms is exact integer millisecond arithmetic on both engines."""
    ev = load(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    j = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
    )
    return j.select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_millis("pts") - F.unix_millis("cts")).alias("lag_ms"),
    )


@register(
    "l10_rate_source",
    oracle=(
        "SELECT TIMESTAMP '1970-01-01 00:00:00' + k * INTERVAL 1 MINUTE AS w_start, "
        "CAST(500 AS BIGINT) AS n, CAST(250000 * k + 124750 AS DOUBLE) AS sum_value "
        "FROM (SELECT unnest([0, 1, 2]) AS k)"
    ),
    section="L10",
)
def l10_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live rate-micro-batch source smoke (L10). Pinned to the first
    three minute windows, so the output is byte-deterministic however
    the wall clock paces the micro-batches (round-7 verdict ask #6) —
    which makes the closed-form window sums an exact ANSI oracle.
    See streaming/live.py for the query and the determinism argument."""
    from glonassdatamining_spark.streaming.live import l10_rate_source as live_l10

    return live_l10(spark, sf_dir)


@register(
    "l11_incremental_merge",
    oracle=(
        EVENTS_CTE + " SELECT user_id, n_events, last_value, last_ts FROM ("
        "  SELECT user_id, value AS last_value, "
        "  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn, "
        "  COUNT(*) OVER (PARTITION BY user_id) AS n_events, "
        "  MAX(ts) OVER (PARTITION BY user_id) AS last_ts "
        "  FROM events) WHERE rn = 1"
    ),
    section="L11",
)
def l11_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the foreachBatch MERGE-upsert sink (live form in
    streaming/live.py: micro-batches merged into a keyed state table —
    the Delta/Iceberg MERGE INTO pattern without a table format):
    per-user event count + latest value/ts, latest = max struct
    (ts, event_id) so ms-truncated ties stay deterministic. The
    streaming run must converge to exactly this table regardless of
    how the input is micro-batched (merge is associative); asserted in
    tests/test_streaming.py."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max_by("value", F.struct("ts", "event_id")).alias("last_value"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "l12_chained_windows",
    oracle=(
        EVENTS_CTE + ", m AS ("
        "  SELECT time_bucket(INTERVAL '10 minutes', ts) AS w10, event_type, "
        "  COUNT(*) AS n FROM events GROUP BY 1, 2) "
        "SELECT time_bucket(INTERVAL '1 hour', w10) AS w_hour, event_type, "
        "CAST(MAX(n) AS BIGINT) AS peak_10min, CAST(SUM(n) AS BIGINT) AS n_total "
        "FROM m GROUP BY 1, 2"
    ),
    section="L12",
)
def l12_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained time-window aggregation (round-2 addition): 10-minute
    counts rolled up into hourly peak + total per event type — the
    multi-resolution dashboard rollup. In streaming this is Spark
    3.5+'s chained window aggregation (``window(window_time(w), '1
    hour')`` directly over the first windowed aggregate, two state
    stores, one query — live form in streaming/live.py); the batch
    twin is the identical two-level aggregate. The second level's key
    space is tiny, so the rollup is effectively free after the first
    shuffle."""
    ev = load(spark, sf_dir, "events")
    m = ev.groupBy(
        F.window("ts", "10 minutes").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        m.groupBy(
            F.window(F.window_time("w"), "1 hour").alias("h"), "event_type"
        )
        .agg(F.max("n").alias("peak_10min"), F.sum("n").alias("n_total"))
        .select(
            F.col("h.start").alias("w_hour"), "event_type", "peak_10min", "n_total"
        )
    )


@register(
    "l13_stream_outer_join",
    oracle=(
        EVENTS_CTE + " SELECT c.user_id, c.event_id AS click_id, "
        "p.event_id AS purchase_id, "
        "CAST(epoch_ms(p.ts) - epoch_ms(c.ts) AS BIGINT) AS lag_ms "
        "FROM (SELECT * FROM events WHERE event_type = 'click') c "
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p "
        "ON c.user_id = p.user_id "
        "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE"
    ),
    section="L13",
)
def l13_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join twin (round-3 addition):
    l9's click attribution, but clicks that convert to NO purchase
    within the band surface with NULL purchase columns — the funnel
    drop-off side of the same query. Batch: a left join with the band
    residual on the user_id equi key. Live (streaming.live
    .l13_streaming): the same join needs BOTH two-sided watermarks AND
    the time-bound condition before Spark accepts an outer
    stream-stream join, because a NULL result can only be emitted once
    the watermark proves no match can still arrive — unmatched rows
    inside the final watermark horizon stay in state forever on a
    finite drain (asserted precisely in tests/test_streaming.py)."""
    ev = load(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    j = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
        "left",
    )
    return j.select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_millis("pts") - F.unix_millis("cts")).alias("lag_ms"),
    )


@register(
    "l14_dedup_then_window",
    oracle=(
        EVENTS_CTE + ", dd AS (SELECT DISTINCT user_id, event_type, "
        "time_bucket(INTERVAL '10 minutes', ts) AS w10 FROM events) "
        "SELECT w10 AS w_start, COUNT(*) AS n_active FROM dd GROUP BY w10"
    ),
    section="L14",
)
def l14_dedup_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful dedup → windowed aggregate twin (round-3
    addition): distinct active (user, event_type) pairs per 10-minute
    window — the DAU-style uniques rollup. The dedup key INCLUDES the
    window start, so which duplicate row survives cannot change any
    window's count (arrival order independent — the invariant that
    makes the streaming form deterministic). Live form
    (streaming.live.l14_streaming): ``dropDuplicatesWithinWatermark``
    feeding a windowed count — two chained state stores, with
    watermark-bounded dedup state (the Spark 3.5+ operator whose state
    does NOT grow forever like plain dropDuplicates)."""
    ev = load(spark, sf_dir, "events")
    dd = ev.select(
        "user_id", "event_type", F.window("ts", "10 minutes").alias("w")
    ).distinct()
    return (
        dd.groupBy(F.col("w.start").alias("w_start"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "l15_bus_source_twin",
    oracle=(
        "WITH g AS (SELECT unnest(generate_series(0, 3999)) AS msg_id), "
        "f AS (SELECT msg_id, msg_id % 50 AS obj_id, "
        "CAST(msg_id * 7919 % 100000 AS DOUBLE) / 1000.0 AS x, "
        "CAST(msg_id * 104729 % 100000 AS DOUBLE) / 1000.0 AS y FROM g) "
        "SELECT obj_id, COUNT(*) AS n_msgs, "
        "CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sum_x, "
        "CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sum_y "
        "FROM f GROUP BY obj_id"
    ),
    section="L15",
)
def l15_bus_source_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the gnssbus MESSAGE-BUS streaming source
    (streaming/bus.py: Kafka's partitioned offset-addressed log
    protocol as a Spark 4 Python DataSourceStreamReader — partitioned
    log, broker-paced latestOffset, pure-function replayable reads,
    checkpoint-recovered restarts). The bus log's content is a pure
    function of (partition, offset), so this twin reproduces the FULL
    consumed log arithmetically from spark.range — and the DuckDB
    oracle hash-checks it end to end. The LIVE consumption (multiple
    micro-batches, complete-mode agg, mid-stream restart recovery) is
    asserted equal to this twin in tests/test_streaming.py.

    100 TB/day shape: swap format("gnssbus") for format("kafka"); the
    offset checkpointing, recovery, and the agg plan are identical —
    that is the point of the source abstraction."""
    from glonassdatamining_spark.streaming.bus import BUS_PARTS, BUS_TOTAL

    msgs = spark.range(BUS_PARTS * BUS_TOTAL).select(
        F.col("id").alias("msg_id"),
        (F.col("id") % 50).alias("obj_id"),
        ((F.col("id") * 7919 % 100000).cast("double") / 1000.0).alias("x"),
        ((F.col("id") * 104729 % 100000).cast("double") / 1000.0).alias("y"),
    )
    return msgs.groupBy("obj_id").agg(
        F.count(F.lit(1)).alias("n_msgs"),
        dsum("x", "sum_x"),
        dsum("y", "sum_y"),
    )


@register(
    "l16_bus_sink_roundtrip",
    oracle=(
        "WITH g AS (SELECT unnest(generate_series(0, 3999)) AS msg_id), "
        "f AS (SELECT msg_id, msg_id % 50 AS obj_id, "
        "CAST(msg_id * 7919 % 100000 AS DOUBLE) / 1000.0 AS x, "
        "CAST(msg_id * 104729 % 100000 AS DOUBLE) / 1000.0 AS y FROM g) "
        "SELECT obj_id, COUNT(*) AS n_msgs, "
        "CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sum_x, "
        "CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sum_y "
        "FROM f GROUP BY obj_id"
    ),
    section="L16",
)
def l16_bus_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once STREAMING SINK check, hash-verified:
    the gnssbus source streams its virtual log through the busfilesink
    — a Python ``DataSourceStreamWriter`` implementing the real
    two-phase commit protocol (executor-side staged writes returning
    commit messages; driver-side atomic publish gated on ALL tasks
    succeeding; manifest-last visibility; abort cleanup — the
    Kafka-transactional-producer / Iceberg-commit shape, see
    streaming/bus.py) — then ONLY manifested batches are read back and
    aggregated. The result must equal the closed-form log oracle, so a
    lost batch, a double-published replay, a torn file, or a
    wrong-count manifest all break the hash.

    This is a LIVE multi-micro-batch streaming run inside a declared
    query (~2 s): unlike a memory-sink demo, the thing under test is
    the sink's commit protocol itself, which only exists in a real
    run. 100 TB/day shape: replace file-move publish with an object-
    store/table-format atomic commit; the protocol is unchanged."""
    from glonassdatamining_spark.streaming.bus import read_committed
    from glonassdatamining_spark.streaming.live import l16_streaming

    root = l16_streaming(spark, sf_dir)
    msgs = read_committed(spark, root)
    return msgs.groupBy("obj_id").agg(
        F.count(F.lit(1)).alias("n_msgs"),
        dsum("x", "sum_x"),
        dsum("y", "sum_y"),
    )


_L17_HORIZON_S = 30 * 60


@register(
    "l17_stream_asof_join",
    oracle=(
        EVENTS_CTE
        + ", l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'), "
        "r AS (SELECT user_id, ts AS err_ts, MAX(event_id) AS err_event_id "
        "      FROM events WHERE event_type = 'error' GROUP BY user_id, ts) "
        "SELECT event_id, user_id, ts, "
        "CASE WHEN ok THEN err_event_id END AS err_event_id, "
        "CASE WHEN ok THEN err_ts END AS err_ts FROM ("
        "  SELECT l.event_id, l.user_id, l.ts, r.err_event_id, r.err_ts, "
        f"  epoch(l.ts) - epoch(r.err_ts) <= {_L17_HORIZON_S} AS ok "
        "  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.err_ts)"
    ),
    section="L17",
)
def l17_stream_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream AS-OF enrichment twin — trade/quote alignment,
    THE streaming as-of use case: each purchase enriched with the
    user's latest error at-or-before it, looking back at most 30
    minutes (the lookback horizon is what keeps the STREAMING form's
    join state finite — an unbounded as-of cannot evict state, so the
    horizon is part of the operator's declared semantics, exactly
    c9d's stale-quote tolerance). Batch twin: the c9 union-tag as-of
    kernel with tolerance = horizon — one shuffle, no range join.

    Live form (streaming.live.l17_streaming): a watermarked LEFT OUTER
    time-interval join (err_ts in [ts − 30 min, ts]) CHAINED into a
    windowed max_by aggregation that reduces the candidate band to the
    single latest match per purchase — the Spark 3.5+ multiple-
    stateful-operator pipeline (join state evicted by band + delay;
    agg rows finalize when the watermark closes their window).
    Equality to this twin inside the final watermark horizon is
    asserted in tests/test_streaming.py."""
    from glonassdatamining_spark.api import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", F.col("ts").alias("err_ts"))
        .agg(F.max("event_id").alias("err_event_id"))
    )
    return asof_join(
        purchases, errors, "user_id", "ts", "err_ts",
        direction="backward", tolerance_s=_L17_HORIZON_S,
    )
