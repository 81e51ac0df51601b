"""§2.L — live Structured Streaming forms.

Each function builds the actual incremental query (readStream →
transform → writeStream) and drains it with an availableNow trigger so
batch tests can assert stream-result == batch-twin-result — the
unified-model guarantee made checkable.

Scale notes: state stores (windowed aggs, dedup, sessions) are keyed
exactly like their batch twins' shuffles; watermarks bound state size.
On a cluster these run with RocksDB state backend + checkpointing to
object storage — none of that changes the query code below.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from glonassdatamining_spark.operators.udf_ops import _M8_GAP_MS, _m8_fold
from glonassdatamining_spark.sources.scans import SCRATCH_ROOT
from glonassdatamining_spark.stable import dsum

_EVENTS_STREAM_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _sweep_staging(prefix: str) -> None:
    """Remove staged-stream dirs left by prior (finished) runs so
    repeated sessions don't accumulate fixture copies."""
    import glob

    for old in glob.glob(f"{SCRATCH_ROOT}/{prefix}*"):
        shutil.rmtree(old, ignore_errors=True)


def _staged_events_stream(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """readStream over a staged copy of events.parquet (FileStreamSource
    needs a directory), with the same ns→ms normalization as the batch
    loader.

    INVARIANT: stages exactly ONE file and sets no maxFilesPerTrigger,
    so an availableNow drain runs as a SINGLE micro-batch. l12 depends
    on this (its complete-mode chained aggregate disables the global
    watermark check, which is only sound when no second batch can
    observe re-emitted state) and asserts it post-drain — if this
    helper ever stages multiple files / batches like l4's pattern,
    route l12 to its own single-file staging instead."""
    sf = os.path.basename(sf_dir.rstrip("/"))
    _sweep_staging(f"stream_src_{sf}_")
    src = f"{SCRATCH_ROOT}/stream_src_{sf}_{uuid.uuid4().hex[:8]}"
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    raw = spark.readStream.schema(_EVENTS_STREAM_SCHEMA).parquet(src)
    return raw.withColumn("ts", F.date_trunc("millisecond", F.col("ts"))), src


def _drain_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    expect_single_batch: bool = False,
) -> DataFrame:
    """Run the streaming query to completion (availableNow) into a
    memory sink; return the materialized result table.

    ``expect_single_batch=True`` asserts all input rows arrived in ONE
    micro-batch — the invariant l12's disabled watermark check rests on
    (see _staged_events_stream)."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    if expect_single_batch:
        data_batches = [
            p for p in q.recentProgress if p.get("numInputRows", 0) > 0
        ]
        if len(data_batches) > 1:
            raise AssertionError(
                f"{name}: expected a single-batch drain, got "
                f"{len(data_batches)} data batches — the complete-mode "
                "re-emit reasoning no longer holds"
            )
    return spark.table(name)


def _with_rocksdb_state_store(spark: SparkSession, thunk):
    """Run ``thunk()`` with the RocksDB state-store provider — the
    store that keeps a 100× state-size streaming job off the executor
    heap (changelog-checkpointed native store vs the default in-memory
    HDFS-backed map). Pure conf swap: the query code is untouched,
    which is exactly the claim worth testing (results must be
    bit-identical across providers). Restores the prior provider."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        return thunk()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def l1_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live tumbling-window aggregate with a watermark (L1)."""
    ev, _ = _staged_events_stream(spark, sf_dir)
    # complete output: the finite fixture drain must emit windows the
    # watermark hasn't closed yet (append would hold the last hour back).
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value")
    )
    return _drain_to_memory(agg, f"l1_mem_{uuid.uuid4().hex[:8]}", "complete")


def l1b_streaming_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1's tumbling-window aggregate on the RocksDB state store — the
    production store for large state. Same query code as l1_streaming;
    only the provider conf differs, and the test asserts the results
    are identical to the default-store run."""
    return _with_rocksdb_state_store(spark, lambda: l1_streaming(spark, sf_dir))


def l2_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live sliding-window aggregate (L2): 10-minute windows every
    5 minutes — each event lands in 2 overlapping windows."""
    ev, _ = _staged_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    return _drain_to_memory(agg, f"l2_mem_{uuid.uuid4().hex[:8]}", "complete")


def l4_streaming(spark: SparkSession, sf_dir: str):
    """Live watermark late-data drop (L4), demonstrated for real with
    THREE micro-batches: (1) the newest third of events arrives and
    advances the watermark to max(ts) − 1 hour; (2) a one-row nudge
    batch triggers the eviction pass that EMITS the now-finalized
    windows (append emits a window the batch after the watermark passes
    it); (3) the older two-thirds arrive — every row is beyond the
    watermark and the state operator drops them
    (numRowsDroppedByWatermark), so nothing old reaches the sink.
    Returns (result_df, split_event_id); the result is exactly the
    finalized batch-1 windows.

    This is the semantics the batch twin (l4_watermark_filter) models
    with a static max(ts) − δ filter; state stays bounded at 100 TB
    because closed windows are evicted, and late arrivals can never
    resurrect an emitted window.
    """
    from glonassdatamining_spark.sources import load

    sf = os.path.basename(sf_dir.rstrip("/"))
    _sweep_staging(f"l4_src_{sf}_")
    src = f"{SCRATCH_ROOT}/l4_src_{sf}_{uuid.uuid4().hex[:8]}"
    os.makedirs(src)
    ev_static = load(spark, sf_dir, "events")
    split = ev_static.approxQuantile("event_id", [2.0 / 3.0], 0.0)[0]
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")  # raw ts grain
    new_part = raw.filter(F.col("event_id") > split)
    old_part = raw.filter(F.col("event_id") <= split)
    newest_id = new_part.agg(F.max("event_id")).collect()[0][0]
    new_part.coalesce(1).write.parquet(f"{src}/b1")
    # Redelivery of the single newest row: advances nothing, only lands
    # in the (never-closed) newest window — forces the emission pass.
    raw.filter(F.col("event_id") == newest_id).coalesce(1).write.parquet(f"{src}/b2")
    old_part.coalesce(1).write.parquet(f"{src}/b3")
    # FileStreamSource orders files by modification time: stamp them so
    # the batches arrive new → nudge → late.
    import glob
    import time

    now = time.time()
    for i, d in enumerate(("b1", "b2", "b3")):
        for p in glob.glob(f"{src}/{d}/*.parquet"):
            os.utime(p, (now - 100 + i * 30, now - 100 + i * 30))

    stream = (
        spark.readStream.schema(_EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .withColumn("ts", F.date_trunc("millisecond", F.col("ts")))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    result = _drain_to_memory(agg, f"l4_mem_{uuid.uuid4().hex[:8]}", "append")
    return result, split


def l3_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live session windows (5-minute gap) per user (L3)."""
    ev, _ = _staged_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id", F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "n"
        )
    )
    return _drain_to_memory(agg, f"l3_mem_{uuid.uuid4().hex[:8]}", "complete")


def l5_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live watermarked dedup (L5): first event per (user, type)."""
    ev, _ = _staged_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(["user_id", "event_type"])
    out = deduped.select("user_id", "event_type")
    return _drain_to_memory(out, f"l5_mem_{uuid.uuid4().hex[:8]}", "append")


def l6_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stream-static enrichment join (L6)."""
    from glonassdatamining_spark.streaming.batch_twins import _SEVERITY

    ev, _ = _staged_events_stream(spark, sf_dir)
    sev = spark.createDataFrame(_SEVERITY, "event_type STRING, severity INT")
    joined = (
        ev.join(broadcast(sev), "event_type", "left")
        .withColumn("severity", F.coalesce("severity", F.lit(0)))
        .select("event_id", "severity")
    )
    return _drain_to_memory(joined, f"l6_mem_{uuid.uuid4().hex[:8]}", "append")


def m8_streaming(
    spark: SparkSession, sf_dir: str, split_files: int = 1
) -> DataFrame:
    """Live arbitrary-keyed-state sessionization (M8): the IDENTICAL
    :func:`~glonassdatamining_spark.operators.udf_ops._m8_fold` state
    machine the batch twin hash-checks, run under
    ``applyInPandasWithState`` with event-time timeout. A session row
    is emitted exactly once — either when a later event closes it
    (gap exceeded) or when the watermark passes its gap-extended end
    (timeout flush). The state tuple (start_ms, last_ms, n,
    total_str) crosses micro-batch boundaries through the state
    store; the decimal-string total keeps the sum bit-identical to
    the batch fold no matter where the batch boundary falls.

    ``split_files > 1`` stages the events SORTED BY ts into that many
    files with maxFilesPerTrigger=1 — a genuine multi-micro-batch run
    where open sessions must be stitched across batches by the
    carried state (the single-file form exercises only the
    within-batch fold + final timeout flush)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if split_files > 1:
        import time

        import pyarrow.parquet as pq

        sfname = os.path.basename(sf_dir.rstrip("/"))
        _sweep_staging(f"m8_src_{sfname}_")
        src = f"{SCRATCH_ROOT}/m8_src_{sfname}_{uuid.uuid4().hex[:8]}"
        os.makedirs(src)
        tbl = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
        n = tbl.num_rows
        bounds = [round(i * n / split_files) for i in range(split_files + 1)]
        # FileStreamSource takes files oldest first by millisecond
        # mtime, and slices written within one millisecond would come
        # in directory order: stamp them so they arrive in ts order.
        now = time.time()
        for i in range(split_files):
            path = f"{src}/{i:03d}.parquet"
            pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
            os.utime(path, (now - 100 + i, now - 100 + i))
        raw = (
            spark.readStream.schema(_EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        ev = raw.withColumn("ts", F.date_trunc("millisecond", F.col("ts")))
    else:
        ev, _ = _staged_events_stream(spark, sf_dir)

    def _rows(user_id, sessions):
        from decimal import Decimal

        return pd.DataFrame(
            {
                "user_id": user_id,
                "w_start": pd.to_datetime([s[0] for s in sessions], unit="ms"),
                "w_end": pd.to_datetime([s[1] for s in sessions], unit="ms"),
                "n": [s[2] for s in sessions],
                "sum_value": [float(Decimal(s[3])) for s in sessions],
            }
        )

    def sessions(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, tot = state.get
            state.remove()
            yield _rows(user_id, [(start, last + _M8_GAP_MS, n, tot)])
            return
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        ts_ms = pdf["ts"].astype("datetime64[ms]").astype("int64").tolist()
        vals = [repr(float(v)) for v in pdf["value"]]
        st = tuple(state.get) if state.exists else None
        closed, st = _m8_fold(st, ts_ms, vals)
        if st is not None:
            state.update(st)
            # Clamp to the watermark (round-8 fix for a file-order
            # race): the global watermark advances on OTHER users'
            # rows, so a user whose newest row in this micro-batch
            # trails it would request a timeout in the past and Spark
            # throws INVALID_TIMEOUT_TIMESTAMP (surfaced flakily —
            # maxFilesPerTrigger batch order depends on file-listing
            # ties). Clamped, the already-expired session flushes via
            # the timeout branch in the NEXT micro-batch — exactly
            # when the unclamped timeout would have fired it.
            state.setTimeoutTimestamp(
                max(
                    st[1] + _M8_GAP_MS,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        if closed:
            yield _rows(user_id, closed)

    out = (
        ev.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessions,
            outputStructType=(
                "user_id BIGINT, w_start TIMESTAMP_NTZ, w_end TIMESTAMP_NTZ, "
                "n BIGINT, sum_value DOUBLE"
            ),
            stateStructType=(
                "start_ms BIGINT, last_ms BIGINT, n BIGINT, total STRING"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return _drain_to_memory(out, f"m8_mem_{uuid.uuid4().hex[:8]}", "append")


def l7_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live arbitrary stateful op (L7): per-user running totals via
    applyInPandasWithState — custom state machine per key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev, _ = _staged_events_stream(spark, sf_dir)

    def running(key, pdfs, state: GroupState):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        running,
        outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE",
        stateStructType="n BIGINT, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_memory(out, f"l7_mem_{uuid.uuid4().hex[:8]}", "update")


def l7b_streaming_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7 via the Spark 4 stateful-processor API
    (``transformWithStateInPandas``): per-user running totals kept in a
    named ValueState, RocksDB-backed state store. Functionally the twin
    of ``l7_streaming`` (applyInPandasWithState) — both must equal the
    batch running-aggregate's final rows.

    Requires ``google.protobuf`` (the TWS Python↔JVM state-server
    protocol). Without it the streaming worker would crash mid-query
    with an opaque STREAM_FAILED, so we fail fast here with a clear
    ImportError instead; ``l7_streaming`` (applyInPandasWithState)
    carries the same checked semantics protobuf-free."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf (the TWS "
            "Python<->JVM state-server protocol); install protobuf or use "
            "l7_streaming (applyInPandasWithState) for the same semantics"
        ) from exc
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ev, _ = _staged_events_stream(spark, sf_dir)

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n BIGINT, total DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, total = (0, 0.0)
            if self._state.exists():
                n, total = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
            )

        def close(self) -> None:
            pass

    out = ev.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE",
        outputMode="Update",
        timeMode="None",
    )
    # transformWithState requires the RocksDB state store provider (the
    # recommended store at scale anyway; default HDFS-backed store is
    # unsupported for this operator).
    return _with_rocksdb_state_store(
        spark,
        lambda: _drain_to_memory(out, f"l7b_mem_{uuid.uuid4().hex[:8]}", "update"),
    )


def l9_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stream-stream interval join (L9): clicks ⋈ purchases of the
    same user within 30 minutes, both sides watermarked so Spark can
    evict join state older than the band + watermark delay — the
    condition that keeps a stream-stream join's state finite on an
    unbounded stream. Append output: matched pairs emit as both sides
    arrive. Twin: batch_twins.l9_stream_stream_join."""
    ev, _ = _staged_events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts"))
        .withWatermark("cts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND pts >= cts "
            "AND pts <= cts + INTERVAL 30 MINUTES"
        ),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_millis("pts") - F.unix_millis("cts")).alias("lag_ms"),
    )
    return _drain_to_memory(joined, f"l9_mem_{uuid.uuid4().hex[:8]}", "append")


def l10_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live rate-micro-batch source (L10): Spark's deterministic
    load-generator source — rowsPerBatch rows per micro-batch with
    synthetic timestamps — aggregated per minute window into a memory
    sink. The canonical throughput-smoke for a streaming deploy; at
    scale the same query shape hangs off Kafka instead (source swap,
    plan unchanged).

    Deterministic by construction (round-7 verdict ask #6): the
    aggregate is pinned to the first THREE minute windows (timestamp
    < 180 s), so however many extra micro-batches the wall clock lets
    through before ``q.stop()``, the returned table is byte-identical
    — batch k carries values [500k, 500(k+1)) all stamped
    ``k * 60_000 ms``, so window k holds exactly n=500 and
    sum = 250000·k + 124750. That closed form IS the oracle, making
    this the rare streaming-source query that hash-checks."""
    import uuid

    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 500)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 60_000)
        .load()
    )
    agg = (
        stream.filter(F.col("timestamp") < F.timestamp_millis(F.lit(180_000)))
        .groupBy(F.window("timestamp", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("w_start"), "n", "sum_value")
    )
    name = f"l10_mem_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        # Run until micro-batches 0..2 (the three pinned windows) have
        # COMMITTED — lastProgress reports the last completed batch —
        # then stop; later batches are filtered out of the aggregate.
        import time as _t

        committed = False
        deadline = _t.time() + 30
        while _t.time() < deadline:
            if q.lastProgress and q.lastProgress.get("batchId", 0) >= 2:
                committed = True
                break
            _t.sleep(0.2)
    finally:
        q.stop()
    if not committed:
        # Round-8 review fix: a deadline exit used to return the
        # PARTIAL memory table (1-2 windows), which the exact 3-row
        # oracle then reports as a hash mismatch — an environment
        # stall masquerading as a correctness bug. Fail loudly
        # instead; 30 s for three 200 ms-trigger micro-batches only
        # elapses on a badly oversubscribed host.
        raise RuntimeError(
            "l10_rate_source: micro-batches 0..2 did not commit within "
            "30 s (host overload?) — refusing to return a partial "
            "window table"
        )
    return spark.table(name)


def l11_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L11 live form: foreachBatch MERGE-upsert — each micro-batch's
    per-user partial aggregate merges into a parquet state table (the
    Delta/Iceberg ``MERGE INTO`` pattern with plain parquet): full
    outer join on the key, counts add, the (ts, event_id, value)
    "latest" struct resolves by ``greatest`` — associative, so the
    final table is micro-batch-partitioning-invariant. The staged
    input is split into 4 files with ``maxFilesPerTrigger=1`` to force
    a genuinely multi-batch incremental run. On a cluster the same
    foreachBatch body targets a real table format; state stays
    key-sized, never event-sized."""
    sf = os.path.basename(sf_dir.rstrip("/"))
    _sweep_staging(f"merge_src_{sf}_")
    _sweep_staging(f"merge_tgt_{sf}_")
    run = uuid.uuid4().hex[:8]
    src = f"{SCRATCH_ROOT}/merge_src_{sf}_{run}"
    tgt = f"{SCRATCH_ROOT}/merge_tgt_{sf}_{run}"
    from glonassdatamining_spark.sources import _scan

    ev = _scan(spark, sf_dir, "events")
    # 4 deterministic slices → 4 micro-batches under maxFilesPerTrigger=1.
    for i in range(4):
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(_EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.date_trunc("millisecond", F.col("ts")))
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.struct("ts", "event_id", "value")).alias("_last"),
        )
        if os.path.exists(tgt + "/_SUCCESS"):
            old = spark.read.parquet(tgt)
            merged = (
                old.alias("o")
                .join(new.alias("n"), "user_id", "full_outer")
                .select(
                    "user_id",
                    (
                        F.coalesce(F.col("o.n_events"), F.lit(0))
                        + F.coalesce(F.col("n.n_events"), F.lit(0))
                    ).alias("n_events"),
                    F.greatest(F.col("o._last"), F.col("n._last")).alias("_last"),
                )
            )
        else:
            merged = new
        # Materialize BEFORE overwriting the directory being read.
        merged.localCheckpoint().write.mode("overwrite").parquet(tgt)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", tgt + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(tgt).select(
        "user_id",
        "n_events",
        F.col("_last.value").alias("last_value"),
        F.col("_last.ts").alias("last_ts"),
    )


def l12_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live chained time-window aggregation (L12): the 10-minute
    windowed count feeds a second windowed aggregate keyed on
    window_time — two chained state stores in ONE streaming query
    (Spark 3.5+), no intermediate sink."""
    ev, _ = _staged_events_stream(spark, sf_dir)
    m = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg = (
        m.groupBy(F.window(F.window_time("w"), "1 hour").alias("h"), "event_type")
        .agg(F.max("n").alias("peak_10min"), F.sum("n").alias("n_total"))
        .select(
            F.col("h.start").alias("w_hour"), "event_type", "peak_10min", "n_total"
        )
    )
    import uuid as _uuid

    # Complete-mode chained stateful aggs trip the conservative global-
    # watermark check (append-mode late-row hazard). With a single
    # availableNow drain + complete output the first aggregate re-emits
    # its FULL state each trigger, so no row can be late downstream —
    # the documented case for disabling the check. Restored after.
    key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        return _drain_to_memory(
            agg,
            f"l12_mem_{_uuid.uuid4().hex[:8]}",
            "complete",
            expect_single_batch=True,
        )
    finally:
        spark.conf.set(key, prev)


def _staged_nudged_events_stream(
    spark: SparkSession, sf_dir: str, prefix: str
) -> DataFrame:
    """Two-batch staging (l4's pattern, reusable): batch 1 = the whole
    events fixture, batch 2 = a single redelivered newest row. The
    nudge batch runs AFTER the watermark advanced to max(ts) − delay,
    so the eviction pass that emits watermark-gated results (outer-join
    NULLs, closed append-mode windows) actually executes — on a finite
    drain without it, nothing gated ever leaves the state store."""
    import glob
    import time

    sf = os.path.basename(sf_dir.rstrip("/"))
    _sweep_staging(f"{prefix}_src_{sf}_")
    src = f"{SCRATCH_ROOT}/{prefix}_src_{sf}_{uuid.uuid4().hex[:8]}"
    os.makedirs(src)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    newest_id = raw.agg(F.max("event_id")).collect()[0][0]
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/b1.parquet")
    raw.filter(F.col("event_id") == newest_id).coalesce(1).write.parquet(
        f"{src}/b2"
    )
    now = time.time()
    os.utime(f"{src}/b1.parquet", (now - 100, now - 100))
    for p in glob.glob(f"{src}/b2/*.parquet"):
        os.utime(p, (now - 50, now - 50))
    return (
        spark.readStream.schema(_EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .withColumn("ts", F.date_trunc("millisecond", F.col("ts")))
    )


def l13_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stream-stream LEFT OUTER interval join (L13): click
    attribution where non-converting clicks emit NULL purchase columns
    once the watermark proves no match can arrive. Spark requires the
    two-sided watermark + time-bound condition for exactly that
    reason. Two-batch nudge staging: the second batch runs the
    eviction pass that emits the NULL rows for clicks beyond the final
    watermark horizon; clicks inside the horizon are still in state
    when the drain ends — the test asserts that boundary precisely.
    Duplicate nudge redelivery is harmless on the inner side (the
    nudge is the newest event — outside every click's forward band)."""
    ev = _staged_nudged_events_stream(spark, sf_dir, "l13")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts"))
        .withWatermark("cts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND pts >= cts "
            "AND pts <= cts + INTERVAL 30 MINUTES"
        ),
        "leftOuter",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_millis("pts") - F.unix_millis("cts")).alias("lag_ms"),
    )
    return _drain_to_memory(joined, f"l13_mem_{uuid.uuid4().hex[:8]}", "append")


def l14_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live chained stateful dedup → windowed count (L14):
    ``dropDuplicatesWithinWatermark`` on (user, type, window-start)
    feeding a 10-minute windowed count — two chained state stores, and
    the dedup store is watermark-EVICTED (unlike plain dropDuplicates,
    whose state grows with every key forever — the difference that
    matters at 100 TB). Dedup key includes the window start, so which
    duplicate survives cannot change any count. Append mode: windows
    emit once closed; the nudge batch closes everything except the
    final watermark horizon (test asserts the boundary)."""
    ev = _staged_nudged_events_stream(spark, sf_dir, "l14")
    keyed = (
        ev.withWatermark("ts", "1 hour")
        .withColumn("w10", F.window("ts", "10 minutes").start)
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "w10"])
    )
    agg = (
        keyed.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(F.col("w.start").alias("w_start"), "n_active")
    )
    return _drain_to_memory(agg, f"l14_mem_{uuid.uuid4().hex[:8]}", "append")


def l15_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L15 live form: the gnssbus message-bus source (Kafka's offset
    contract as a Python DataSourceStreamReader — streaming/bus.py)
    consumed to the end of its virtual log over multiple broker-paced
    micro-batches, aggregated per object in complete mode. Must equal
    the l15 batch twin exactly (asserted in tests/test_streaming.py,
    along with mid-stream stop/restart recovery from the checkpointed
    offsets)."""
    import time as _t
    import uuid

    from glonassdatamining_spark.streaming.bus import (
        BUS_PARTS,
        BUS_TOTAL,
        register_bus,
    )

    register_bus(spark)
    stream = spark.readStream.format("gnssbus").load()
    agg = stream.groupBy("obj_id").agg(
        F.count(F.lit(1)).alias("n_msgs"),
        dsum("x", "sum_x"),
        dsum("y", "sum_y"),
    )
    name = f"l15_mem_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="150 milliseconds")
        .start()
    )
    want = BUS_PARTS * BUS_TOTAL
    try:
        deadline = _t.time() + 60
        rows_by_batch: dict = {}
        while _t.time() < deadline and sum(rows_by_batch.values()) < want:
            for pr in q.recentProgress or []:
                rows_by_batch[pr["batchId"]] = pr.get("numInputRows", 0)
            _t.sleep(0.15)
    finally:
        q.stop()
    return spark.table(name)


def l16_streaming(spark: SparkSession, sf_dir: str) -> str:
    """L16 live form: gnssbus source → busfilesink (the Python
    DataSourceStreamWriter with the full stage/commit/abort two-phase
    protocol — streaming/bus.py). Consumes the whole virtual log,
    returns the sink path; the caller reads back ONLY manifested
    batches."""
    import glob
    import os
    import time as _t
    import uuid

    from glonassdatamining_spark.streaming.bus import (
        BUS_PARTS,
        BUS_STEP,
        BUS_TOTAL,
        register_bus,
        register_bus_sink,
    )

    register_bus(spark)
    register_bus_sink(spark)
    _sweep_staging("l16_sink_")
    root = f"{SCRATCH_ROOT}/l16_sink_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("gnssbus")
        .load()
        .writeStream.format("busfilesink")
        .option("path", root)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(processingTime="150 milliseconds")
        .start()
    )
    n_batches_needed = (BUS_TOTAL + BUS_STEP - 1) // BUS_STEP
    try:
        deadline = _t.time() + 60
        while _t.time() < deadline:
            done = len(glob.glob(f"{root}/committed/batch=*/_SUCCESS"))
            if done >= n_batches_needed:
                # all offsets published; empty trailing batches are fine
                break
            _t.sleep(0.15)
    finally:
        q.stop()
    return root


def l17_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live stream-stream AS-OF enrichment (L17) — trade/quote
    alignment: each purchase gains the user's latest error
    at-or-before it within a 30-minute lookback horizon. Structured
    Streaming has no as-of join, so the live form is the canonical
    two-stateful-operator pipeline (Spark 3.5+ multiple stateful
    operators):

      1. watermarked LEFT OUTER time-interval join — err_ts in
         [ts − 30 min, ts] — producing the whole candidate band per
         purchase (state evicted at band + delay; the horizon is what
         makes as-of streamable at all: an unbounded lookback could
         never evict the error side);
      2. a chained windowed aggregation that reduces the band to the
         single latest match: max_by over (err_ts, err_event_id) —
         ties resolved exactly like the batch twin's per-(user, ts)
         MAX(event_id) dedup. Grouping includes window(ts) so append
         mode can finalize each purchase when the watermark closes
         its window.

    A purchase row therefore emits only after the watermark passes
    BOTH its outer-join eviction point and its window end — the
    two-batch nudge staging advances the watermark so everything
    outside the final horizon leaves state; the boundary is asserted
    against the l17 batch twin in tests/test_streaming.py."""
    ev = _staged_nudged_events_stream(spark, sf_dir, "l17")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "1 hour")
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user_id"),
            F.col("event_id").alias("cand_event_id"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "1 hour")
    )
    band = purchases.join(
        errors,
        F.expr(
            "user_id = e_user_id AND err_ts <= ts "
            "AND err_ts >= ts - INTERVAL 30 MINUTES"
        ),
        "leftOuter",
    )
    enriched = (
        # Grouping may carry at most ONE event-time column (the
        # window); ts re-enters as a plain max() aggregate — exact,
        # since ts is functionally determined by event_id.
        band.groupBy(
            F.window("ts", "10 minutes").alias("_w"),
            "event_id", "user_id",
        )
        .agg(
            F.max("ts").alias("ts"),
            F.max_by(
                "cand_event_id", F.struct("err_ts", "cand_event_id")
            ).alias("err_event_id"),
            F.max("err_ts").alias("err_ts"),
        )
        .select("event_id", "user_id", "ts", "err_event_id", "err_ts")
    )
    return _drain_to_memory(enriched, f"l17_mem_{uuid.uuid4().hex[:8]}", "append")
