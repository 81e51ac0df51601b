"""Streaming-vs-batch-twin equivalence (SURVEY §5.4): each live
Structured Streaming form must produce exactly its declared batch
twin's result on the static events fixture."""

from __future__ import annotations

import pandas as pd
import pytest

from glonassdatamining_spark import registry
from glonassdatamining_spark.streaming import live
from tests.conftest import SF_DIR, compare_frames


def _twin(spark, name: str) -> pd.DataFrame:
    return registry.get(name).builder(spark, SF_DIR).toPandas()


def test_l1_stream_equals_batch(spark):
    got = live.l1_streaming(spark, SF_DIR).toPandas()
    want = _twin(spark, "l1_tumbling_window")
    compare_frames(got, want, "l1_stream_vs_batch")


def test_l1b_rocksdb_state_store_equals_default(spark):
    """The RocksDB state-store provider (the 100×-state production
    store) must produce results identical to the default HDFS-backed
    store — same query code, conf-only swap, and the conf must actually
    be set during the run."""
    key = "spark.sql.streaming.stateStore.providerClass"
    observed = {}
    orig = live.l1_streaming

    def spying_l1(spark_, sf_dir_):
        observed["provider"] = spark_.conf.get(key, "")
        return orig(spark_, sf_dir_)

    live.l1_streaming, got = spying_l1, None
    try:
        got = live.l1b_streaming_rocksdb(spark, SF_DIR).toPandas()
    finally:
        live.l1_streaming = orig
    assert "RocksDBStateStoreProvider" in observed["provider"]
    # restored after the run
    assert "RocksDB" not in (spark.conf.get(key, "") or "")
    want = _twin(spark, "l1_tumbling_window")
    compare_frames(got, want, "l1b_rocksdb_vs_batch")


def test_l2_stream_equals_batch(spark):
    got = live.l2_streaming(spark, SF_DIR).toPandas()
    want = _twin(spark, "l2_sliding_window")[["w_start", "n"]]
    compare_frames(got, want.astype({"n": "int64"}), "l2_stream_vs_batch")


def test_l4_watermark_drops_late_batch(spark):
    """Two-micro-batch drain: the older two-thirds arrive after the
    watermark advanced past them and must be evicted — the result is
    exactly the finalized windows of the newest third."""
    from pyspark.sql import functions as F

    from glonassdatamining_spark.sources import load

    got, split = live.l4_streaming(spark, SF_DIR)
    got = got.toPandas()
    new = load(spark, SF_DIR, "events").filter(F.col("event_id") > split)
    wm = new.agg(F.max("ts")).collect()[0][0] - __import__("datetime").timedelta(hours=1)
    want = (
        new.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("w.end") <= F.lit(wm))
        .select(F.col("w.start").alias("w_start"), "n")
        .toPandas()
    )
    assert len(want) > 0, "test is vacuous: no finalized windows"
    n_total = load(spark, SF_DIR, "events").count()
    assert got["n"].sum() < n_total, "late data was not dropped"
    compare_frames(got, want.astype({"n": "int64"}), "l4_stream_late_drop")


def test_l3_stream_equals_batch(spark):
    got = live.l3_streaming(spark, SF_DIR).toPandas()
    want = _twin(spark, "l3_session_window")
    compare_frames(got, want, "l3_stream_vs_batch")


def test_l5_stream_covers_keys(spark):
    got = live.l5_streaming(spark, SF_DIR).toPandas()
    want = _twin(spark, "l5_stateful_dedup")
    # dropDuplicates keeps an arbitrary row per key — compare key sets.
    assert sorted(map(tuple, got[["user_id", "event_type"]].values.tolist())) == sorted(
        map(tuple, want[["user_id", "event_type"]].values.tolist())
    )


def test_l6_stream_equals_batch(spark):
    got = live.l6_streaming(spark, SF_DIR).toPandas()
    agg = got.groupby("severity", as_index=False).agg(n=("event_id", "count"))
    want = _twin(spark, "l6_stream_static_join")[["severity", "n"]]
    compare_frames(agg, want.astype({"n": "int64"}), "l6_stream_vs_batch")


def test_l7_stateful_running_final_state(spark):
    got = live.l7_streaming(spark, SF_DIR).toPandas()
    # One availableNow drain → one batch → final state per user equals
    # the batch twin's last running row per user.
    twin = _twin(spark, "l7_stateful_running")
    want = (
        twin.sort_values(["user_id", "events_so_far"])
        .groupby("user_id", as_index=False)
        .last()[["user_id", "events_so_far"]]
        .rename(columns={"events_so_far": "n_events"})
    )
    got_n = got[["user_id", "n_events"]].sort_values("user_id").reset_index(drop=True)
    want = want.sort_values("user_id").reset_index(drop=True)
    assert got_n["user_id"].tolist() == want["user_id"].tolist()
    assert got_n["n_events"].tolist() == want["n_events"].tolist()


def test_l7b_transform_with_state_equals_l7(spark):
    """Spark 4 transformWithStateInPandas twin of l7: same final state
    per user as the batch running aggregate. Where google.protobuf is
    unavailable (the TWS state-server protocol requires it), assert
    instead that the l7b pipeline fails fast with a clear import error
    — no silent skip; applyInPandasWithState l7 carries the checked
    semantics either way."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(Exception) as excinfo:
            live.l7b_streaming_tws(spark, SF_DIR).toPandas()
        msg = str(excinfo.value)
        assert "protobuf" in msg or "google" in msg or "proto" in msg.lower(), (
            f"expected a protobuf import failure, got: {msg[:500]}"
        )
        return
    got = live.l7b_streaming_tws(spark, SF_DIR).toPandas()
    twin = _twin(spark, "l7_stateful_running")
    want = (
        twin.sort_values(["user_id", "events_so_far"])
        .groupby("user_id", as_index=False)
        .last()[["user_id", "events_so_far"]]
        .rename(columns={"events_so_far": "n_events"})
    )
    got_n = got[["user_id", "n_events"]].sort_values("user_id").reset_index(drop=True)
    want = want.sort_values("user_id").reset_index(drop=True)
    assert got_n["user_id"].tolist() == want["user_id"].tolist()
    assert got_n["n_events"].tolist() == want["n_events"].tolist()


def test_l9_stream_stream_join_equals_batch(spark):
    got = live.l9_streaming(spark, SF_DIR).toPandas()
    want = _twin(spark, "l9_stream_stream_join")
    key = ["click_id", "purchase_id"]
    compare_frames(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        "l9_stream_vs_batch",
    )


def test_l10_rate_source_generates_deterministic_batches(spark):
    got = live.l10_rate_source(spark, SF_DIR).toPandas()
    # rate-micro-batch: 500 rows per batch, values are the global row
    # counter. Round-8: the aggregate is pinned to the first THREE
    # minute windows, so the output is exactly 3 rows however many
    # extra batches the wall clock let through — byte-deterministic.
    assert len(got) == 3
    assert (got["n"] == 500).all()
    sums = sorted(got["sum_value"].tolist())
    assert sums == [sum(range(k * 500, (k + 1) * 500)) for k in range(3)]


def test_l11_foreachbatch_merge_equals_batch(spark):
    """The foreachBatch MERGE sink, fed 4 micro-batches, must converge
    to exactly the batch twin's per-user state table."""
    got = live.l11_streaming(spark, SF_DIR).toPandas()
    want = _twin(spark, "l11_incremental_merge")
    key = ["user_id"]
    compare_frames(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        "l11_stream_vs_batch",
    )


def test_l12_chained_windows_equals_batch(spark):
    got = live.l12_streaming(spark, SF_DIR).toPandas()
    want = _twin(spark, "l12_chained_windows")
    key = ["w_hour", "event_type"]
    compare_frames(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        "l12_stream_vs_batch",
    )


def test_l13_outer_join_matched_and_horizon_nulls(spark):
    """Live left-outer stream-stream join: matched rows must equal the
    batch twin's matched rows EXACTLY; NULL (non-converting) rows obey
    the watermark horizon — every live NULL is a batch NULL, and every
    batch NULL safely older than the final horizon (max ts − 1 h delay
    − 30 min band − 10 min safety) must have been emitted."""
    from pyspark.sql import functions as F

    from glonassdatamining_spark.sources import load

    got = live.l13_streaming(spark, SF_DIR).toPandas()
    want = _twin(spark, "l13_stream_outer_join")

    g_matched = got[got.purchase_id.notna()]
    w_matched = want[want.purchase_id.notna()]
    compare_frames(
        g_matched.reset_index(drop=True),
        w_matched.reset_index(drop=True),
        "l13_matched",
    )

    # The global watermark is the MIN across both sides' (max event
    # time − delay); the click side ends earlier than the purchase
    # side, so it binds. Eviction needs cts + 30 min (band) behind the
    # watermark; 10 min extra safety.
    per_side = dict(
        load(spark, SF_DIR, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .collect()
    )
    import datetime

    horizon = min(per_side.values()) - datetime.timedelta(hours=1, minutes=40)
    ev = load(spark, SF_DIR, "events").toPandas().set_index("event_id")
    live_nulls = set(got[got.purchase_id.isna()].click_id)
    batch_nulls = set(want[want.purchase_id.isna()].click_id)
    assert live_nulls <= batch_nulls, "live emitted a NULL the batch denies"
    must_emit = {
        cid for cid in batch_nulls if ev.loc[cid].ts < horizon
    }
    missing = must_emit - live_nulls
    assert not missing, f"closed-horizon NULLs never emitted: {missing}"


def test_l14_dedup_then_window_closed_windows(spark):
    """Live dropDuplicatesWithinWatermark → windowed count: every
    emitted window must match the batch twin exactly, and all windows
    safely older than the final watermark horizon must have emitted."""
    from pyspark.sql import functions as F

    from glonassdatamining_spark.sources import load

    got = live.l14_streaming(spark, SF_DIR).toPandas()
    want = _twin(spark, "l14_dedup_then_window")
    gmap = dict(zip(got.w_start, got.n_active))
    wmap = dict(zip(want.w_start, want.n_active))
    for w, n in gmap.items():
        assert wmap.get(w) == n, f"window {w}: live {n} != batch {wmap.get(w)}"

    import datetime

    max_ts = load(spark, SF_DIR, "events").agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(hours=1, minutes=20)
    must_emit = {w for w in wmap if w < horizon}
    missing = must_emit - set(gmap)
    assert not missing, f"closed windows never emitted: {missing}"


def test_l15_bus_stream_equals_twin(spark):
    """The gnssbus message-bus source consumed to the end of its
    virtual log (multiple broker-paced micro-batches) must equal the
    closed-form batch twin — the Kafka-contract scan path end to end."""
    got = live.l15_streaming(spark, SF_DIR).toPandas()
    want = _twin(spark, "l15_bus_source_twin")
    assert len(got) == 50, "bus stream did not consume the full log"
    compare_frames(got, want, "l15_stream_vs_batch")


def test_l15_bus_restart_recovers_from_checkpointed_offsets(spark, tmp_path):
    """Kafka-semantics recovery: stop the consumer mid-log, restart
    with the same checkpoint, and the union of idempotent per-batch
    outputs must cover every (part, off) of the log EXACTLY once —
    offsets resume from the checkpoint, no loss, no duplication.
    Also exercises the post-restart clamp (the virtual broker cursor
    rewinds to zero on restart; ranges must never rewind)."""
    import glob
    import time

    from pyspark.sql import functions as F

    from glonassdatamining_spark.streaming.bus import (
        BUS_PARTS,
        BUS_TOTAL,
        register_bus,
    )

    register_bus(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    broker = str(tmp_path / "broker")

    def write_batch(df, batch_id):
        # idempotent sink: one dir per batch id, overwritten on replay
        df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    def run(min_batches, deadline_s):
        # slow pace (10 batches of 100): stopping after 2 committed
        # dirs can never race the end of the log, even under full-suite
        # host load (the l10 flake lesson)
        q = (
            spark.readStream.format("gnssbus")
            .option("brokerDir", broker)
            .option("stepPerBatch", 100)
            .load()
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        try:
            t0 = time.time()
            while time.time() - t0 < deadline_s:
                done = len(glob.glob(f"{out}/batch=*"))
                if done >= min_batches:
                    break
                time.sleep(0.1)
        finally:
            q.stop()

    # first run: stop mid-log (at this pace the log takes 10 batches)
    run(min_batches=2, deadline_s=30)
    mid = spark.read.option("basePath", out).parquet(f"{out}/batch=*").count()
    assert mid < BUS_PARTS * BUS_TOTAL, "first run consumed everything — stop earlier"
    # restart from the same checkpoint: must finish the log
    t0 = time.time()
    while time.time() - t0 < 60:
        run(min_batches=10**9, deadline_s=15)  # drain until deadline
        n = spark.read.option("basePath", out).parquet(f"{out}/batch=*").count()
        if n >= BUS_PARTS * BUS_TOTAL:
            break
    rows = spark.read.option("basePath", out).parquet(f"{out}/batch=*")
    total = rows.count()
    distinct = rows.select("part", "off").distinct().count()
    assert total == BUS_PARTS * BUS_TOTAL, f"lost or duplicated records: {total}"
    assert distinct == BUS_PARTS * BUS_TOTAL
    # content is the pure (part, off) function — spot-check the join key
    bad = rows.filter(
        (F.col("msg_id") != F.col("off") * BUS_PARTS + F.col("part"))
        | (F.col("obj_id") != F.col("msg_id") % 50)
    ).count()
    assert bad == 0


def test_l16_sink_commit_protocol_units(spark, tmp_path):
    """The two-phase commit protocol's branches, driven directly:
    staged rows are invisible until commit; commit is an idempotent
    per-batch publish; abort removes staged files; a torn file (count
    drift vs manifest) is rejected at read time."""
    import os

    from pyspark.sql import Row

    from glonassdatamining_spark.streaming.bus import (
        make_bus_sink,
        read_committed,
    )

    _, _BusSinkWriter = make_bus_sink()

    root = str(tmp_path / "sink")
    w = _BusSinkWriter({"path": root})
    rows = [
        Row(part=0, off=i, msg_id=i * 4, obj_id=(i * 4) % 50, x=1.5, y=2.5)
        for i in range(10)
    ]

    # staged ≠ visible
    m1 = w.write(iter(rows))
    assert m1.n_rows == 10 and os.path.exists(m1.staged_path)
    assert read_committed(spark, root).count() == 0

    # commit publishes atomically (manifest last), staged file is gone
    w.commit([m1], batchId=0)
    assert not os.path.exists(m1.staged_path)
    assert read_committed(spark, root).count() == 10

    # replayed batch: re-stage + re-commit SAME id → still exactly once
    m1b = w.write(iter(rows))
    w.commit([m1b], batchId=0)
    assert read_committed(spark, root).count() == 10

    # abort leaves no trace
    m2 = w.write(iter(rows))
    w.abort([m2], batchId=1)
    assert not os.path.exists(m2.staged_path)
    assert read_committed(spark, root).count() == 10

    # a torn committed file is caught by the manifest count check
    m3 = w.write(iter(rows))
    w.commit([m3], batchId=2)
    victim = os.path.join(root, "committed", "batch=2", "part-00000.csv")
    with open(victim) as fh:
        lines = fh.readlines()
    with open(victim, "w") as fh:
        fh.writelines(lines[:-1])
    with pytest.raises(IOError):
        read_committed(spark, root).count()


def test_l17_stream_asof_matches_twin_within_horizon(spark):
    """Live stream-stream as-of enrichment: every emitted row must
    equal the batch twin's row for that purchase exactly (match id,
    match ts, NULLs included), and every purchase safely older than
    the final watermark horizon must have been emitted. The horizon
    stacks BOTH stateful operators' gates: 1 h watermark delay +
    30 min join band + 10 min agg window + 10 min safety behind the
    binding side's max event time."""
    import datetime

    from pyspark.sql import functions as F

    from glonassdatamining_spark.sources import load

    got = live.l17_streaming(spark, SF_DIR).toPandas()
    want = _twin(spark, "l17_stream_asof_join")

    g = got.set_index("event_id").sort_index()
    w = want.set_index("event_id").sort_index()
    assert set(g.index) <= set(w.index), "live emitted a purchase the twin denies"
    assert g.index.is_unique, "live emitted a purchase twice"
    for eid in g.index:
        gr, wr = g.loc[eid], w.loc[eid]
        assert gr["ts"] == wr["ts"], (eid, gr["ts"], wr["ts"])
        if pd.isna(wr["err_event_id"]):
            assert pd.isna(gr["err_event_id"]), (eid, "expected NULL match")
        else:
            assert gr["err_event_id"] == wr["err_event_id"], (
                eid, gr["err_event_id"], wr["err_event_id"],
            )
            assert gr["err_ts"] == wr["err_ts"]

    per_side = dict(
        load(spark, SF_DIR, "events")
        .filter(F.col("event_type").isin("purchase", "error"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .collect()
    )
    horizon = min(per_side.values()) - datetime.timedelta(
        hours=1, minutes=50
    )
    must_emit = set(w[w.ts < horizon].index)
    missing = must_emit - set(g.index)
    assert not missing, f"closed-horizon purchases never emitted: {missing}"


def test_m8_stream_equals_batch_up_to_watermark(spark):
    """applyInPandasWithState sessionization: the live form runs the
    IDENTICAL _m8_fold state machine as the m8 batch twin, so its
    output must equal the twin restricted to sessions the final
    watermark can prove closed — w_end <= max event ts (watermark
    delay 0). Sessions still open at stream end (only the corpus's
    very last ones) correctly stay in state, unemitted: append-mode
    output may never emit a row that a later event could still
    extend."""
    from glonassdatamining_spark.sources import load

    got = live.m8_streaming(spark, SF_DIR).toPandas()
    twin = _twin(spark, "m8_stateful_sessions")
    wm = load(spark, SF_DIR, "events").agg({"ts": "max"}).collect()[0][0]
    expected = twin[twin["w_end"] <= wm]
    assert len(expected) < len(twin), "fixture must leave >=1 open session"

    def keyset(df):
        return set(
            zip(df.user_id, df.w_start, df.w_end, df.n, df.sum_value)
        )

    assert keyset(got) == keyset(expected)
    # exactly-once emission: no session surfaces twice across batches
    assert len(got) == len(keyset(got))


def test_m8_state_crosses_microbatch_boundaries(spark, monkeypatch):
    """Three time-ordered micro-batches (maxFilesPerTrigger=1): open
    sessions at each file boundary must be stitched by the state
    carried in the store — n, bounds, AND the decimal-string total
    must come out bit-identical to the single-shot batch fold. Also
    exercises the between-batch timeout path (sessions whose user has
    no rows in a later batch flush when the advancing watermark
    passes their end). The staged slices are written with one shared
    mtime, as fast writes often get, so the batch order must not rest
    on when they were written."""
    import os

    import pyarrow.parquet as pq

    from glonassdatamining_spark.sources import load

    write_table = pq.write_table

    def write_same_mtime(table, path, *args, **kwargs):
        write_table(table, path, *args, **kwargs)
        os.utime(path, (1.7e9, 1.7e9))

    monkeypatch.setattr(pq, "write_table", write_same_mtime)
    got = live.m8_streaming(spark, SF_DIR, split_files=3).toPandas()
    twin = _twin(spark, "m8_stateful_sessions")
    wm = load(spark, SF_DIR, "events").agg({"ts": "max"}).collect()[0][0]
    expected = twin[twin["w_end"] <= wm]

    def keyset(df):
        return set(
            zip(df.user_id, df.w_start, df.w_end, df.n, df.sum_value)
        )

    assert keyset(got) == keyset(expected)
    assert len(got) == len(keyset(got))
