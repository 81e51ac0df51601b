"""§2.M — the Python UDF surface (Arrow-vectorized, never row-at-a-time).

Each declared query's LOGIC is SQL-expressible (so it stays t2
hash-checkable against DuckDB) — what's exercised is the Arrow
transport + pandas execution path itself: scalar pandas UDF, grouped
map (applyInPandas), grouped aggregate, mapInPandas iterator, and
struct-argument UDFs.

These are the slow paths of the engine by design (JVM↔Python
serialization); production operators use them only where built-ins
can't express the semantics (I6 DBSCAN, K13 multimodal decode).
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from glonassdatamining_spark.registry import register
from glonassdatamining_spark.sources import load
from glonassdatamining_spark.stable import EVENTS_CTE


@register(
    "m1_scalar_pandas_udf",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "l_extendedprice * (1 - l_discount) AS disc_price "
        "FROM lineitem WHERE l_orderkey % 20 = 0"
    ),
    section="M1",
)
def m1_scalar_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series→Series vectorized UDF over Arrow batches; per-row IEEE
    double arithmetic matches the SQL oracle bit-for-bit."""

    @pandas_udf("double")
    def disc_price(price: pd.Series, disc: pd.Series) -> pd.Series:
        return price * (1.0 - disc)

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 20 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc_price("l_extendedprice", "l_discount").alias("disc_price"),
    )


@register(
    "m2_grouped_map_udf",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_returnflag, "
        "ROUND((l_extendedprice - avg(l_extendedprice) OVER (PARTITION BY l_returnflag)) / "
        "stddev_samp(l_extendedprice) OVER (PARTITION BY l_returnflag), 4) AS z "
        "FROM lineitem"
    ),
    section="M2",
)
def m2_grouped_map_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas per-group z-score normalization — the grouped-map
    workhorse pattern behind I6's local DBSCAN. Rounded to 4dp: pandas
    and DuckDB sum moments in different orders."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["l_extendedprice"]
        z = (x - x.mean()) / x.std(ddof=1)
        return pd.DataFrame(
            {
                "l_orderkey": pdf["l_orderkey"],
                "l_linenumber": pdf["l_linenumber"],
                "l_returnflag": pdf["l_returnflag"],
                "z": z.round(4),
            }
        )

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").applyInPandas(
        zscore, "l_orderkey BIGINT, l_linenumber INT, l_returnflag STRING, z DOUBLE"
    )


@register(
    "m3_grouped_agg_udf",
    oracle=(
        "SELECT l_returnflag, "
        "ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) AS wavg_price "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    section="M3",
)
def m3_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF): quantity-weighted mean
    price. Rounded: numpy's pairwise summation vs DuckDB's running sum
    differ in ulps."""

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:  # type: ignore[misc]
        return float(round((price * qty).sum() / qty.sum(), 4))

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        wavg("l_extendedprice", "l_quantity").alias("wavg_price")
    )


@register(
    "m4_map_in_pandas",
    oracle=(
        "SELECT o_orderkey, o_totalprice, length(o_orderpriority) AS prio_len "
        "FROM orders WHERE o_totalprice > 250000.0"
    ),
    section="M4",
)
def m4_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas batch-iterator (UDTF-shaped: any N_in → N_out).
    Filter + project per Arrow batch."""

    def pick(batches):
        for pdf in batches:
            hit = pdf[pdf["o_totalprice"] > 250000.0]
            yield pd.DataFrame(
                {
                    "o_orderkey": hit["o_orderkey"],
                    "o_totalprice": hit["o_totalprice"],
                    "prio_len": hit["o_orderpriority"].str.len().astype("int32"),
                }
            )

    o = load(spark, sf_dir, "orders")
    return o.mapInPandas(pick, "o_orderkey BIGINT, o_totalprice DOUBLE, prio_len INT")


@register(
    "m5_struct_arg_udf",
    oracle=(
        "SELECT c_custkey, c_name || '|' || CAST(floor(c_acctbal) AS BIGINT) AS tag "
        "FROM customer"
    ),
    section="M5",
)
def m5_struct_arg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct-argument pandas UDF: the struct arrives as a nested
    pd.DataFrame per Arrow batch (floor, not round: exact on both)."""

    @pandas_udf("string")
    def fmt(s: pd.DataFrame) -> pd.Series:
        return s["c_name"] + "|" + s["c_acctbal"].map(lambda v: str(math.floor(v)))

    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        fmt(F.struct("c_name", "c_acctbal")).alias("tag"),
    )


@register(
    "m4b_python_udtf",
    oracle=(
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS words "
        "FROM documents WHERE doc_id % 50 = 0) "
        "SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.token, "
        "CAST(u.n_chars AS BIGINT) AS n_chars FROM (SELECT doc_id, "
        "unnest(list_transform(words, (w, i) -> "
        "struct_pack(pos := i, token := w, n_chars := length(w))), "
        "recursive := true) FROM t) u(doc_id, pos, token, n_chars) "
        "WHERE u.n_chars > 4"
    ),
    section="M4",
)
def m4b_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Spark 4 Python UDTF (``@udtf`` class, LATERAL-joined in
    SQL): one input row → N output rows with per-row Python logic —
    the declared §2.M4 table-function surface beyond the Arrow
    ``mapInPandas`` shape of m4. Kept off the relational hot path (the
    plan carries a Python UDTF node by design, like m1/m3/m5)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, token string, n_chars bigint")
    class TokenStats:
        def eval(self, text: str):  # noqa: ANN001 — UDTF protocol
            if text is None:
                return
            for i, tok in enumerate(text.split(" ")):
                if len(tok) > 4:
                    yield i + 1, tok, len(tok)

    spark.udtf.register("gdm_token_stats", TokenStats)
    load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 50 == 0
    ).createOrReplaceTempView("gdm_m4b_docs")
    return spark.sql(
        "SELECT d.doc_id, s.pos, s.token, s.n_chars "
        "FROM gdm_m4b_docs d, LATERAL gdm_token_stats(d.text) s"
    )


@register(
    "m6_map_in_arrow",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "l_extendedprice * (1 - l_discount) AS net "
        "FROM lineitem WHERE l_quantity >= 40"
    ),
    section="M6",
)
def m6_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the zero-copy end of the UDF surface: batches
    arrive as pyarrow RecordBatches (no pandas materialization at
    all), the kernel runs Arrow compute, batches go straight back.
    For columnar-native libraries this skips the Arrow→pandas→Arrow
    round-trip mapInPandas pays. One IEEE subtract+multiply per value
    — bit-identical to the oracle (no rounding: see kernel comment)."""

    def net_price(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            t = pa.table(b)
            # One IEEE multiply per value — bit-identical everywhere.
            # (Decimal rounding is NOT: engines disagree in the last
            # ulp of round-to-2dp; keep kernels on exact FP ops.)
            net = pc.multiply(
                t.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), t.column("l_discount")),
            )
            out = pa.table(
                {
                    "l_orderkey": t.column("l_orderkey"),
                    "l_linenumber": t.column("l_linenumber"),
                    "net": net,
                }
            )
            for ob in out.to_batches():
                yield ob

    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 40)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    )
    return li.mapInArrow(
        net_price, "l_orderkey BIGINT, l_linenumber INT, net DOUBLE"
    )


# --------------------------------------------------------------------------
# M7 — cogrouped-map pandas UDF (applyInPandas over a cogroup)
# --------------------------------------------------------------------------
@register(
    "m7_cogrouped_map",
    oracle=(
        "WITH o AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS "
        "n_orders, CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
        "AS BIGINT)) AS BIGINT) AS spend_cents FROM orders GROUP BY 1), "
        "e AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS n_events "
        "FROM main.events GROUP BY 1) "
        "SELECT COALESCE(o.k, e.k) AS k, "
        "COALESCE(n_orders, 0) AS n_orders, "
        "COALESCE(spend_cents, 0) AS spend_cents, "
        "COALESCE(n_events, 0) AS n_events "
        "FROM o FULL OUTER JOIN e ON o.k = e.k"
    ),
    section="M7",
)
def m7_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map pandas UDF — the two-sided Arrow surface
    (``groupBy().cogroup().applyInPandas``) the M tier was missing
    beside M2's one-sided grouped map: orders and events are
    co-shuffled on the shared key and each (left, right) pandas pair
    is merged in one python callback (the custom-merge shape for
    as-of joins, per-entity reconciliation, feature stitching —
    anything where the merge logic needs both frames at once). The
    demo merge is deliberately EXACT — integer counts and integer
    cents (2dp-stored doubles ×100 round to exact cents; no .5 ties
    can exist) — so the whole cogroup path is hash-checked against a
    FULL OUTER JOIN oracle, not just materialized. Scale shape: two
    key-partitioned shuffles (one per side, the same as any join),
    Arrow-batched python per key group; key groups are
    customer-sized, never corpus-sized."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    e = load(spark, sf_dir, "events").select("user_id")

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left):
            k = int(left["o_custkey"].iloc[0])
            spend = int(sum(round(x * 100) for x in left["o_totalprice"]))
        else:
            k = int(right["user_id"].iloc[0])
            spend = 0
        return pd.DataFrame(
            {
                "k": [k],
                "n_orders": [len(left)],
                "spend_cents": [spend],
                "n_events": [len(right)],
            }
        )

    return (
        o.groupBy("o_custkey")
        .cogroup(e.groupBy("user_id"))
        .applyInPandas(
            merge,
            "k BIGINT, n_orders BIGINT, spend_cents BIGINT, n_events BIGINT",
        )
    )


# --------------------------------------------------------------------------
# M8 — applyInPandasWithState batch twin (arbitrary keyed state)
# --------------------------------------------------------------------------
_M8_GAP_MS = 300_000  # the same 5-minute gap as the L3 session window


def _m8_fold(state, ts_ms_seq, value_strs):
    """The per-key session state machine BOTH m8 forms execute —
    batch (applyInPandas over the whole history) and live
    (applyInPandasWithState per micro-batch, state carried between
    calls). ``state`` is ``(start_ms, last_ms, n, total_str)`` or
    ``None``; events must arrive in event-time order. Totals ride
    decimal STRINGS so the arithmetic is exact at any batch split —
    a float accumulator would make the live/batch results diverge in
    ulps depending on where the micro-batch boundary falls. Returns
    ``(closed_sessions, new_state)`` with sessions as
    ``(start_ms, end_ms, n, total_str)`` and end = last + gap
    (Spark session_window's gap-close convention)."""
    from decimal import Decimal

    closed = []
    for t, v in zip(ts_ms_seq, value_strs):
        if state is None:
            state = (t, t, 1, v)
        elif t - state[1] >= _M8_GAP_MS:
            closed.append((state[0], state[1] + _M8_GAP_MS, state[2], state[3]))
            state = (t, t, 1, v)
        else:
            state = (
                state[0],
                t,
                state[2] + 1,
                str(Decimal(state[3]) + Decimal(v)),
            )
    return closed, state


@register(
    "m8_stateful_sessions",
    oracle=(
        EVENTS_CTE + ", flagged AS ("
        "  SELECT user_id, ts, event_id, value, "
        "  CASE WHEN lag(ts) OVER w IS NULL "
        f"       OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= {_M8_GAP_MS} "
        "       THEN 1 ELSE 0 END AS new_session "
        "  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "sess AS (SELECT user_id, ts, value, SUM(new_session) OVER ("
        "  PARTITION BY user_id ORDER BY ts, event_id "
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM flagged) "
        "SELECT user_id, MIN(ts) AS w_start, MAX(ts) + INTERVAL 5 MINUTE AS w_end, "
        "COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value "
        "FROM sess GROUP BY user_id, sid"
    ),
    section="M8",
)
def m8_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the applyInPandasWithState live form
    (streaming/live.py::m8_streaming): per-user gap sessionization run
    through an EXPLICIT arbitrary-state machine (:func:`_m8_fold`) —
    not session_window — so what is hash-checked against the oracle is
    the state machine itself, and the live form runs the IDENTICAL
    fold with the state tuple carried across micro-batches. Extends
    l3's session semantics with a per-session decimal-exact value sum
    (the arbitrary-state payload l3's built-in window can't carry).
    Scale shape: one shuffle on user_id, Arrow-batched python per key
    group, state O(1) per key — the same shape the streaming state
    store keeps."""
    from decimal import Decimal

    def fold_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        ts_ms = pdf["ts"].astype("datetime64[ms]").astype("int64").tolist()
        vals = [repr(float(v)) for v in pdf["value"]]
        closed, state = _m8_fold(None, ts_ms, vals)
        if state is not None:  # batch = complete history: flush the tail
            closed.append(
                (state[0], state[1] + _M8_GAP_MS, state[2], state[3])
            )
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].iloc[0],
                "w_start": pd.to_datetime([c[0] for c in closed], unit="ms"),
                "w_end": pd.to_datetime([c[1] for c in closed], unit="ms"),
                "n": [c[2] for c in closed],
                "sum_value": [float(Decimal(c[3])) for c in closed],
            }
        )

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    return ev.groupBy("user_id").applyInPandas(
        fold_group,
        "user_id BIGINT, w_start TIMESTAMP_NTZ, w_end TIMESTAMP_NTZ, "
        "n BIGINT, sum_value DOUBLE",
    )


# --------------------------------------------------------------------------
# M9 — Python UDTF (table function, 1 row → N rows, round-6)
# --------------------------------------------------------------------------
@register(
    "m9_python_udtf",
    oracle=(
        "WITH tk AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents), "
        "st AS (SELECT doc_id, l, len(l) AS n, "
        "  unnest(range(1, len(l) + 1, 32)) AS s FROM tk) "
        "SELECT doc_id, CAST((s - 1) // 32 + 1 AS INT) AS chunk_idx, "
        "CAST(LEAST(32, n - s + 1) AS INT) AS n_tokens, "
        "l[s] AS first_token FROM st"
    ),
    section="M9",
)
def m9_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF — the table-function surface beside M4's
    mapInPandas (a UDTF is per-ROW 1→N with named output columns,
    usable in FROM with LATERAL; mapInPandas is per-BATCH): each
    document yields one row per non-overlapping 32-token chunk. The
    oracle recomputes the chunk table relationally, so the UDTF's
    row-expansion semantics (ordering-free set equality, boundary
    chunk lengths, first-token probes) are hash-certified. Python
    boundary is the POINT of the M tier; the production-scale twin
    of this logic is k51's all-JVM sliding-window form."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "doc_id BIGINT, chunk_idx INT, n_tokens INT, first_token STRING"
    ))
    class Chunker:
        def eval(self, doc_id, text):
            toks = text.split(" ")
            for i in range(0, len(toks), 32):
                chunk = toks[i:i + 32]
                yield doc_id, i // 32 + 1, len(chunk), chunk[0]

    spark.udtf.register("m9_chunker", Chunker)
    from glonassdatamining_spark.sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT c.doc_id, c.chunk_idx, c.n_tokens, c.first_token "
        "FROM documents d, LATERAL m9_chunker(d.doc_id, d.text) c"
    )
