"""§2.A — scans, sources, sinks.

Reference capability: columnar ingest of GNSS fix logs / event tables
(reconstructed; reference tree empty — SURVEY.md §0). Spark-first: the
vectorized Parquet reader plus Catalyst's automatic column pruning and
filter pushdown replace any hand-rolled scan loop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from glonassdatamining_spark.registry import register
from glonassdatamining_spark.sources import load
from glonassdatamining_spark.stable import dsum, o_dsum, ts_ms, o_ts_ms

# The one scratch root of the package: derived datasets, stream
# sources and sinks, and persisted model artifacts all live under
# ``.tmpdata`` at the top of the checkout (git-ignored).
SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".tmpdata",
)


def _derived_base(sf_dir: str, name: str, *tables: str) -> str:
    """Cache directory for a dataset derived from fixture ``tables``,
    keyed on a fingerprint of the source files (mtime + size), so a
    fixture regenerated between rounds — schemas/dtypes can change —
    invalidates the cache instead of being silently shadowed by a stale
    copy. Stale siblings from older fixtures are removed."""
    import glob as _glob
    import hashlib
    import shutil

    parts = []
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(p)
            parts.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(f"{t}:missing")
    fp = hashlib.md5("|".join(parts).encode()).hexdigest()[:8]
    sf = os.path.basename(sf_dir.rstrip("/"))
    base = f"{SCRATCH_ROOT}/{name}_{sf}_{fp}"
    for old in _glob.glob(f"{SCRATCH_ROOT}/{name}_{sf}_*"):
        if old != base:
            shutil.rmtree(old, ignore_errors=True)
    return base


@register(
    "a1_scan_parquet",
    oracle="SELECT r_regionkey, r_name FROM region",
    section="A1",
)
def a1_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table Parquet scan, schema from footer."""
    return load(spark, sf_dir, "region")


@register(
    "a2_projection_pushdown",
    oracle="SELECT o_orderkey, o_totalprice FROM orders",
    section="A2",
)
def a2_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning: ReadSchema in the scan node carries only the two
    projected columns (verified via explain in tests/test_plans.py)."""
    return load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")


@register(
    "a3_predicate_pushdown",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
        "WHERE l_quantity > 45.0"
    ),
    section="A3",
)
def a3_predicate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushed to the Parquet scan → row-group min/max skipping at
    scale (PushedFilters in the scan node)."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45.0)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@register(
    "a4_csv_source",
    oracle=None,  # no CSV fixture; rows-only — we round-trip parquet→csv→read
    section="A4",
)
def a4_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest with explicit schema (GLONASS-style delimited logs).

    Round-trips the nation table through CSV under the repo tmp dir,
    then proves schema-preserving re-read; result must equal the
    original 25 rows.
    """
    import os

    out = _derived_base(sf_dir, "csv_nation", "nation")
    if not os.path.exists(out + "/_SUCCESS"):
        nation = load(spark, sf_dir, "nation")
        nation.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.csv(out, header=True, schema="n_nationkey INT, n_name STRING, n_regionkey INT")


@register(
    "a5_jsonl_source",
    oracle=None,  # rows-only — parquet→jsonl→read round-trip
    section="A5",
)
def a5_jsonl_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newline-delimited JSON ingest."""
    import os

    out = _derived_base(sf_dir, "jsonl_region", "region")
    if not os.path.exists(out + "/_SUCCESS"):
        region = load(spark, sf_dir, "region")
        region.write.mode("overwrite").json(out)
    return spark.read.json(out, schema="r_regionkey INT, r_name STRING")


@register(
    "a6_parquet_sink",
    oracle=None,  # side-effecting sink; rows-only on the re-read
    section="A6",
)
def a6_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Parquet write + re-read with partition pruning.

    Partitioning by a low-cardinality flag mirrors how a 100 TB event
    store would lay out data (partition column → directory pruning;
    dynamic partition pruning applies on joins against it).
    """
    import os

    out = _derived_base(sf_dir, "pq_li", "lineitem")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    if not os.path.exists(out + "/_SUCCESS"):
        li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    # Partition-pruned read-back: only the l_returnflag=R directory scans.
    return spark.read.parquet(out).filter(F.col("l_returnflag") == "R")


@register(
    "a7_streaming_source_twin",
    oracle=(
        "SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type"
    ),
    section="A7",
)
def a7_streaming_source_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming file source: same plan Structured
    Streaming runs incrementally over `readStream.parquet` (the live
    streaming form is exercised in streaming/live.py tests)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register("a8_zorder_layout", oracle=None, section="A8")
def a8_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered Parquet layout + bbox read-back: fixes keyed
    by a 10-bit-per-dim Morton code (``api.zorder_key``), range-
    partitioned and sorted by it, written to Parquet, then re-read with
    a 2-D bbox filter. At 100 TB this layout is what makes spatial
    range queries IO-proportional to the bbox instead of the table:
    near points share files/row groups, so Parquet min/max statistics
    on x/y prune almost everything else (the lakehouse equivalent of
    Delta/Iceberg Z-order clustering; single-row-group local fixtures
    can't demo the skip itself, so this is rows-only on the read-back).
    """
    import os

    from glonassdatamining_spark.api import zorder_key
    from glonassdatamining_spark.operators.spatiotemporal import fixes

    out = _derived_base(sf_dir, "zorder_fixes", "events")
    if not os.path.exists(out + "/_SUCCESS"):
        f = fixes(spark, sf_dir)
        keyed = f.withColumn(
            "z",
            zorder_key(
                F.floor(F.col("x") * 10.24).cast("int"),
                F.floor(F.col("y") * 10.24).cast("int"),
            ),
        )
        (
            keyed.repartitionByRange(8, "z")
            .sortWithinPartitions("z")
            .write.mode("overwrite")
            .parquet(out)
        )
    return (
        spark.read.parquet(out)
        .filter(
            (F.col("x") >= 40.0) & (F.col("x") < 45.0)
            & (F.col("y") >= 40.0) & (F.col("y") < 45.0)
        )
        .select("obj_id", "event_id", "x", "y")
    )

@register(
    "a9_dynamic_partition_pruning",
    oracle=None,  # side-effecting sink + plan-shape demo; rows-only
    section="A9",
)
def a9_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    partitioned by order year; a selective dimension filter on the
    join's other side prunes fact PARTITIONS at runtime via the reused
    broadcast (Catalyst's DPP subquery — look for
    ``dynamicpruning#`` in the partition filters; asserted in
    tests/test_plans.py). This is the lakehouse access pattern that
    turns a 100 TB scan into a handful of partition directories.
    """
    import os

    out = _derived_base(sf_dir, "dpp_orders", "orders")
    o = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    if not os.path.exists(out + "/_SUCCESS"):
        o.write.mode("overwrite").partitionBy("o_year").parquet(out)
    fact = spark.read.parquet(out)
    # Dimension with a selective predicate on a NON-join attribute —
    # the DPP trigger shape (a literal filter on the join key itself
    # would constant-propagate into static partition pruning instead).
    dim = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.year("o_orderdate").alias("d_year"))
        .distinct()
    )
    return (
        fact.join(dim, fact.o_year == dim.d_year)
        .groupBy("o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_price"),
        )
    )

@register(
    "a10_compaction",
    oracle=None,  # sink-maintenance side effect; rows-only on read-back
    section="A10",
)
def a10_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every 100 TB
    parquet lake needs: a directory fragmented into many undersized
    files (here: events written 32-ways) is rewritten into
    target-sized, range-clustered files. ``repartitionByRange`` keys
    the layout (ts order → row-group min/max stats stay selective for
    time-range scans) and ``maxRecordsPerFile`` caps file size. The
    read-back proves row preservation; file counts are asserted in
    tests/test_bucketing.py."""
    import os

    base = _derived_base(sf_dir, "compact", "events")
    frag, out = base + "/frag", base + "/compacted"
    ev = load(spark, sf_dir, "events")
    if not os.path.exists(frag + "/_SUCCESS"):
        ev.repartition(32).write.mode("overwrite").parquet(frag)
    (
        spark.read.parquet(frag)
        .repartitionByRange(4, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 500_000)
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "a11_schema_evolution",
    oracle=None,  # multi-batch layout demo; rows-only
    section="A11",
)
def a11_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two ingest batches with different
    schemas (v2 adds a column) unified by ``mergeSchema`` — the
    append-only ingest reality of a long-lived table. Old-batch rows
    surface NULL for the added column; the aggregate proves both
    batches scan as one table. At 100 TB the same read works because
    merge happens on footer metadata, not data."""
    import os

    base = _derived_base(sf_dir, "evolve", "events")
    ev = load(spark, sf_dir, "events")
    if not os.path.exists(base + "/b2/_SUCCESS"):
        v1 = ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "user_id", "event_type", "value"
        )
        v2 = ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "user_id", "event_type", "value",
            F.length("props").alias("props_len"),
        )
        v1.write.mode("overwrite").parquet(base + "/b1")
        v2.write.mode("overwrite").parquet(base + "/b2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/b1", base + "/b2"
    )
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("props_len").alias("n_with_new_col"),
    )

@register(
    "a12_analyze_stats",
    oracle=None,  # catalog-stats demo; rows-only
    section="A12",
)
def a12_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog statistics for the cost-based optimizer: save a table,
    `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`, read the
    recorded table/column stats back out of the catalog. At scale
    these stats drive CBO join reordering and broadcast decisions
    (SURVEY §4.1) — and they're exactly what AQE refines at runtime.
    Output: one row per analyzed column with its distinct-count and
    null-count estimates."""
    import os

    import shutil
    from urllib.parse import urlparse

    tbl = "gdm_stats_orders_" + os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    # A fresh session doesn't know about a previous run's managed-table
    # location — drop from the catalog AND clear the orphaned dir.
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    shutil.rmtree(os.path.join(wh.path or wh.netloc, tbl.lower()), ignore_errors=True)
    o.write.mode("overwrite").saveAsTable(tbl)
    spark.sql(
        f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS "
        "o_orderkey, o_custkey, o_orderstatus, o_totalprice"
    )
    rows = []
    for col in ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]:
        desc = {
            r.info_name: r.info_value
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl} {col}").collect()
        }
        rows.append(
            (
                col,
                int(desc.get("distinct_count", -1)),
                int(desc.get("num_nulls", -1)),
            )
        )
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["column", "distinct_count", "num_nulls"]),
        schema="column string, distinct_count bigint, num_nulls bigint",
    )


@register(
    "a13_orc_roundtrip",
    oracle=(
        "SELECT o_orderpriority, COUNT(*) AS n_orders, "
        + o_dsum("o_totalprice", "sum_price")
        + " FROM orders GROUP BY o_orderpriority"
    ),
    section="A13",
)
def a13_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange: orders written as ORC (Spark's second native
    columnar format — common as the exchange format with Hive/Trino
    estates), read back, aggregated. The oracle runs the identical
    aggregate on the original parquet — a full content-equality check
    of the round trip, not just row counts. ORC carries the same
    stripe-level min/max pruning parquet does, so the A3 pushdown
    doctrine transfers unchanged at 100 TB."""
    import os

    out = _derived_base(sf_dir, "orc_orders", "orders")
    if not os.path.exists(out + "/_SUCCESS"):
        load(spark, sf_dir, "orders").write.mode("overwrite").orc(out)
    return (
        spark.read.orc(out)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
    )


@register(
    "a14_bucketed_join",
    oracle=(
        "SELECT o_orderstatus, COUNT(*) AS n_items, "
        + o_dsum("l_extendedprice", "sum_price")
        + " FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_orderstatus"
    ),
    section="A14",
)
def a14_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join — the 100 TB answer to the C2 shuffle:
    both fact tables saved bucketed+sorted on the join key, so the
    sort-merge join runs with ZERO Exchange nodes (shuffle-freeness is
    asserted mechanically in tests/test_bucketing.py; here the result
    is oracle-checked against the plain join). At scale this is how
    recurring fact-fact joins amortize their shuffle once at write
    time."""
    import os

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    import hashlib

    parts = []
    for t in ("lineitem", "orders"):
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        parts.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
    fp = hashlib.md5("|".join(parts).encode()).hexdigest()[:8]
    sf = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    # Fingerprint-keyed table names: regenerated fixtures invalidate the
    # bucketed copies instead of being silently shadowed (same rule as
    # _derived_base).
    tli, to = f"gdm_li_bkt_{sf}_{fp}", f"gdm_o_bkt_{sf}_{fp}"
    for tbl, df, key in ((tli, li, "l_orderkey"), (to, o, "o_orderkey")):
        if not spark.catalog.tableExists(tbl):
            # A fresh session's in-memory catalog forgets managed
            # tables but their warehouse dirs survive — clear the
            # orphan or saveAsTable throws LOCATION_ALREADY_EXISTS
            # (same recovery as a12).
            import shutil
            from urllib.parse import urlparse

            wh = urlparse(
                spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            )
            shutil.rmtree(
                os.path.join(wh.path or wh.netloc, tbl.lower()),
                ignore_errors=True,
            )
            df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(tbl)
    j = spark.table(tli).join(
        spark.table(to), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_extendedprice", "sum_price"),
    )


@register(
    "a15_text_source",
    oracle=(
        "SELECT lang, COUNT(*) AS n_docs, "
        "CAST(SUM(n_chars) AS BIGINT) AS sum_chars "
        "FROM documents GROUP BY lang"
    ),
    section="A15",
)
def a15_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text line ingest (round-2 addition) — the log-file path:
    documents are serialized to `doc_id|lang|n_chars` lines via
    ``spark.write.text``, re-read with ``spark.read.text`` (one
    `value` column), and parsed back with JVM split/cast expressions.
    The aggregate on the parsed columns must equal the same aggregate
    on the original parquet — a full round-trip correctness check, not
    just a row count. At 100 TB: text scans split by line boundaries,
    the parse is codegen'd, and malformed lines are cheap to quarantine
    with a `rlike` guard (every serious lake has one)."""
    import os

    out = _derived_base(sf_dir, "text_docs", "documents")
    d = load(spark, sf_dir, "documents")
    if not os.path.exists(out + "/_SUCCESS"):
        d.select(
            F.concat_ws(
                "|",
                F.col("doc_id").cast("string"),
                "lang",
                F.col("n_chars").cast("string"),
            ).alias("value")
        ).write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    parts = F.split(F.col("value"), "\\|")
    parsed = lines.select(
        F.element_at(parts, 1).cast("bigint").alias("doc_id"),
        F.element_at(parts, 2).alias("lang"),
        F.element_at(parts, 3).cast("bigint").alias("n_chars"),
    )
    return parsed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


@register(
    "a16_corrupt_record_handling",
    oracle=None,  # malformed-line quarantine demo; rows-only
    section="A16",
)
def a16_corrupt_record_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine (round-2 addition) — the ingest
    reality check: a CSV batch with deliberately corrupted lines
    (wrong arity, non-numeric keys) is read in PERMISSIVE mode with a
    ``_corrupt_record`` rescue column; the query reports, per batch
    health class, how many rows parsed clean vs were quarantined.
    Every serious lake front-door does exactly this before data
    touches fact tables; at 100 TB the parse+rescue is codegen'd in
    the scan, and the quarantine rows fan out to a dead-letter sink
    instead of killing the job (the DROPMALFORMED/FAILFAST modes are
    one option away)."""
    import os

    out = _derived_base(sf_dir, "corrupt_csv", "nation") + "/batch"
    if not os.path.exists(out):
        os.makedirs(out, exist_ok=True)
        n = load(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
        lines = [f"{r.n_nationkey},{r.n_name},{r.n_regionkey}" for r in n]
        # deterministic corruption: arity break + non-numeric key
        lines.insert(5, "999,BROKEN_ROW_MISSING_FIELD")
        lines.insert(11, "not_a_number,BAD_KEY,7,extra_field")
        with open(out + "/part-000.csv", "w") as fh:
            fh.write("\n".join(lines) + "\n")
    raw = spark.read.schema(
        "n_nationkey INT, n_name STRING, n_regionkey INT, _corrupt_record STRING"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).csv(out)
    # cache: Spark requires materialization before a query can filter
    # on _corrupt_record alone (SPARK-38547 raises otherwise).
    raw = raw.localCheckpoint()
    return (
        raw.select(
            F.when(F.col("_corrupt_record").isNull(), F.lit("clean"))
            .otherwise(F.lit("quarantined"))
            .alias("health"),
        )
        .groupBy("health")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


_PYDS_PARTS = 8
_PYDS_ROWS_PER_PART = 1000


@register(
    "a17_python_datasource",
    oracle=(
        f"WITH g AS (SELECT unnest(generate_series(0, {_PYDS_PARTS * _PYDS_ROWS_PER_PART - 1})) AS fix_id), "
        "f AS (SELECT fix_id, fix_id % 50 AS obj_id, "
        "CAST(fix_id * 7919 % 100000 AS DOUBLE) / 1000.0 AS x, "
        "CAST(fix_id * 104729 % 100000 AS DOUBLE) / 1000.0 AS y FROM g) "
        "SELECT obj_id, COUNT(*) AS n_fixes, "
        + o_dsum("x", "sum_x")
        + ", " + o_dsum("y", "sum_y")
        + " FROM f GROUP BY obj_id"
    ),
    section="A17",
)
def a17_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON DATA SOURCE (round-2 addition) — Spark 4's
    `pyspark.sql.datasource` API: a user-defined source ("gnssgen",
    a deterministic GNSS-fix generator) registered on the session and
    read with ``spark.read.format("gnssgen")``, planned as 8 genuine
    InputPartitions so the generate runs distributed, one task per
    partition. This is the extension point for feeds Spark has no
    built-in reader for (device APIs, proprietary telemetry, message
    buses) — the reader yields plain tuples, Spark handles schema,
    Arrow batching, and task scheduling. The content is a pure
    function of fix_id, so the DuckDB oracle reproduces it exactly
    from generate_series arithmetic: a full hash-check of a custom
    source's scan path."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _GnssGenReader(DataSourceReader):
        def __init__(self, options):
            self.n_parts = int(options.get("numpartitions", _PYDS_PARTS))
            self.rows = int(options.get("rowsperpartition", _PYDS_ROWS_PER_PART))

        def partitions(self):
            return [InputPartition(i) for i in range(self.n_parts)]

        def read(self, partition):
            base = partition.value * self.rows
            for i in range(self.rows):
                fix_id = base + i
                yield (
                    fix_id,
                    fix_id % 50,
                    float(fix_id * 7919 % 100000) / 1000.0,
                    float(fix_id * 104729 % 100000) / 1000.0,
                )

    class GnssGenDataSource(DataSource):
        @classmethod
        def name(cls):
            return "gnssgen"

        def schema(self):
            return "fix_id BIGINT, obj_id BIGINT, x DOUBLE, y DOUBLE"

        def reader(self, schema):
            return _GnssGenReader(self.options)

    spark.dataSource.register(GnssGenDataSource)
    f = (
        spark.read.format("gnssgen")
        .option("numPartitions", _PYDS_PARTS)
        .option("rowsPerPartition", _PYDS_ROWS_PER_PART)
        .load()
    )
    return f.groupBy("obj_id").agg(
        F.count(F.lit(1)).alias("n_fixes"),
        dsum("x", "sum_x"),
        dsum("y", "sum_y"),
    )


@register(
    "a18_xml_roundtrip",
    oracle=(
        "SELECT lang, source, COUNT(*) AS n_docs, "
        "CAST(SUM(n_chars) AS BIGINT) AS sum_chars "
        "FROM documents GROUP BY lang, source"
    ),
    section="A18",
)
def a18_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML interchange via Spark 4's NATIVE XML source (rowTag
    mode, no external package): documents written as XML, read back
    with an explicit schema, aggregated. The oracle runs the identical
    aggregate on the original parquet — full content-equality of the
    round trip (a13's discipline). Text rides XML character escaping
    (&amp;/&lt;), so the corpus's punctuation exercises the
    encoder/decoder for real.

    100 TB note: XML is a line-unsplittable row format here (one doc
    per element, multiline) — fine as an INTERCHANGE edge (feeds,
    exports), never the analytical store; first hop is parquet, as
    this query's write-side shows."""
    import os

    out = _derived_base(sf_dir, "xml_docs", "documents")
    if not os.path.exists(out + "/_SUCCESS"):
        (
            load(spark, sf_dir, "documents")
            .write.mode("overwrite")
            .option("rowTag", "doc")
            .format("xml")
            .save(out)
        )
    docs = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(
            "doc_id BIGINT, text STRING, lang STRING, source STRING, "
            "n_chars BIGINT"
        )
        .load(out)
    )
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


@register(
    "a19_parquet_metadata",
    oracle=None,  # file-path-parameterized — mirrored against DuckDB's
    # parquet_metadata() in tests/test_bucketing.py instead (static
    # oracle SQL cannot name the sf-dependent path)
    section="A19",
)
def a19_parquet_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer audit: per row group of every fixture table —
    row count, column count, compressed bytes — the lake-health
    introspection behind small-file detection (A10 fixes what this
    finds), row-group sizing for `maxPartitionBytes` tuning, and
    stats-pruning coverage checks. The footer reads are DISTRIBUTED:
    the file list parallelizes and each task opens only footers
    (pyarrow, ~KB per file, never data pages) — at 100 TB with
    millions of files this is exactly the manifest-scan shape, no
    driver-side listing loop beyond the path glob. Mirrored against
    DuckDB's parquet_metadata() on the same files in
    tests/test_bucketing.py (static oracle SQL cannot carry the
    sf-dependent path)."""
    import glob
    import os

    paths = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    pdf = spark.createDataFrame(
        [(p,) for p in paths], "path STRING"
    ).repartition(max(1, min(len(paths), 8)))

    def _footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for b in batches:
            out = []
            for p in b["path"]:
                md = pq.ParquetFile(p).metadata
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    out.append(
                        (
                            os.path.basename(p),
                            i,
                            rg.num_rows,
                            rg.num_columns,
                            rg.total_byte_size,
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "file_name", "row_group_id", "n_rows",
                    "n_columns", "total_byte_size",
                ],
            )

    return pdf.mapInPandas(
        _footers,
        "file_name STRING, row_group_id INT, n_rows BIGINT, "
        "n_columns INT, total_byte_size BIGINT",
    )


@register(
    "a20_footer_column_stats",
    oracle=None,  # path-parameterized like A19 — mirrored against
    # DuckDB parquet_metadata() per column chunk in tests/test_bucketing.py
    section="A20",
)
def a20_footer_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-chunk statistics audit: per (file, row group, column) —
    value count, null count, and whether min/max statistics are
    present — the footer-level visibility behind stats-based row-group
    pruning (A3's predicate pushdown only skips row groups whose
    min/max PROVE exclusion; a column without stats silently scans
    everything) and null-density screening before a join. Same
    DISTRIBUTED manifest-scan shape as A19: parallelized file list →
    mapInPandas opening footers only. Mirrored against DuckDB's
    parquet_metadata() in tests/test_bucketing.py."""
    import glob
    import os

    paths = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
    pdf = spark.createDataFrame(
        [(p,) for p in paths], "path STRING"
    ).repartition(max(1, min(len(paths), 8)))

    def _stats(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for b in batches:
            out = []
            for p in b["path"]:
                md = pq.ParquetFile(p).metadata
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    for j in range(rg.num_columns):
                        col = rg.column(j)
                        st = col.statistics
                        out.append(
                            (
                                os.path.basename(p),
                                i,
                                col.path_in_schema,
                                col.num_values,
                                None if st is None else st.null_count,
                                bool(
                                    st is not None
                                    and st.has_min_max
                                ),
                            )
                        )
            yield pd.DataFrame(
                out,
                columns=[
                    "file_name", "row_group_id", "column_name",
                    "n_values", "null_count", "has_min_max",
                ],
            )

    return pdf.mapInPandas(
        _stats,
        "file_name STRING, row_group_id INT, column_name STRING, "
        "n_values BIGINT, null_count BIGINT, has_min_max BOOLEAN",
    )


# --------------------------------------------------------------------------
# A21 — file-lineage metadata column (_metadata)
# --------------------------------------------------------------------------
@register(
    "a21_file_lineage",
    oracle=(
        "SELECT 'orders.parquet' AS file_name, CAST(COUNT(*) AS BIGINT) AS n_rows "
        "FROM orders "
        "UNION ALL SELECT 'documents.parquet', CAST(COUNT(*) AS BIGINT) FROM documents "
        "UNION ALL SELECT 'events.parquet', CAST(COUNT(*) AS BIGINT) FROM events"
    ),
    section="A21",
)
def a21_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-lineage audit via the hidden ``_metadata`` column (Spark
    3.2+): per source file, its basename and row contribution — the
    provenance primitive under every "which load produced these rows"
    incident query, quarantine-by-file (A16's sibling at file grain),
    and incremental-load dedup. ``_metadata.file_name`` is resolved
    by the FileScan itself (constant per split — no row-level cost,
    no shuffle widening), the column Spark exposes precisely so
    lineage never has to be baked into the data. The oracle pins the
    EXPECTED lineage relationally (deterministic fixture basenames ×
    exact per-table counts), so the hash check certifies that the
    metadata column reports the true file ↔ row-count mapping.
    Scale shape: three scans, each folding map-side to one row per
    file — output cardinality = file count."""
    frames = []
    for t in ("orders", "documents", "events"):
        frames.append(
            load(spark, sf_dir, t)
            .select(F.col("_metadata.file_name").alias("file_name"))
            .groupBy("file_name")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.union(fr)
    return out


# --------------------------------------------------------------------------
# A22 — df.observe() in-flight metrics (round-6 queue)
# --------------------------------------------------------------------------
@register(
    "a22_observe_metrics",
    oracle=(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT) "
        "  AS n_discounted, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty, "
        "CAST(MAX(l_orderkey) AS BIGINT) AS max_orderkey "
        "FROM lineitem WHERE l_returnflag = 'R'"
    ),
    section="A22",
)
def a22_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.observe()`` — Spark's in-flight metric channel: named
    aggregates accumulated DURING a pass (here a noop-sink write of
    the filtered scan) and read off the Observation handle afterward,
    with NO second job and NO extra shuffle — the mechanism a 100 TB
    pipeline uses for row-count reconciliation, quality gates, and
    freshness probes without paying a separate audit query. The
    observed values are re-emitted as a 1-row DataFrame and
    hash-checked against a plain SQL aggregate over the same
    predicate — certifying that the metric channel reports EXACTLY
    what a dedicated aggregation job would (count, filtered count,
    decimal-exact sum, max). Observation.get is a bounded 4-metric
    map, not a data collect.

    Session hygiene: the observed pass runs on a CLONED session
    (``spark.newSession()`` — same SparkContext, separate
    listenerManager) because the Observation's listener measurably
    poisons LATER multithreaded actions on the session it attaches to
    (reproduced: j9's CrossValidator.fit dies with 'Task not
    serializable' after a same-session a22 run; the isolated-session
    run is clean — asserted in tests/test_contract.py)."""
    from pyspark.sql import Observation

    obs = Observation("a22_metrics")
    li = (
        load(spark.newSession(), sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias(
                "n_discounted"
            ),
            F.sum(F.col("l_quantity").cast("decimal(28,6)")).alias("_sq"),
            F.max("l_orderkey").alias("max_orderkey"),
        )
    )
    li.write.format("noop").mode("overwrite").save()  # the observed pass
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_discounted"],
                float(m["_sq"]),
                m["max_orderkey"],
            )
        ],
        "n_rows BIGINT, n_discounted BIGINT, sum_qty DOUBLE, "
        "max_orderkey BIGINT",
    )


# --------------------------------------------------------------------------
# A23 — parameterized SQL (named parameter markers, round-6)
# --------------------------------------------------------------------------
@register(
    "a23_parameterized_sql",
    oracle=(
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue "
        "FROM orders WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O' "
        "GROUP BY o_orderpriority"
    ),
    section="A23",
)
def a23_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (`:cut` / `:status` markers bound via
    ``spark.sql(..., args=...)``, Spark 3.4+/4) — the injection-safe
    templating surface a query service puts in front of the engine:
    parameters are BOUND AS LITERAL EXPRESSIONS by the analyzer (not
    string-spliced), so constant folding and scan pushdown see the
    values exactly as if inlined — the hash check certifies the bound
    plan computes precisely what the literal oracle does. Decimal
    revenue discipline as everywhere."""
    from glonassdatamining_spark.sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue "
        "FROM orders WHERE o_totalprice > :cut AND o_orderstatus = :status "
        "GROUP BY o_orderpriority",
        args={"cut": 150000.0, "status": "O"},
    )


# --------------------------------------------------------------------------
# A24 — Hive-partitioned dataset: discovery + partition pruning
# --------------------------------------------------------------------------
@register(
    "a24_partitioned_scan",
    oracle=(
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue "
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority"
    ),
    section="A24",
)
def a24_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned-directory layout end to end: orders is
    written once per (session-independent) fixture fingerprint as
    ``.../o_orderstatus=X/part-*.parquet`` via partitionBy, read back
    with partition DISCOVERY (the o_orderstatus column is recovered
    from directory names, not file contents), and filtered to ONE
    partition — which Catalyst turns into PARTITION PRUNING: the two
    non-matching directories are never listed into the scan
    (PartitionFilters in the plan; asserted in tests/test_plans.py).
    The hash certifies the recovered-partition-column path produces
    exactly the relational result. At 100 TB this layout + pruning is
    the first-line data-skipping mechanism (date/region partitions);
    the A8 Z-order and G14 manifest-stats tiers layer beneath it."""
    import os

    root = _derived_base(sf_dir, "orders_partitioned", "orders")
    if not os.path.isdir(os.path.join(root, "o_orderstatus=F")):
        load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"
        ).write.mode("overwrite").partitionBy("o_orderstatus").parquet(root)
    part = spark.read.parquet(root)
    return (
        part.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
    )
