"""Sources & sinks (SURVEY.md §2.A)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from glonassdatamining_spark.session import memo, memo_drop

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A1 Parquet scan — schema from footer, vectorized reader.

    Column pruning (A2) and predicate pushdown (A3) happen automatically
    when callers ``.select``/``.filter`` on the returned frame: Catalyst
    pushes both into this scan (verify via ``.explain`` →
    ``PushedFilters`` / ``ReadSchema``).

    ``events.ts`` has shipped as either parquet TIMESTAMP(NANOS) (read
    via the legacy nanos-as-long path) or TIMESTAMP(MICROS) → Spark
    TIMESTAMP_NTZ, depending on fixture generation. Either way the
    column is truncated to millisecond grain — the same truncation
    every oracle applies via ``stable.EVENTS_CTE`` — so both engines
    compute on identical ms-grain instants (SURVEY §5.3).
    """
    if hot_tables() and name in _CACHEABLE:
        return _cached(spark, sf_dir, name)
    return _scan(spark, sf_dir, name)


def hot_tables() -> bool:
    """Hot-table (bench) mode: ``SPARK_GRAFT_CACHE_TABLES`` is set.
    The package's one read of that variable; correctness runs never
    set it."""
    return bool(os.environ.get("SPARK_GRAFT_CACHE_TABLES"))


def derived(key: tuple, build):
    """A bench-mode derived frame: in hot-table mode ``build()``'s
    value is memoized under ``("derived", *key)`` for the application's
    lifetime; otherwise it is built afresh on every call. What each
    entry may hold (a fixture projection or an un-executed plan, never
    the result of the timed operator work) is BASELINE.md's
    cache-inventory table."""
    if not hot_tables():
        return build()
    return memo(("derived",) + key, build)


def drop_derived() -> None:
    """Drop every bench-mode derived frame (unpersisting the persisted
    ones). Base tables and split copies stay hot."""
    memo_drop("derived")


# Hot-table mode covers only the relational tables whose queries scan
# MANY columns (the TPC-H side: q1 reads 7 of lineitem's 11 — cache
# 1.6 s → 0.5 s). events/documents/embeddings queries project 2-4
# narrow columns of wide rows (props/text/vector payloads), where the
# pruned parquet scan consistently beats re-reading cached batches
# (measured: c9 0.87 s scan vs 0.99 s cache, k8 1.14 vs 1.40) — the
# same narrow-projection rule fixes() applies.
_CACHEABLE = frozenset(
    {"region", "nation", "customer", "supplier", "part", "orders", "lineitem"}
)


def _scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if hot_tables() and name in _SPLITTABLE:
        return spark.read.parquet(_split_copy(spark, sf_dir, name))
    return _scan_raw(spark, sf_dir, name)


def _scan_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        if isinstance(raw.schema["ts"].dataType, LongType):
            return raw.withColumn("ts", F.timestamp_millis(F.expr("ts div 1000000")))
        return raw.withColumn("ts", F.date_trunc("millisecond", F.col("ts")))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Bench-only multi-file copies of the NARROW-projection payload tables.
# The fixture parquet files are single-file single-row-group, and Spark
# can split a parquet file only at row-group boundaries — so any cold
# scan decodes on ONE core regardless of local[32], and everything
# codegen-fused into that first stage runs serial too. The wide
# relational tables dodge this via the in-memory cache (_cached below);
# documents/embeddings queries deliberately keep the pruned parquet
# scan (narrow projections of huge text/vector rows beat cached
# full-row batches), which left them serial on the decode. The fix is a
# one-time re-chunked copy — same rows, defaultParallelism files — so
# the pruned scan parallelizes like a real multi-file dataset would on
# a cluster. events is NOT split: its bench queries either ride the
# fixes() projection cache (spatiotemporal.fixes) or are shuffle-bound
# window queries where 2×32 extra tiny scan tasks measurably cost more
# than the one-core decode of a 2 MB file saves (c9 0.7→1.1 s).
# Fingerprinted on source mtime+size (stale copies removed);
# correctness runs never set the env var and always read the fixture.
_SPLITTABLE = frozenset({"documents", "embeddings"})
# Range-partition the copy on the table's natural key — a round-robin
# repartition would scatter the fixture's event_id/ts clustering,
# making every downstream per-key window sort real work and killing
# row-group min/max pruning; range keeps near-fixture locality while
# still yielding N independently-scannable files.
_SPLIT_KEY = {"events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}


def _split_copy(spark: SparkSession, sf_dir: str, name: str) -> str:
    def build() -> str:
        from glonassdatamining_spark.sources.scans import _derived_base

        base = _derived_base(sf_dir, f"split_{name}", name)
        if not os.path.exists(os.path.join(base, "_SUCCESS")):
            (
                _scan_raw(spark, sf_dir, name)
                .repartitionByRange(
                    spark.sparkContext.defaultParallelism, _SPLIT_KEY[name]
                )
                .write.mode("overwrite")
                .parquet(base)
            )
        return base

    return memo(("split", sf_dir, name), build)


def _cached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Hot-table mode (``SPARK_GRAFT_CACHE_TABLES=1`` — bench only):
    serve each fixture table from Spark's in-memory columnar cache,
    spread over all cores. The local fixture parquet files each have a
    SINGLE row group, and Spark can split a parquet file only at
    row-group boundaries — so every cold scan decodes on one core no
    matter the split config. Re-decoding the same single-row-group
    file in every one of ~25 bench queries measures that local-harness
    artifact, not the engine. One round-robin repartition + persist
    decodes once and makes every downstream stage fully parallel —
    exactly Spark's own `spark.catalog.cacheTable` hot-data pattern.
    Correctness runs (driver + pytest) never set the env var: they
    keep the plain scan with real pushdown/pruning. The persisted
    frame lives in ``session.memo``, so it is dropped with the
    application that cached it."""

    def build() -> DataFrame:
        df = _scan(spark, sf_dir, name).repartition(
            spark.sparkContext.defaultParallelism
        )
        df.persist()
        return df

    return memo(("table", sf_dir, name), build)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """SQL-string entry (SURVEY §3.2 E-3 / §3.3): register every corpus
    table as a temp view so ``spark.sql("SELECT ... FROM lineitem
    ...")`` works directly. Views go through :func:`load`, so the
    ``events`` ns→ms shim applies to SQL users too. Idempotent."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
