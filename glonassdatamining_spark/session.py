"""SparkSession factory.

Local test/bench configuration; the same settings are what we would
ship as cluster defaults (AQE on, adaptive skew-join, Arrow for any
pandas-UDF boundary). On a real 1000-executor cluster only
``master`` / shuffle-partition counts change — the declarative plans
themselves are partition-count agnostic.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """min(16g, ~70% of MemTotal), floored at 2g — big enough for the
    sf0.1 bench on the 16g+ machines, degrades instead of OOM-killing
    on smaller hosts."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(2, min(16, int(total_gib * 0.7)))}g"
    except OSError:
        pass
    return "16g"


def get_spark(app_name: str = "glonassdatamining-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Console progress frames (\r-rewritten [Stage N:==>] lines) are
        # pure noise to any parent process that captures our output —
        # they flooded the driver's bench-tail window in round 9 and
        # truncated the result JSON mid-line (BENCH_r09.json
        # parsed:null). Suppressible at the source; opt back in with
        # SPARK_GRAFT_CONSOLE_PROGRESS=true for interactive use.
        .config(
            "spark.ui.showConsoleProgress",
            os.environ.get("SPARK_GRAFT_CONSOLE_PROGRESS", "false"),
        )
        # Shuffle sizing: 32 matches local cores; at cluster scale AQE
        # coalesces from a higher initial count, so keep AQE on always.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        # AQE partition coalescing is BYTE-based, and this workload's hot
        # shuffles are narrow-long rows (pair keys, grid cells) that
        # serialize to <1 MB at local bench scale while still carrying
        # millions of CPU-heavy rows — coalescing collapses them to 1-2
        # partitions and serializes the compute (measured 2.2x slowdown
        # on the set-similarity join). Locally we disable it; on a real
        # cluster the same shuffles are GBs, the byte heuristic is sound
        # again, and deployments should re-enable it in spark-defaults
        # (override via SPARK_GRAFT_AQE_COALESCE=true).
        .config(
            "spark.sql.adaptive.coalescePartitions.enabled",
            os.environ.get("SPARK_GRAFT_AQE_COALESCE", "false"),
        )
        # When coalescing IS enabled, keep the floor small so CPU-heavy
        # narrow-row stages retain parallelism (48k ≈ thousands of pair
        # rows, not two mega-partitions).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "48k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Scan split sizing: Spark sizes splits as
        # min(maxPartitionBytes, max(openCostInBytes, bytes/parallelism))
        # — the 4 MB default openCost leaves a 10 MB local parquet file
        # on ~3 cores. 256 KB openCost + 8 MB max opens every local scan
        # to full parallelism. CLUSTER NOTE: at 100 TB keep the 128 MB
        # default max (override here via env) or task counts explode;
        # openCost 256 KB stays fine (bytes/parallelism dominates).
        .config("spark.sql.files.openCostInBytes", "262144")
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
        # Arrow transfer for the few pandas-UDF operators (SURVEY §2.M).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep driver result transfers bounded; we never collect big frames.
        .config("spark.driver.maxResultSize", "2g")
        # Local mode: the driver JVM IS the executor. Spark's 1g default
        # heap OOMs once the sf0.1 mirror accumulates localCheckpoint
        # blocks plus a multi-million-row Arrow collect (c14). Default:
        # min(16g, ~70% of physical RAM) — fixed 16g would let the JVM
        # get OOM-killed on smaller hosts; env-overridable either way.
        # (Only effective before JVM launch, which is exactly how the
        # session factory is used.)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        # ANSI ON, deliberately (Spark 4 default, set explicitly so the
        # posture is pinned, not inherited): every operator already
        # guards its casts/divisions (try_divide / try_cast where input
        # can be dirty), and failing loudly on an unguarded overflow
        # beats DuckDB-divergent silent NULLs in the oracle compare.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Generated-class cache sized to the engine's working set, so a
        # session compiles each plan once. Spark's default holds 100
        # classes. bench.py's 74 headline queries compile 1,038
        # distinct ones at sf0.1 and perfbench's query_mix ~100; both
        # loops round-robin over their queries, so with the default
        # every round evicted what the next query needed and
        # recompiled ~96% of its classes. 4096 leaves headroom over
        # the whole headline set. A fixed constant, not an option: no
        # caller needs another size.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Name whole-stage classes without their stage id. AQE numbers
        # stages in the order concurrent shuffle stages finish, so the
        # same plan's classes came out renumbered on some runs and,
        # their source text differing only in the name, missed the
        # cache (k43 and n8b each recompiled 6-16 classes on 1 run in 6).
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    return builder.getOrCreate()


_memo_sc: SparkContext | None = None
_memo: dict = {}


def _live_memo() -> dict:
    """The memo's entries for the active ``SparkContext``: the first
    call under a different context drops every entry held for the
    old one."""
    global _memo_sc
    sc = SparkContext._active_spark_context
    if sc is not _memo_sc:
        _memo.clear()
        _memo_sc = sc
    return _memo


def memo(key, build):
    """The package's one memo for driver-side handles bound to a
    running application: Column plan fragments, pandas UDF objects,
    persisted hot tables and split-copy paths (``sources``), and the
    bench-mode derived frames that ``sources.derived`` keeps under the
    ``("derived", …)`` key tag. BASELINE.md's cache-inventory table is
    the contract for what each derived entry may hold. Returns
    ``build()``'s value for ``key``, building it on the first call.

    Lifetime rule: entries live exactly as long as their application.
    The memo is keyed on the active ``SparkContext``; the first call
    under a different context (a ``spark.stop()`` then a new session
    in the same process) drops every entry held for the old one, so
    no handle outlives the context it was built against. A hit
    compares the Python context object only and costs no py4j call.
    Plan construction only: never cache a query's result here."""
    entries = _live_memo()
    if key not in entries:
        entries[key] = build()
    return entries[key]


def memo_drop(tag) -> None:
    """Drop every memo entry whose key is a tuple starting with
    ``tag``, unpersisting the persisted frames among them, so the next
    ``memo`` call for such a key builds afresh."""
    entries = _live_memo()
    for key in [k for k in entries if k[:1] == (tag,)]:
        value = entries.pop(key)
        if hasattr(value, "unpersist"):
            value.unpersist()
