"""Shared test harness: one SparkSession, a DuckDB oracle runner, and a
comparator that mirrors the driver's t2 check (row count + schema +
order-insensitive value comparison after sorting columns by name)."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from glonassdatamining_spark.session import get_spark
from glonassdatamining_spark.sources import TABLES

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gdm-tests")
    yield s


def oracle_con(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Bounded spill: at sf0.1 the i48c and n18 oracles spill into the
    # cwd's .tmp/ until the disk is full (n18 passed 11 GB in 15 s);
    # with a bound each fails on its own instead.
    con.execute("SET max_temp_directory_size = '4GB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # Make list/array cells hashable-comparable.
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple)) or hasattr(v, "tolist")).any():
            df[c] = df[c].map(
                lambda v: tuple(v.tolist()) if hasattr(v, "tolist") else (tuple(v) if isinstance(v, (list, tuple)) else v)
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cell_eq(a, b) -> bool:
    """Strict cell equality: floats bit-compare (NaN==NaN), everything
    else string-compares — so int-vs-float dtype skew between engines
    (e.g. DuckDB ceil()→DOUBLE vs Spark ceil()→BIGINT) FAILS here the
    way it may fail the driver's value hash."""
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cell_eq(x, y) for x, y in zip(a, b))
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    return str(a) == str(b)


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> None:
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    )
    s_cols = sorted(c.lower() for c in spark_pdf.columns)
    o_cols = sorted(c.lower() for c in oracle_pdf.columns)
    assert s_cols == o_cols, f"{name}: columns {s_cols} != oracle {o_cols}"
    spark_pdf.columns = [c.lower() for c in spark_pdf.columns]
    oracle_pdf.columns = [c.lower() for c in oracle_pdf.columns]
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(av, bv)) if not _cell_eq(x, y)
        ][:5]
        assert not bad, f"{name}: column {col} mismatches (spark vs oracle): {bad}"


# Queries legitimately EMPTY at the sf0.001 smoke fixture (verified
# non-empty at sf0.01 by test_t2_registry.test_smoke_empties_nonvacuous
# — the distance/selectivity thresholds simply don't fire on 6k rows).
# Any OTHER empty result is a vacuous oracle pass (the c5/i3/i17 class)
# and fails run_t2's non-vacuous assert below.
EMPTY_AT_SMOKE = {
    "c11_distance_join",
    "i3b_haversine_self_join",
    "q7_nation_volume",
    "i30_polygon_intersect_pairs",  # 15 objects at sf0.001 → no overlaps
    "n9_node_similarity",  # 6k-row basket graph too sparse for j≥0.5 pairs
    "i45_od_asymmetry",  # 1k-event chain: no pair reaches the ≥4 support floor
}


def run_t2(spark, name: str, sf_dir: str = SF_DIR) -> None:
    """Run one declared query against its oracle, assert equivalence —
    and assert the evidence is NON-VACUOUS (≥1 row), so a silently
    empty result can never count as an oracle pass."""
    from glonassdatamining_spark import registry

    d = registry.get(name)
    sdf = d.builder(spark, sf_dir).toPandas()
    if not (name in EMPTY_AT_SMOKE and sf_dir.rstrip("/").endswith("sf0.001")):
        assert len(sdf) >= 1, (
            f"{name}: empty result at {sf_dir} — vacuous evidence "
            "(add to EMPTY_AT_SMOKE only if verified non-empty at sf0.01)"
        )
    if d.oracle is None:
        return  # rows-only: materialized + non-vacuous is the check
    con = oracle_con(sf_dir)
    odf = con.execute(d.oracle).fetchdf()
    con.close()
    compare_frames(sdf, odf, name)


def plan_children(node) -> list:
    """The child plans of one JVM query plan node (logical or
    physical), looking through AQE wrappers and into subquery plans."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    seqs = (node.children(), node.innerChildren())
    return [s.apply(i) for s in seqs for i in range(s.size())]


def plan_nodes(node):
    """Every node of a JVM query plan, depth first — for tests that
    count plan nodes structurally instead of matching substrings of
    the rendered plan."""
    yield node
    for kid in plan_children(node):
        yield from plan_nodes(kid)
