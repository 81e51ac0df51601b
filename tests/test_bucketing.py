"""Bucketed co-located join: the SCALE.md claim that bucketing both
fact tables on the join key removes the join shuffles entirely, proven
mechanically on a real saveAsTable round-trip."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from glonassdatamining_spark.sources import load
from tests.conftest import SF_DIR


def test_bucketed_join_runs_shuffle_free(spark):
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .mode("overwrite").saveAsTable("li_bucketed"))
    (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .mode("overwrite").saveAsTable("o_bucketed"))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_bucketed").join(
            spark.table("o_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain(mode="simple")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and it computes the same thing as the plain shuffle join
        want = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).count()
        assert j.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_derived_cache_invalidates_on_fixture_change(tmp_path):
    """Regenerating a fixture (new mtime/size) must produce a NEW
    derived-cache dir and remove the stale sibling — the stale-reuse
    hazard a path+_SUCCESS key had. Exercised on a copied fixture so
    the real testdata stays untouched."""
    import os
    import shutil

    from glonassdatamining_spark.sources.scans import _derived_base

    sfd = tmp_path / "sfx"
    sfd.mkdir()
    shutil.copy(f"{SF_DIR}/nation.parquet", sfd / "nation.parquet")
    base1 = _derived_base(str(sfd), "cachetest", "nation")
    os.makedirs(base1, exist_ok=True)
    open(os.path.join(base1, "_SUCCESS"), "w").close()
    # same fixture → same dir (cache hit)
    assert _derived_base(str(sfd), "cachetest", "nation") == base1
    # "regenerate" the fixture: bump mtime
    os.utime(sfd / "nation.parquet", None)
    base2 = _derived_base(str(sfd), "cachetest", "nation")
    assert base2 != base1, "fingerprint ignored the fixture mtime"
    assert not os.path.exists(base1), "stale cache dir not removed"


def test_compaction_reduces_file_count(spark):
    import glob

    from glonassdatamining_spark.operators import filters  # noqa: F401 — registry
    from glonassdatamining_spark import registry
    from glonassdatamining_spark.sources.scans import SCRATCH_ROOT

    registry.get("a10_compaction").builder(spark, SF_DIR).count()
    sf = SF_DIR.rstrip("/").split("/")[-1]
    # Cache dirs are fingerprint-keyed on the source fixture (see
    # sources.scans._derived_base) — glob across the fingerprint.
    frag = glob.glob(f"{SCRATCH_ROOT}/compact_{sf}_*/frag/*.parquet")
    compacted = glob.glob(f"{SCRATCH_ROOT}/compact_{sf}_*/compacted/*.parquet")
    assert len(frag) == 32
    assert 1 <= len(compacted) <= 4


def test_a19_footer_audit_matches_duckdb(spark):
    """a19's distributed pyarrow footer read vs DuckDB's
    parquet_metadata() on the same files — the oracle this rows-only
    query cannot carry in static SQL (the path is sf-dependent)."""
    import duckdb

    from glonassdatamining_spark import registry
    from tests.conftest import SF_DIR

    got = (
        registry.get("a19_parquet_metadata")
        .builder(spark, SF_DIR)
        .toPandas()
        .sort_values(["file_name", "row_group_id"])
        .reset_index(drop=True)
    )
    assert len(got) >= 10  # every fixture table contributes ≥1 row group
    con = duckdb.connect()
    want = con.execute(
        "SELECT parse_filename(file_name) AS file_name, row_group_id, "
        "ANY_VALUE(row_group_num_rows) AS n_rows, "
        "CAST(COUNT(*) AS INT) AS n_columns, "
        "ANY_VALUE(row_group_bytes) AS total_byte_size "
        f"FROM parquet_metadata('{SF_DIR}/*.parquet') "
        "GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchdf()
    con.close()
    assert len(got) == len(want)
    for c in ("file_name", "row_group_id", "n_rows", "n_columns"):
        assert (got[c].values == want[c].values).all(), c
    # uncompressed-size accounting differs by footer-overhead definition
    # in no engine; both read total_byte_size from the same field:
    assert (got["total_byte_size"].values == want["total_byte_size"].values).all()


def test_a20_column_stats_match_duckdb(spark):
    """a20's distributed column-chunk stats vs DuckDB's
    parquet_metadata() on the same files."""
    import duckdb

    from glonassdatamining_spark import registry
    from tests.conftest import SF_DIR

    got = (
        registry.get("a20_footer_column_stats")
        .builder(spark, SF_DIR)
        .toPandas()
        .sort_values(["file_name", "row_group_id", "column_name"])
        .reset_index(drop=True)
    )
    assert len(got) >= 40  # every table contributes its column chunks
    con = duckdb.connect()
    want = con.execute(
        "SELECT parse_filename(file_name) AS file_name, row_group_id, "
        "replace(path_in_schema, ', ', '.') AS column_name, "
        "num_values AS n_values, "
        "stats_null_count AS null_count, "
        "(stats_min_value IS NOT NULL OR stats_max_value IS NOT NULL) "
        "AS has_min_max "
        f"FROM parquet_metadata('{SF_DIR}/*.parquet') "
        "ORDER BY 1, 2, 3"
    ).fetchdf()
    con.close()
    assert len(got) == len(want)
    for c in ("file_name", "row_group_id", "column_name", "n_values"):
        assert (got[c].values == want[c].values).all(), c
    import pandas as pd

    gn = got["null_count"].astype("float64")
    wn = want["null_count"].astype("float64")
    assert ((gn == wn) | (gn.isna() & wn.isna())).all()
    assert (got["has_min_max"].astype(bool).values
            == want["has_min_max"].astype(bool).values).all()
