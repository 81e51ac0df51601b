"""ACID properties of the manifest-based snapshot table
(glonassdatamining_spark/lakehouse.py): commit atomicity, optimistic
concurrency, snapshot isolation / time travel, and file-stats MERGE
pruning — the behaviors the g11 oracle hash can't see directly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from glonassdatamining_spark.lakehouse import CommitConflict, ManifestTable


def _mk(spark, tmp_path, n=1000, n_files=4):
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    return ManifestTable.create(spark, str(tmp_path / "t"), df, "k", n_files)


def test_create_then_recreate_conflicts(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert t.current_version() == 1
    with pytest.raises(CommitConflict):
        ManifestTable.create(
            spark, t.root, spark.range(1).select(F.col("id").alias("k")), "k"
        )


def test_concurrent_commit_conflicts(spark, tmp_path):
    """Two writers staging against the same HEAD: the second publish
    of the same version number must fail, not overwrite."""
    t = _mk(spark, tmp_path)
    v = t.current_version()
    files = t._manifest(v)["files"]
    t._commit(files, "append", v + 1)
    with pytest.raises(CommitConflict):
        t._commit(files, "append", v + 1)


def test_uncommitted_file_is_invisible(spark, tmp_path):
    """Crash simulation: a data file that reached the data dir but
    whose manifest never published must not appear in any read."""
    t = _mk(spark, tmp_path, n=100)
    orphan = os.path.join(t._ddir, "orphan.parquet")
    spark.range(5).select(F.col("id").alias("k"), F.col("id").alias("val")).coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "o"))
    part = [p for p in os.listdir(str(tmp_path / "o")) if p.endswith(".parquet")][0]
    os.rename(str(tmp_path / "o" / part), orphan)
    assert t.read().count() == 100


def test_merge_prunes_by_file_stats(spark, tmp_path):
    """Keys 0..999 range-partitioned into 4 disjoint files; a merge
    touching only the contiguous band [10, 20] must rewrite exactly
    one file and carry the other three forward untouched."""
    t = _mk(spark, tmp_path, n=1000, n_files=4)
    before = {e["file"] for e in t._manifest(1)["files"]}
    src = spark.range(10, 21).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("val")
    )
    out = t.merge(src)
    assert out["files_rewritten"] == 1
    assert out["files_carried"] == 3
    after = {e["file"] for e in t._manifest(2)["files"]}
    assert len(before & after) == 3, "carried files must be the SAME files"
    got = t.read()
    assert got.count() == 1000, "pure update: row count unchanged"
    assert got.filter(F.col("val") == -1).count() == 11
    assert got.filter((F.col("k") >= 10) & (F.col("k") <= 20)).agg(
        F.max("val")
    ).collect()[0][0] == -1


def test_merge_inserts_new_keys(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100, n_files=2)
    src = spark.range(95, 110).select(
        F.col("id").alias("k"), F.lit(7).cast("bigint").alias("val")
    )
    t.merge(src)
    assert t.read().count() == 110
    assert t.read().filter(F.col("val") == 7).count() == 15


def test_time_travel_snapshot_isolation(spark, tmp_path):
    """A v1 read AFTER later commits sees exactly v1 — byte-for-byte
    the same rows, even though the table has since doubled and been
    merged over."""
    t = _mk(spark, tmp_path, n=200)
    v1_rows = sorted(r["k"] for r in t.read(version=1).collect())
    t.append(
        spark.range(200, 400).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("val")
        )
    )
    t.merge(
        spark.range(50).select(
            F.col("id").alias("k"), F.lit(-5).cast("bigint").alias("val")
        )
    )
    assert t.current_version() == 3
    assert sorted(r["k"] for r in t.read(version=1).collect()) == v1_rows
    assert t.read(version=1).filter(F.col("val") == -5).count() == 0
    assert t.read(version=2).count() == 400
    assert t.read(version=3).filter(F.col("val") == -5).count() == 50


def test_history_reports_every_version(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100)
    t.append(
        spark.range(100, 150).select(
            F.col("id").alias("k"), F.col("id").alias("val")
        )
    )
    h = t.history()
    assert [x["op"] for x in h] == ["create", "append"]
    assert [x["n_rows"] for x in h] == [100, 150]
    assert all(x["n_files"] >= 1 for x in h)


def test_compact_preserves_content_and_reduces_files(spark, tmp_path):
    from glonassdatamining_spark.lakehouse import compact

    t = _mk(spark, tmp_path, n=300, n_files=4)
    t.append(
        spark.range(300, 600).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("val")
        ),
        n_files=4,
    )
    assert len(t._manifest(2)["files"]) == 8
    before = sorted(r["k"] for r in t.read().collect())
    v = compact(t, n_files=2)
    assert v == 3
    assert len(t._manifest(3)["files"]) == 2
    assert sorted(r["k"] for r in t.read().collect()) == before
    # pre-compaction snapshots still readable (time travel intact)
    assert t.read(version=2).count() == 600


def test_merge_retry_interleaved_writers(spark, tmp_path):
    """Optimistic-concurrency completion: two writers race the SAME
    HEAD (a barrier holds both at the v2 publish point, so the
    os.link race is exercised deterministically, not by luck). The
    loser must replay — re-read HEAD, re-prune against the WINNER'S
    manifest, re-commit — and the end state must show a linear
    version chain, zero lost upserts, stats-pruning still biting on
    the retry, and no orphan files left from the lost attempt."""
    import threading

    t = _mk(spark, tmp_path, n=1000, n_files=4)
    barrier = threading.Barrier(2, timeout=120)
    real_commit = t._commit

    def synced_commit(files, op, expected_version, deletes=None, fields=None):
        if expected_version == 2:  # both first attempts target v2
            barrier.wait()
        return real_commit(files, op, expected_version, deletes, fields)

    t._commit = synced_commit
    results: dict[str, dict] = {}
    errors: list[BaseException] = []

    def writer(name, lo, hi, val):
        try:
            src = spark.range(lo, hi).select(
                F.col("id").alias("k"),
                F.lit(val).cast("bigint").alias("val"),
            )
            results[name] = t.merge(src, max_retries=3)
        except BaseException as exc:  # surfaced below, not swallowed
            errors.append(exc)

    # Disjoint key bands hitting DIFFERENT files of the 4-file layout
    # ([0,249] and [500,749]) — a correct retry rewrites 1 file each.
    th_a = threading.Thread(target=writer, args=("a", 10, 21, -1))
    th_b = threading.Thread(target=writer, args=("b", 510, 521, -2))
    th_a.start(), th_b.start()
    th_a.join(300), th_b.join(300)
    assert not errors, errors
    assert len(results) == 2

    # Linear version chain: exactly v2 and v3, one writer retried once.
    assert sorted(r["version"] for r in results.values()) == [2, 3]
    assert sorted(r["retries"] for r in results.values()) == [0, 1]
    # Stats pruning held on BOTH attempts: the winner carried 3 of 4
    # files; the retrier carried 4 (3 untouched originals + the
    # winner's rewrites, which its key band cannot overlap).
    by_version = {r["version"]: r for r in results.values()}
    assert by_version[2]["files_rewritten"] == 1
    assert by_version[2]["files_carried"] == 3
    assert by_version[3]["files_rewritten"] == 1
    assert by_version[3]["files_carried"] == 4

    # Zero lost upserts: both writers' rows visible at HEAD.
    got = t.read()
    assert got.count() == 1000  # pure updates — no row-count drift
    assert got.filter(F.col("val") == -1).count() == 11
    assert got.filter(F.col("val") == -2).count() == 11

    # The lost attempt's files were unlinked: every data file on disk
    # is referenced by SOME manifest (no unreachable orphans).
    live = set()
    for v in range(1, t.current_version() + 1):
        live.update(e["file"] for e in t._manifest(v)["files"])
    on_disk = {f for f in os.listdir(t._ddir) if f.endswith(".parquet")}
    assert on_disk == live


def test_merge_empty_source_is_noop(spark, tmp_path):
    t = _mk(spark, tmp_path, n=100, n_files=2)
    src = (
        spark.range(1)
        .select(F.col("id").alias("k"), F.col("id").alias("val"))
        .filter(F.lit(False))
    )
    out = t.merge(src)
    assert out == {
        "version": 1,
        "files_rewritten": 0,
        "files_carried": 2,
        "retries": 0,
    }
    assert t.current_version() == 1  # no snapshot committed
    assert t.read().count() == 100


def test_create_rejects_non_json_key_type(spark, tmp_path):
    """Date/timestamp/decimal keys would break json.dump (or compare
    wrong after round-trip) — creation must fail loudly, not commit a
    corrupt manifest."""
    df = spark.range(10).select(
        F.to_date(F.lit("2024-01-01")).alias("k"), F.col("id").alias("val")
    )
    with pytest.raises(TypeError, match="int/float/string"):
        ManifestTable.create(spark, str(tmp_path / "t"), df, "k")
    # nothing was published
    assert ManifestTable(spark, str(tmp_path / "t"), "k").current_version() == 0


def test_expire_snapshots_keep_more_than_history(spark, tmp_path):
    """keep_last larger than the version count is a no-op, not a
    FileNotFoundError from walking manifest v0 and below."""
    from glonassdatamining_spark.lakehouse import expire_snapshots

    t = _mk(spark, tmp_path, n=100, n_files=2)
    out = expire_snapshots(t, keep_last=5)
    assert out == {
        "removed_manifests": 0,
        "removed_data_files": 0,
        "removed_delete_files": 0,
    }
    assert t.read().count() == 100


def test_expire_snapshots_gc_orphans(spark, tmp_path):
    import os as _os

    from glonassdatamining_spark.lakehouse import compact, expire_snapshots

    t = _mk(spark, tmp_path, n=200, n_files=4)
    compact(t, n_files=1)
    n_data_before = len(
        [f for f in _os.listdir(t._ddir) if f.endswith(".parquet")]
    )
    assert n_data_before == 5  # 4 original + 1 compacted
    out = expire_snapshots(t, keep_last=1)
    assert out["removed_manifests"] == 1
    assert out["removed_data_files"] == 4
    assert t.current_version() == 2
    assert t.read().count() == 200  # live snapshot untouched


def test_schema_evolution_append_and_time_travel(spark, tmp_path):
    """Additive evolution: v2 mixes old (2-col) and new (3-col) files;
    the manifest's per-file column lists trigger a mergeSchema read
    (old rows NULL-fill the new column), while a v1 read still plans
    a plain single-schema scan with exactly the original columns."""
    t = _mk(spark, tmp_path, n=100, n_files=2)  # (k, val)
    t.append(
        spark.range(100, 150).select(
            F.col("id").alias("k"),
            F.col("id").alias("val"),
            F.lit("tagged").alias("tag"),
        )
    )
    v2 = t.read(version=2)
    assert set(v2.columns) == {"k", "val", "tag"}
    assert v2.count() == 150
    assert v2.filter(F.col("tag").isNull()).count() == 100  # old files
    assert v2.filter(F.col("tag") == "tagged").count() == 50
    v1 = t.read(version=1)
    assert set(v1.columns) == {"k", "val"}  # time travel: no merge pass
    # manifest records the evolution
    cols = {tuple(e["columns"]) for e in t._manifest(2)["files"]}
    assert len(cols) == 2


def test_read_pruned_skips_files_and_keeps_results(spark, tmp_path):
    """Key-range pruning must skip most of an 8-file key-distributed
    layout while returning exactly the full-scan filter result; a
    stats-less / unrecorded column must conservatively keep all
    files."""
    t = _mk(spark, tmp_path, n=1000, n_files=8)
    m = t._manifest(1)
    assert all("stats" in e and "k" in e["stats"] for e in m["files"])
    # how many files CAN contain keys 100..220?
    overlapping = [
        e for e in m["files"]
        if not (e["stats"]["k"][1] < 100 or e["stats"]["k"][0] > 220)
    ]
    assert len(overlapping) < 8, "key-range layout must let pruning bite"
    pruned = t.read_pruned("k", 100, 220).filter(F.col("k").between(100, 220))
    full = t.read().filter(F.col("k").between(100, 220))
    assert sorted(r.k for r in pruned.collect()) == sorted(
        r.k for r in full.collect()
    )
    # val = k*10 correlates with k here, but an UNRECORDED column name
    # falls back to keep-everything (never wrong, just unpruned)
    assert t.read_pruned("nonexistent", 0, 1).count() == 1000


# ---------------------------------------------------------------------------
# Round-7: MERGE under schema evolution + bounds/pruning edge cases
# ---------------------------------------------------------------------------
def test_merge_after_evolving_append_preserves_column(spark, tmp_path):
    """The ADVICE-medium data-loss path: after an evolving append the
    snapshot is heterogeneous; a MERGE whose touched set spans pre-
    and post-evolution files must scan them with mergeSchema and
    union with allowMissingColumns — the evolved column must survive
    the copy-on-write rewrite for every un-updated row."""
    t = _mk(spark, tmp_path, n=100, n_files=2)  # (k, val)
    t.append(
        spark.range(100, 150).select(
            F.col("id").alias("k"),
            F.col("id").alias("val"),
            F.lit("tagged").alias("tag"),
        )
    )
    # Source misses 'tag' and spans the whole key range → every file
    # (both schemas) is touched and rewritten.
    src = spark.range(0, 150, 7).select(
        F.col("id").alias("k"), F.lit(-5).cast("bigint").alias("val")
    )
    t.merge(src)
    head = t.read()
    assert set(head.columns) == {"k", "val", "tag"}
    assert head.count() == 150
    # Un-updated post-evolution rows keep their tag (no data loss).
    survivors = head.filter(
        (F.col("k") >= 100) & (F.col("k") % 7 != 0)
    )
    assert survivors.filter(F.col("tag") != "tagged").count() == 0
    assert survivors.filter(F.col("tag").isNull()).count() == 0
    # Updated rows carry the upsert value with NULL tag.
    assert head.filter(F.col("val") == -5).count() == (150 + 6) // 7


def test_merge_source_with_new_column(spark, tmp_path):
    """A source carrying a brand-new column evolves the table on the
    MERGE path: old rows NULL-fill, source rows carry it."""
    t = _mk(spark, tmp_path, n=100, n_files=2)
    src = spark.range(90, 120).select(
        F.col("id").alias("k"),
        F.lit(-1).cast("bigint").alias("val"),
        F.lit("fresh").alias("origin"),
    )
    out = t.merge(src)
    head = t.read()
    assert set(head.columns) == {"k", "val", "origin"}
    assert head.count() == 120
    assert head.filter(F.col("origin") == "fresh").count() == 30
    assert head.filter(F.col("origin").isNull()).count() == 90
    # Pruning still worked: keys 90-119 overlap only the second file
    # (rows 50-99), so exactly one file is rewritten and one carried.
    assert out["files_rewritten"] == 1
    assert out["files_carried"] == 1


def test_concurrent_merge_divergent_schemas(spark, tmp_path):
    """Two raced writers whose sources evolve DIFFERENT columns: the
    loser's replay must see the winner's evolved files (mergeSchema on
    the touched scan) and the final table must carry BOTH new columns
    with zero lost rows — the verdict ask's conflict case."""
    import threading

    t = _mk(spark, tmp_path, n=1000, n_files=4)
    barrier = threading.Barrier(2, timeout=120)
    real_commit = t._commit

    def synced_commit(files, op, expected_version, deletes=None, fields=None):
        if expected_version == 2:
            barrier.wait()
        return real_commit(files, op, expected_version, deletes, fields)

    t._commit = synced_commit
    results: dict[str, dict] = {}
    errors: list[BaseException] = []

    def writer(name, lo, hi, col):
        try:
            src = spark.range(lo, hi).select(
                F.col("id").alias("k"),
                F.lit(-9).cast("bigint").alias("val"),
                F.lit(name).alias(col),
            )
            results[name] = t.merge(src, max_retries=3)
        except BaseException as exc:
            errors.append(exc)

    th_a = threading.Thread(target=writer, args=("a", 10, 21, "a_tag"))
    th_b = threading.Thread(target=writer, args=("b", 510, 521, "b_tag"))
    th_a.start(), th_b.start()
    th_a.join(300), th_b.join(300)
    assert not errors, errors
    assert sorted(r["version"] for r in results.values()) == [2, 3]
    head = t.read()
    assert {"a_tag", "b_tag"} <= set(head.columns)
    assert head.count() == 1000
    assert head.filter(F.col("a_tag") == "a").count() == 11
    assert head.filter(F.col("b_tag") == "b").count() == 11


def test_merge_with_null_key_bounds_treats_file_as_touched(spark, tmp_path):
    """A manifest entry without key bounds (footer had no min/max
    stats) must be conservatively REWRITTEN by every merge, never
    crash the prune comparison (the ADVICE None-vs-int TypeError)."""
    import json

    t = _mk(spark, tmp_path, n=100, n_files=2)
    mpath = os.path.join(t._mdir, "v1.json")
    with open(mpath) as fh:
        m = json.load(fh)
    m["files"][0]["min_key"] = None
    m["files"][0]["max_key"] = None
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    # Source overlaps ONLY the second file's key range — but the
    # stat-less file must still be treated as touched.
    hi_keys = spark.range(95, 98).select(
        F.col("id").alias("k"), F.lit(-3).cast("bigint").alias("val")
    )
    out = t.merge(hi_keys)
    assert out["files_rewritten"] == 2  # stat-less + overlapping
    head = t.read()
    assert head.count() == 100
    assert head.filter(F.col("val") == -3).count() == 3


def test_read_pruned_merges_evolved_schema(spark, tmp_path):
    """read_pruned on an evolved snapshot must surface the evolved
    column for pre-evolution files (NULL-filled), consistently with
    read() — the ADVICE read_pruned/mergeSchema inconsistency."""
    t = _mk(spark, tmp_path, n=100, n_files=2)
    t.append(
        spark.range(100, 150).select(
            F.col("id").alias("k"),
            F.col("id").alias("val"),
            F.lit("tagged").alias("tag"),
        )
    )
    # Range spanning both a pre-evolution file and the appended file.
    got = t.read_pruned("k", 40, 120).filter(F.col("k").between(40, 120))
    assert set(got.columns) == {"k", "val", "tag"}
    assert got.count() == 81
    assert got.filter(F.col("tag").isNull()).count() == 60
    assert got.filter(F.col("tag") == "tagged").count() == 21


def test_read_pruned_in_exact_point_lookup(spark, tmp_path):
    """read_pruned_in keeps only the files whose span covers at least
    one probed value — for values {5, 905} in an 8-file layout that is
    2 files, NOT everything in [5, 905] — and results stay identical
    to the full-scan filter (the IVF probe-path contract)."""
    t = _mk(spark, tmp_path, n=1000, n_files=8)
    m = t._manifest(1)
    covering = [
        e
        for e in m["files"]
        if any(e["stats"]["k"][0] <= v <= e["stats"]["k"][1] for v in (5, 905))
    ]
    assert len(covering) == 2
    pruned = t.read_pruned_in("k", [5, 905])
    # exactly the covering files' rows were planned
    assert pruned.count() == sum(e["rows"] for e in covering)
    got = pruned.filter(F.col("k").isin([5, 905]))
    assert sorted(r.k for r in got.collect()) == [5, 905]
    # unrecorded column → conservative keep-everything
    assert t.read_pruned_in("nonexistent", [1]).count() == 1000


# ---------------------------------------------------------------------------
# g16 — positional deletes (merge-on-read)
# ---------------------------------------------------------------------------
def test_positional_delete_merge_on_read(spark, tmp_path):
    """delete_where writes a delete FILE (no data rewrite), reads
    reconstruct the live view, time travel still sees pre-delete
    versions, and a second delete never re-references rows the first
    already deleted."""
    import os as _os

    df = spark.range(100).selectExpr("id AS k", "id * 10 AS v")
    t = ManifestTable.create(spark, str(tmp_path / "t"), df, "k", 4)
    data_before = sorted(_os.listdir(t._ddir))
    out = t.delete_where("k % 5 = 0")
    assert out == {
        "version": 2,
        "deleted_rows": 20,
        "delete_files": 1,
        "committed": True,
    }
    # merge-on-read: data files untouched
    assert sorted(_os.listdir(t._ddir)) == data_before
    assert t.read().count() == 80
    assert t.read(version=1).count() == 100  # time travel pre-delete
    # second delete: overlapping predicate must only count LIVE rows
    out2 = t.delete_where("k % 10 = 0 OR k % 7 = 0")
    # k%10==0 is a subset of the already-deleted k%5==0
    live_matches = [
        k for k in range(100) if k % 5 != 0 and (k % 10 == 0 or k % 7 == 0)
    ]
    assert out2["deleted_rows"] == len(live_matches)
    assert t.read().count() == 80 - len(live_matches)
    # no-op predicate commits nothing
    v = t.current_version()
    out3 = t.delete_where("k = -1")
    assert out3 == {
        "version": v,
        "deleted_rows": 0,
        "delete_files": 0,
        "committed": False,
    }
    assert t.current_version() == v


def test_positional_delete_compact_materializes(spark, tmp_path):
    """compact() rewrites through the delete-applying read and commits
    with an empty delete list — the purge path; counts and values are
    unchanged, delete files become expirable orphans."""
    from glonassdatamining_spark.lakehouse import compact, expire_snapshots

    df = spark.range(60).selectExpr("id AS k", "id * 3 AS v")
    t = ManifestTable.create(spark, str(tmp_path / "t"), df, "k", 3)
    t.delete_where("k >= 40")
    before = t.read().agg(F.sum("v")).collect()[0][0]
    v = compact(t, n_files=2)
    m = t._manifest(v)
    assert m["deletes"] == []
    assert t.read().count() == 40
    assert t.read().agg(F.sum("v")).collect()[0][0] == before
    out = expire_snapshots(t, keep_last=1)
    assert out["removed_delete_files"] == 1


def test_positional_delete_pruned_reads_compose(spark, tmp_path):
    """read_pruned / read_pruned_in must apply deletes too — pruning
    skips files, the anti-join erases rows; together they return
    exactly the live rows in range."""
    df = spark.range(100).selectExpr("id AS k", "id AS v")
    t = ManifestTable.create(spark, str(tmp_path / "t"), df, "k", 4)
    t.delete_where("k % 3 = 0")
    got = sorted(
        r.k for r in t.read_pruned("k", 10, 30).filter("k BETWEEN 10 AND 30").collect()
    )
    assert got == [k for k in range(10, 31) if k % 3 != 0]
    got_in = sorted(
        r.k
        for r in t.read_pruned_in("k", [9, 10, 11]).filter(
            F.col("k").isin([9, 10, 11])
        ).collect()
    )
    assert got_in == [10, 11]


def test_positional_delete_two_writer_race(spark, tmp_path):
    """Two-writer delete/append race (the round-9 verdict ask's test):
    writer A computes a delete against HEAD, writer B's append wins
    the version swap first → A's commit must raise CommitConflict and
    leave the table consistent; A's retry sees B's rows."""
    df = spark.range(50).selectExpr("id AS k", "id AS v")
    root = str(tmp_path / "t")
    a = ManifestTable.create(spark, root, df, "k", 2)
    b = ManifestTable(spark, root, "k")

    # interleave: A stages its delete by racing the commit — simulate
    # by having B append FIRST under the same expected version, then
    # A's delete_where (which re-reads HEAD) must still succeed; for
    # the true race, grab the version before B commits and force A's
    # commit at that stale version.
    v_stale = a.current_version()
    b.append(spark.range(50, 60).selectExpr("id AS k", "id AS v"), 1)
    with pytest.raises(CommitConflict):
        # replay A's protocol against the stale HEAD by hand
        m = a._manifest(v_stale)
        a._commit(m["files"], "delete", v_stale + 1, [{"file": "x", "rows": 1}])
    # retry path: a fresh delete_where reads the new HEAD and works
    out = a.delete_where("k >= 55")
    assert out["deleted_rows"] == 5
    assert a.read().count() == 55


def test_merge_rewrites_materialize_deletes(spark, tmp_path):
    """A COW merge after a positional delete must (a) apply the
    delete while rewriting touched files, (b) never resurrect deleted
    rows, (c) keep carried files' deletes live."""
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    t = ManifestTable.create(spark, str(tmp_path / "t"), df, "k", 4)
    t.delete_where("k % 4 = 0")
    # upsert keys 0..9 (touches only the low file(s)); deleted rows
    # among 0..9 get re-inserted BY THE SOURCE (an upsert), others stay gone
    src = spark.range(10).selectExpr("id AS k", "id * 100 AS v")
    t.merge(src, n_files=1)
    rows = {r.k: r.v for r in t.read().collect()}
    for k in range(10):
        assert rows[k] == k * 100  # upserted (including previously deleted)
    for k in range(10, 100):
        if k % 4 == 0:
            assert k not in rows  # carried files' deletes still live
        else:
            assert rows[k] == k * 2


def test_positional_delete_user_columns_named_file_pos(spark, tmp_path):
    """Round-9 review fix: a user table may legally carry columns
    named _file/_pos (or file/pos) — merge-on-read reconstruction
    must not clobber them."""
    df = spark.range(20).selectExpr(
        "id AS k", "CAST(id AS STRING) AS _file", "id * 7 AS _pos"
    )
    t = ManifestTable.create(spark, str(tmp_path / "t"), df, "k", 2)
    t.delete_where("k >= 15")
    rows = {r.k: (r._file, r._pos) for r in t.read().collect()}
    assert len(rows) == 15
    for k, (f, p) in rows.items():
        assert f == str(k) and p == k * 7


def test_merge_consolidates_delete_refs(spark, tmp_path):
    """Round-9 review fix: after a COW merge touches files holding
    deleted rows, history()'s deleted_rows must count only LIVE
    delete refs — n_rows − deleted_rows equals the true live count."""
    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    t = ManifestTable.create(spark, str(tmp_path / "t"), df, "k", 4)
    t.delete_where("k % 4 = 0")  # 25 refs across all 4 files
    src = spark.range(10).selectExpr("id AS k", "id * 100 AS v")
    t.merge(src, n_files=1)  # touches the low file(s), upserts 0..9
    h = t.history()[-1]
    live = t.read().count()
    assert h["n_rows"] - h["deleted_rows"] == live
    # the stale refs (materialized by the rewrite) are GONE from the
    # manifest; only refs into carried files remain
    m = t._manifest(t.current_version())
    carried_names = {e["file"] for e in m["files"]}
    import os as _os

    for e in m["deletes"]:
        prior = spark.read.parquet(_os.path.join(t._deldir, e["file"]))
        ref_files = {r.file for r in prior.select("file").distinct().collect()}
        assert ref_files <= carried_names


def test_equality_delete_sequence_semantics(spark, tmp_path):
    """Iceberg v2 equality deletes: v2 erases keys by VALUE with no
    data scan; an append AFTER the delete re-inserting some of those
    keys must survive (file seq > delete seq), while the original
    rows stay erased. Time travel shows every state."""
    t = _mk(spark, tmp_path, n=100, n_files=2)
    out = t.delete_eq([3, 5, 7, 200])  # 200 matches nothing: fine
    assert out == {"version": 2, "deleted_keys": 4, "committed": True}
    assert t.read().count() == 97
    assert t.read().filter(F.col("k").isin(3, 5, 7)).count() == 0
    # re-insert k=5 AFTER the delete: the sequence rule keeps it
    t.append(
        spark.range(5, 6).select(
            F.col("id").alias("k"),
            F.lit(-9).cast("bigint").alias("val"),
        )
    )
    got = t.read().filter(F.col("k") == 5).collect()
    assert [r.val for r in got] == [-9], "post-delete insert must survive"
    assert t.read().count() == 98
    # time travel: v1 pristine, v2 erased, v3 re-inserted
    assert t.read(version=1).count() == 100
    assert t.read(version=2).filter(F.col("k") == 5).count() == 0
    h = t.history()
    assert h[1]["op"] == "delete_eq" and h[1]["eq_deleted_keys"] == 4
    # empty value list: explicit no-op contract
    v = t.current_version()
    assert t.delete_eq([]) == {
        "version": v,
        "deleted_keys": 0,
        "committed": False,
    }


def test_equality_delete_composes_with_positional_and_compact(spark, tmp_path):
    """eq + positional deletes on one snapshot reconstruct together;
    compact MATERIALIZES both kinds and drops the delete list."""
    from glonassdatamining_spark.lakehouse import compact

    t = _mk(spark, tmp_path, n=100, n_files=2)
    t.delete_eq(list(range(0, 100, 10)))           # 10 keys by value
    t.delete_where("k % 7 = 0 AND k % 10 != 0")    # positional on the rest
    live = [k for k in range(100) if k % 10 != 0 and k % 7 != 0]
    assert sorted(r.k for r in t.read().collect()) == live
    v = compact(t, n_files=1)
    m = t._manifest(v)
    assert m["deletes"] == []
    assert sorted(r.k for r in t.read().collect()) == live


def test_field_id_rename_and_drop_are_metadata_only(spark, tmp_path):
    """Rename/drop via field ids: no data file changes, reads remap
    physical names per file, time travel keeps each version's own
    schema, and appends after a rename write the NEW physical name
    under the SAME field id."""
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    t = ManifestTable.create(
        spark, str(tmp_path / "ft"), df, "k", 2, field_ids=True
    )
    files_v1 = {e["file"] for e in t._manifest(1)["files"]}
    t.rename_column("val", "amount")
    assert {e["file"] for e in t._manifest(2)["files"]} == files_v1
    assert t.read().columns == ["k", "amount"]
    assert t.read(version=1).columns == ["k", "val"]  # snapshot schema
    assert t.read().filter(F.col("k") == 7).collect()[0].amount == 70
    # append post-rename: physical name 'amount', same field id
    t.append(
        spark.range(50, 60).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("amount")
        )
    )
    got = t.read()
    assert got.count() == 60
    assert got.filter(F.col("amount") == 550).count() == 1
    # pruning on the RENAMED column resolves per-file physical names
    pruned = t.read_pruned("amount", 0, 100)
    assert sorted(r.k for r in pruned.collect() if r.k <= 10) == list(
        range(11)
    )
    # drop: metadata-only, old versions still carry the column
    t.drop_column("amount")
    assert t.read().columns == ["k"]
    assert "amount" in t.read(version=3).columns
    with pytest.raises(ValueError):
        t.drop_column("k")  # key column protected
    with pytest.raises(ValueError):
        t.rename_column("k", "k")  # name already exists
    # key column protected from rename too (round-10 ADVICE): a
    # renamed key would leave self.key_col stale — append repartitions
    # on it and delete_eq resolves its field id
    with pytest.raises(ValueError, match="key column"):
        t.rename_column("k", "pk")


def test_field_id_eq_delete_and_rename_compose(spark, tmp_path):
    """Equality deletes keep working across a rename (values bind to
    the field ID, reads resolve the physical key name per group)."""
    df = spark.range(30).select(
        F.col("id").alias("k"), F.col("id").alias("val")
    )
    t = ManifestTable.create(
        spark, str(tmp_path / "fe"), df, "k", 2, field_ids=True
    )
    t.delete_eq([1, 2, 3])
    t.rename_column("val", "v2")
    assert t.read().count() == 27
    assert t.read().columns == ["k", "v2"]
    t.delete_eq([4])
    assert sorted(r.k for r in t.read().collect()) == [
        k for k in range(30) if k not in (1, 2, 3, 4)
    ]


def test_merge_after_rename_requires_compact(spark, tmp_path):
    """merge/delete_where bind by NAME: on a renamed field-id table
    they refuse loudly; compact re-baselines physical names and they
    work again."""
    from glonassdatamining_spark.lakehouse import compact

    df = spark.range(20).select(
        F.col("id").alias("k"), F.col("id").alias("val")
    )
    t = ManifestTable.create(
        spark, str(tmp_path / "fm"), df, "k", 2, field_ids=True
    )
    t.rename_column("val", "amount")
    src = spark.range(5).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("amount")
    )
    with pytest.raises(NotImplementedError):
        t.merge(src)
    with pytest.raises(NotImplementedError):
        t.delete_where("k = 3")
    compact(t, n_files=1)
    out = t.merge(src)
    assert out["version"] == t.current_version()
    assert t.read().filter(F.col("amount") == -1).count() == 5
    t.delete_where("k = 19")
    assert t.read().count() == 19


def test_two_writer_race_eq_delete_vs_append(spark, tmp_path):
    """Round-9 ask #6's race extension: an equality delete and an
    append race the SAME head version — exactly one wins the os.link
    publish, the loser surfaces CommitConflict, and a retry lands on
    the new head with BOTH effects preserved (the re-tried eq delete
    gets a HIGHER seq than the append, so the sequence rule decides
    the re-inserted key's fate explicitly)."""
    import threading

    t = _mk(spark, tmp_path, n=50, n_files=2)
    barrier = threading.Barrier(2, timeout=120)
    real_commit = t._commit

    def synced_commit(files, op, expected_version, deletes=None, fields=None):
        if expected_version == 2:
            barrier.wait()
        return real_commit(files, op, expected_version, deletes, fields)

    t._commit = synced_commit
    outcomes: dict = {}
    errors: list = []

    def do_delete():
        try:
            outcomes["delete"] = t.delete_eq([7, 8])
        except CommitConflict:
            outcomes["delete_retry"] = t.delete_eq([7, 8])
        except BaseException as exc:
            errors.append(exc)

    def do_append():
        try:
            outcomes["append"] = t.append(
                spark.range(100, 105).select(
                    F.col("id").alias("k"), F.col("id").alias("val")
                )
            )
        except CommitConflict:
            outcomes["append_retry"] = t.append(
                spark.range(100, 105).select(
                    F.col("id").alias("k"), F.col("id").alias("val")
                )
            )
        except BaseException as exc:
            errors.append(exc)

    th_a = threading.Thread(target=do_delete)
    th_b = threading.Thread(target=do_append)
    th_a.start(), th_b.start()
    th_a.join(300), th_b.join(300)
    assert not errors, errors
    assert t.current_version() == 3  # linear chain, one retry
    got = t.read()
    assert got.filter(F.col("k").isin(7, 8)).count() == 0
    assert got.filter(F.col("k") >= 100).count() == 5
    assert got.count() == 53


# ---------------------------------------------------------------------------
# Planning from the manifest: recorded schemas, the merge broadcast guard
# ---------------------------------------------------------------------------
def _planning_jobs(spark, build) -> int:
    """Number of Spark jobs started while ``build()`` plans frames."""
    sc = spark.sparkContext
    group = "lakehouse-planning"
    sc.setJobGroup(group, "plan only, no action")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_planning_starts_no_spark_job(spark, tmp_path):
    """Scans are planned from the schemas the manifest recorded at
    write time, so planning read(), read_pruned() and a read through
    live positional and equality deletes starts no footer-inference
    job. The recorded schema is the one Spark infers from the files,
    and a manifest whose entries predate the record (older tables on
    disk) still reads the same rows, through inference."""
    import json

    t = _mk(spark, tmp_path, n=200, n_files=4)
    t.delete_where("k % 5 = 0")
    t.delete_eq([1, 2, 3])
    m = t._manifest(t.current_version())
    assert {e.get("kind") for e in m["deletes"]} == {None, "eq"}
    assert all("schema" in e for e in m["files"])

    def build():
        t.read(), t.read(version=1), t.read_pruned("k", 10, 60)
        t.read_pruned_in("k", [7, 150])

    assert _planning_jobs(spark, build) == 0
    files = [os.path.join(t._ddir, e["file"]) for e in m["files"]]
    assert t.read().schema == spark.read.parquet(*files).schema
    want = sorted(t.read().collect())
    assert len(want) == 200 - 40 - 3  # k % 5 == 0, then keys 1, 2, 3

    mpath = os.path.join(t._mdir, f"v{t.current_version()}.json")
    for e in m["files"] + m["deletes"]:
        e.pop("schema", None)
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    assert _planning_jobs(spark, t.read) > 0  # inference is back
    assert sorted(t.read().collect()) == want


def _scan_paths(node, root, path=()):
    """Root-to-scan node paths of an executed plan: one per parquet
    scan whose files all lie under ``root``."""
    from tests.conftest import plan_children

    path = path + (node,)
    if node.getClass().getSimpleName() == "FileSourceScanExec":
        if all(root in f for f in node.relation().location().inputFiles()):
            yield path
    for kid in plan_children(node):
        yield from _scan_paths(kid, root, path)


def _merge_rewrite_plan(t, src):
    """Merge ``src`` into ``t`` (rewriting into one file), then replay
    the plan the merge wrote and return its executed physical plan."""
    written = []
    real = t._write_files

    def capture(df, n_files, field_map=None):
        written.append(df)
        return real(df, n_files, field_map)

    t._write_files = capture
    t.merge(src, n_files=1)
    out = written[0].repartitionByRange(1, t.key_col)
    out.collect()
    return out._jdf.queryExecution().executedPlan()


def test_merge_broadcast_guard_shuffles_touched_rows_once(spark, tmp_path):
    """The merge source here is an inner join Spark cannot size (its
    estimate is the product of its inputs), so without the guard the
    source-key anti-join is planned as a sort-merge join and the
    touched rows are shuffled for it and again for the range
    repartition. With the source's counted size under the threshold,
    the anti-join is a broadcast and the touched rows reach exactly
    one exchange. With the threshold at -1 the merge keeps the
    sort-merge plan and commits identical rows and manifest stats."""
    import json

    from tests.conftest import plan_nodes

    def src():
        wide = spark.range(0, 2_000_000).withColumnRenamed("id", "j")
        keys = spark.range(10, 21).join(wide, F.col("id") == F.col("j"))
        return keys.select(
            F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("val")
        )

    def anti_joins(plan):
        return [
            n.getClass().getSimpleName()
            for n in plan_nodes(plan)
            if n.getClass().getSimpleName().endswith("JoinExec")
            and n.joinType().toString() == "LeftAnti"
        ]

    def touched_exchanges(plan, t):
        paths = list(_scan_paths(plan, t._ddir))
        assert len(paths) == 1, "one scan of the touched data files"
        return sum(
            n.getClass().getSimpleName() == "ShuffleExchangeExec"
            for n in paths[0]
        )

    def stats(t):
        m = t._manifest(t.current_version())
        return sorted(
            json.dumps(
                {k: v for k, v in e.items() if k != "file"}, sort_keys=True
            )
            for e in m["files"]
        )

    fast = _mk(spark, tmp_path / "fast", n=1000, n_files=4)
    plan = _merge_rewrite_plan(fast, src())
    assert anti_joins(plan) == ["BroadcastHashJoinExec"]
    assert touched_exchanges(plan, fast) == 1

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        slow = _mk(spark, tmp_path / "slow", n=1000, n_files=4)
        plan = _merge_rewrite_plan(slow, src())
        assert anti_joins(plan) == ["SortMergeJoinExec"]
        assert touched_exchanges(plan, slow) == 2
    finally:
        spark.conf.set(key, saved)
    assert spark.conf.get(key) == saved
    assert sorted(fast.read().collect()) == sorted(slow.read().collect())
    assert stats(fast) == stats(slow)
    assert fast.read().filter(F.col("val") == -1).count() == 11
