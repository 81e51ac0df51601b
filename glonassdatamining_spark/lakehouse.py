"""Manifest-based snapshot table — "lakehouse-lite" ACID semantics in
pure PySpark + JSON manifests.

The sandbox cannot load Delta/Iceberg JVM packages offline, but the
protocols those formats implement are small and portable; this module
implements the core of them directly so the MERGE / SCD2 / snapshot
queries (g5/g6/g7) have a real table substrate instead of only
relational identities:

* **Immutable data files + versioned manifests.** A table is a
  directory of write-once parquet files plus ``_manifests/v{N}.json``
  snapshots, each listing exactly the files (with row counts and
  per-file key min/max) visible at that version. Readers never see a
  partial write: a data file is invisible until a manifest names it.
* **Atomic, conflict-checked commits.** A manifest is staged to a tmp
  name and published with ``os.link`` — atomic on POSIX and failing
  with ``FileExistsError`` if a concurrent writer already claimed the
  version, which surfaces as :class:`CommitConflict` (optimistic
  concurrency, retry by re-reading HEAD; the same protocol shape as
  Iceberg's version-file swap / Delta's transaction log append).
* **Snapshot isolation + time travel.** ``read(version=N)`` plans a
  scan over exactly v{N}'s file list — a read never mixes versions,
  and historical versions stay queryable until compacted away.
* **File-stats-pruned copy-on-write MERGE.** ``merge(source)`` prunes
  the live file list against the source's key range using the
  manifest's per-file min/max (collected from parquet row-group
  footers at write time): files whose key range cannot overlap are
  CARRIED FORWARD untouched into the new manifest; only overlapping
  files are rewritten (anti-join out the upserted keys, union the
  source). That file-skipping is the mechanism that makes a 100 TB
  MERGE touch megabytes, and it is exercised and asserted in
  tests/test_lakehouse.py.
* **Planning from the manifest.** Each data-file entry records the
  Spark schema the file reads back with (``schema``), equality-delete
  entries record theirs, and positional delete files have one fixed
  schema (``file STRING, pos BIGINT``), so planning a scan starts no
  footer-inference job. Entries without a recorded schema (manifests
  written before it existed) keep Spark's inference.
* **Broadcast guard.** MERGE counts its source in the same 1-row
  aggregate as the key range; when count × key width fits the
  session's ``spark.sql.autoBroadcastJoinThreshold`` the source keys
  are broadcast into the anti-join, so the touched rows are shuffled
  only once (by the range repartition of the rewrite). A threshold of
  −1 keeps the sort-merge plan.

At cluster scale the same layout maps 1:1 onto an object store
(rename→copy+check swap, or a real catalog for the HEAD pointer);
everything else — manifests, stats pruning, COW rewrite — is already
the scalable shape.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

# Every positional delete file holds exactly these columns.
_POS_DELETE_SCHEMA = "file STRING, pos BIGINT"


class CommitConflict(Exception):
    """Another writer committed this version first — re-read and retry."""


def _file_stats(
    path: str, key_col: str
) -> tuple[int, object, object, dict]:
    """(rows, min_key, max_key, per-column {col: [lo, hi]}) from the
    parquet footer — no data read. Column stats are recorded for
    EVERY column whose footer min/max is a JSON scalar (int/float/
    str/bool), so reads can prune on non-key predicates too; columns
    with unserializable or absent stats are simply omitted
    (conservative: an omitted column never prunes)."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(path)
    rows = f.metadata.num_rows
    stats: dict = {}
    key_lo = key_hi = None
    for idx in range(f.metadata.num_columns):
        col = f.metadata.schema.column(idx).path
        lo = hi = None
        ok = True
        for rg in range(f.metadata.num_row_groups):
            st = f.metadata.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if not ok:
            continue
        if col == key_col:
            # RAW key bounds, even when non-JSON — _write_files
            # validates the type and fails loudly for date/decimal
            # keys instead of silently committing prune-less files.
            key_lo, key_hi = lo, hi
        if isinstance(lo, (int, float, str)) and isinstance(
            hi, (int, float, str)
        ) and not isinstance(lo, bool):
            stats[col] = [lo, hi]
    return rows, key_lo, key_hi, stats


def _as_read(dt: DataType) -> DataType:
    """``dt`` as a parquet scan returns it: Spark reads every field,
    element and map value back as nullable, whatever was written."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_read(f.dataType), True, f.metadata)
                for f in dt
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_read(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_read(dt.keyType), _as_read(dt.valueType), True)
    return dt


def _shared_schema(entries: list[dict]) -> StructType | None:
    """The one Spark schema every entry recorded at write time, or
    None when the entries differ or any predates the record — Spark
    then infers the schema from the footers, as before."""
    recorded = {e.get("schema") for e in entries}
    if len(recorded) != 1 or None in recorded:
        return None
    return StructType.fromJson(json.loads(recorded.pop()))


class ManifestTable:
    """A snapshot table rooted at ``root`` keyed on ``key_col``."""

    def __init__(self, spark: SparkSession, root: str, key_col: str) -> None:
        self.spark = spark
        self.root = root
        self.key_col = key_col
        self._mdir = os.path.join(root, "_manifests")
        self._ddir = os.path.join(root, "data")
        self._deldir = os.path.join(root, "deletes")

    # -- manifest plumbing -------------------------------------------------
    def current_version(self) -> int:
        if not os.path.isdir(self._mdir):
            return 0
        vs = [
            int(n[1:-5])
            for n in os.listdir(self._mdir)
            if n.startswith("v") and n.endswith(".json")
        ]
        return max(vs) if vs else 0

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self._mdir, f"v{version}.json")) as fh:
            return json.load(fh)

    def _commit(
        self,
        files: list[dict],
        op: str,
        expected_version: int,
        deletes: list[dict] | None = None,
        fields: list[dict] | None = None,
    ) -> int:
        """Publish v{expected_version} atomically; raise CommitConflict
        if a concurrent writer claimed it first. ``deletes`` lists the
        version's delete files — positional (g16 merge-on-read tier)
        and/or equality (``kind: "eq"``); omitted/empty means the
        snapshot has no live deletes — compact purges deletes exactly
        by committing without them. ``fields`` is the table's FIELD-ID
        schema mapping ([{id, name}] — Iceberg v2's rename/drop
        mechanism); every mutating op must thread it forward. File
        entries are stamped with a ``seq`` (the committing version) on
        first commit — equality deletes apply only to rows from files
        with seq < the delete's seq (Iceberg's sequence-number rule:
        rows inserted AFTER the delete are not erased by it)."""
        os.makedirs(self._mdir, exist_ok=True)
        for e in files:
            e.setdefault("seq", expected_version)
        final = os.path.join(self._mdir, f"v{expected_version}.json")
        tmp = final + f".{uuid.uuid4().hex}.tmp"
        manifest: dict = {
            "version": expected_version,
            "op": op,
            "files": files,
            "deletes": deletes or [],
        }
        if fields is not None:
            manifest["fields"] = fields
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)  # atomic create-if-absent
        except FileExistsError as exc:
            raise CommitConflict(
                f"version {expected_version} already committed"
            ) from exc
        finally:
            os.unlink(tmp)
        return expected_version

    # -- writes ------------------------------------------------------------
    def _write_files(
        self, df: DataFrame, n_files: int, field_map: dict | None = None
    ) -> list[dict]:
        """Write ``df`` as ``n_files`` immutable parquet files, range-
        distributed on the key so per-file [min, max] spans are disjoint
        (that disjointness is what makes stats pruning bite)."""
        os.makedirs(self._ddir, exist_ok=True)
        stage = os.path.join(self.root, f"_stage_{uuid.uuid4().hex}")
        df.repartitionByRange(n_files, self.key_col).write.mode(
            "overwrite"
        ).parquet(stage)
        schema = _as_read(df.schema).json()
        entries = []
        for name in sorted(os.listdir(stage)):
            if not name.endswith(".parquet"):
                continue
            dst = f"{uuid.uuid4().hex}.parquet"
            os.rename(os.path.join(stage, name), os.path.join(self._ddir, dst))
            rows, lo, hi, stats = _file_stats(
                os.path.join(self._ddir, dst), self.key_col
            )
            if rows == 0:
                os.unlink(os.path.join(self._ddir, dst))
                continue
            # Manifest stats are json.dump'd and compared with < / > in
            # the prune — only orderable JSON scalars are supported as
            # key types (date/timestamp/decimal keys would serialize
            # wrong or not at all; cast them to epoch ints / strings
            # upstream).
            for bound in (lo, hi):
                if not isinstance(bound, (int, float, str, type(None))):
                    raise TypeError(
                        f"key column {self.key_col!r} must be an "
                        f"int/float/string for manifest stats; got "
                        f"{type(bound).__name__}"
                    )
            entry = {
                "file": dst,
                "rows": rows,
                "min_key": lo,
                "max_key": hi,
                # Per-file column list = the manifest's schema-
                # evolution record: readers detect heterogeneous
                # snapshots and plan a mergeSchema scan (read()).
                "columns": list(df.columns),
                # The schema the file reads back with (recorded
                # nullable, so frames differing only in nullability
                # share it): scans of files sharing one are planned
                # without a footer-inference job (_scan).
                "schema": schema,
                # Full per-column [min, max] — read_pruned() skips
                # files on ANY recorded column, not just the key.
                "stats": stats,
            }
            if field_map is not None:
                # physical column name AS WRITTEN -> field id: the
                # immutable record that lets rename/drop be pure
                # metadata ops (the file never changes; readers remap)
                entry["field_ids"] = {
                    c: field_map[c] for c in df.columns if c in field_map
                }
            entries.append(entry)
        shutil.rmtree(stage, ignore_errors=True)
        return entries

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        df: DataFrame,
        key_col: str,
        n_files: int = 4,
        field_ids: bool = False,
    ) -> "ManifestTable":
        """``field_ids=True`` opts the table into the FIELD-ID schema
        mapping (Iceberg v2's rename/drop mechanism): every column
        gets a stable integer id, files record (physical name → id) at
        write time, and rename_column/drop_column become pure metadata
        commits. Legacy (name-mapped) tables behave exactly as before
        — the flag is the format-v2 opt-in."""
        t = cls(spark, root, key_col)
        if t.current_version() != 0:
            raise CommitConflict(f"table already exists at {root}")
        fields = None
        fmap = None
        if field_ids:
            fields = [
                {"id": i + 1, "name": c} for i, c in enumerate(df.columns)
            ]
            fmap = {f["name"]: f["id"] for f in fields}
        t._commit(t._write_files(df, n_files, fmap), "create", 1, None, fields)
        return t

    def _fields(self, m: dict) -> list[dict] | None:
        return m.get("fields")

    def _require_identity_mapping(
        self, m: dict, fields: list[dict], op: str
    ) -> None:
        """Name-binding writer ops (delete_where predicates, merge's
        by-name source binding) are supported on field-id tables only
        while every file's physical names still equal the current
        mapping — i.e. before any rename/drop, or after ``compact``
        re-baselines the physical names. Reads, appends, equality
        deletes, renames and drops never need this."""
        id2cur = {f["id"]: f["name"] for f in fields}
        for e in m["files"]:
            fm = e.get("field_ids") or {}
            for phys, fid in fm.items():
                if id2cur.get(fid, phys) != phys:
                    raise NotImplementedError(
                        f"{op} on a field-id table after rename/drop: "
                        f"file {e['file']} stores {phys!r} for current "
                        f"column {id2cur.get(fid)!r} — run compact() "
                        "first to re-baseline physical names"
                    )

    @staticmethod
    def _phys_name(
        entry: dict, col: str, fields: list[dict] | None
    ) -> str | None:
        """Resolve a CURRENT column name to its physical name in one
        file (identity for legacy tables): current name → field id →
        the file's recorded (physical → id) mapping. None when the
        file predates the column (prune treats it as no-stats =
        conservatively kept)."""
        if fields is None or not entry.get("field_ids"):
            return col
        fid = next((f["id"] for f in fields if f["name"] == col), None)
        if fid is None:
            return None
        return next(
            (p for p, i in entry["field_ids"].items() if i == fid), None
        )

    def append(self, df: DataFrame, n_files: int = 2) -> int:
        v = self.current_version()
        m = self._manifest(v)
        fields = self._fields(m)
        fmap = None
        if fields is not None:
            # additive evolution under field ids: unseen columns get
            # fresh ids appended to the mapping (same commit)
            fields = [dict(f) for f in fields]
            fmap = {f["name"]: f["id"] for f in fields}
            next_id = max((f["id"] for f in fields), default=0) + 1
            for c in df.columns:
                if c not in fmap:
                    fields.append({"id": next_id, "name": c})
                    fmap[c] = next_id
                    next_id += 1
        files = m["files"] + self._write_files(df, n_files, fmap)
        # existing positional deletes stay live (they reference files
        # this append does not touch); equality deletes carry their
        # seq, so the appended rows (seq = v+1) are not erased by them
        return self._commit(files, "append", v + 1, m.get("deletes"), fields)

    def rename_column(self, old: str, new: str) -> int:
        """RENAME via field-id mapping (round-9 verdict ask #6 — the
        G13 seam): a pure metadata commit — no data file changes, the
        field keeps its id, readers remap every file's physical name
        through (field_ids → current name). Time travel still shows
        the old name at old versions (each manifest carries its own
        mapping — Iceberg's snapshot-schema semantics)."""
        v = self.current_version()
        m = self._manifest(v)
        fields = self._fields(m)
        if fields is None:
            raise ValueError(
                "rename_column requires a field-id table "
                "(create(..., field_ids=True))"
            )
        if old == self.key_col:
            # mirroring drop_column's guard: the table key is load-
            # bearing (append/_write_files repartition on it, delete_eq
            # resolves its field id) — renaming it would leave
            # self.key_col stale and surface as confusing downstream
            # errors instead of a clear contract violation here
            raise ValueError(
                f"cannot rename key column {old!r} "
                "(the table key is fixed at create time)"
            )
        if any(f["name"] == new for f in fields):
            raise ValueError(f"column {new!r} already exists")
        fields = [dict(f) for f in fields]
        hit = [f for f in fields if f["name"] == old]
        if not hit:
            raise ValueError(f"no column {old!r}")
        hit[0]["name"] = new
        return self._commit(
            m["files"], "rename_column", v + 1, m.get("deletes"), fields
        )

    def drop_column(self, name: str) -> int:
        """DROP via field-id mapping: the field leaves the mapping —
        data files never change, readers stop projecting the id, and
        time travel still surfaces the column at old versions. The
        key column cannot be dropped (stats pruning and merge key on
        it)."""
        if name == self.key_col:
            raise ValueError("cannot drop the key column")
        v = self.current_version()
        m = self._manifest(v)
        fields = self._fields(m)
        if fields is None:
            raise ValueError(
                "drop_column requires a field-id table "
                "(create(..., field_ids=True))"
            )
        kept = [dict(f) for f in fields if f["name"] != name]
        if len(kept) == len(fields):
            raise ValueError(f"no column {name!r}")
        return self._commit(
            m["files"], "drop_column", v + 1, m.get("deletes"), kept
        )

    def delete_eq(self, values: list) -> dict:
        """EQUALITY DELETE (round-9 verdict ask #6 — the other half of
        Iceberg v2's delete-file story): erase every row whose KEY is
        in ``values`` by writing the values as one immutable equality-
        delete parquet — no scan of the data at delete time at all
        (positional deletes pay one matching scan; equality deletes
        are O(values), the cheapest possible delete). Reads anti-join
        rows from data files with seq < the delete's seq against the
        value set — rows (re-)inserted AFTER the delete survive, the
        Iceberg sequence-number rule, asserted in
        tests/test_lakehouse.py."""
        v = self.current_version()
        m = self._manifest(v)
        fields = self._fields(m)
        if not values:
            return {
                "version": v,
                "deleted_keys": 0,
                "committed": False,
            }
        key_field_id = None
        if fields is not None:
            key_field_id = next(
                (f["id"] for f in fields if f["name"] == self.key_col),
                None,
            )
            if key_field_id is None:
                raise ValueError(
                    f"key column {self.key_col!r} missing from the "
                    "field-id table — the schema no longer carries "
                    "the table key, so equality deletes cannot "
                    "resolve its field id"
                )
        vals = self.spark.createDataFrame(
            [(x,) for x in values], [self.key_col]
        )
        entries = [
            dict(
                e,
                kind="eq",
                col=self.key_col,
                field_id=key_field_id,
                seq=v + 1,
                schema=_as_read(vals.schema).json(),
            )
            for e in self._write_delete_file(vals)
        ]
        deletes = (m.get("deletes") or []) + entries
        try:
            self._commit(m["files"], "delete_eq", v + 1, deletes, fields)
        except CommitConflict:
            for entry in entries:
                os.unlink(os.path.join(self._deldir, entry["file"]))
            raise
        return {
            "version": v + 1,
            "deleted_keys": len(values),
            "committed": True,
        }

    def _write_delete_file(self, frame: DataFrame) -> list[dict]:
        """Write a delete frame — positional (file, pos) refs or
        equality key values — as immutable delete parquet(s); returns
        a {file, rows} entry for EVERY non-empty staged part (empty
        list when the frame is empty), to which the caller adds any
        kind-specific fields. repartition(1) makes one staged file the
        normal case, but every staged part is committed (round-9
        ADVICE fix: keeping only the LAST entry while renaming every
        file would silently unreference earlier delete rows and
        resurrect them on read)."""
        import pyarrow.parquet as pq

        os.makedirs(self._deldir, exist_ok=True)
        stage = os.path.join(self.root, f"_stage_{uuid.uuid4().hex}")
        frame.repartition(1).write.mode("overwrite").parquet(stage)
        entries: list[dict] = []
        for name in sorted(os.listdir(stage)):
            if not name.endswith(".parquet"):
                continue
            n_rows = pq.ParquetFile(
                os.path.join(stage, name)
            ).metadata.num_rows
            if n_rows == 0:
                continue
            dst = f"{uuid.uuid4().hex}.parquet"
            os.rename(
                os.path.join(stage, name), os.path.join(self._deldir, dst)
            )
            entries.append({"file": dst, "rows": n_rows})
        shutil.rmtree(stage, ignore_errors=True)
        return entries

    def _keep_delete_refs(
        self, deletes: list[dict], files: list[dict]
    ) -> list[dict]:
        """Consolidate positional delete refs on the driver: keep only
        the refs into ``files`` and write them as one delete file, or
        none when no ref is kept. The refs are read with pyarrow, not
        Spark: the whole positional delete set is already driver-sized,
        since every read broadcasts it into its anti-join."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        schema = pa.schema([("file", pa.string()), ("pos", pa.int64())])
        refs = pa.concat_tables(
            pq.read_table(
                os.path.join(self._deldir, e["file"]), columns=schema.names
            ).cast(schema)
            for e in deletes
        )
        names = pa.array([e["file"] for e in files], pa.string())
        kept = refs.filter(pc.is_in(refs["file"], value_set=names))
        if kept.num_rows == 0:
            return []
        # invisible until a manifest names it, like a staged data file
        dst = f"{uuid.uuid4().hex}.parquet"
        pq.write_table(kept, os.path.join(self._deldir, dst))
        return [{"file": dst, "rows": kept.num_rows}]

    def delete_where(self, condition) -> dict:
        """Row-level DELETE via POSITIONAL DELETE FILES (round-9
        verdict ask #6 — the merge-on-read half of Iceberg/Delta
        parity; G11–G15 were copy-on-write only): no data file is
        rewritten. The matching rows' (data file name, row position)
        pairs are written as one immutable delete parquet, and the new
        manifest lists the same data files plus the delete entry;
        every read (read / read_pruned / read_pruned_in) reconstructs
        the live view by anti-joining on (file, pos) — see
        :meth:`_apply_deletes`. ``compact`` MATERIALIZES deletes (it
        rewrites through ``read()``, which applies them) and commits
        with an empty delete list — the purge path.

        The candidate scan applies the CURRENT deletes first, so rows
        already deleted are never re-referenced (delete files stay
        disjoint by construction). A predicate matching nothing is a
        no-op (no snapshot committed). Optimistic concurrency is the
        merge() protocol: positions are computed against the HEAD
        read, and the ``os.link`` race surfaces as
        :class:`CommitConflict` — retry by calling again (positions
        are recomputed against the new HEAD; cheap, since a delete
        writes only the matching positions, not data).

        At 100 TB this is the cheap-delete lever: cost is
        proportional to the MATCHED rows (one scan + a small delete
        file), not to the table — the reason merge-on-read exists.
        ``condition``: a Column or SQL string over the table schema.
        """
        cond = F.expr(condition) if isinstance(condition, str) else condition
        v = self.current_version()
        m = self._manifest(v)
        fields = self._fields(m)
        if fields is not None:
            self._require_identity_mapping(
                m, fields, "delete_where"
            )  # post-rename predicates would bind to stale names
        # project (file, pos) straight off the scan relation —
        # _metadata is only addressable there — THEN subtract the
        # current deletes so already-deleted rows are never
        # re-referenced (delete files stay disjoint by construction)
        scan = self._scan(m["files"])
        matches = scan.filter(cond).select(
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("file"),
            F.col("_metadata.row_index").alias("pos"),
        )
        # subtract only POSITIONAL priors — eq files carry key values,
        # not (file, pos); a row an eq delete already erased being
        # re-referenced positionally is harmless (deletion idempotent)
        cur = [
            e for e in (m.get("deletes") or []) if e.get("kind") != "eq"
        ]
        if cur:
            prior = self._read_pos_deletes(cur)
            matches = matches.join(prior, ["file", "pos"], "left_anti")
        entries = self._write_delete_file(matches)
        if not entries:
            # predicate matched nothing: NO snapshot is committed, so
            # the head version does NOT advance (round-9 ADVICE: the
            # no-op contract is explicit in the return — callers doing
            # version arithmetic must branch on `committed`, not count
            # their delete_where calls)
            return {
                "version": v,
                "deleted_rows": 0,
                "delete_files": 0,
                "committed": False,
            }
        deletes = (m.get("deletes") or []) + entries
        try:
            self._commit(m["files"], "delete", v + 1, deletes, fields)
        except CommitConflict:
            for entry in entries:
                os.unlink(os.path.join(self._deldir, entry["file"]))
            raise
        return {
            "version": v + 1,
            "deleted_rows": sum(e["rows"] for e in entries),
            "delete_files": len(deletes),
            "committed": True,
        }

    def _fits_broadcast(self, keys: DataFrame, rows: int) -> bool:
        """Whether ``rows`` rows of the one-column ``keys`` fit the
        session's own ``spark.sql.autoBroadcastJoinThreshold`` at
        Spark's default width for the key type (−1 never fits)."""
        conf = self.spark._jsparkSession.sessionState().conf()
        width = keys._jdf.schema().apply(0).dataType().defaultSize()
        return 0 <= rows * width <= conf.autoBroadcastJoinThreshold()

    def merge(
        self, source: DataFrame, n_files: int = 2, max_retries: int = 0
    ) -> dict:
        """Copy-on-write upsert: source rows replace same-key rows and
        insert new keys. Files whose [min_key, max_key] cannot overlap
        the source's key range are carried forward without a rewrite.
        A file committed WITHOUT key bounds (footer lacked min/max
        statistics) is conservatively treated as always overlapping —
        it is rewritten rather than risking a silently-missed update.

        Additive schema evolution holds on the WRITE path too: touched
        files are scanned with the same heterogeneity-aware mergeSchema
        logic ``read()`` uses, and the rewrite unions via
        ``unionByName(allowMissingColumns=True)`` — so a source
        carrying a NEW column upserts cleanly (old rows surface NULL),
        and a source MISSING an evolved column never drops it from the
        rewritten files (the g13 additive contract; certified by g15's
        oracle hash and tests/test_lakehouse.py).

        Optimistic concurrency: each attempt prunes and rewrites
        against the HEAD it read, then tries to publish HEAD+1. If a
        concurrent writer won the ``os.link`` race, the attempt's
        freshly-written files (referenced by no manifest) are unlinked
        and the prune + rewrite REPLAYS against the new HEAD — so a
        retry sees the other writer's rows, re-decides which files
        overlap, and still carries forward everything outside the
        source's key range. Up to ``max_retries`` replays
        (0 = raise :class:`CommitConflict` on first loss). An empty
        source is a no-op (no snapshot committed).

        The source's row count rides the key-range aggregate; when
        count × key width fits the session's broadcast threshold the
        source keys are broadcast into the anti-join. Spark often
        cannot size the source itself (a join, say), and without the
        hint it plans a sort-merge join that shuffles the touched rows
        once for the join and again for the range repartition of the
        rewrite."""
        lohi = source.agg(
            F.min(self.key_col).alias("lo"),
            F.max(self.key_col).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]  # 1-row bounded scalar
        if lohi["lo"] is None:
            v = self.current_version()
            return {
                "version": v,
                "files_rewritten": 0,
                "files_carried": len(self._manifest(v)["files"]) if v else 0,
                "retries": 0,
            }
        keys = source.select(self.key_col)
        if self._fits_broadcast(keys, lohi["n"]):
            keys = F.broadcast(keys)
        for attempt in range(max_retries + 1):
            v = self.current_version()
            m = self._manifest(v)
            fields = self._fields(m)
            fmap = None
            if fields is not None:
                # merge binds source columns by NAME: require the
                # physical names to still equal the current mapping
                # (rename first, then merge, is the unsupported order
                # — compact() re-baselines the physical names)
                self._require_identity_mapping(m, fields, "merge")
                fmap = {f["name"]: f["id"] for f in fields}
            snap = m["files"]
            deletes = m.get("deletes") or []
            touched = [
                e
                for e in snap
                if e["min_key"] is None
                or e["max_key"] is None
                or not (e["max_key"] < lohi["lo"] or e["min_key"] > lohi["hi"])
            ]
            carried = [e for e in snap if e not in touched]
            if touched:
                # apply live positional deletes during the rewrite so
                # rewritten files MATERIALIZE them
                old = self._scan(touched, deletes)
                merged = old.join(
                    keys, self.key_col, "left_anti"
                ).unionByName(source, allowMissingColumns=True)
            else:
                merged = source
            new_files = self._write_files(merged, n_files, fmap)
            pos_dels = [e for e in deletes if e.get("kind") != "eq"]
            eq_dels = [e for e in deletes if e.get("kind") == "eq"]
            if pos_dels and touched:
                # CONSOLIDATE the positional refs (round-9 review fix):
                # refs to the rewritten (now-dropped) files are
                # already materialized above — recommitting them
                # whole would make history()'s deleted_rows overcount
                # and break the n_rows − deleted_rows live-row
                # arithmetic. Keep only refs to carried files,
                # rewritten as one small delete file. Equality deletes
                # carry forward UNCHANGED: their seq still precedes
                # the carried files', and the rewritten files (seq =
                # v+1) are correctly outside their reach — the rewrite
                # scan above already materialized them.
                new_deletes = (
                    self._keep_delete_refs(pos_dels, carried) + eq_dels
                )
            else:
                new_deletes = deletes
            try:
                self._commit(
                    carried + new_files, "merge", v + 1, new_deletes, fields
                )
            except CommitConflict:
                for e in new_files:  # orphans of the lost attempt
                    try:
                        os.unlink(os.path.join(self._ddir, e["file"]))
                    except FileNotFoundError:
                        pass
                for e in new_deletes:  # consolidated-delete orphan
                    if e not in deletes:
                        try:
                            os.unlink(
                                os.path.join(self._deldir, e["file"])
                            )
                        except FileNotFoundError:
                            pass
                if attempt == max_retries:
                    raise
                continue
            return {
                "version": v + 1,
                "files_rewritten": len(touched),
                "files_carried": len(carried),
                "retries": attempt,
            }

    # -- reads -------------------------------------------------------------
    def _apply_all_deletes(
        self,
        df: DataFrame,
        deletes: list[dict],
        entries: list[dict],
        phys_key: str,
    ) -> DataFrame:
        """Apply a snapshot's delete set — positional AND equality —
        to a raw file scan. With no equality deletes this delegates
        to the original positional path unchanged (g16's plan stays
        byte-identical). Equality semantics: drop rows whose key
        matches a delete's value set, but only rows from data files
        whose seq PRECEDES the delete (the Iceberg sequence-number
        rule — a key re-inserted after the delete survives).
        ``phys_key`` is the key column's physical name in THIS scan
        (renames can make it differ from key_col). _metadata is
        materialized ONCE up front: it only resolves on the scan
        relation, so both delete kinds ride the same projection."""
        pos = [e for e in deletes if e.get("kind") != "eq"]
        eq = [e for e in deletes if e.get("kind") == "eq"]
        if not eq:
            return self._apply_deletes(df, pos)
        cols = df.columns
        fcol, pcol = "_gdm_del_file", "_gdm_del_pos"
        while fcol in cols or pcol in cols:
            fcol += "_"
            pcol += "_"
        df = df.withColumn(
            fcol,
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        ).withColumn(pcol, F.col("_metadata.row_index"))
        if pos:
            dels = self._read_pos_deletes(pos)
            df = df.join(
                dels.select(
                    F.col("file").alias(fcol), F.col("pos").alias(pcol)
                ),
                [fcol, pcol],
                "left_anti",
            )
        for e in eq:
            affected = [
                f["file"]
                for f in entries
                if f.get("seq", 0) < e.get("seq", 0)
            ]
            if not affected:
                continue
            vals = self._read_files(self._deldir, [e], _shared_schema([e]))
            vcol = vals.columns[0]
            kcol = "_gdm_eq_key"
            while kcol in cols:
                kcol += "_"
            vals = vals.select(F.col(vcol).alias(kcol))
            df = df.join(
                vals,
                (F.col(phys_key) == F.col(kcol))
                & F.col(fcol).isin(affected),
                "left_anti",
            )
        return df.select(*cols)

    def _apply_deletes(
        self, df: DataFrame, deletes: list[dict]
    ) -> DataFrame:
        """Merge-on-read reconstruction (g16, the Iceberg-v2
        positional-delete shape): anti-join the scan against the
        union of the snapshot's delete files on (data file name, row
        position within the file). ``_metadata.row_index`` is the
        position — stable per file regardless of split parallelism —
        so a delete written under one read plan erases the same rows
        under any other. MERGE consolidates delete refs eagerly (refs to
        rewritten files are dropped so history()'s deleted_rows stays
        exact); a ref to a missing file would simply never match. The
        anti-join's build side is the delete set, which is small by
        construction (deletes proportional to deleted rows, not table
        size): its files are small on disk, so the static planner
        already broadcasts the delete scan, and the read cost stays
        one scan of the data."""
        cols = df.columns
        # collision-proof join-key names: a user table may legally
        # carry columns named _file/_pos (round-9 review fix — a
        # withColumn on a taken name silently REPLACES the user's data)
        fcol, pcol = "_gdm_del_file", "_gdm_del_pos"
        while fcol in cols or pcol in cols:
            fcol += "_"
            pcol += "_"
        dels = self._read_pos_deletes(deletes)
        return (
            df.withColumn(
                fcol,
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ),
            )
            .withColumn(pcol, F.col("_metadata.row_index"))
            .join(
                dels.select(
                    F.col("file").alias(fcol), F.col("pos").alias(pcol)
                ),
                [fcol, pcol],
                "left_anti",
            )
            .select(*cols)
        )

    def _read_files(
        self, where: str, entries: list[dict], schema, merge: bool = False
    ) -> DataFrame:
        """Plan a parquet scan of ``entries``' files under ``where``.
        A known ``schema`` (StructType or DDL string) plans it without
        the 1-task footer-inference job Spark otherwise starts; None
        infers it, merging the footers' schemas when ``merge``."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        elif merge:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(
            *[os.path.join(where, e["file"]) for e in entries]
        )

    def _read_pos_deletes(self, deletes: list[dict]) -> DataFrame:
        return self._read_files(self._deldir, deletes, _POS_DELETE_SCHEMA)

    def _scan(
        self, entries: list[dict], deletes: list[dict] | None = None
    ) -> DataFrame:
        """Plan a scan over exactly ``entries``' files. When the
        entries record heterogeneous per-file column lists (schema
        evolution: an append added columns), the scan runs with
        mergeSchema so pre-evolution files surface the new columns as
        NULL — the footers stay authoritative, the manifest only
        decides WHETHER the (footer-sampling) merge pass is needed.
        An entry without a recorded column list (pre-columns manifest)
        is conservatively treated as its own schema group. When every
        entry recorded the same write schema, the scan is planned with
        it and no footer is read. Shared by read(), read_pruned(),
        read_pruned_in() and merge()'s touched-file rewrite so every
        path sees identical evolved schemas."""
        # An entry without a recorded column list (pre-columns
        # manifest) keys on its file name so each legacy file forms
        # its OWN schema group — two legacy files with genuinely
        # different footers must still trigger mergeSchema (a shared
        # None sentinel would collapse them into one group and scan
        # without it, silently dropping columns).
        col_sets = {tuple(e["columns"]) if "columns" in e
                    else ("__nocols__", e["file"]) for e in entries}
        df = self._read_files(
            self._ddir, entries, _shared_schema(entries), len(col_sets) > 1
        )
        if deletes:
            df = self._apply_all_deletes(
                df, deletes, entries, self.key_col
            )
        return df

    def _scan_fields(
        self,
        entries: list[dict],
        deletes: list[dict] | None,
        fields: list[dict],
    ) -> DataFrame:
        """FIELD-ID scan (Iceberg v2 schema-mapping semantics): files
        are grouped by their immutable (physical name → field id)
        mapping, each group is scanned once, deletes are applied on
        the group's raw scan (positional needs _metadata; equality
        needs the group's PHYSICAL key name), and each group projects
        physical names → CURRENT names through the manifest's field
        list — so renames and drops are pure metadata and old files
        never change. Groups union by name with missing columns as
        NULL (a file written before a column existed surfaces NULL —
        the additive contract, now id-addressed)."""
        id2cur = {f["id"]: f["name"] for f in fields}
        key_id = next(
            (f["id"] for f in fields if f["name"] == self.key_col), None
        )
        groups: dict = {}
        for e in entries:
            fmap = e.get("field_ids") or {c: None for c in e["columns"]}
            key = tuple(sorted(fmap.items()))
            groups.setdefault(key, []).append(e)
        frames = []
        for key, group in groups.items():
            fmap = dict(key)
            df = self._read_files(self._ddir, group, _shared_schema(group))
            if deletes:
                phys_key = next(
                    (
                        phys
                        for phys, fid in fmap.items()
                        if fid == key_id
                    ),
                    self.key_col,
                )
                df = self._apply_all_deletes(df, deletes, group, phys_key)
            sel = [
                F.col(phys).alias(id2cur[fid])
                for phys, fid in key
                if fid in id2cur
            ]
            frames.append(df.select(*sel))
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr, allowMissingColumns=True)
        # stable column order: the manifest's field order
        current = [f["name"] for f in fields if f["name"] in out.columns]
        return out.select(*current)

    def read(self, version: int | None = None) -> DataFrame:
        """Plan a scan over exactly this version's file list (see
        :meth:`_scan` for the schema-evolution mergeSchema contract),
        applying the version's positional-delete files (merge-on-read;
        a snapshot without deletes plans the identical bare scan as
        before the g16 tier existed)."""
        m = self._manifest(version or self.current_version())
        fields = self._fields(m)
        if fields is not None:
            return self._scan_fields(m["files"], m.get("deletes"), fields)
        return self._scan(m["files"], m.get("deletes"))

    def read_pruned(
        self, col: str, lo, hi, version: int | None = None
    ) -> DataFrame:
        """Scan only the files whose recorded [min, max] for ``col``
        can overlap [lo, hi] — manifest-level predicate pruning on ANY
        stats-recorded column, not just the key (a file without stats
        for ``col`` is conservatively kept). The caller still applies
        the row-level filter: pruning is a file-skip optimization and
        MUST NOT change results — certified by g14's oracle hash.
        Whether it bites depends on layout: key-range distribution
        makes the key column prune perfectly; secondary columns prune
        where the layout correlates (Z-order/partitioning, A8, is the
        lever)."""
        m = self._manifest(version or self.current_version())
        fields = self._fields(m)
        keep = []
        for e in m["files"]:
            st = e.get("stats", {}).get(self._phys_name(e, col, fields))
            if st is None or not (st[1] < lo or st[0] > hi):
                keep.append(e)
        if not keep:
            return self.read(version).filter(F.lit(False))
        # deletes referencing skipped files simply never match the
        # anti-join — pruning and merge-on-read compose for free
        if fields is not None:
            return self._scan_fields(keep, m.get("deletes"), fields)
        return self._scan(keep, m.get("deletes"))

    def read_pruned_in(
        self, col: str, values: list, version: int | None = None
    ) -> DataFrame:
        """Scan only the files whose recorded [min, max] for ``col``
        can contain AT LEAST ONE of ``values`` — the discrete-set
        sibling of :meth:`read_pruned` (a file without stats for
        ``col`` is conservatively kept). With a key-range-distributed
        layout this is exact file-level point lookup: probing lists
        {3, 17} reads only the files whose span covers 3 or 17, not
        everything in [3, 17] — the IVF probe path (k14b/ivf_query)
        rides this. Same non-negotiable contract as read_pruned: the
        caller still applies the row-level filter; pruning must never
        change results."""
        m = self._manifest(version or self.current_version())
        fields = self._fields(m)
        keep = []
        for e in m["files"]:
            st = e.get("stats", {}).get(self._phys_name(e, col, fields))
            if st is None or any(st[0] <= v <= st[1] for v in values):
                keep.append(e)
        if not keep:
            return self.read(version).filter(F.lit(False))
        if fields is not None:
            return self._scan_fields(keep, m.get("deletes"), fields)
        return self._scan(keep, m.get("deletes"))

    def history(self) -> list[dict]:
        out = []
        for v in range(1, self.current_version() + 1):
            m = self._manifest(v)
            dels = m.get("deletes") or []
            pos = [e for e in dels if e.get("kind") != "eq"]
            eq = [e for e in dels if e.get("kind") == "eq"]
            out.append(
                {
                    "version": v,
                    "op": m["op"],
                    "n_files": len(m["files"]),
                    # data-file row total; live rows = this minus
                    # deleted_rows (exact: merge consolidates refs,
                    # so no stale delete ref is ever counted).
                    # Equality deletes are key-value counts, not row
                    # positions — reported separately (an eq key may
                    # erase 0..n rows depending on the data).
                    "n_rows": sum(e["rows"] for e in m["files"]),
                    "n_delete_files": len(dels),
                    "deleted_rows": sum(e["rows"] for e in pos),
                    "eq_deleted_keys": sum(e["rows"] for e in eq),
                }
            )
        return out


# ---------------------------------------------------------------------------
# Maintenance operations (the OPTIMIZE / VACUUM pair)
# ---------------------------------------------------------------------------
def compact(table: ManifestTable, n_files: int = 2) -> int:
    """Rewrite the current snapshot into ``n_files`` files (bin-pack
    OPTIMIZE): content-identical by construction — the new manifest
    lists only the rewritten files, while older snapshots keep
    referencing the originals (time travel unaffected until expiry).
    At 100 TB this runs per partition/key-range slice; here the
    table-wide form keeps the protocol identical."""
    v = table.current_version()
    m = table._manifest(v)
    fields = table._fields(m)
    fmap = (
        {f["name"]: f["id"] for f in fields} if fields is not None else None
    )
    # read() applies deletes AND (on field-id tables) the current
    # rename/drop mapping — so compact materializes deletes and
    # RE-BASELINES physical names to the current schema in one pass
    files = table._write_files(table.read(version=v), n_files, fmap)
    return table._commit(files, "compact", v + 1, None, fields)


def expire_snapshots(table: ManifestTable, keep_last: int = 1) -> dict:
    """Drop all but the newest ``keep_last`` manifests, then
    garbage-collect data files no surviving manifest references —
    the VACUUM step that actually frees storage after compaction.
    Deletion order is safety-ordered: manifests first (so a reader
    can never load a manifest whose files are gone), then orphans."""
    cur = table.current_version()
    # keep_last >= cur keeps everything: clamp so the live-file walk
    # below never asks for a manifest version < 1.
    cutoff = max(1, cur - keep_last + 1)
    removed_manifests = 0
    for v in range(1, cutoff):
        p = os.path.join(table._mdir, f"v{v}.json")
        if os.path.exists(p):
            os.unlink(p)
            removed_manifests += 1
    live = set()
    live_dels = set()
    for v in range(cutoff, cur + 1):
        m = table._manifest(v)
        live.update(e["file"] for e in m["files"])
        live_dels.update(e["file"] for e in m.get("deletes") or [])
    removed_files = 0
    for name in os.listdir(table._ddir):
        if name.endswith(".parquet") and name not in live:
            os.unlink(os.path.join(table._ddir, name))
            removed_files += 1
    removed_deletes = 0
    if os.path.isdir(table._deldir):
        for name in os.listdir(table._deldir):
            if name.endswith(".parquet") and name not in live_dels:
                os.unlink(os.path.join(table._deldir, name))
                removed_deletes += 1
    return {
        "removed_manifests": removed_manifests,
        "removed_data_files": removed_files,
        "removed_delete_files": removed_deletes,
    }
