"""The benchmark's workloads.

Each workload is one client in a closed loop: an operation starts only
after the previous one has finished. A pass runs every operation of the
workload once. Set-up ends with ``WARMUP_PASSES`` untimed passes.

``query_mix`` builds each query with ``queries[name](spark, sf_dir)``
and materialises it with the JVM ``noop`` sink, in an order permuted by
the workload seed. Its warm-up pass collects every result instead, and
those results are checked once after the timed passes.

``lakehouse_ingest`` runs the public write and read calls of
``lakehouse.ManifestTable`` on a table made from ``orders``, with key
slices chosen by the workload seed, and checks every pass against a
model of the rows the table must hold.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from stats import pass_order
from tracing import Tracer

WARMUP_PASSES = 1
RELATIONAL = ("customer", "lineitem", "nation", "orders", "part", "region", "supplier")

# Query groups of query_mix: the layer each group loads is documented in
# README.md, with the per-query times the groups were chosen from.
QUERY_GROUPS = {
    "olap": ["q1_pricing_summary", "q5_local_supplier_volume", "c2_shuffle_join"],
    "geo": ["i31_path_self_intersections", "i67_spherical_geofence"],
    "graph": ["n1_connected_components"],
}


@dataclass
class Context:
    spark: object
    sf_dir: str
    seed: int
    workdir: str
    tracer: Tracer


@dataclass
class PassResult:
    pass_index: int
    seconds: float = 0.0
    latencies: dict[str, float] = field(default_factory=dict)
    failed: list[str] = field(default_factory=list)
    details: dict = field(default_factory=dict)

    def fail_all(self) -> None:
        """Count every operation of the pass as failed: its output is wrong."""
        self.failed.extend(self.latencies)
        self.latencies.clear()


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f} s] {msg}", file=sys.stderr, flush=True)


def _fail(op: str, exc: BaseException) -> None:
    _log(f"{op} failed: {exc!r}")
    traceback.print_exc(file=sys.stderr)


def fill_hot_tables(ctx: Context, tables) -> None:
    """First materialisation of each ``sources.load`` table: in hot-table
    mode this fills Spark's in-memory cache."""
    from glonassdatamining_spark.sources import load

    for table in tables:
        with ctx.tracer.span(f"sources.load:{table}", "sources"):
            load(ctx.spark, ctx.sf_dir, table).count()


class QueryMix:
    def __init__(self, ctx: Context) -> None:
        from glonassdatamining_spark import registry

        self.ctx = ctx
        self.groups = QUERY_GROUPS
        self.registry = registry
        self.builders = registry.all_queries()
        self.results: dict = {}
        self.warm_failed: set[str] = set()

    def ops(self) -> list[str]:
        return [q for names in self.groups.values() for q in names]

    def setup(self) -> None:
        fill_hot_tables(self.ctx, RELATIONAL)
        _log("hot tables filled")
        self._collect_pass(0)
        _log("warm-up pass 0 collected")
        for p in range(1, WARMUP_PASSES):
            self.run_pass(p)
            _log(f"warm-up pass {p} done")

    def _collect_pass(self, pass_index: int) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        for name in pass_order(self.ops(), ctx.seed, pass_index):
            try:
                with tr.span(name, "query", pass_index, name):
                    with tr.span("build", "build", pass_index, name):
                        df = self.builders[name](ctx.spark, ctx.sf_dir)
                    with tr.span("collect", "exec", pass_index, name):
                        result = df.toPandas()
                self.results.setdefault(name, result)
            except Exception as exc:  # a failed query is counted, the run goes on
                _fail(name, exc)
                self.warm_failed.add(name)

    def run_pass(self, pass_index: int) -> PassResult:
        ctx, tr = self.ctx, self.ctx.tracer
        out = PassResult(pass_index)
        t0 = time.perf_counter()
        with tr.span("pass", "pass", pass_index):
            for name in pass_order(self.ops(), ctx.seed, pass_index):
                q0 = time.perf_counter()
                try:
                    with tr.span(name, "query", pass_index, name):
                        with tr.span("build", "build", pass_index, name):
                            df = self.builders[name](ctx.spark, ctx.sf_dir)
                        with tr.span("noop", "exec", pass_index, name):
                            df.write.format("noop").mode("overwrite").save()
                    out.latencies[name] = time.perf_counter() - q0
                except Exception as exc:  # a failed query is counted, the run goes on
                    _fail(name, exc)
                    out.failed.append(name)
        out.seconds = time.perf_counter() - t0
        return out

    def verify(self) -> dict[str, str | None]:
        """Check each warm-up result; None marks a verified query."""
        from conftest import oracle_con
        from verify import check

        oracles = self.registry.all_oracles()
        con = oracle_con(self.ctx.sf_dir)
        try:
            verdict = {}
            for name in self.ops():
                if name in self.warm_failed:
                    verdict[name] = "failed during warm-up"
                    continue
                verdict[name] = check(self.results[name], oracles[name], con)
            return verdict
        finally:
            con.close()


def lakehouse_slices(seed: int, pass_index: int, live: int, slice_rows: int) -> dict[str, int]:
    """The key slices of one lakehouse pass, as offsets into the live key
    range: the start of the clustered merge, the phase of the spread
    merge (every ``live // slice_rows``-th key) and the start of the
    pruned read."""
    rng = random.Random(f"slices:{seed}:{pass_index}")
    return {
        "clustered": rng.randrange(0, live - slice_rows + 1),
        "spread_phase": rng.randrange(0, live // slice_rows),
        "pruned": rng.randrange(0, live - slice_rows + 1),
    }


class LakehouseIngest:
    """A rolling window of ``LIVE`` orders keyed on ``o_orderkey``. Each
    pass appends the next ``SLICE`` keys, deletes the oldest ``SLICE``,
    merges one clustered and one spread slice of ``SLICE`` keys, reads
    one pruned key range and the whole table, then compacts and expires
    snapshots."""

    LIVE = 150_000
    SLICE = 10_000
    FILES = 8
    OPS = (
        "append", "delete_where", "merge_clustered", "merge_spread",
        "read_pruned", "read", "compact",
    )

    def __init__(self, ctx: Context) -> None:
        import pyarrow.parquet as pq

        self.ctx = ctx
        self.root = os.path.join(ctx.workdir, "lakehouse", "orders")
        orders = pq.read_table(
            os.path.join(ctx.sf_dir, "orders.parquet"), columns=["o_orderkey", "o_totalprice"]
        )
        keys = orders.column("o_orderkey").to_numpy()
        if len(keys) != self.LIVE or not np.array_equal(keys, np.arange(self.LIVE)):
            raise ValueError("lakehouse_ingest needs orders keyed 0..LIVE-1 in order")
        self.base = orders.column("o_totalprice").to_numpy()
        self.low = 0
        self.price = self.base.copy()
        self.table = None

    def setup(self) -> None:
        from glonassdatamining_spark.lakehouse import ManifestTable
        from glonassdatamining_spark.sources import load

        fill_hot_tables(self.ctx, ("orders",))
        with self.ctx.tracer.span("ManifestTable.create", "lakehouse"):
            self.table = ManifestTable.create(
                self.ctx.spark, self.root, load(self.ctx.spark, self.ctx.sf_dir, "orders"),
                "o_orderkey", n_files=self.FILES,
            )
        for p in range(WARMUP_PASSES):
            result = self.run_pass(p)
            if result.failed:
                raise RuntimeError(f"lakehouse warm-up pass failed: {result.failed}")

    def _rows(self, keys, bump: float):
        """Orders rows re-keyed onto ``keys`` (a ``spark.range`` frame),
        with ``bump`` added to the price."""
        from pyspark.sql import functions as F

        from glonassdatamining_spark.sources import load

        orders = load(self.ctx.spark, self.ctx.sf_dir, "orders")
        return keys.join(orders, (F.col("id") % self.LIVE) == F.col("o_orderkey")).select(
            F.col("id").alias("o_orderkey"), "o_custkey", "o_orderstatus",
            (F.col("o_totalprice") + F.lit(bump)).alias("o_totalprice"),
            "o_orderdate", "o_orderpriority",
        )

    def _base(self, keys: np.ndarray) -> np.ndarray:
        return self.base[keys % self.LIVE]

    def _agg(self, df) -> tuple[int, float]:
        from pyspark.sql import functions as F

        row = df.agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s")).collect()[0]
        return int(row["n"]), float(row["s"] or 0.0)

    def _disk(self) -> dict[str, int]:
        sizes = {}
        for dirpath, _, files in os.walk(self.root):
            for f in files:
                p = os.path.join(dirpath, f)
                sizes[p] = os.path.getsize(p)
        return sizes

    def live_files(self) -> int:
        path = os.path.join(self.root, "_manifests", f"v{self.table.current_version()}.json")
        with open(path) as fh:
            return len(json.load(fh)["files"])

    def run_pass(self, pass_index: int) -> PassResult:
        from glonassdatamining_spark.lakehouse import compact, expire_snapshots
        from pyspark.sql import functions as F

        ctx, tr, t = self.ctx, self.ctx.tracer, self.table
        spark, S, L = ctx.spark, self.SLICE, self.LIVE
        sl = lakehouse_slices(ctx.seed, pass_index, L, S)
        bump = float(pass_index + 1)
        out = PassResult(pass_index)
        checks: list[str] = []
        tracing = tr.tag_jobs
        written = 0
        before = self._disk() if tracing else {}
        live_after: dict[str, int] = {}

        def op(name, fn):
            nonlocal before, written
            q0 = time.perf_counter()
            try:
                with tr.span(name, "lakehouse", pass_index, name):
                    value = fn()
                out.latencies[name] = time.perf_counter() - q0
            except Exception as exc:  # a failed op is counted, the pass goes on
                _fail(name, exc)
                out.failed.append(name)
                return None
            if tracing:
                after = self._disk()
                written += sum(size for p, size in after.items() if p not in before)
                before = after
                live_after[name] = self.live_files()
            return value

        t0 = time.perf_counter()
        with tr.span("pass", "pass", pass_index):
            top = self.low + L
            op("append", lambda: t.append(self._rows(spark.range(top, top + S), 0.0)))
            res = op("delete_where", lambda: t.delete_where(F.col("o_orderkey") < self.low + S))
            if res is not None and res["deleted_rows"] != S:
                checks.append(f"delete_where removed {res['deleted_rows']} rows, not {S}")
            low = self.low + S
            c0 = low + sl["clustered"]
            clustered = op(
                "merge_clustered",
                lambda: t.merge(self._rows(spark.range(c0, c0 + S), bump), n_files=2),
            )
            stride = L // S
            s0 = low + sl["spread_phase"]
            spread = op(
                "merge_spread",
                lambda: t.merge(self._rows(spark.range(s0, low + L, stride), bump + 0.5),
                                n_files=self.FILES),
            )
            r0 = low + sl["pruned"]
            pruned_df = None

            def read_pruned():
                nonlocal pruned_df
                pruned_df = t.read_pruned("o_orderkey", r0, r0 + S - 1)
                return self._agg(pruned_df.filter(F.col("o_orderkey").between(r0, r0 + S - 1)))

            pruned = op("read_pruned", read_pruned)
            full = op("read", lambda: self._agg(t.read()))
            # one operation: expire alone takes milliseconds, too short to time
            op("compact", lambda: (compact(t, n_files=self.FILES), expire_snapshots(t, keep_last=1)))
        out.seconds = time.perf_counter() - t0

        # the model: same window, same bumps
        keys = np.arange(self.low + S, low + L)
        self.price = np.concatenate([self.price[S:], self._base(np.arange(top, top + S))])
        self.low = low
        self.price[sl["clustered"]:sl["clustered"] + S] = self._base(np.arange(c0, c0 + S)) + bump
        spread_idx = np.arange(sl["spread_phase"], L, stride)
        self.price[spread_idx] = self._base(keys[spread_idx]) + (bump + 0.5)
        want_pruned = (S, float(self.price[sl["pruned"]:sl["pruned"] + S].sum()))
        want_full = (L, float(self.price.sum()))
        for label, got, want in (("read_pruned", pruned, want_pruned), ("read", full, want_full)):
            if got is not None and (got[0] != want[0] or not np.isclose(got[1], want[1], rtol=1e-9)):
                checks.append(f"{label} gave {got}, model {want}")
        if checks:
            _log(f"pass {pass_index} check failed: {checks}")
            out.fail_all()
        if tracing:
            scanned = [f for f in pruned_df.inputFiles() if "/data/" in f] if pruned_df else []
            out.details = {
                "bytes_written": written,
                "rows_changed": 4 * S,
                "files_scanned": len(scanned),
                "live_files": max(live_after.values(), default=0),
                "live_files_at_read": live_after.get("read_pruned", 0),
                "merge_clustered": clustered,
                "merge_spread": spread,
            }
        return out
