"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run reads the engine's sf0.1
tables from ``perfbench/data/sf0.1``, starts a Spark session through
``session.get_spark`` on ``local[nproc]``, sets up the workload
(hot-table fill and a warm-up pass), runs timed passes for
``--seconds``, checks the outputs and prints one JSON line last.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics and writes the spans and Spark counters to
``.perfbench/traces/``. Everything the run writes stays
under ``.perfbench/`` in the checkout, and its work directory is
removed at the end. Only one run may be active in a checkout.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from tracing import SparkStatus, Tracer, attach  # noqa: E402
from workloads import WARMUP_PASSES, Context, LakehouseIngest, QueryMix, _log  # noqa: E402

WORKLOADS = {"query_mix": QueryMix, "lakehouse_ingest": LakehouseIngest}
MIN_PASSES = 4
DRIVER_MEMORY = "4g"
STATE = ".perfbench"
# a byte-for-byte copy of the engine's sf0.1 fixture, the input bench.py
# reads; kept in the checkout so the run reads nothing outside it
SF_DIR = os.path.join(HERE, "data", "sf0.1")
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "query_tail_ratio": "ratio",
    "ok_frac": "fraction",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.cache_fill_s": "s",
    "sources.cached_mb": "MB",
    "build.s": "s",
    "build.jobs": "count",
    "build.job_s": "s",
    "build.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "tasks": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s",
    "spill_mb": "MB",
    "python.s": "s",
    "python.mb_in": "MB",
    "python.mb_out": "MB",
    "lakehouse.jobs": "count",
    "lakehouse.append_s": "s",
    "lakehouse.merge_s": "s",
    "lakehouse.delete_s": "s",
    "lakehouse.read_s": "s",
    "lakehouse.compact_s": "s",
    "lakehouse.bytes_written_per_row": "B/row",
    "lakehouse.files_scanned_frac": "fraction",
    "lakehouse.live_files": "count",
    "olap.python_s": "s",
    "geo.python_min_query_s": "s",
    "graph.build_frac": "fraction",
    "trace.pass_s": "s",
    "trace.overhead": "ratio",
    "trace.gap_s": "s",
}
# Settings only the traced run needs: status-store retention large
# enough that no job, stage or SQL execution of a run is dropped.
TRACE_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}


def traced_pass(i: int) -> bool:
    """Traced runs tag jobs on timed passes 0, 3, 4, 7, 8, … and leave
    1, 2, 5, 6, … untagged; the ABBA order keeps a steady drift in pass
    time out of the tracing-overhead ratio."""
    return i % 4 in (0, 3)


def _proc_stats() -> dict[int, tuple[int, int, int]]:
    """(parent pid, virtual size, resident pages) of every process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(entry)] = (int(fields[1]), int(fields[20]), int(fields[21]))
    return out


def process_tree(root: int, stats_by_pid=None) -> set[int]:
    """``root`` and every process descended from it."""
    procs = stats_by_pid if stats_by_pid is not None else _proc_stats()
    tree, frontier = {root}, [root]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, st in procs.items() if st[0] == pid and p not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def tree_rss_pages(root: int, procs: dict[int, tuple[int, int, int]]) -> int:
    """Summed resident pages of ``root`` and all its descendants. A child
    that still shares its parent's address space (the instant between
    the JVM's vfork and exec of a helper process) shows the parent's
    size and resident set and is not counted twice."""
    pages = 0
    for pid in process_tree(root, procs):
        ppid, vsize, rss = procs[pid]
        if pid != root and procs.get(ppid, (0, 0, 0))[1:] == (vsize, rss):
            continue
        pages += rss
    return pages


def tree_rss_mb(root: int) -> float:
    return tree_rss_pages(root, _proc_stats()) * os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb(os.getpid()))


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    every one of them to end."""
    from pyspark import SparkContext

    children = process_tree(os.getpid()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while children and time.time() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def prepare_env(workdir: str, trace: bool) -> dict:
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher too): temp files in the work directory and
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {"spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}"}
    if trace:
        conf.update(TRACE_CONF)
    args = []
    for key, value in conf.items():
        args += ["--conf", f"{key}={value}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return {"nproc": cpus, "loadavg_start": os.getloadavg()}


def redirect_derived_copies(workdir: str) -> None:
    """The engine keeps derived copies of its inputs (re-chunked
    payload tables, lakehouse fixtures) under a fixed directory outside
    the checkout. Point ``sources.scans._derived_base`` at the run's own
    work directory instead, so each run starts without them and writes
    only inside the checkout."""
    from glonassdatamining_spark.sources import scans

    root = os.path.join(workdir, "derived")

    def derived_base(sf_dir: str, name: str, *tables: str) -> str:
        return os.path.join(root, f"{name}_{os.path.basename(sf_dir.rstrip('/'))}")

    scans._derived_base = derived_base


def end_to_end(setup_s: float, passes, failed_ops: set[str], peak_mb: float) -> dict:
    latencies: dict[str, list[float]] = {}
    attempted = failed = 0
    for p in passes:
        attempted += len(p.latencies) + len(p.failed)
        failed += len(p.failed)
        for name, sec in p.latencies.items():
            if name in failed_ops:
                failed += 1
            else:
                latencies.setdefault(name, []).append(sec)
    n = sum(len(v) for v in latencies.values())
    if n > stats.TAIL_BEYOND:
        tail, pct, n = stats.tail_ratio(latencies)
        geomean = stats.query_geomean(latencies)
        _log(f"query_tail_ratio is the p{pct:.1f} of {n} pooled samples")
    else:  # too few verified executions; ok_frac and `correct` report it
        tail, pct, geomean = 0.0, 0.0, 0.0
        _log(f"only {n} verified executions: no geomean or tail")
    values = {
        "setup_s": setup_s,
        "pass_s": stats.median([p.seconds for p in passes]),
        "query_geomean_s": geomean,
        "query_tail_ratio": tail,
        "ok_frac": (attempted - failed) / attempted,
        "peak_rss_mb": peak_mb,
    }
    return {"values": values, "attempted": attempted, "failed": failed,
            "tail_percentile": pct, "tail_samples": n}


def per_layer(workload, tracer: Tracer, counters, passes, setup) -> tuple[dict, list]:
    """Per-layer metrics of each tagged pass, and their medians."""
    rows = []
    for i, p in enumerate(passes):
        if not traced_pass(i):
            continue
        mine = [s for s in tracer.spans if s.pass_index == p.pass_index]

        def total(attr, layer=None, queries=None):
            """Span seconds (``attr`` None) or a Spark counter, summed over
            this pass's spans of ``layer`` and ``queries``."""
            out = 0.0
            for s in mine:
                if (layer and s.layer != layer) or (queries and s.query not in queries):
                    continue
                if attr is None:
                    out += s.seconds
                elif s.id in counters:
                    out += getattr(counters[s.id], attr)
            return out

        build_s, exec_s, lake_s = total(None, "build"), total(None, "exec"), total(None, "lakehouse")
        build_job_s = total("job_s", "build")
        row = {
            "session.start_s": setup["session_s"],
            "sources.cache_fill_s": setup["cache_fill_s"],
            "sources.cached_mb": setup["cached_mb"],
            "build.s": build_s,
            "build.jobs": total("jobs", "build"),
            "build.job_s": build_job_s,
            "build.plan_s": build_s - build_job_s,
            "exec.s": exec_s,
            "exec.jobs": total("jobs", "exec"),
            "exec.stages": total("stages", "exec"),
            "tasks": total("tasks"),
            "task_run_s": total("task_run_s"),
            "task_cpu_s": total("task_cpu_s"),
            "gc_s": total("gc_s"),
            "shuffle.write_mb": total("shuffle_write_mb"),
            "shuffle.read_mb": total("shuffle_read_mb"),
            "shuffle.fetch_wait_s": total("fetch_wait_s"),
            "spill_mb": total("spill_mb"),
            "python.s": total("python_s"),
            "python.mb_in": total("python_mb_in"),
            "python.mb_out": total("python_mb_out"),
            "lakehouse.jobs": total("jobs", "lakehouse"),
            "lakehouse.append_s": total(None, "lakehouse", {"append"}),
            "lakehouse.merge_s": total(None, "lakehouse", {"merge_clustered", "merge_spread"}),
            "lakehouse.delete_s": total(None, "lakehouse", {"delete_where"}),
            "lakehouse.read_s": total(None, "lakehouse", {"read_pruned", "read"}),
            "lakehouse.compact_s": total(None, "lakehouse", {"compact"}),
            "lakehouse.bytes_written_per_row": 0.0,
            "lakehouse.files_scanned_frac": 0.0,
            "lakehouse.live_files": 0.0,
            "olap.python_s": 0.0,
            "geo.python_min_query_s": 0.0,
            "graph.build_frac": 0.0,
            "trace.pass_s": p.seconds,
            "trace.gap_s": p.seconds - build_s - exec_s - lake_s,
        }
        if p.details:
            d = p.details
            row["lakehouse.bytes_written_per_row"] = d["bytes_written"] / d["rows_changed"]
            if d["live_files_at_read"]:
                row["lakehouse.files_scanned_frac"] = d["files_scanned"] / d["live_files_at_read"]
            row["lakehouse.live_files"] = d["live_files"]
        if isinstance(workload, QueryMix):
            groups = workload.groups
            row["olap.python_s"] = total("python_s", queries=groups["olap"])
            row["geo.python_min_query_s"] = min(total("python_s", queries={q}) for q in groups["geo"])
            graph_build = total(None, "build", groups["graph"])
            row["graph.build_frac"] = graph_build / (graph_build + total(None, "exec", groups["graph"]))
        rows.append(row)
    med = {k: statistics.median(r[k] for r in rows) for k in PER_LAYER if k != "trace.overhead"}
    med["trace.overhead"] = med["trace.pass_s"] / statistics.median(
        p.seconds for i, p in enumerate(passes) if not traced_pass(i)
    )
    return med, rows


def run(args) -> dict:
    if not os.path.isdir("glonassdatamining_spark") or not os.path.isfile("tests/conftest.py"):
        raise SystemExit("perfbench: run from the root of a checkout of the engine")
    os.makedirs(STATE, exist_ok=True)
    lock = open(os.path.join(STATE, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        raise SystemExit("perfbench: another run is active in this checkout") from None
    for stale in os.listdir(STATE):
        if stale.startswith("run-"):
            shutil.rmtree(os.path.join(STATE, stale), ignore_errors=True)
    workdir = os.path.abspath(os.path.join(STATE, f"run-{os.getpid()}"))
    os.makedirs(workdir)
    spark = None
    try:
        host = prepare_env(workdir, args.trace)
        root = os.getcwd()
        sys.path[:0] = [root, os.path.join(root, "tests")]
        redirect_derived_copies(workdir)
        from glonassdatamining_spark.session import get_spark

        _log("engine imported")

        tracer = Tracer()
        with tracer.span("get_spark", "session"):
            spark = get_spark()
        spark.sparkContext.setLogLevel("ERROR")
        _log("session started")
        tracer.sc = spark.sparkContext
        tracer.tag_jobs = bool(args.trace)
        host["driver_memory"] = spark.sparkContext.getConf().get("spark.driver.memory")
        ctx = Context(spark, SF_DIR, args.seed, workdir, tracer)
        workload = WORKLOADS[args.workload](ctx)
        workload.setup()
        setup_s = time.perf_counter() - PROCESS_START
        _log(f"set-up done at {setup_s:.1f} s")
        status = SparkStatus(spark.sparkContext) if args.trace else None
        setup = {
            "session_s": tracer.spans[0].seconds,
            "cache_fill_s": sum(s.seconds for s in tracer.spans if s.layer == "sources"),
            "cached_mb": status.cached_mb() if status else 0.0,
        }

        passes = []
        t0 = time.perf_counter()
        with RssSampler() as rss:
            while len(passes) < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
                index = WARMUP_PASSES + len(passes)
                tracer.tag_jobs = bool(args.trace) and traced_pass(len(passes))
                result = workload.run_pass(index)
                passes.append(result)
                _log(f"pass {index}: {result.seconds:.3f} s")
        tracer.tag_jobs = False
        _log("timed passes done")
        verdict = workload.verify() if isinstance(workload, QueryMix) else {}
        _log("outputs checked")
        bad = {name for name, why in verdict.items() if why is not None}
        for name in sorted(bad):
            _log(f"{name}: {verdict[name]}")
        e2e = end_to_end(setup_s, passes, bad, rss.peak)
        host["loadavg_end"] = os.getloadavg()
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "host": host, "end_to_end": e2e, "verdict": verdict,
                  "passes": [vars(p) for p in passes]}
        if args.trace:
            counters = attach(tracer.spans, status.snapshot())
            metrics, rows = per_layer(workload, tracer, counters, passes, setup)
            record.update(per_layer=metrics, per_pass=rows, spans=tracer.dump(),
                          counters={k: vars(v) for k, v in counters.items()})
            out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            out = {k: {"value": e2e["values"][k], "unit": u} for k, u in END_TO_END.items()}
        sidecar_dir = os.path.join(STATE, "traces" if args.trace else "runs")
        os.makedirs(sidecar_dir, exist_ok=True)
        with open(os.path.join(sidecar_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        _log(f"host {host}")
        return {
            "correct": e2e["failed"] == 0,
            "attempted": e2e["attempted"],
            "failed": e2e["failed"],
            "metrics": out,
        }
    finally:
        _log("stopping")
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        lock.close()
        _log("stopped")


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(parser.parse_args(argv))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
