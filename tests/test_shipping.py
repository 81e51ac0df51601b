"""The package's shipping rule, memo lifetime and one-path rules.

Python kernels travel to workers by value (the package registers
itself with cloudpickle in ``__init__``), so no module may patch
``sys.path`` for workers or wrap kernels in ``_make_*`` factories to
force by-value pickling. Driver-side handles, the bench-mode derived
frames included, go through the one ``session.memo`` and live exactly
as long as their application: no module keeps its own cache dict, and
only ``session.py`` and ``sources`` read the environment.
Each operator has one code path: no function takes an ``engine`` or
``refine`` switch (reference twins live in the tests that compare
against them), and scratch files live under the one
``sources.scans.SCRATCH_ROOT``.
"""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import tempfile

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "glonassdatamining_spark"


def _sys_aliases(tree: ast.AST) -> set[str]:
    names = {"sys"}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names |= {a.asname or a.name for a in node.names if a.name == "sys"}
    return names


def _is_sys_path(node: ast.AST, aliases: set[str]) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "path"
        and isinstance(node.value, ast.Name)
        and node.value.id in aliases
    )


def _sys_path_mutations(tree: ast.AST) -> list[int]:
    """Lines that call a method on ``sys.path`` or assign to it (or to
    an item or slice of it). ``from sys import path`` counts as well."""
    aliases = _sys_aliases(tree)
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "sys":
            if any(a.name == "path" for a in node.names):
                lines.append(node.lineno)
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if _is_sys_path(node.func.value, aliases):
                lines.append(node.lineno)
        elif isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Subscript):
                    t = t.value
                if _is_sys_path(t, aliases):
                    lines.append(node.lineno)
    return sorted(lines)


def _own_nodes(fn: ast.AST):
    """Nodes of ``fn``'s body, not descending into nested scopes."""
    stack = list(ast.iter_child_nodes(fn))
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)
        ):
            stack.extend(ast.iter_child_nodes(node))


def _closure_factories(tree: ast.AST) -> list[tuple[int, str]]:
    """``*_make_*``/``make_*`` functions that return a function or
    lambda defined inside them (returning what such a function
    computes, or a class, is fine)."""
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if "_make_" not in fn.name and not fn.name.startswith("make_"):
            continue
        own = list(_own_nodes(fn))
        inner = {
            n.name
            for n in own
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        for ret in (n for n in own if isinstance(n, ast.Return)):
            if ret.value is None:
                continue
            called = {
                id(c.func) for c in ast.walk(ret.value) if isinstance(c, ast.Call)
            }
            for v in ast.walk(ret.value):
                if isinstance(v, ast.Lambda) or (
                    isinstance(v, ast.Name) and v.id in inner and id(v) not in called
                ):
                    found.append((fn.lineno, fn.name))
                    break
    return found


def _lru_caches(tree: ast.AST) -> list[int]:
    """Lines that use ``functools.lru_cache``/``functools.cache``: the
    package has one memo, ``session.memo``."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if (isinstance(node, ast.Attribute) and node.attr in ("lru_cache", "cache")
            and isinstance(node.value, ast.Name) and node.value.id == "functools")
        or (isinstance(node, ast.ImportFrom) and node.module == "functools"
            and any(a.name in ("lru_cache", "cache") for a in node.names))
    ]


def _engine_switches(tree: ast.AST) -> list[tuple[int, str]]:
    """Functions that take a parameter named ``engine`` or ``refine``:
    an alternative code path selected at call time."""
    found = []
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            a = fn.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs:
                if arg.arg in ("engine", "refine"):
                    found.append((fn.lineno, arg.arg))
    return found


def _scratch_literals(tree: ast.AST) -> list[int]:
    """Lines with a string literal naming the ``.tmpdata`` scratch
    directory (f-string parts included)."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and ".tmpdata" in node.value
    ]


def _env_reads(tree: ast.AST) -> list[int]:
    """Lines that read the environment: ``os.environ``/``os.getenv``,
    or either name imported from ``os``."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if (isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv")
            and isinstance(node.value, ast.Name) and node.value.id == "os")
        or (isinstance(node, ast.ImportFrom) and node.module == "os"
            and any(a.name in ("environ", "getenv") for a in node.names))
    ]


def _module_dicts(tree: ast.AST) -> list[tuple[int, str]]:
    """Module-level names bound to an empty dict (``{}`` or
    ``dict()``): a hand-rolled cache beside ``session.memo``."""
    found = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        v = node.value
        empty = (isinstance(v, ast.Dict) and not v.keys) or (
            isinstance(v, ast.Call) and isinstance(v.func, ast.Name)
            and v.func.id == "dict" and not v.args and not v.keywords
        )
        if empty:
            found += [(node.lineno, t.id) for t in targets if isinstance(t, ast.Name)]
    return found


# Module dicts that are not caches of frames or handles: the query
# registry, the memo itself, and k55's learned model, which k55
# overwrites on every call (the memo never overwrites an entry).
_ALLOWED_DICTS = {
    (pathlib.Path("glonassdatamining_spark/registry.py"), "_REGISTRY"),
    (pathlib.Path("glonassdatamining_spark/session.py"), "_memo"),
    (pathlib.Path("glonassdatamining_spark/operators/llm_ops.py"), "_K55_CACHE"),
}
_ENV_READERS = {
    pathlib.Path("glonassdatamining_spark/session.py"),
    pathlib.Path("glonassdatamining_spark/sources/__init__.py"),
}


def test_guard_detects_each_violation():
    bad = ast.parse(
        "import sys as _s\n"
        "import functools\n"
        "def f():\n"
        "    _s.path.insert(0, 'x')\n"
        "    sys.path[:0] = ['y']\n"
        "    sys.path += ['z']\n"
        "def _make_k():\n"
        "    def k(x):\n"
        "        return x\n"
        "    return k\n"
        "def _make_l():\n"
        "    return lambda x: x\n"
        "def _d47_make_k():\n"
        "    def k(x):\n"
        "        return x\n"
        "    return (k, 1)\n"
        "def _make_ok():\n"
        "    def helper():\n"
        "        return 1\n"
        "    return helper()\n"
        "@functools.lru_cache(maxsize=2)\n"
        "def g():\n"
        "    return 1\n"
        "def h(df, engine='arrow'):\n"
        "    return f'/srv/.tmpdata/{df}'\n"
        "def k(df, *, refine='hof'):\n"
        "    return df\n"
        "_CACHE: dict = {}\n"
        "def e():\n"
        "    return os.getenv('X')\n"
    )
    assert _sys_path_mutations(bad) == [4, 5, 6]
    assert sorted(_closure_factories(bad)) == [
        (7, "_make_k"), (11, "_make_l"), (13, "_d47_make_k")
    ]
    assert _lru_caches(bad) == [21]
    assert _engine_switches(bad) == [(24, "engine"), (26, "refine")]
    assert _scratch_literals(bad) == [25]
    assert _module_dicts(bad) == [(28, "_CACHE")]
    assert _env_reads(bad) == [30]


def test_package_has_one_shipping_rule_and_one_memo():
    """Walks the AST of every module of the package: no ``sys.path``
    mutation, no ``*_make_*``/``make_*`` factory returning a closure
    kernel, no ``functools`` cache beside ``session.memo``, no
    ``engine``/``refine`` parameter, the ``.tmpdata`` literal in
    ``sources/scans.py`` only, environment reads in ``session.py`` and
    ``sources/__init__.py`` only, and no module-level cache dict
    outside ``_ALLOWED_DICTS``."""
    mods = sorted(PKG.rglob("*.py"))
    assert len(mods) > 20
    problems = []
    for path in mods:
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(REPO)
        problems += [f"{rel}:{ln}: sys.path mutated" for ln in _sys_path_mutations(tree)]
        problems += [
            f"{rel}:{ln}: {name} returns a closure kernel"
            for ln, name in _closure_factories(tree)
        ]
        problems += [f"{rel}:{ln}: functools cache" for ln in _lru_caches(tree)]
        problems += [
            f"{rel}:{ln}: {name} parameter switches engines"
            for ln, name in _engine_switches(tree)
        ]
        if rel != pathlib.Path("glonassdatamining_spark/sources/scans.py"):
            problems += [
                f"{rel}:{ln}: scratch path outside SCRATCH_ROOT"
                for ln in _scratch_literals(tree)
            ]
        if rel not in _ENV_READERS:
            problems += [f"{rel}:{ln}: environment read" for ln in _env_reads(tree)]
        problems += [
            f"{rel}:{ln}: module dict {name} beside session.memo"
            for ln, name in _module_dicts(tree)
            if (rel, name) not in _ALLOWED_DICTS
        ]
    assert problems == []


_RESTART_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})

import duckdb
from glonassdatamining_spark import registry
from glonassdatamining_spark.session import get_spark
from tests.conftest import EMPTY_AT_SMOKE, compare_frames

SF = {sf!r}
NAMES = {names!r}
queries, oracles = registry.all_queries(), registry.all_oracles()
con = duckdb.connect()
for t in ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"):
    con.execute(
        f"CREATE VIEW {{t}} AS SELECT * FROM read_parquet('{{SF}}/{{t}}.parquet')"
    )


def run_all():
    spark = get_spark("shipping-test")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {{name: queries[name](spark, SF).toPandas() for name in NAMES}}


spark, first = run_all()
spark.stop()
for name in NAMES:
    assert len(first[name]) or name in EMPTY_AT_SMOKE, name
    if name in oracles:
        compare_frames(first[name], con.execute(oracles[name]).fetchdf(), name)
spark, second = run_all()
for name in NAMES:
    compare_frames(second[name], first[name], name + " after restart")
spark.stop()
print("ok", len(NAMES))
"""

# One query per former shipping discipline, plus the memo's users:
# i31/i67 (pandas_udf singletons), i33/k13/k37/k40 (in-closure
# sys.path shims), m8 (applyInPandas shim), d47 (pickling factory),
# i30/i57 (memoized Columns), q1 (hot-table cache), i6/i12/i33
# (derived frames: padded grid, local plan, cell counts, WKB bytes).
# Every query that reads lineitem after the restart fails where the
# hot-table cache outlives its session.
_RESTART_QUERIES = (
    "i31_path_self_intersections",
    "i67_spherical_geofence",
    "i33_wkb_polygon_hole_area",
    "k13_multimodal_decode",
    "k37_wav_audio_stats",
    "k40_video_frame_stats",
    "m8_stateful_sessions",
    "d47_tdigest_quantile_rollup",
    "i30_polygon_intersect_pairs",
    "i57_zone_overlay_area",
    "q1_pricing_summary",
    "i6_dbscan",
    "i12_hotspot_zscore",
)


def test_kernels_ship_to_workers_that_cannot_import_the_package():
    """A fresh driver in a temp cwd with ``PYTHONPATH`` unset (its
    Python workers cannot import the package) and hot-table mode on
    runs one query per former shipping discipline, stops the session,
    starts a new one in the same process and runs them all again:
    both passes match the DuckDB oracle where there is one, and the
    second pass equals the first."""
    from tests.conftest import SF_DIR

    script = _RESTART_SCRIPT.format(repo=str(REPO), sf=SF_DIR, names=_RESTART_QUERIES)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_CACHE_TABLES="1",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    with tempfile.TemporaryDirectory() as cwd:
        proc = subprocess.run(
            [sys.executable, "-c", script],
            cwd=cwd,
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-6000:]
    assert proc.stdout.strip().endswith(f"ok {len(_RESTART_QUERIES)}")
