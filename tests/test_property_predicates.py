"""Property-style randomized predicate equivalence (SURVEY §5.4).

Generates seeded random filter predicates over the fixture schemas as
SQL fragments that are valid and IDENTICALLY-SEMANTIC in both Spark SQL
and DuckDB (the verified common subset of §2.H: comparisons, BETWEEN,
IN, LIKE, IS NULL, AND/OR/NOT), runs both engines on the same parquet,
and asserts the selected key sets match. This catches semantic-subset
violations (regex dialects, date arithmetic, null ordering) before the
driver's t2 does.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from glonassdatamining_spark.sources import load
from tests.conftest import SF_DIR, compare_frames, oracle_con

# Atomic predicate templates over orders. Every value grid is chosen so
# no float equality or engine-specific rounding is involved.
_STATUS = ["'O'", "'F'", "'P'"]
_PRIO = ["'1-URGENT'", "'2-HIGH'", "'3-MEDIUM'", "'4-NOT SPECIFIED'", "'5-LOW'"]
_DATES = [f"TIMESTAMP '199{y}-0{m}-15'" for y in (3, 5, 7) for m in (1, 4, 8)]


def _atom(rng: random.Random) -> str:
    kind = rng.randrange(8)
    if kind == 0:
        return f"o_totalprice {rng.choice(['<', '<=', '>', '>='])} {rng.randrange(1000, 400000)}.0"
    if kind == 1:
        lo = rng.randrange(1000, 200000)
        return f"o_totalprice BETWEEN {lo}.0 AND {lo + rng.randrange(1000, 150000)}.0"
    if kind == 2:
        return f"o_orderstatus = {rng.choice(_STATUS)}"
    if kind == 3:
        picks = rng.sample(_PRIO, rng.randrange(1, 4))
        return f"o_orderpriority IN ({', '.join(picks)})"
    if kind == 4:
        return f"o_orderdate {rng.choice(['<', '>='])} {rng.choice(_DATES)}"
    if kind == 5:
        return f"o_custkey % {rng.randrange(2, 13)} = {rng.randrange(0, 2)}"
    if kind == 6:
        return f"o_orderpriority LIKE '%{rng.choice(['URG', 'HIGH', 'MED', 'LOW'])}%'"
    return "o_orderkey IS NOT NULL"


def _predicate(rng: random.Random) -> str:
    n = rng.randrange(1, 4)
    atoms = [_atom(rng) for _ in range(n)]
    out = atoms[0]
    for a in atoms[1:]:
        op = rng.choice(["AND", "OR", "AND NOT"])
        out = f"({out}) {op} ({a})"
    return out


@pytest.mark.parametrize("seed", range(25))
def test_random_predicate_matches_oracle(spark, seed):
    rng = random.Random(90210 + seed)
    pred = _predicate(rng)
    got = (
        load(spark, SF_DIR, "orders")
        .filter(F.expr(pred))
        .select("o_orderkey")
        .toPandas()
    )
    con = oracle_con()
    want = con.execute(f"SELECT o_orderkey FROM orders WHERE {pred}").fetchdf()
    con.close()
    compare_frames(got, want, f"predicate[{pred}]")


@pytest.mark.parametrize("seed", range(10))
def test_random_predicate_agg_matches_oracle(spark, seed):
    """Same predicates under an aggregate — exercises pushdown + the
    decimal-sum stability discipline together."""
    from glonassdatamining_spark.stable import dsum

    rng = random.Random(1337 + seed)
    pred = _predicate(rng)
    got = (
        load(spark, SF_DIR, "orders")
        .filter(F.expr(pred))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total"))
        .toPandas()
    )
    con = oracle_con()
    want = con.execute(
        "SELECT o_orderstatus, COUNT(*) AS n, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total "
        f"FROM orders WHERE {pred} GROUP BY o_orderstatus"
    ).fetchdf()
    con.close()
    compare_frames(got, want, f"agg-predicate[{pred}]")


@pytest.mark.parametrize("seed", range(10))
def test_random_join_predicate_matches_oracle(spark, seed):
    """Random predicates on BOTH sides of a customer⋈orders join —
    exercises pushdown through the join and null-safe key semantics."""
    rng = random.Random(777 + seed)
    pred = _predicate(rng)
    cust_pred = rng.choice(
        ["c_acctbal > 0.0", "c_acctbal BETWEEN -500.0 AND 5000.0",
         "c_mktsegment IN ('BUILDING', 'MACHINERY')", "c_custkey % 3 = 1"]
    )
    o = load(spark, SF_DIR, "orders").filter(F.expr(pred))
    c = load(spark, SF_DIR, "customer").filter(F.expr(cust_pred))
    got = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_custkey")
        .toPandas()
    )
    con = oracle_con()
    want = con.execute(
        "SELECT o_orderkey, c_custkey FROM orders JOIN customer "
        f"ON o_custkey = c_custkey WHERE ({pred}) AND ({cust_pred})"
    ).fetchdf()
    con.close()
    compare_frames(got, want, f"join-predicate[{pred} / {cust_pred}]")


# ---------------------------------------------------------------------------
# kernel property tests: Spark kernels vs plain-Python reference models
# on randomized inputs (seeded, deterministic).
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_sessionize_matches_python_model(spark, seed):
    import random
    from datetime import datetime, timedelta

    from glonassdatamining_spark.api import sessionize

    rng = random.Random(seed)
    rows = []
    for key in ["a", "b", "c"]:
        t = datetime(2024, 1, 1)
        for i in range(rng.randint(5, 40)):
            t += timedelta(seconds=rng.choice([1, 30, 299, 300, 301, 5000]))
            rows.append((key, t, i))
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP, seq INT")
    got = {
        (r.k, r.seq): r.session_id
        for r in sessionize(df, "k", "ts", gap_seconds=300, tiebreak=("seq",)).collect()
    }
    # python reference model: new session when gap > 300s exactly
    rows.sort(key=lambda r: (r[0], r[1], r[2]))
    want, sid, prev_key, prev_ts = {}, 0, None, None
    for k, ts, seq in rows:
        if k != prev_key:
            sid = 1
        elif (ts - prev_ts).total_seconds() > 300:
            sid += 1
        want[(k, seq)] = sid
        prev_key, prev_ts = k, ts
    assert got == want


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_asof_join_matches_python_model(spark, seed):
    import random
    from datetime import datetime, timedelta

    from glonassdatamining_spark.api import asof_join

    rng = random.Random(seed)
    base = datetime(2024, 1, 1)
    left = [
        ("k%d" % rng.randint(0, 2), base + timedelta(seconds=rng.randint(0, 1000)), i)
        for i in range(30)
    ]
    right_ts = {}
    for _ in range(20):
        k = "k%d" % rng.randint(0, 2)
        ts = base + timedelta(seconds=rng.randint(0, 1000))
        right_ts[(k, ts)] = rng.randint(0, 99)  # unique per (key, ts)
    l_df = spark.createDataFrame(left, "k STRING, at TIMESTAMP, lid INT")
    r_df = spark.createDataFrame(
        [(k, ts, v) for (k, ts), v in right_ts.items()],
        "k STRING, rts TIMESTAMP, val INT",
    )
    got = {
        r.lid: (r.val, r.rts)
        for r in asof_join(l_df, r_df, "k", "at", "rts").collect()
    }
    fwd = {
        r.lid: (r.val, r.rts)
        for r in asof_join(l_df, r_df, "k", "at", "rts", direction="forward").collect()
    }
    near = {
        r.lid: (r.val, r.rts)
        for r in asof_join(l_df, r_df, "k", "at", "rts", direction="nearest").collect()
    }
    for k, at, lid in left:
        cands = [(ts, v) for (rk, ts), v in right_ts.items() if rk == k and ts <= at]
        want = max(cands) if cands else None
        if want is None:
            assert got[lid] == (None, None), lid
        else:
            assert got[lid] == (want[1], want[0]), lid
        fc = [(ts, v) for (rk, ts), v in right_ts.items() if rk == k and ts >= at]
        fwant = min(fc) if fc else None
        if fwant is None:
            assert fwd[lid] == (None, None), lid
        else:
            assert fwd[lid] == (fwant[1], fwant[0]), lid
        # nearest: closer of the two, backward preferred on exact ties
        if want is None and fwant is None:
            assert near[lid] == (None, None), lid
        elif want is None:
            assert near[lid] == (fwant[1], fwant[0]), lid
        elif fwant is None:
            assert near[lid] == (want[1], want[0]), lid
        else:
            nwant = fwant if (fwant[0] - at) < (at - want[0]) else want
            assert near[lid] == (nwant[1], nwant[0]), lid


@pytest.mark.parametrize("seed", range(3))
def test_random_window_matches_oracle(spark, seed):
    """Random ranking/offset/frame windows, identical SQL text on both
    engines (via the registered-view SQL entry) — exercises the §2.E
    semantics (partitioning, total-order tie-breaks, frames) beyond
    the fixed declared queries."""
    from glonassdatamining_spark.sources import register_views

    rng = random.Random(31337 + seed)
    part = rng.choice(["o_orderstatus", "o_orderpriority", "o_custkey % 7"])
    order_metric = rng.choice(["o_totalprice", "o_orderdate"])
    pred = _predicate(rng)
    sql = (
        "SELECT o_orderkey, "
        f"row_number() OVER (PARTITION BY {part} ORDER BY {order_metric}, o_orderkey) AS rn, "
        f"lag(o_orderkey, 1) OVER (PARTITION BY {part} ORDER BY {order_metric}, o_orderkey) AS prev_key, "
        f"CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER ("
        f"PARTITION BY {part} ORDER BY {order_metric}, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum "
        f"FROM orders WHERE {pred}"
    )
    register_views(spark, SF_DIR)
    got = spark.sql(sql).toPandas()
    con = oracle_con()
    want = con.execute(sql).fetchdf()
    con.close()
    compare_frames(got, want, f"window[{seed}] {sql[:80]}")


@pytest.mark.parametrize("seed", [11, 23, 37])
def test_point_in_polygon_matches_convex_model(spark, seed):
    """Property: for RANDOM convex polygons (where containment has an
    independent half-plane characterization), the even-odd ray-cast
    HOF must agree with a numpy half-plane test on every random point
    — including points near edges and far outside."""
    import math
    import random

    import numpy as np
    import pandas as pd

    from glonassdatamining_spark.api import point_in_polygon, polygon_edges

    rng = random.Random(seed)
    # Convex polygon: random radii/angles around a center, sorted by
    # angle — convex hull of points on a star is not guaranteed convex,
    # so build from a convex-position construction: points on an
    # ellipse with jittered angles.
    n_vert = rng.randint(3, 8)
    angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n_vert))
    cx, cy, rx, ry = 50.0, 50.0, rng.uniform(10, 30), rng.uniform(10, 30)
    poly = [
        (cx + rx * math.cos(a) + 1e-4, cy + ry * math.sin(a) + 1e-4)
        for a in angles
    ]
    pts = [
        (i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(500)
    ]
    pdf = pd.DataFrame(pts, columns=["pid", "x", "y"])
    df = spark.createDataFrame(pdf)
    got = {
        r.pid: bool(r.inside)
        for r in df.select(
            "pid",
            point_in_polygon(F.col("x"), F.col("y"), polygon_edges(poly)).alias(
                "inside"
            ),
        ).collect()
    }
    # Independent model: convex polygon with CCW-ordered vertices —
    # inside iff every cross product (edge x point) has the same sign.
    v = np.array(poly)
    # ensure CCW via shoelace
    area2 = float(
        np.sum(v[:, 0] * np.roll(v[:, 1], -1) - np.roll(v[:, 0], -1) * v[:, 1])
    )
    if area2 < 0:
        v = v[::-1]
    e1, e2 = v, np.roll(v, -1, axis=0)
    for pid, x, y in pts:
        cross = (e2[:, 0] - e1[:, 0]) * (y - e1[:, 1]) - (e2[:, 1] - e1[:, 1]) * (
            x - e1[:, 0]
        )
        want = bool((cross > 0).all())  # strictly inside
        if np.isclose(cross, 0, atol=1e-9).any():
            continue  # boundary — both definitions are edge-sensitive
        assert got[pid] == want, (
            f"seed={seed} pid={pid} point=({x},{y}) ray-cast={got[pid]} "
            f"half-plane={want} poly={poly}"
        )


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_containment_pairs_match_brute_force(spark, seed):
    """Property: the prefix-filtered containment join must equal the
    all-pairs brute force on random tiny-vocabulary corpora — the
    exact-multiple prefix lengths (|A| divisible by tau_den) are the
    regression surface for the ⌊(1−τ)·sz⌋ float bug."""
    import itertools
    import random

    import glonassdatamining_spark.api as api

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    docs = []
    for i in range(40):
        # lengths hit exact multiples of tau_den (10, 20, 30) often
        ln = rng.choice([3, 5, 10, 12, 20, 22, 30])
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(ln))))
    # plant exact near-supersets: doc 100 is a prefix of doc 101
    base = " ".join(rng.choice(vocab) for _ in range(20))
    docs.append((100, base))
    docs.append((101, base + " " + " ".join(rng.choice(vocab) for _ in range(8))))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")

    def sh(text, n=3):
        t = text.split(" ")
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    from fractions import Fraction

    want = set()
    shs = {i: sh(t) for i, t in docs}
    for (a, sa), (b, sb) in itertools.permutations(shs.items(), 2):
        if sa and Fraction(len(sa & sb), len(sa)) >= Fraction(9, 10):
            want.add((a, b))
    got = {
        (r.inner_doc, r.outer_doc)
        for r in api.containment_pairs(df, "doc_id", "text", 3, 9, 10).collect()
    }
    assert got == want, f"seed {seed}: missing {want - got}, extra {got - want}"


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_heavy_hitters_match_exact_counts(spark, seed):
    """Property: the two-pass Misra-Gries heavy hitters must equal the
    exact Counter-based answer on random Zipf-ish corpora, including
    with a deliberately tiny sketch capacity (evictions everywhere)."""
    import random
    from collections import Counter

    import glonassdatamining_spark.api as api
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(300)]
    weights = [1.0 / (i + 1) for i in range(300)]  # zipf-ish
    docs = [
        (i, [rng.choices(vocab, weights)[0] for _ in range(rng.randint(5, 60))])
        for i in range(300)
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, toks array<string>")
    cnt = Counter(t for _, toks in docs for t in toks)
    total = sum(cnt.values())
    for cap, pct in ((64, 50), (128, 100)):
        want = {(t, n) for t, n in cnt.items() if pct * n >= total}
        got = {
            (r.token, r.n)
            for r in api.heavy_hitters(df, "toks", cap=cap, pct=pct).collect()
        }
        assert got == want, f"seed {seed} cap {cap}: {got ^ want}"


@pytest.mark.parametrize("seed", range(8))
def test_random_groupby_matches_oracle(spark, seed):
    """Random multi-key GROUP BY over lineitem with a random mix of
    aggregates — exercises key-expression evaluation, two-phase
    aggregation, and decimal-sum stability together."""
    from glonassdatamining_spark.stable import dsum

    rng = random.Random(777 + seed)
    key_pool = [
        "l_returnflag",
        "l_linestatus",
        "l_suppkey % 7",
        "year(l_shipdate)",
        "CAST(l_quantity AS BIGINT) % 5",
    ]
    keys = rng.sample(key_pool, k=rng.randint(1, 3))
    key_aliases = [f"k{i}" for i in range(len(keys))]
    agg_pool = [
        ("COUNT(*) AS n", F.count(F.lit(1)).alias("n")),
        ("MIN(l_quantity) AS min_q", F.min("l_quantity").alias("min_q")),
        ("MAX(l_extendedprice) AS max_p", F.max("l_extendedprice").alias("max_p")),
        (
            "CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) AS sum_d",
            dsum("l_discount", "sum_d"),
        ),
        ("COUNT(DISTINCT l_partkey) AS nd_p", F.countDistinct("l_partkey").alias("nd_p")),
    ]
    aggs = rng.sample(agg_pool, k=rng.randint(2, 4))
    got = (
        load(spark, SF_DIR, "lineitem")
        .groupBy(*[F.expr(k).alias(a) for k, a in zip(keys, key_aliases)])
        .agg(*[s for _, s in aggs])
        .toPandas()
    )
    con = oracle_con()
    sql_keys = ", ".join(f"{k} AS {a}" for k, a in zip(keys, key_aliases))
    want = con.execute(
        f"SELECT {sql_keys}, {', '.join(sql for sql, _ in aggs)} "
        f"FROM lineitem GROUP BY {', '.join(key_aliases)}"
    ).fetchdf()
    con.close()
    compare_frames(got, want, f"groupby[{keys} :: {[s for s,_ in aggs]}]")


@pytest.mark.parametrize("seed", range(5))
def test_asof_tolerance_matches_python_model(spark, seed):
    """c9d's tolerance_s: matches farther than the tolerance must
    revert to NULL, in every direction, on random key/ts layouts."""
    import random
    from datetime import datetime, timedelta

    from glonassdatamining_spark.api import asof_join

    rng = random.Random(4242 + seed)
    base = datetime(2024, 1, 1)
    tol = rng.choice([50, 120, 300])
    left = [
        ("k%d" % rng.randint(0, 2), base + timedelta(seconds=rng.randint(0, 1000)), i)
        for i in range(30)
    ]
    right_ts = {}
    for _ in range(15):
        k = "k%d" % rng.randint(0, 2)
        ts = base + timedelta(seconds=rng.randint(0, 1000))
        right_ts[(k, ts)] = rng.randint(0, 99)
    l_df = spark.createDataFrame(left, "k STRING, at TIMESTAMP, lid INT")
    r_df = spark.createDataFrame(
        [(k, ts, v) for (k, ts), v in right_ts.items()],
        "k STRING, rts TIMESTAMP, val INT",
    )
    for direction in ("backward", "forward", "nearest"):
        got = {
            r.lid: (r.val, r.rts)
            for r in asof_join(
                l_df, r_df, "k", "at", "rts",
                direction=direction, tolerance_s=tol,
            ).collect()
        }
        for k, at, lid in left:
            back = [(ts, v) for (rk, ts), v in right_ts.items() if rk == k and ts <= at]
            fwdc = [(ts, v) for (rk, ts), v in right_ts.items() if rk == k and ts >= at]
            b = max(back) if back else None
            f = min(fwdc) if fwdc else None
            if direction == "backward":
                want = b
            elif direction == "forward":
                want = f
            else:
                if b is None:
                    want = f
                elif f is None:
                    want = b
                else:
                    want = f if (f[0] - at) < (at - b[0]) else b
            if want is not None and abs((want[0] - at).total_seconds()) > tol:
                want = None
            expect = (None, None) if want is None else (want[1], want[0])
            assert got[lid] == expect, (direction, lid, tol)


@pytest.mark.parametrize("seed", range(5))
def test_grid_distance_join_matches_brute_force(spark, seed):
    """Property: the half-neighborhood grid join must find EXACTLY the
    brute-force ε-pairs on random (non-lattice) point clouds —
    including clustered blobs that straddle cell borders, the case the
    forward-probe construction must not double- or zero-count."""
    import itertools
    import math
    import random

    from glonassdatamining_spark.api import grid_distance_join

    rng = random.Random(31337 + seed)
    eps = rng.choice([0.5, 1.0, 2.5])
    pts = []
    pid = 0
    # uniform background
    for _ in range(120):
        pts.append((pid, rng.uniform(0, 30), rng.uniform(0, 30))); pid += 1
    # dense blobs centered ON cell corners (worst case for the probe)
    for _ in range(6):
        cx, cy = rng.randint(1, 9) * eps, rng.randint(1, 9) * eps
        for _ in range(12):
            pts.append(
                (pid, cx + rng.uniform(-eps, eps), cy + rng.uniform(-eps, eps))
            ); pid += 1
    df = spark.createDataFrame(pts, "pid bigint, x double, y double")
    # multisets (sorted lists), so a pair found twice fails
    got = sorted(
        (r.a_id, r.b_id)
        for r in grid_distance_join(df, "pid", "x", "y", eps).collect()
    )
    want = sorted(
        (a[0], b[0])
        for a, b in itertools.combinations(pts, 2)
        if math.dist(a[1:], b[1:]) <= eps
    )
    assert got == want, _multiset_diff(f"seed {seed} eps {eps}", got, want)


def _multiset_diff(tag: str, got: list, want: list) -> str:
    from collections import Counter

    g, w = Counter(got), Counter(want)
    return f"{tag}: missing {w - g}, extra {g - w}"


@pytest.mark.parametrize("eps_km", [5000.0, 50.0])
@pytest.mark.parametrize("seed", range(2))
def test_haversine_distance_join_matches_brute_force(spark, seed, eps_km):
    """Property: the half-ring probe under MODULAR longitude cells finds
    exactly the brute-force great-circle ε-pairs, each once, on random
    points that straddle the ±180° seam — at an eps that leaves only 3
    longitude cells (the smallest count where the forward offsets stay
    antisymmetric) and at one that gives hundreds of cells."""
    import itertools
    import math
    import random

    from glonassdatamining_spark.api import _latlon_cells, haversine_distance_join

    rng = random.Random(4242 + seed)
    wide = eps_km > 1000.0
    spread = 8.0 if wide else 3.0

    def seam_lon():
        lon = 180.0 + rng.uniform(-spread, spread)
        return lon - 360.0 if lon >= 180.0 else lon

    pts = []
    for pid in range(140):
        if wide and pid % 2:
            lat, lon = rng.uniform(-65.0, 65.0), rng.uniform(-180.0, 180.0)
        elif pid % 5 == 0:
            # tight blobs ON the seam
            lat = rng.choice([-1.0, 1.0]) + rng.uniform(-0.2, 0.2)
            lon = seam_lon() if wide else rng.choice([179.8, -179.8]) + rng.uniform(-0.2, 0.2)
        else:
            lat = rng.uniform(-65.0, 65.0) if wide else rng.uniform(-spread, spread)
            lon = seam_lon()
        pts.append((pid, lat, lon))
    df = spark.createDataFrame(pts, "pid bigint, lat double, lon double")
    n_lon_cells = _latlon_cells(df, "pid", "lat", "lon", eps_km, 60.0)[1]
    assert n_lon_cells == 3 if wide else n_lon_cells > 100

    def hav(a, b):
        # api.haversine_km's op sequence
        half_rad, rad = math.pi / 360.0, math.pi / 180.0
        sdlat = math.sin((b[1] - a[1]) * half_rad)
        sdlon = math.sin((b[2] - a[2]) * half_rad)
        h = sdlat * sdlat + math.cos(a[1] * rad) * math.cos(b[1] * rad) * sdlon * sdlon
        return math.asin(math.sqrt(h)) * (2.0 * 6371.0088)

    kept = [p for p in pts if abs(p[1]) <= 60.0]
    want = sorted(
        (a[0], b[0]) for a, b in itertools.combinations(kept, 2) if hav(a, b) <= eps_km
    )
    got = sorted(
        (r.a_id, r.b_id)
        for r in haversine_distance_join(df, "pid", "lat", "lon", eps_km).collect()
    )
    assert len(want) > 20
    assert got == want, _multiset_diff(f"seed {seed} eps {eps_km}", got, want)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_fuzzy_join_neighborhood_loses_no_pair(spark, seed):
    """c16's deletion-neighborhood candidate generator vs brute-force
    Python Levenshtein on ADVERSARIAL random strings (repeats, shared
    prefixes, varied lengths — shapes the fixture's uniform-length
    names never produce). The generator must find EVERY ed≤1 pair."""
    import itertools
    import random

    rng = random.Random(seed)
    alphabet = "ab0"
    base = ["".join(rng.choice(alphabet) for _ in range(rng.randrange(3, 9)))
            for _ in range(40)]
    # inject guaranteed near-duplicates: substitutions, inserts, deletes
    mutated = []
    for s in base[:15]:
        i = rng.randrange(len(s))
        mutated.append(s[:i] + rng.choice(alphabet) + s[i:])      # insert
        mutated.append(s[:i] + s[i + 1:])                          # delete
        mutated.append(s[:i] + rng.choice(alphabet) + s[i + 1:])   # substitute
    names = sorted(set(base + [m for m in mutated if m]))

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (a, b)
        for a, b in itertools.combinations(names, 2)
        if lev(a, b) <= 1
    }
    assert want, "vacuous: no near-pairs generated"

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "key BIGINT, name STRING"
    )
    variants = df.select(
        "key",
        "name",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("name")),
                    F.expr(
                        "transform(sequence(1, length(name)), i -> "
                        "concat(substring(name, 1, i - 1), "
                        "substring(name, i + 1, length(name))))"
                    ),
                )
            )
        ).alias("vk"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    got_rows = (
        a.join(b, (F.col("a.vk") == F.col("b.vk")) & (F.col("a.key") < F.col("b.key")))
        .select(
            F.col("a.name").alias("n1"), F.col("b.name").alias("n2")
        )
        .distinct()
        .filter(F.levenshtein("n1", "n2") <= 1)
        .collect()
    )
    got = {tuple(sorted((r.n1, r.n2))) for r in got_rows}
    assert got == want


@pytest.mark.parametrize("seed", [0, 1])
def test_radius_of_gyration_matches_two_pass_model(spark, seed):
    """i37's one-pass algebraic identity vs the textbook two-pass
    definition (centroid, then RMS distance) in plain Python floats on
    random points — proves the identity rewrite, not just the oracle
    mirror."""
    import math
    import random

    rng = random.Random(seed)
    rows = [
        (rng.randrange(5), rng.randrange(100000))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "obj_id BIGINT, event_id BIGINT")

    from pyspark.sql import functions as SF

    ix = SF.col("event_id") * 7919 % 100000
    iy = SF.col("event_id") * 104729 % 100000
    m = df.groupBy("obj_id").agg(
        SF.count(SF.lit(1)).alias("n"),
        SF.sum(ix).alias("sx"),
        SF.sum(iy).alias("sy"),
        SF.sum(ix * ix).alias("sx2"),
        SF.sum(iy * iy).alias("sy2"),
    )
    nd = SF.col("n").cast("double")
    mx = SF.col("sx").cast("double") / (nd * 1000.0)
    my = SF.col("sy").cast("double") / (nd * 1000.0)
    rg2 = (
        (SF.col("sx2") + SF.col("sy2")).cast("double") / (nd * 1000000.0)
        - mx * mx
        - my * my
    )
    got = {
        r.obj_id: r.rg
        for r in m.select(
            "obj_id", SF.sqrt(SF.greatest(rg2, SF.lit(0.0))).alias("rg")
        ).collect()
    }

    by_obj: dict = {}
    for obj, eid in rows:
        x = (eid * 7919 % 100000) / 1000.0
        y = (eid * 104729 % 100000) / 1000.0
        by_obj.setdefault(obj, []).append((x, y))
    for obj, pts in by_obj.items():
        cx = sum(p[0] for p in pts) / len(pts)
        cy = sum(p[1] for p in pts) / len(pts)
        want = math.sqrt(
            sum((p[0] - cx) ** 2 + (p[1] - cy) ** 2 for p in pts) / len(pts)
        )
        assert got[obj] == pytest.approx(want, rel=1e-9), obj


@pytest.mark.parametrize("seed", [0, 1])
def test_mean_shift_changepoint_finds_planted_shift(spark, seed):
    """e19's binary-segmentation statistic on a series with a PLANTED
    level shift: the argmax split must land exactly on the plant, and
    the shift magnitude must match the brute-force python scan."""
    import random

    rng = random.Random(seed)
    n_days, plant = 60, 25 + rng.randrange(10)
    counts = [
        (100 if i < plant else 300) + rng.randrange(-5, 6)
        for i in range(n_days)
    ]
    rows = [
        ("t", f"2024-03-{1:02d}", i, c) for i, c in enumerate(counts)
    ]
    df = spark.createDataFrame(
        [(t, i, c) for t, _, i, c in rows], "event_type STRING, i INT, cnt BIGINT"
    )

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    w = W.partitionBy("event_type").orderBy("i")
    wp = W.partitionBy("event_type")
    cum = df.select(
        "event_type",
        "i",
        SF.row_number().over(w).alias("rn"),
        SF.sum("cnt").over(w).alias("c"),
        SF.sum("cnt").over(wp).alias("tot"),
        SF.count(SF.lit(1)).over(wp).alias("nd"),
    ).filter(SF.col("rn") < SF.col("nd"))
    shift = SF.abs(
        SF.col("c").cast("double") / SF.col("rn").cast("double")
        - (SF.col("tot") - SF.col("c")).cast("double")
        / (SF.col("nd") - SF.col("rn")).cast("double")
    )
    top = (
        cum.select("i", shift.alias("s"))
        .orderBy(SF.desc("s"), SF.asc("i"))
        .limit(1)
        .collect()[0]
    )

    # brute force
    best_i, best_s = None, -1.0
    for k in range(1, n_days):
        a = sum(counts[:k]) / k
        b = sum(counts[k:]) / (n_days - k)
        s = abs(a - b)
        if s > best_s:
            best_i, best_s = k - 1, s  # split AFTER index k-1
    assert top.i == best_i
    assert top.s == pytest.approx(best_s, rel=1e-12)
    assert best_i == plant - 1, "statistic missed the planted shift"


@pytest.mark.parametrize("seed", [0, 1])
def test_moving_median_matches_pandas_rolling(spark, seed):
    """e22's collect/sort/interpolate frame construction vs pandas'
    rolling(7, min_periods=1).median() on random integer series —
    including the even-frame interpolated case the first 6 rows hit."""
    import random

    import pandas as pd

    rng = random.Random(seed)
    rows = []
    for grp in ("a", "b"):
        for i in range(40):
            rows.append((grp, i, rng.randrange(0, 50)))
    df = spark.createDataFrame(rows, "g STRING, i INT, cnt BIGINT")

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    w = W.partitionBy("g").orderBy("i").rowsBetween(-6, W.currentRow)
    arr = SF.array_sort(SF.collect_list("cnt").over(w))
    n = SF.size(arr)
    mid = ((n + 1) / SF.lit(2)).cast("int")
    lo = (n / SF.lit(2)).cast("int")
    med = SF.when(n % 2 == 1, SF.element_at(arr, mid).cast("double")).otherwise(
        (SF.element_at(arr, lo) + SF.element_at(arr, lo + 1)).cast("double") / 2.0
    )
    got = {
        (r.g, r.i): r.m
        for r in df.select("g", "i", med.alias("m")).collect()
    }
    pdf = pd.DataFrame(rows, columns=["g", "i", "cnt"]).sort_values(["g", "i"])
    for g, sub in pdf.groupby("g"):
        want = sub["cnt"].rolling(7, min_periods=1).median()
        for i, wv in zip(sub["i"], want):
            assert got[(g, i)] == wv, (g, i)


@pytest.mark.parametrize("seed", [0, 1])
def test_jump_histogram_matches_python_model(spark, seed):
    """i40's lag-window displacement bucketing vs a plain-python model
    over random fix sequences (shuffled input order — the window's
    (ts, event_id) sort must impose the same sequence)."""
    import math
    import random

    rng = random.Random(seed)
    rows = []
    for obj in range(4):
        for k in range(60):
            rows.append((obj, k, rng.randrange(100000)))
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "obj_id BIGINT, ts BIGINT, event_id BIGINT")

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    x = ((SF.col("event_id") * 7919 % 100000).cast("double") / 1000.0)
    y = ((SF.col("event_id") * 104729 % 100000).cast("double") / 1000.0)
    w = W.partitionBy("obj_id").orderBy("ts", "event_id")
    seq = df.select(
        x.alias("x"), y.alias("y"),
        SF.lag(x).over(w).alias("px"), SF.lag(y).over(w).alias("py"),
    ).filter(SF.col("px").isNotNull())
    d = SF.sqrt(
        (SF.col("x") - SF.col("px")) * (SF.col("x") - SF.col("px"))
        + (SF.col("y") - SF.col("py")) * (SF.col("y") - SF.col("py"))
    )
    got = {
        r.bucket: r.n
        for r in seq.select(
            SF.least(SF.floor(d / 5.0).cast("bigint"), SF.lit(19).cast("bigint")).alias("bucket")
        ).groupBy("bucket").agg(SF.count(SF.lit(1)).alias("n")).collect()
    }

    want: dict = {}
    by_obj: dict = {}
    for obj, ts, eid in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        xx = (eid * 7919 % 100000) / 1000.0
        yy = (eid * 104729 % 100000) / 1000.0
        if obj in by_obj:
            pxx, pyy = by_obj[obj]
            dist = math.sqrt((xx - pxx) ** 2 + (yy - pyy) ** 2)
            b = min(int(dist // 5.0), 19)
            want[b] = want.get(b, 0) + 1
        by_obj[obj] = (xx, yy)
    assert got == want


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_spearman_construction_matches_python_model(spark, seed):
    """d30's distinct-value doubled-rank + weighted-moment construction
    vs a direct python average-rank Pearson on random tied integer
    pairs — tie handling must agree to float precision."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    rows = [(rng.randrange(0, 12), rng.randrange(0, 20)) for _ in range(300)]
    df = spark.createDataFrame(rows, "x BIGINT, y BIGINT")
    g = df.groupBy("x", "y").agg(SF.count(SF.lit(1)).cast("bigint").alias("n_xy"))

    def ranks(col):
        a = g.groupBy(col).agg(SF.sum("n_xy").cast("bigint").alias("cnt"))
        w = W.orderBy(col).rowsBetween(W.unboundedPreceding, 0)
        return a.select(
            col,
            (2 * SF.sum("cnt").over(w) - SF.col("cnt") + 1)
            .cast("bigint").alias(f"r2{col}"),
        )

    j = g.join(ranks("x"), "x").join(ranks("y"), "y")
    m = j.agg(
        SF.sum("n_xy").cast("double").alias("n"),
        SF.sum(SF.col("n_xy") * SF.col("r2x")).cast("double").alias("sx"),
        SF.sum(SF.col("n_xy") * SF.col("r2y")).cast("double").alias("sy"),
        SF.sum(SF.col("n_xy") * SF.col("r2x") * SF.col("r2x")).cast("double").alias("sxx"),
        SF.sum(SF.col("n_xy") * SF.col("r2y") * SF.col("r2y")).cast("double").alias("syy"),
        SF.sum(SF.col("n_xy") * SF.col("r2x") * SF.col("r2y")).cast("double").alias("sxy"),
    ).collect()[0]
    num = m.n * m.sxy - m.sx * m.sy
    den = (m.n * m.sxx - m.sx * m.sx) ** 0.5 * (m.n * m.syy - m.sy * m.sy) ** 0.5
    got = num / den

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        rk = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            r = (i + 1 + j) / 2.0  # average of ranks i+1 .. j
            for t in order[i:j]:
                rk[t] = r
            i = j
        return rk

    rx = avg_ranks([x_ for x_, _ in rows])
    ry = avg_ranks([y_ for _, y_ in rows])
    nn = len(rows)
    mx, my = sum(rx) / nn, sum(ry) / nn
    cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    vx = sum((a - mx) ** 2 for a in rx)
    vy = sum((b - my) ** 2 for b in ry)
    want = cov / (vx ** 0.5 * vy ** 0.5)
    assert abs(got - want) < 1e-10, (got, want)


@pytest.mark.parametrize("seed", [0, 1])
def test_welch_ttest_matches_python_model(spark, seed):
    """d29's conditional-moment construction vs a direct two-pass python
    Welch t / Welch–Satterthwaite dof on random 2dp samples."""
    import random

    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    rows = [
        ("R" if rng.random() < 0.5 else "A", round(rng.uniform(10, 500), 2))
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "grp STRING, v DOUBLE")
    x = SF.col("v")

    def mom(flag, which):
        cond = SF.col("grp") == flag
        if which == "n":
            return SF.count(SF.when(cond, SF.lit(1))).cast("bigint")
        e = x if which == "s" else x * x
        return SF.sum(SF.when(cond, e.cast("decimal(28,6)"))).cast("double")

    s = df.agg(
        mom("R", "n").alias("n1"), mom("A", "n").alias("n2"),
        mom("R", "s").alias("sx1"), mom("R", "ss").alias("sxx1"),
        mom("A", "s").alias("sx2"), mom("A", "ss").alias("sxx2"),
    ).collect()[0]
    m1, m2 = s.sx1 / s.n1, s.sx2 / s.n2
    v1 = (s.sxx1 - s.sx1 * s.sx1 / s.n1) / (s.n1 - 1)
    v2 = (s.sxx2 - s.sx2 * s.sx2 / s.n2) / (s.n2 - 1)
    se1, se2 = v1 / s.n1, v2 / s.n2
    got_t = (m1 - m2) / (se1 + se2) ** 0.5
    got_dof = (se1 + se2) ** 2 / (se1 ** 2 / (s.n1 - 1) + se2 ** 2 / (s.n2 - 1))

    a = [v for g_, v in rows if g_ == "R"]
    b = [v for g_, v in rows if g_ == "A"]
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    va = sum((u - ma) ** 2 for u in a) / (len(a) - 1)
    vb = sum((u - mb) ** 2 for u in b) / (len(b) - 1)
    sa, sb = va / len(a), vb / len(b)
    want_t = (ma - mb) / (sa + sb) ** 0.5
    want_dof = (sa + sb) ** 2 / (sa ** 2 / (len(a) - 1) + sb ** 2 / (len(b) - 1))
    assert abs(got_t - want_t) < 1e-7, (got_t, want_t)
    assert abs(got_dof - want_dof) < 1e-4, (got_dof, want_dof)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_ks_statistic_matches_python_model(spark, seed):
    """d31's cross-multiplied prefix-sum supremum vs a direct python
    two-sample KS over random integer samples WITH ties — integer
    numerator must match exactly."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    rows = [
        ("O" if rng.random() < 0.6 else "F", rng.randrange(0, 30))
        for _ in range(250)
    ]
    df = spark.createDataFrame(rows, "grp STRING, v BIGINT")
    g = df.groupBy("v").agg(
        SF.count(SF.when(SF.col("grp") == "O", 1)).cast("bigint").alias("c1"),
        SF.count(SF.when(SF.col("grp") == "F", 1)).cast("bigint").alias("c2"),
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = g.select(
        SF.sum("c1").over(w).alias("cum1"), SF.sum("c2").over(w).alias("cum2")
    )
    n1 = sum(1 for gr, _ in rows if gr == "O")
    n2 = len(rows) - n1
    got = cum.agg(
        SF.max(SF.abs(SF.col("cum1") * n2 - SF.col("cum2") * n1))
    ).collect()[0][0]

    xs = sorted({v for _, v in rows})
    want = 0
    for t in xs:
        c1 = sum(1 for gr, v in rows if gr == "O" and v <= t)
        c2 = sum(1 for gr, v in rows if gr == "F" and v <= t)
        want = max(want, abs(c1 * n2 - c2 * n1))
    assert got == want, (got, want)


@pytest.mark.parametrize("seed", [0, 1])
def test_gini_construction_matches_python_model(spark, seed):
    """d33's rank-weighted decimal construction vs the direct
    mean-absolute-difference Gini definition on random 2dp spends:
    G = Σᵢⱼ|xᵢ−xⱼ| / (2n²·x̄), equal to the rank form for any tie
    ordering."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    rows = [(i, round(rng.uniform(1, 1000), 2)) for i in range(120)]
    df = spark.createDataFrame(rows, "k BIGINT, x DOUBLE")
    rk = df.select(
        SF.col("x").cast("decimal(28,6)").alias("xd"),
        SF.row_number().over(W.orderBy("x", "k")).cast("bigint").alias("rn"),
    )
    m = rk.agg(
        SF.count(SF.lit(1)).cast("bigint").alias("n"),
        SF.sum("xd").cast("double").alias("s"),
        SF.sum((SF.col("xd") * SF.col("rn")).cast("decimal(38,6)"))
        .cast("double").alias("a"),
    ).collect()[0]
    got = (2.0 * m.a - (m.n + 1.0) * m.s) / (m.n * m.s)

    xs = [x for _, x in rows]
    n = len(xs)
    mad = sum(abs(a - b) for a in xs for b in xs)
    want = mad / (2.0 * n * n * (sum(xs) / n))
    assert abs(got - want) < 1e-9, (got, want)


@pytest.mark.parametrize("seed", [0, 1])
def test_hhi_construction_matches_python_model(spark, seed):
    """d34's cents-moment construction vs the direct HHI definition
    10000·Σ(xᵢ/Σx)² on random 2dp spends."""
    import random

    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    rows = [(i, round(rng.uniform(1, 5000), 2)) for i in range(200)]
    df = spark.createDataFrame(rows, "k BIGINT, x DOUBLE")
    cents = (SF.col("x").cast("decimal(18,2)") * 100).cast("bigint")
    m = df.select(cents.alias("c")).agg(
        SF.sum("c").cast("double").alias("s"),
        SF.sum(SF.col("c").cast("decimal(38,0)") * SF.col("c"))
        .cast("double").alias("q"),
    ).collect()[0]
    got = 10000.0 * m.q / (m.s * m.s)

    xs = [round(x * 100) for _, x in rows]  # exact cents
    tot = sum(xs)
    want = 10000.0 * sum((c / tot) ** 2 for c in xs)
    assert abs(got - want) < 1e-6, (got, want)


@pytest.mark.parametrize("seed", [0, 1])
def test_ols_determinants_match_python_lstsq(spark, seed):
    """d35's exact-decimal determinant slope/intercept/R² vs a direct
    python least-squares fit on random (int x, 2dp y) points."""
    import random

    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    rows = [
        (float(q), round(3.0 * q + rng.uniform(-50, 50) + 100, 2))
        for q in (rng.randint(1, 50) for _ in range(300))
    ]
    df = spark.createDataFrame(rows, "x DOUBLE, y DOUBLE")
    xi = SF.col("x").cast("bigint")
    yi = (SF.col("y").cast("decimal(18,2)") * 100).cast("bigint")
    m = df.agg(
        SF.count(SF.lit(1)).cast("bigint").alias("n"),
        SF.sum(xi).cast("bigint").alias("sx"),
        SF.sum((xi * xi).cast("decimal(38,0)")).alias("sxx"),
        SF.sum(yi).cast("decimal(38,0)").alias("sy"),
        SF.sum((yi * yi).cast("decimal(38,0)")).alias("syy"),
        SF.sum((xi * yi).cast("decimal(38,0)")).alias("sxy"),
    ).collect()[0]
    import decimal as D
    d1 = float(m.n * m.sxy - m.sx * m.sy)
    d2 = float(m.n * m.sxx - D.Decimal(m.sx) * m.sx)
    d3 = float(m.n * m.syy - m.sy * m.sy)
    got_slope = d1 / d2
    got_icept = (float(m.sy) - got_slope * float(m.sx)) / float(m.n)
    got_r2 = (d1 * d1) / (d2 * d3)

    xs = [x for x, _ in rows]
    ys = [round(y * 100) for _, y in rows]  # exact cents
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    sxy = sum((a - mx) * (b - my) for a, b in zip(xs, ys))
    sxx = sum((a - mx) ** 2 for a in xs)
    syy = sum((b - my) ** 2 for b in ys)
    want_slope = sxy / sxx
    want_icept = my - want_slope * mx
    want_r2 = sxy * sxy / (sxx * syy)
    assert abs(got_slope - want_slope) < 1e-6, (got_slope, want_slope)
    assert abs(got_icept - want_icept) < 1e-3, (got_icept, want_icept)
    assert abs(got_r2 - want_r2) < 1e-9, (got_r2, want_r2)


@pytest.mark.parametrize("seed", [0, 1])
def test_max_drawdown_matches_python_model(spark, seed):
    """e25's running-peak window construction vs a direct python scan
    over a random integer series."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    rows = [(i, rng.randint(1, 1000)) for i in range(150)]
    df = spark.createDataFrame(rows, "t BIGINT, v BIGINT")
    w = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    got = (
        df.select((SF.max("v").over(w) - SF.col("v")).alias("draw"))
        .agg(SF.max("draw").cast("bigint").alias("m"))
        .collect()[0].m
    )
    peak, want = 0, 0
    for _, v in rows:
        peak = max(peak, v)
        want = max(want, peak - v)
    assert got == want, (got, want)


@pytest.mark.parametrize("seed", [0, 1])
def test_pareto_threshold_matches_python_model(spark, seed):
    """e26's cross-multiplied 80% cutoff vs a direct python greedy
    cover over random user counts (including tie groups)."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    rows = [(i, rng.randint(1, 30)) for i in range(80)]
    df = spark.createDataFrame(rows, "u BIGINT, cnt BIGINT")
    total = sum(c for _, c in rows)
    w = W.orderBy(SF.desc("cnt"), SF.asc("u")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    rkw = W.orderBy(SF.desc("cnt"), SF.asc("u"))
    got = (
        df.select(
            SF.sum("cnt").over(w).alias("running"),
            SF.row_number().over(rkw).cast("bigint").alias("rk"),
        )
        .filter(SF.col("running") * 10 >= SF.lit(total) * 8)
        .agg(SF.min("rk").alias("k"))
        .collect()[0].k
    )
    acc, want = 0, 0
    for _, c in sorted(rows, key=lambda r: (-r[1], r[0])):
        acc += c
        want += 1
        if acc * 10 >= total * 8:
            break
    assert got == want, (got, want)


@pytest.mark.parametrize("seed", [0, 1])
def test_tv_cross_multiplication_matches_fraction_model(spark, seed):
    """k43's integer cross-multiplied TV distance vs the direct
    ½Σ|p−q| fraction model on random token streams, including the
    absent-token correction term."""
    import random
    from collections import Counter

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    srcs = {
        s: [rng.choice(vocab[: rng.randint(10, 40)]) for _ in range(500)]
        for s in ("alpha", "beta", "gamma")
    }
    corpus = Counter()
    for toks in srcs.values():
        corpus.update(toks)
    n = sum(corpus.values())
    for s, toks in srcs.items():
        cs = Counter(toks)
        ns = sum(cs.values())
        # integer construction (the k43 kernel)
        present = sum(abs(c * n - corpus[t] * ns) for t, c in cs.items())
        ct_seen = sum(corpus[t] for t in cs)
        got = (present + ns * (n - ct_seen)) / (2.0 * ns * n)
        # direct fraction model over the FULL vocabulary
        want = 0.5 * sum(
            abs(cs.get(t, 0) / ns - corpus[t] / n) for t in corpus
        )
        assert abs(got - want) < 1e-12, (s, got, want)


@pytest.mark.parametrize("seed", [0, 1])
def test_cusum_fold_matches_python_model(spark, seed):
    """e27's F.aggregate CUSUM fold vs a direct python recursion on a
    random integer series (same integer scaling and threshold)."""
    import random

    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    cnts = [rng.randint(0, 50) for _ in range(90)]
    nd, total = len(cnts), sum(cnts)
    df = spark.createDataFrame([(cnts,)], "cnts ARRAY<BIGINT>")
    zero = SF.lit(0).cast("bigint")
    init = SF.struct(
        zero.alias("s"), zero.alias("alarms"), zero.alias("first"),
        zero.alias("idx"), zero.alias("maxs"),
    )

    def step(acc, cnt):
        idx = acc["idx"] + 1
        s2 = SF.greatest(zero, acc["s"] + (cnt * SF.lit(nd) - SF.lit(total)))
        alarm = s2 > 2 * SF.lit(total)
        return SF.struct(
            s2.alias("s"),
            (acc["alarms"] + alarm.cast("bigint")).alias("alarms"),
            SF.when((acc["first"] == zero) & alarm, idx)
            .otherwise(acc["first"]).alias("first"),
            idx.alias("idx"),
            SF.greatest(acc["maxs"], s2).alias("maxs"),
        )

    got = df.select(SF.aggregate("cnts", init, step).alias("a")).collect()[0].a

    s = alarms = first = maxs = 0
    for i, c in enumerate(cnts, 1):
        s = max(0, s + (c * nd - total))
        if s > 2 * total:
            alarms += 1
            if first == 0:
                first = i
        maxs = max(maxs, s)
    assert (got.s, got.alarms, got.first, got.maxs) == (s, alarms, first, maxs)


@pytest.mark.parametrize("seed", [0, 1])
def test_markov_transitions_match_python_model(spark, seed):
    """i44's lead-window transition construction vs a direct python
    walk over random per-object cell sequences (self-transitions
    collapsed, counts exact)."""
    import random
    from collections import Counter

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    rows = []
    eid = 0
    for obj in range(8):
        for t in range(60):
            rows.append((obj, t, eid, rng.randint(0, 3), rng.randint(0, 3)))
            eid += 1
    df = spark.createDataFrame(
        rows, "obj BIGINT, t BIGINT, eid BIGINT, cx INT, cy INT"
    )
    w = W.partitionBy("obj").orderBy("t", "eid")
    hops = df.select(
        "cx", "cy",
        SF.lead("cx").over(w).alias("nx"), SF.lead("cy").over(w).alias("ny"),
    )
    got = Counter(
        {
            (r.cx, r.cy, r.nx, r.ny): r.n
            for r in hops.filter(
                SF.col("nx").isNotNull()
                & ((SF.col("nx") != SF.col("cx")) | (SF.col("ny") != SF.col("cy")))
            )
            .groupBy("cx", "cy", "nx", "ny")
            .agg(SF.count(SF.lit(1)).alias("n"))
            .collect()
        }
    )
    want: Counter = Counter()
    for obj in range(8):
        seq = [(cx, cy) for o, _, _, cx, cy in rows if o == obj]
        for a, b in zip(seq, seq[1:]):
            if a != b:
                want[(a[0], a[1], b[0], b[1])] += 1
    assert got == want


@pytest.mark.parametrize("seed", [0, 1])
def test_od_asymmetry_canonicalization_matches_python_model(spark, seed):
    """i45's join-free CASE canonicalization vs a direct python
    unordered-pair fold on random directed counts."""
    import random
    from collections import defaultdict

    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    trans = [
        (rng.randint(0, 3), rng.randint(0, 3), rng.randint(0, 3),
         rng.randint(0, 3), rng.randint(1, 20))
        for _ in range(80)
    ]
    trans = [(fx, fy, tx, ty, n) for fx, fy, tx, ty, n in trans
             if (fx, fy) != (tx, ty)]
    df = spark.createDataFrame(
        trans, "fx INT, fy INT, tx INT, ty INT, n BIGINT"
    )
    is_fwd = (SF.col("fx") < SF.col("tx")) | (
        (SF.col("fx") == SF.col("tx")) & (SF.col("fy") <= SF.col("ty"))
    )
    und = df.select(
        SF.when(is_fwd, SF.col("fx")).otherwise(SF.col("tx")).alias("ax"),
        SF.when(is_fwd, SF.col("fy")).otherwise(SF.col("ty")).alias("ay"),
        SF.when(is_fwd, SF.col("tx")).otherwise(SF.col("fx")).alias("bx"),
        SF.when(is_fwd, SF.col("ty")).otherwise(SF.col("fy")).alias("by2"),
        SF.when(is_fwd, SF.col("n")).otherwise(SF.lit(0)).alias("fwd"),
        SF.when(is_fwd, SF.lit(0)).otherwise(SF.col("n")).alias("rev"),
    )
    got = {
        (r.ax, r.ay, r.bx, r.by2): (r.f, r.r)
        for r in und.groupBy("ax", "ay", "bx", "by2")
        .agg(SF.sum("fwd").alias("f"), SF.sum("rev").alias("r"))
        .collect()
    }
    want: dict = defaultdict(lambda: [0, 0])
    for fx, fy, tx, ty, n in trans:
        if (fx, fy) <= (tx, ty):
            want[(fx, fy, tx, ty)][0] += n
        else:
            want[(tx, ty, fx, fy)][1] += n
    assert got == {k: tuple(v) for k, v in want.items()}


@pytest.mark.parametrize("seed", [0, 1])
def test_df_census_matches_python_counter(spark, seed):
    """k45's log2 df-bucket census vs a direct python Counter on a
    random (doc, term) incidence."""
    import random
    from collections import Counter
    from math import floor, log2

    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    pairs = {(rng.randint(0, 60), rng.randint(0, 25)) for _ in range(600)}
    df = spark.createDataFrame(
        [(d, t) for d, t in sorted(pairs)], "doc BIGINT, term BIGINT"
    )
    dfreq = df.groupBy("term").agg(SF.count(SF.lit(1)).alias("df"))
    got = {
        r.b: (r.n_terms, r.n_postings)
        for r in dfreq.groupBy(
            SF.floor(SF.log2("df")).cast("int").alias("b")
        )
        .agg(
            SF.count(SF.lit(1)).alias("n_terms"),
            SF.sum("df").alias("n_postings"),
        )
        .collect()
    }
    c = Counter(t for _, t in pairs)
    want: dict = {}
    for f in c.values():
        b = floor(log2(f))
        nt, np_ = want.get(b, (0, 0))
        want[b] = (nt + 1, np_ + f)
    assert got == want


@pytest.mark.parametrize("seed", [0, 1])
def test_ntile_bucketing_matches_python_model(spark, seed):
    """d37's NTILE(10) over a (value, key) total order vs the SQL
    standard's definition (⌊n/10⌋ base size, first n mod 10 buckets
    one larger) computed directly in python."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    n = rng.randint(95, 115)  # deliberately not divisible by 10
    rows = [(i, rng.randint(1, 40)) for i in range(n)]  # heavy ties
    df = spark.createDataFrame(rows, "k BIGINT, v BIGINT")
    got = {
        r.k: r.d
        for r in df.select(
            "k", SF.ntile(10).over(W.orderBy("v", "k")).alias("d")
        ).collect()
    }
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    base, extra = divmod(n, 10)
    want, i = {}, 0
    for b in range(1, 11):
        size = base + (1 if b <= extra else 0)
        for k, _ in order[i: i + size]:
            want[k] = b
        i += size
    assert got == want


@pytest.mark.parametrize("seed", [0, 1])
def test_rank_percentile_selection_matches_python_model(spark, seed):
    """e28's element-at-integer-rank percentiles ((n+1)//2 and
    ⌈9n/10⌉) vs direct python selection on a random series with
    ties."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    vals = [rng.randint(0, 200) for _ in range(rng.randint(30, 90))]
    df = spark.createDataFrame([(v,) for v in vals], "gap BIGINT")
    r = df.select(
        "gap",
        SF.row_number().over(W.orderBy("gap")).cast("bigint").alias("rn"),
        SF.count(SF.lit(1)).over(
            W.partitionBy().orderBy().rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).cast("bigint").alias("n"),
    )
    med = SF.floor((SF.col("n") + 1) / 2)
    p90 = SF.floor((9 * SF.col("n") + 9) / 10)
    got = r.agg(
        SF.max(SF.when(SF.col("rn") == med, SF.col("gap"))).alias("p50"),
        SF.max(SF.when(SF.col("rn") == p90, SF.col("gap"))).alias("p90"),
    ).collect()[0]
    s = sorted(vals)
    n = len(s)
    assert got.p50 == s[(n + 1) // 2 - 1]
    assert got.p90 == s[-(-9 * n // 10) - 1]


@pytest.mark.parametrize("seed", [0, 1])
def test_volatility_flips_match_python_model(spark, seed):
    """e29's double-lag sign-flip construction vs a direct python scan
    over a random integer series."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    vals = [rng.randint(0, 40) for _ in range(100)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "t BIGINT, v BIGINT"
    )
    w = W.orderBy("t")
    got = (
        df.select(
            (
                SF.signum(SF.col("v") - SF.lag("v").over(w))
                * SF.signum(SF.lag("v").over(w) - SF.lag("v", 2).over(w))
            ).alias("flip")
        )
        .agg(
            SF.coalesce(SF.sum(SF.when(SF.col("flip") < 0, 1)), SF.lit(0))
            .cast("bigint").alias("n")
        )
        .collect()[0].n
    )
    want = 0
    for i in range(2, len(vals)):
        d1, d0 = vals[i] - vals[i - 1], vals[i - 1] - vals[i - 2]
        if d1 * d0 < 0:
            want += 1
    assert got == want, (got, want)


@pytest.mark.parametrize("seed", [0, 1])
def test_record_days_match_python_model(spark, seed):
    """e30's 1-PRECEDING running-max record detection vs a direct
    python high-water scan."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    vals = [rng.randint(0, 60) for _ in range(120)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "t BIGINT, v BIGINT"
    )
    w = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    got = (
        df.select("v", SF.max("v").over(w).alias("pp"))
        .filter(SF.col("pp").isNull() | (SF.col("v") > SF.col("pp")))
        .count()
    )
    peak, want = None, 0
    for v in vals:
        if peak is None or v > peak:
            want += 1
            peak = v if peak is None else max(peak, v)
    assert got == want, (got, want)


@pytest.mark.parametrize("seed", [0, 1])
def test_revisit_rate_matches_python_model(spark, seed):
    """i47's collapsed-sequence stop/distinct counts vs a direct
    python walk."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as SF

    rng = random.Random(seed)
    rows = []
    for obj in range(6):
        for t in range(50):
            rows.append((obj, t, rng.randint(0, 3), rng.randint(0, 1)))
    df = spark.createDataFrame(rows, "obj BIGINT, t BIGINT, cx INT, cy INT")
    w = W.partitionBy("obj").orderBy("t")
    seq = df.select(
        "obj", "cx", "cy",
        SF.lag("cx").over(w).alias("px"), SF.lag("cy").over(w).alias("py"),
    )
    stops = seq.filter(
        SF.col("px").isNull()
        | (SF.col("cx") != SF.col("px"))
        | (SF.col("cy") != SF.col("py"))
    )
    got = {
        r.obj: (r.s, r.d)
        for r in stops.groupBy("obj").agg(
            SF.count(SF.lit(1)).alias("s"),
            SF.countDistinct("cx", "cy").alias("d"),
        ).collect()
    }
    want = {}
    for obj in range(6):
        cells = [(cx, cy) for o, _, cx, cy in rows if o == obj]
        collapsed = [cells[0]] + [
            b for a, b in zip(cells, cells[1:]) if a != b
        ]
        want[obj] = (len(collapsed), len(set(collapsed)))
    assert got == want


# ---------------------------------------------------------------------------
# Round-8 planted-adversary recall properties (verdict ask #8): each
# candidate GENERATOR is fed a corpus built to hide pairs exactly where
# the generator is weakest; the property is "no qualifying pair is
# missed by the candidate stage" (the k54 salt bug was caught by
# exactly this discipline — containment tests cannot see recall loss).
# ---------------------------------------------------------------------------
def test_c16_deletion_neighborhood_zero_miss(spark):
    """Adversarial ed<=1 classes — substitution at FIRST / LAST /
    middle position, insertion at both ends, deletion, exact
    duplicates, plus 150 seeded random single-edit mutations — and
    the CANDIDATE stage (variant-key equi-join, BEFORE the verify
    filter) must contain every brute-force levenshtein<=1 pair."""
    import itertools
    import random as _r

    from glonassdatamining_spark.operators.joins import deletion_variants

    rng = _r.Random(816)
    alpha = "abcdefghij"
    words = {
        # hand adversaries
        "aster", "bster",            # first-char substitution
        "caster", "castes",          # last-char substitution
        "candle", "cradle",          # ed=2 (must NOT qualify)
        "zoom", "zooms", "zoo",      # end insert / delete chain
        "xray", "wxray",             # front insert
        "same", "same ",             # trailing-space insert
        "dup", "dup",                # exact dup (set collapses it)
    }
    base = ["".join(rng.choice(alpha) for _ in range(rng.randint(3, 9)))
            for _ in range(50)]
    words.update(base)
    for w in list(base):
        for _ in range(3):
            op = rng.choice(["sub", "ins", "del"])
            i = rng.randrange(len(w))
            if op == "sub":
                words.add(w[:i] + rng.choice(alpha) + w[i + 1:])
            elif op == "ins":
                words.add(w[:i] + rng.choice(alpha) + w[i:])
            elif len(w) > 1:
                words.add(w[:i] + w[i + 1:])
    rows = [(i, w) for i, w in enumerate(sorted(words))]

    def lev(a, b):
        if abs(len(a) - len(b)) > 1:
            return 2
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (i, j)
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if lev(a, b) <= 1
    }
    assert len(want) > 150, "planted corpus must be edit-dense"

    df = spark.createDataFrame(rows, "key INT, name STRING")
    v = df.select("key", F.explode(deletion_variants("name")).alias("vk"))
    got = {
        (r.k1, r.k2)
        for r in v.alias("a")
        .join(
            v.alias("b"),
            (F.col("a.vk") == F.col("b.vk"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(F.col("a.key").alias("k1"), F.col("b.key").alias("k2"))
        .distinct()
        .collect()
    }
    missed = want - got
    assert not missed, f"qualifying pairs missed by candidates: {sorted(missed)[:5]}"
    # the ed=2 plant must NOT survive the exact verify (it may or may
    # not be a candidate — that's the generator's business)
    byname = {w: i for i, w in rows}
    assert lev("candle", "cradle") == 2


def test_h19_phonetic_key_hits_and_documented_misses(spark):
    """h19's blocking key is a soundex-style code whose FIRST LETTER
    is kept verbatim — so same-sound/same-initial confusables MUST
    collide (hits asserted), while first-letter variants are the
    documented miss class of any soundex-family generator (asserted
    as a STABLE boundary, so a future key change that silently
    shrinks — or accidentally widens — the block is caught)."""
    from glonassdatamining_spark.functions.scalars import phonetic_key

    hits = [
        ("smith", "smyth"), ("smith", "smithe"),
        ("ashcraft", "ashcroft"), ("tymczak", "tymcak"),
        ("jackson", "jaxon"), ("pfister", "pfizter"),
    ]
    misses = [
        ("catherine", "katherine"),   # C... vs K...: first letter kept
        ("wright", "right"),          # W vs R
    ]
    vocab = sorted({w for p in hits + misses for w in p})
    df = spark.createDataFrame([(w,) for w in vocab], "tok STRING")
    keys = {
        r.tok: r.pk
        for r in df.select("tok", phonetic_key(F.col("tok")).alias("pk")).collect()
    }
    for a, b in hits:
        assert keys[a] == keys[b], (a, b, keys[a], keys[b])
    for a, b in misses:
        assert keys[a] != keys[b], (
            f"documented miss class now collides: {(a, b)} — "
            "update h19's docstring if the key family changed"
        )
