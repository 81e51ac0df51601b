"""Public, reusable API — the engine's operators as parameterized
functions over ARBITRARY DataFrames (any column names, any source).

The registered queries in ``operators/`` are these same kernels bound
to the driver's fixture tables; binding them through this module keeps
the public API and the hash-checked demo queries from drifting apart.

Every function is lazy (returns an unexecuted DataFrame) unless its
docstring says otherwise, and every one follows the scale doctrine in
SCALE.md: equi-join/groupBy shapes only, Python only as vectorized
Arrow kernels, no driver state proportional to the data.
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

_CC_LOG = logging.getLogger("glonassdatamining_spark.cc")

# Scale-adaptive partition sizing for iterative kernel STATE (round-11
# optimization, guide §2.2 "fewer, larger reduce partitions"): frontier
# / distance / edge frames are often thousands of rows at fixture
# scales yet inherit the core-count shuffle partitioning, so every one
# of a kernel's dozens of tiny jobs pays a core-count task launch.
# Partition count derives from DATA (ceil(n / _ROWS_PER_PART), capped
# at defaultParallelism) — at scale the cap binds and parallelism is
# unchanged. The one sizing rule for every iterative operator:
# operators/* import it from here.
_ROWS_PER_PART = 100_000


def adaptive_partitions(df: DataFrame) -> int:
    """ceil(rows / _ROWS_PER_PART) in [1, defaultParallelism].

    Call on a CHECKPOINTED frame: the probe is a plain ``count()`` of
    its materialized blocks (per-partition partial counts, no row
    shuffle). Its plan compiles to the same code on every call, so a
    warm session reuses the cached classes; a ``limit(cap).count()``
    probe compiled new classes on every call, because Spark names
    each codegen'd limit counter from a JVM-global sequence."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(par, -(-df.count() // _ROWS_PER_PART)))


# --------------------------------------------------------------------------
# sessionization
# --------------------------------------------------------------------------
def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Assign gap-based ``session_id`` (1-based, per key) to every row:
    a new session starts where the time since the previous row of the
    same key exceeds ``gap_seconds``.

    One shuffle on ``key``; the lag window, the running sum, and any
    downstream per-session groupBy all reuse that single exchange.

    Gaps are measured in exact milliseconds (``unix_timestamp`` would
    FLOOR to seconds while e.g. DuckDB's ``epoch`` cast ROUNDS — a
    cross-engine off-by-one on sub-second timestamps).
    """
    w = Window.partitionBy(key).orderBy(ts, *tiebreak)
    prev = F.lag(ts).over(w)
    gap_ms = F.unix_millis(F.col(ts)) - F.unix_millis(prev)
    flagged = df.withColumn(
        "_new_session",
        F.when(prev.isNull() | (gap_ms > gap_seconds * 1000), 1).otherwise(0),
    )
    return flagged.withColumn(
        "session_id",
        F.sum("_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("_new_session")


def funnel(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: Sequence[str],
) -> DataFrame:
    """Parameterized ordered-funnel detection (the MATCH_RECOGNIZE
    pattern ``A then B then C …`` per user, generalizing the hard-coded
    3-step form in operators/windows.py e9): for each user, the first
    occurrence of ``steps[0]``, then the first ``steps[1]`` STRICTLY
    after it, and so on. Returns one row per user with ``step1_ts`` …
    ``stepN_ts`` (NULL once the chain breaks) and ``funnel_depth`` =
    number of steps reached.

    All N conditional-min windows partition by ``user_col`` only, so
    Catalyst plans ONE exchange with a WindowExec chain — an N-step
    funnel at 100 TB costs a single shuffle of the events, independent
    of N.
    """
    if not steps:
        raise ValueError("funnel: steps must be non-empty")
    w = Window.partitionBy(user_col)
    out = df
    step_cols: list[str] = []
    prev: str | None = None
    for i, step in enumerate(steps):
        cond = F.col(type_col) == step
        if prev is not None:
            cond = cond & (F.col(ts_col) > F.col(prev))
        name = f"step{i + 1}_ts"
        out = out.withColumn(name, F.min(F.when(cond, F.col(ts_col))).over(w))
        step_cols.append(name)
        prev = name
    # Deepest reached step wins: test stepN first, fall through to 0.
    n = len(step_cols)
    chain = F.when(F.col(step_cols[n - 1]).isNotNull(), n)
    for i in range(n - 2, -1, -1):
        chain = chain.when(F.col(step_cols[i]).isNotNull(), i + 1)
    depth = chain.otherwise(0)
    return out.select(
        user_col, *step_cols, depth.alias("funnel_depth")
    ).distinct()


# --------------------------------------------------------------------------
# as-of join
# --------------------------------------------------------------------------
def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    tolerance_s: float | None = None,
) -> DataFrame:
    """As-of join: each left row gains the columns of the nearest right
    row (same ``key``) at-or-before its timestamp (``backward``, the
    default — DuckDB ``ASOF LEFT JOIN`` semantics) or at-or-after it
    (``forward``); NULLs when no such row exists.

    ``right`` must be unique per (key, right_ts) — pre-aggregate ties.
    Plan: union-tag both sides, one shuffle on ``key``, then a running
    ``last(ignorenulls)`` — linear within partition, no range join, no
    Python. Right rows sort before left rows at equal ts, which makes
    the match inclusive; ``forward`` is the same scan over the reversed
    order. ``nearest`` evaluates BOTH scans over the same partitioning
    (Spark reuses the single exchange for the two WindowExecs) and
    picks the closer match per row, preferring backward on exact ties.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    payload = [c for c in right.columns if c not in (key, right_ts)]
    r_struct = F.struct(*[F.col(c) for c in payload], F.col(right_ts))
    r_dtype = right.select(r_struct.alias("_r")).schema["_r"].dataType
    left_payload = [c for c in left.columns if c != key]
    left_schema = dict(zip(left.schema.names, left.schema.fields))
    l2 = left.select(
        F.col(key),
        F.col(left_ts).alias("_ets"),
        *left_payload,
        F.lit(1).alias("_is_left"),
        F.lit(None).cast(r_dtype).alias("_r"),
    )
    r2 = right.select(
        F.col(key),
        F.col(right_ts).alias("_ets"),
        *[
            F.lit(None).cast(left_schema[c].dataType).alias(c)
            for c in left_payload
        ],
        F.lit(0).alias("_is_left"),
        r_struct.alias("_r"),
    )
    def scan(order_ts):
        return F.last("_r", ignorenulls=True).over(
            Window.partitionBy(key)
            .orderBy(order_ts, "_is_left")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

    tagged = l2.unionByName(r2)
    if direction == "nearest":
        tagged = tagged.withColumn("_mb", scan(F.col("_ets"))).withColumn(
            "_mf", scan(F.col("_ets").desc())
        )
        back, fwd = F.col("_mb"), F.col("_mf")
        d_back = F.col("_ets").cast("double") - back[right_ts].cast("double")
        d_fwd = fwd[right_ts].cast("double") - F.col("_ets").cast("double")
        tagged = tagged.withColumn(
            "_m",
            F.when(back.isNull(), fwd)
            .when(fwd.isNull(), back)
            .when(d_fwd < d_back, fwd)
            .otherwise(back),
        )
    else:
        order_ts = (
            F.col("_ets") if direction == "backward" else F.col("_ets").desc()
        )
        tagged = tagged.withColumn("_m", scan(order_ts))
    if tolerance_s is not None:
        # Tolerance: a match farther than tolerance_s seconds (in the
        # scan direction; either side for "nearest") reverts to NULL —
        # the "stale quote" guard of time-series as-of joins. Applied
        # as a null-out on the matched struct, so the single-shuffle
        # plan is unchanged.
        gap = F.abs(
            F.col("_ets").cast("double")
            - F.col("_m")[right_ts].cast("double")
        )
        tagged = tagged.withColumn(
            "_m", F.when(gap <= float(tolerance_s), F.col("_m"))
        )
    return tagged.filter(F.col("_is_left") == 1).select(
        key,
        *left_payload,
        *[F.col(f"_m.{c}").alias(c) for c in payload],
        F.col(f"_m.{right_ts}").alias(right_ts),
    )


# --------------------------------------------------------------------------
# spatial kernels
# --------------------------------------------------------------------------
def grid_distance_join(
    points: DataFrame, id_col: str, x: str, y: str, eps: float
) -> DataFrame:
    """ε-distance self-join: all pairs (a_id < b_id) with euclidean
    distance ≤ ``eps``; returns (a_id, b_id, dist).

    Grid-bucket form (STARK's partitioner as a DataFrame plan): cell
    width = ε, HALF-neighborhood probe (own cell + the 4
    lexicographically-forward neighbors — the plane-sweep trick: an
    unordered cross-cell pair is discovered exactly once from the
    smaller home cell, same-cell pairs dedup on id order, ~45% fewer
    candidate evaluations than the full 3×3), equi-join on cell, exact
    residual — candidates O(local density · n), never O(n²).
    """
    p = points.select(
        F.col(id_col).alias("_id"), F.col(x).alias("_x"), F.col(y).alias("_y")
    )
    home = p.withColumn("_cx", F.floor(F.col("_x") / eps)).withColumn(
        "_cy", F.floor(F.col("_y") / eps)
    )
    fwd = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in [(0, 0), (1, 0), (-1, 1), (0, 1), (1, 1)]
        ]
    )
    probe = (
        home.withColumn("_o", F.explode(fwd))
        .select(
            F.col("_id").alias("a_id"),
            F.col("_x").alias("_ax"),
            F.col("_y").alias("_ay"),
            (F.col("_cx") + F.col("_o.dx")).alias("_cx"),
            (F.col("_cy") + F.col("_o.dy")).alias("_cy"),
            ((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0)).alias("_self"),
        )
    )
    build = home.select(
        F.col("_id").alias("b_id"),
        F.col("_x").alias("_bx"),
        F.col("_y").alias("_by"),
        "_cx",
        "_cy",
    )
    d = F.sqrt(
        (F.col("_ax") - F.col("_bx")) * (F.col("_ax") - F.col("_bx"))
        + (F.col("_ay") - F.col("_by")) * (F.col("_ay") - F.col("_by"))
    )
    return (
        probe.join(build, ["_cx", "_cy"])
        .filter(
            (d <= eps)
            & (F.col("a_id") != F.col("b_id"))
            & (~F.col("_self") | (F.col("a_id") < F.col("b_id")))
        )
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
            d.alias("dist"),
        )
    )


#: mean km per degree of latitude (and of longitude at the equator).
_KM_PER_DEG = 111.19492664455873  # = 6371.0088 * pi / 180


def haversine_km(lat1, lon1, lat2, lon2) -> Column:
    """Great-circle distance in km between two (lat, lon) degree pairs
    (haversine formula, mean earth radius 6371.0088 km). Pure JVM trig
    — codegen'd, no shuffle; the real-geometry drop-in for the
    euclidean ``_dist`` used by the synthetic-plane operators.

    Arithmetic is written as a fixed op sequence (single multiply per
    conversion, no intermediate rounding) so an oracle engine writing
    the same sequence agrees to the last ulp of its libm.
    """
    import math

    half_rad = math.pi / 360.0  # degrees → half-angle radians
    rad = math.pi / 180.0
    lat1, lon1 = F.lit(lat1) if not isinstance(lat1, Column) else lat1, (
        F.lit(lon1) if not isinstance(lon1, Column) else lon1
    )
    lat2, lon2 = F.lit(lat2) if not isinstance(lat2, Column) else lat2, (
        F.lit(lon2) if not isinstance(lon2, Column) else lon2
    )
    sdlat = F.sin((lat2 - lat1) * half_rad)
    sdlon = F.sin((lon2 - lon1) * half_rad)
    a = sdlat * sdlat + F.cos(lat1 * rad) * F.cos(lat2 * rad) * sdlon * sdlon
    return F.asin(F.sqrt(a)) * (2.0 * 6371.0088)


def _latlon_cells(
    points: DataFrame,
    id_col: str,
    lat: str,
    lon: str,
    eps_km: float,
    max_abs_lat: float,
) -> tuple[DataFrame, int]:
    """Home cell of every point with |lat| ≤ ``max_abs_lat`` on a
    lat/lon grid sized so that any two points within ``eps_km``
    (great-circle) sit in the same or adjacent cells on both axes.
    Returns ((_id, _lat, _lon, _cx, _cy), n_lon_cells).

    Cell height is eps/100 degrees (true scale ≥ 110.57 km/° lat).
    Cell width starts at ≤ eps/40 degrees (≥ 55.66 km/° lon inside
    ±60°), which alone proves coverage only up to eps ≈ 4500 km at
    60°: beyond that the great circle bows poleward. So the longitude
    cell count is also capped at 360 // Δλ, where Δλ = 2·asin(sin(eps
    / 2R) / cos(max_abs_lat)) is the exact longitude spread of two
    points eps apart on the ``max_abs_lat`` parallel (the
    spread-maximizing pair); dlon ≥ Δλ then holds exactly.

    Longitude cells divide 360° exactly and neighbours are taken mod
    n_lon_cells, so pairs straddling ±180° stay adjacent. The count
    never drops below 3: the offsets (cx−1, cx, cx+1) mod n are
    distinct only for n ≥ 3 (at n ∈ {1, 2} two offsets alias and a
    neighbour would be probed twice), and at n = 3 the ±1 ring spans
    the whole circle, so any Δλ is covered."""
    import math

    dlat_deg = eps_km / 100.0
    n_lon_cells = max(4, math.ceil(360.0 / (eps_km / 40.0)))
    _sin_arg = math.sin(min(eps_km, math.pi * 6371.0088) / (2.0 * 6371.0088))
    _s = _sin_arg / math.cos(math.radians(max_abs_lat))
    if _s < 1.0:
        _dlon_needed = math.degrees(2.0 * math.asin(_s))
        n_lon_cells = min(n_lon_cells, max(3, int(360.0 // _dlon_needed)))
    else:
        n_lon_cells = 3  # ball spans all longitudes at this latitude
    dlon_deg = 360.0 / n_lon_cells
    p = points.filter(F.abs(F.col(lat)) <= max_abs_lat).select(
        F.col(id_col).alias("_id"),
        F.col(lat).alias("_lat"),
        F.col(lon).alias("_lon"),
    )
    home = p.withColumn(
        "_cx",
        F.floor((F.col("_lon") + 180.0) / dlon_deg).cast("int") % n_lon_cells,
    ).withColumn("_cy", F.floor(F.col("_lat") / dlat_deg))
    return home, n_lon_cells


def haversine_distance_join(
    points: DataFrame,
    id_col: str,
    lat: str,
    lon: str,
    eps_km: float,
    max_abs_lat: float = 60.0,
) -> DataFrame:
    """ε-distance self-join on REAL lat/lon geometry: all pairs
    (a_id < b_id) with great-circle distance ≤ ``eps_km``; returns
    (a_id, b_id, dist_km). Rows with |lat| > ``max_abs_lat`` are
    excluded (near-polar longitude cells degenerate; partition polar
    caps separately if you need them).

    Same grid-bucket shape as ``grid_distance_join`` on the
    latitude-aware, antimeridian-safe cells of ``_latlon_cells``: its
    eps/100 cell height and its longitude cell count (eps/40 width,
    capped by the exact Δλ spread at ``max_abs_lat``) put every
    in-range pair in the same or adjacent cells, so the 3×3
    neighborhood provably over-covers the ε-ball and the equi-join
    loses no pairs, at any ``eps_km``. Candidates stay O(local density
    · n); the exact haversine residual prunes the rest.
    """
    home, n_lon_cells = _latlon_cells(points, id_col, lat, lon, eps_km, max_abs_lat)
    # Half-neighborhood probe (see grid_distance_join): own cell + 4
    # forward neighbors. Forward stays antisymmetric under modular
    # longitude because n_lon_cells ≥ 3: for a same-row adjacent pair
    # exactly one cell's (+1 mod n) lands on the other, and cross-row
    # pairs are found from the lower _cy.
    fwd = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in [(0, 0), (1, 0), (-1, 1), (0, 1), (1, 1)]
        ]
    )
    probe = (
        home.withColumn("_o", F.explode(fwd))
        .select(
            F.col("_id").alias("a_id"),
            F.col("_lat").alias("_alat"),
            F.col("_lon").alias("_alon"),
            ((F.col("_cx") + F.col("_o.dx") + n_lon_cells) % n_lon_cells).alias("_cx"),
            (F.col("_cy") + F.col("_o.dy")).alias("_cy"),
            ((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0)).alias("_self"),
        )
    )
    build = home.select(
        F.col("_id").alias("b_id"),
        F.col("_lat").alias("_blat"),
        F.col("_lon").alias("_blon"),
        "_cx",
        "_cy",
    )
    d = haversine_km(F.col("_alat"), F.col("_alon"), F.col("_blat"), F.col("_blon"))
    return (
        probe.join(build, ["_cx", "_cy"])
        .filter(
            (d <= eps_km)
            & (F.col("a_id") != F.col("b_id"))
            & (~F.col("_self") | (F.col("a_id") < F.col("b_id")))
        )
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
            d.alias("dist_km"),
        )
    )


def haversine_knn_join(
    points: DataFrame,
    id_col: str,
    lat: str,
    lon: str,
    k: int = 3,
    max_km: float = 500.0,
    max_abs_lat: float = 60.0,
) -> DataFrame:
    """Bounded k-nearest-neighbor self-join on REAL lat/lon geometry:
    for each point, its ``k`` nearest neighbors BY GREAT-CIRCLE
    DISTANCE among the points within ``max_km`` (the bounded contract
    that keeps kNN grid-expressible — identical to the planar
    ``i48`` shape). Returns (a_id, b_id, rank, dist_km). Rows with
    |lat| > ``max_abs_lat`` are excluded (near-polar longitude cells
    degenerate; partition polar caps separately).

    Grid kernel = ``haversine_distance_join``'s latitude-adaptive,
    antimeridian-safe cells (``_latlon_cells``), but with the FULL 3×3
    neighborhood probe: kNN is directional (a's neighbors ≠ b's), so
    unlike the ε-pair join the half-neighborhood trick cannot apply.
    The cells put every pair within ``max_km`` in adjacent cells, so
    the equi-join provably loses no in-range neighbor. One row_number
    window per a_id (orderBy dist, b_id — deterministic ties) takes
    the top k.

    Scale: candidates O(9 · local density · n) — never all-pairs;
    the window partitions by a_id, so the final rank is one keyed
    shuffle of the (already ε-pruned) candidate set. EPSG note: input
    is WGS84 lat/lon degrees; distances are mean-earth-radius great
    circles (no projection step — see README's Sedona seam for full
    CRS transforms)."""
    home, n_lon_cells = _latlon_cells(points, id_col, lat, lon, max_km, max_abs_lat)
    ring = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = home.withColumn("_o", F.explode(ring)).select(
        F.col("_id").alias("a_id"),
        F.col("_lat").alias("_alat"),
        F.col("_lon").alias("_alon"),
        ((F.col("_cx") + F.col("_o.dx") + n_lon_cells) % n_lon_cells).alias(
            "_cx"
        ),
        (F.col("_cy") + F.col("_o.dy")).alias("_cy"),
    )
    build = home.select(
        F.col("_id").alias("b_id"),
        F.col("_lat").alias("_blat"),
        F.col("_lon").alias("_blon"),
        "_cx",
        "_cy",
    )
    d = haversine_km(
        F.col("_alat"), F.col("_alon"), F.col("_blat"), F.col("_blon")
    )
    w = Window.partitionBy("a_id").orderBy("dist_km", "b_id")
    return (
        probe.join(build, ["_cx", "_cy"])
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", d.alias("dist_km"))
        .filter(F.col("dist_km") <= max_km)
        # a (a_id, b_id) pair can meet in at most one cell: b lives in
        # exactly one home cell and probe offsets target distinct
        # cells — no dedup needed before ranking.
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def haversine_knn_radius(
    points: DataFrame,
    lat: str,
    lon: str,
    k: int = 3,
    max_abs_lat: float = 60.0,
    coverage_factor: float = 4.0,
    density_quantile: float = 0.10,
    floor_km: float = 10.0,
    cap_km: float = 2000.0,
) -> float:
    """DENSITY-DERIVED kNN radius (round-8 verdict ask #9: i53's
    radius lever was manual — the 800 km fixture tune is fine at
    sf0.1 but over-densifies 17.9× at sf1, where 10× the points need
    only ~1/√10 the reach). Derivation: bin the points into i54's
    latitude-adaptive geodesic census cells (10° bands ×
    floor(cos·36) modular lon cells — exact spherical-cap areas), take
    a LOW per-point density quantile ρ_q (points/km², frequency-
    weighted by cell population so empty wilderness doesn't vote),
    and size the radius so a point even in that sparse regime expects
    ``coverage_factor · k`` in-range neighbors:

        r = sqrt(coverage_factor · k / (π · ρ_q))    [clamped]

    Poisson sanity: with λ = coverage_factor·k expected neighbors,
    P[fewer than k=3 | λ=12] < 0.2%, so the k-coverage property holds
    for ~all points at the derivation quantile and above. The census
    is one partial-agg groupBy + a 1-row percentile collect (a scalar
    — the audited-collect class); at 10× density the radius shrinks
    √10×, so candidate volume per point (~ π r² ρ) stays CONSTANT —
    the self-tuning contract that turns i53's fixed-extent
    densification into a flat per-point cost."""
    import math

    R = 6371.0088
    p = points.filter(F.abs(F.col(lat)) <= max_abs_lat)
    band = F.floor(F.col(lat) / 10.0)
    n_lon = F.greatest(
        F.lit(1).cast("bigint"),
        F.floor(F.cos((band * 10.0 + 5.0) * (math.pi / 180.0)) * 36.0).cast(
            "bigint"
        ),
    )
    cells = (
        p.select(
            band.alias("_band"),
            n_lon.alias("_nlon"),
            (
                F.floor((F.col(lon) + 180.0) * n_lon / 360.0).cast("bigint")
                % n_lon
            ).alias("_cell"),
        )
        .groupBy("_band", "_nlon", "_cell")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    area = (
        (2.0 * math.pi * R * R)
        * (
            F.sin((F.col("_band") * 10.0 + 10.0) * (math.pi / 180.0))
            - F.sin(F.col("_band") * 10.0 * (math.pi / 180.0))
        )
        / F.col("_nlon")
    )
    row = (
        cells.select((F.col("_n") / area).alias("_dens"), "_n")
        .agg(
            F.expr(
                f"percentile(_dens, {density_quantile!r}, _n)"
            ).alias("q")
        )
        # 1-row density-quantile scalar (bounded census rollup)
        .collect()[0]
    )
    if row.q is None or row.q <= 0:
        return cap_km
    r = math.sqrt(coverage_factor * k / (math.pi * float(row.q)))
    return min(cap_km, max(floor_km, r))


class LocalPlane:
    """Parameterized equirectangular local-plane CRS around an anchor
    (round-9 verdict ask #8: i61's two anchor zones were query
    literals — this is the reusable ``ST_Transform``-for-the-local-
    plane-case helper, so a third zone is one constructor call, not
    an operator edit).

    Scale factors are PYTHON-precomputed floats captured at
    construction (kx = KY·cos(lat0), ky = KY = R·π/180 km/deg), so
    the per-row transform is one IEEE subtract + multiply per axis —
    no per-row trig, no libm divergence between engines; an oracle
    replays the same doubles by injecting ``repr(plane.kx)`` /
    ``repr(plane.ky)`` literals (i61's hash-exactness discipline,
    now carried by the object).

    ``distortion_bound(dlat)`` returns the documented max E-W scale
    error |cos(lat)/cos(lat0) − 1| across lat0 ± dlat — the honesty
    contract: beyond ~4% use the geodesic tier (i53–i56) instead.
    """

    #: exact N-S km per degree on the mean-earth sphere
    KY = 6371.0088 * 3.141592653589793 / 180.0

    def __init__(self, lat0: float, lon0: float) -> None:
        import math

        self.lat0 = float(lat0)
        self.lon0 = float(lon0)
        self.ky = self.KY
        self.kx = self.KY * math.cos(math.radians(self.lat0))

    def xk(self, lon) -> Column:
        """East-west km offset Column from a lon Column/name."""
        lon = F.col(lon) if isinstance(lon, str) else lon
        return (lon - F.lit(self.lon0)) * F.lit(self.kx)

    def yk(self, lat) -> Column:
        """North-south km offset Column from a lat Column/name."""
        lat = F.col(lat) if isinstance(lat, str) else lat
        return (lat - F.lit(self.lat0)) * F.lit(self.ky)

    def distortion_bound(self, dlat: float) -> float:
        """Max |cos(lat)/cos(lat0) − 1| over lat ∈ [lat0−dlat, lat0+dlat]."""
        import math

        c0 = math.cos(math.radians(self.lat0))
        return max(
            abs(math.cos(math.radians(self.lat0 + s * dlat)) / c0 - 1.0)
            for s in (-1.0, 1.0)
        )


def local_plane(lat0: float, lon0: float) -> LocalPlane:
    """Construct a :class:`LocalPlane` anchored at (lat0, lon0)."""
    return LocalPlane(lat0, lon0)


def polygon_edges(polygon: list[tuple[float, float]]) -> Column:
    """Closed-ring edge array for a polygon given as [(x, y), ...]
    vertices (closing edge appended automatically): a Column literal
    ``array<struct<x1,y1,x2,y2>>`` consumable by ``point_in_polygon``.
    Being a plain literal it broadcasts with the plan — no join, no
    driver state."""
    n = len(polygon)
    if n < 3:
        raise ValueError("polygon needs >= 3 vertices")
    edges = []
    for i in range(n):
        (x1, y1), (x2, y2) = polygon[i], polygon[(i + 1) % n]
        edges.append(
            F.struct(
                F.lit(float(x1)).alias("x1"),
                F.lit(float(y1)).alias("y1"),
                F.lit(float(x2)).alias("x2"),
                F.lit(float(y2)).alias("y2"),
            )
        )
    return F.array(*edges)


def point_in_polygon(x, y, edges: Column) -> Column:
    """Boolean Column: is point (x, y) strictly inside the polygon
    whose closed-ring edges are ``edges`` (from ``polygon_edges`` or a
    per-row edge-array column)? Even-odd ray casting — count edges
    whose half-open y-span covers the point and whose x-intercept at
    the point's y lies to the right; odd count = inside. Works for
    arbitrary simple polygons (convex or not).

    Pure JVM higher-order functions (filter + size) — codegen'd,
    zero shuffle, zero Python. Horizontal edges are skipped by the
    half-open span test, so no division by zero. The same crossing
    arithmetic written in ANSI SQL over an unnested edge table
    reproduces these doubles exactly (fixed op order)."""
    x = F.lit(x) if not isinstance(x, Column) else x
    y = F.lit(y) if not isinstance(y, Column) else y
    crossings = F.size(
        F.filter(
            edges,
            lambda e: ((e.y1 > y) != (e.y2 > y))
            & (x < e.x1 + (y - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1)),
        )
    )
    return crossings % 2 == 1


def set_similarity_topk(
    pairs: DataFrame,
    obj_col: str,
    item_col: str,
    k: int,
    round_to: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Top-k most-similar objects per object by Jaccard over item sets
    (similarity > 0), from an (object, item) membership table; returns
    (obj_a, obj_b, jaccard).

    Inverted-index join: equi-join on item, count co-occurrences per
    pair, jaccard = inter / (|a| + |b| − inter). Pure equi-join/groupBy
    — scales to millions of objects where all-pairs cannot.

    ``round_to`` rounds jaccard BEFORE ranking (tie-break obj_b) so an
    oracle ranking on rounded values cannot diverge.

    ``max_df`` is the IDF-pruning skew lever: items that appear in more
    than ``max_df`` object sets (depot cells, boilerplate shingles) are
    dropped BEFORE set construction, on both sides symmetrically — the
    similarity becomes Jaccard over the discriminative items only
    (classic IDF rationale: a feature shared by everyone ranks no one),
    and the hot item's O(df²) pair blow-up never enters the join.
    Default None = exact Jaccard; at 100 TB set max_df ≈ a small
    multiple of the expected pair-count budget per item.
    """
    memb = pairs.select(
        F.col(obj_col).alias("_obj"), F.col(item_col).alias("_item")
    )
    if max_df is not None:
        df_counts = (
            memb.distinct()
            .groupBy("_item")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("_item")
        )
        memb = memb.join(broadcast(df_counts), "_item", "left_anti")
    # Dedup + set size in ONE shuffle: groupBy obj → collect_set (the
    # partial/map-side combine dedups before the exchange), size() is
    # free on the set, explode back to memberships narrowly. This beats
    # the distinct→window form by a full exchange, and the pair groupBy
    # then picks sizes up for free (min of a per-group constant) — no
    # post-aggregation size join at all.
    oc = (
        memb
        .groupBy("_obj")
        .agg(F.collect_set("_item").alias("_items"))
        .select("_obj", F.size("_items").alias("_sz"), F.explode("_items").alias("_item"))
        # Both legs of the inverted-index self-join read this frame —
        # materialize once or the membership aggregation runs twice.
        .localCheckpoint()
    )
    half = (
        oc.alias("a")
        .join(oc.alias("b"), "_item")
        .filter(F.col("a._obj") < F.col("b._obj"))
        .groupBy(F.col("a._obj").alias("obj_a"), F.col("b._obj").alias("obj_b"))
        .agg(
            F.count(F.lit(1)).alias("_inter"),
            F.min(F.col("a._sz")).alias("_sza"),
            F.min(F.col("b._sz")).alias("_szb"),
        )
    )
    # Symmetrize in ONE pass — explode of a 2-struct array. The former
    # two-branch unionByName re-ran the whole inverted-index join +
    # pair groupBy once per branch (optimization guide §2.4: duplicated
    # subtrees); row multiset is identical.
    sym = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("obj_a"),
                    F.col("obj_b"),
                    F.col("_sza"),
                    F.col("_szb"),
                ),
                F.struct(
                    F.col("obj_b").alias("obj_a"),
                    F.col("obj_a").alias("obj_b"),
                    F.col("_szb").alias("_sza"),
                    F.col("_sza").alias("_szb"),
                ),
            )
        ).alias("_e"),
        "_inter",
    ).select("_e.obj_a", "_e.obj_b", "_inter", "_e._sza", "_e._szb")
    jac = F.col("_inter").cast("double") / (
        F.col("_sza") + F.col("_szb") - F.col("_inter")
    )
    if round_to is not None:
        jac = F.round(jac, round_to)
    scored = sym.select("obj_a", "obj_b", jac.alias("jaccard"))
    w = Window.partitionBy("obj_a").orderBy(F.col("jaccard").desc(), "obj_b")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------
def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Keep one deterministic representative (lowest id) per distinct
    content hash. One shuffle on the hash."""
    w = Window.partitionBy("_h").orderBy(id_col)
    return (
        df.withColumn("_h", F.md5(F.col(content_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def shingles(text_col, n: int = 3, pre_tokenized: bool = False) -> Column:
    """Distinct n-gram word shingles of a text column (JVM higher-order
    functions; no Python).

    Performance: pass a MATERIALIZED token-array column with
    ``pre_tokenized=True`` whenever possible — an inline split(text)
    gets re-inlined by Catalyst into every element_at of the shingle
    lambda, re-tokenizing each doc O(n_shingles·n) times (measured 7×
    slowdown on the fixture corpus)."""
    toks = (
        (F.col(text_col) if isinstance(text_col, str) else text_col)
        if pre_tokenized
        else F.split(text_col, " ")
    )
    # Guard: with fewer than n tokens, sequence(1, size-(n-1)) would
    # DESCEND (Spark defaults step=-1 when start > stop) and element_at
    # would then index 0 / out-of-range — a hard error under Spark 4's
    # default ANSI mode. Short docs get an empty shingle set instead.
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tau: float = 0.2,
    n_perms: int = 16,
    n_bands: int = 4,
    band_df_cap: int | None = None,
    cap_stats_out: dict | None = None,
) -> DataFrame:
    """Fuzzy-dedup cluster assignment (MinHash + banded LSH + exact
    Jaccard verification + connected components); returns
    (id_col, cluster) with cluster = min member id.

    Candidate pairs come only from band-key equi-joins (never
    all-pairs); each connected-components iteration is materialized via
    localCheckpoint so lineage stays O(1) (use reliable checkpoint()
    on a cluster). Eager: runs Spark jobs when called.

    ``band_df_cap`` (round 8, the k54b scale lever): drop band BUCKETS
    larger than the cap from candidate generation. Without it the
    self-join's cost is Σ bucket² and the biggest buckets are the band
    keys whose minhash is a corpus-COMMON shingle's hash — they grow
    linearly with corpus size, making the pass superlinear, while
    contributing almost no verified pairs (two docs sharing one common
    shingle min rarely pass the exact-Jaccard gate). With the cap the
    candidate count is bounded by cap·n_bands·n/2 — LINEAR in corpus
    size. Recall: a qualifying pair escapes only if EVERY band where
    its sketches collide (≥ n_bands·J expected for single-row bands)
    is oversized; because n_bands independent permutations each give
    the pair a fresh chance to hit one of its RARE shared shingles as
    the min, at least one collision lands in a small bucket in
    practice — measured on the planted k54 corpus: the worst pair's
    smallest colliding bucket is 9 (sf0.1) / 20 (sf1) vs buckets up to
    30 / 81, so cap=64 is lossless there with >3x margin (asserted in
    tests/test_api.py; the k54b doc-for-doc equality test re-proves it
    end-to-end every run).

    ``cap_stats_out`` (round-9 ADVICE fix — "no silent caps"): the
    losslessness argument above is CERTIFIED only on the planted k54
    corpus; a generic caller enabling the cap on a different corpus
    could lose qualifying pairs with no visibility. Pass a dict and
    the cap pass fills it with ``dropped_buckets`` / ``dropped_rows``
    (band-bucket postings discarded before candidate generation) and
    ``max_bucket`` (largest bucket seen), and the same numbers are
    logged at INFO on the ``glonassdatamining_spark.lsh`` logger — so
    callers can see exactly how much candidate mass the cap discarded
    on THEIR corpus and re-certify (or raise the cap). Costs one extra
    aggregate over the (already checkpointed) band-postings frame;
    the default (None) path is plan-identical to before and computes
    nothing extra."""
    # Small tables scan into one split; spread the shingle+minhash HOF
    # work (the dominant CPU cost) over every core before computing it.
    # Shingles are hashed to int64 at construction (xxhash64 straight
    # over the n token slots — no intermediate concat string ever
    # built): minhash permutations, banding keys, and the Jaccard
    # verification all operate on longs (8 bytes, codegen'd
    # comparisons) — same result modulo 2^-64 collisions, ~2× less
    # state than string shingles.
    par = df.sparkSession.sparkContext.defaultParallelism
    # Tokens materialize in their own projection (see shingles(): an
    # inline split re-tokenizes per element_at — measured 7× slower).
    toks = F.col("_tk")
    # <3-token guard: see shingles() — avoids the descending-sequence /
    # element_at(…, 0) ANSI error on short documents.
    hashed = F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.xxhash64(
                    *[F.element_at(toks, i + j) for j in range(3)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    d = (
        df.select(
            F.col(id_col).alias("_id"),
            F.split(F.col(text_col), " ").alias("_tk"),
        )
        .repartition(par)
        .select("_id", hashed.alias("_s"))
        .localCheckpoint()
    )
    # NOTE the closure factory: a `lambda x, j=j:` default-arg capture
    # here is a TWO-parameter lambda, and pyspark's transform() passes
    # (element, ARRAY INDEX) to two-parameter lambdas — the index
    # silently overrides the salt default and every "permutation"
    # collapses to the same position-salted hash (found round 7 via
    # k54's no-straddle property test; the k2b containment test never
    # caught it because a recall bug cannot violate containment).
    def _minhash(j: int):
        return F.array_min(
            F.transform("_s", lambda x: F.xxhash64(F.lit(j), x))
        ).alias(f"_mh{j}")

    mh = d.select("_id", "_s", *[_minhash(j) for j in range(n_perms)])
    rows_per_band = n_perms // n_bands
    bands = mh.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(bi),
                        *[
                            F.col(f"_mh{bi * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("_band", "_band_key"),
    ).localCheckpoint()
    if band_df_cap is None and cap_stats_out is not None:
        # total contract (round-9 review fix): an uncapped run drops
        # nothing — report that instead of leaving the dict untouched
        # (a caller wiring stats unconditionally must not mistake an
        # uncapped run for a certified-lossless capped one).
        cap_stats_out.update(dropped_buckets=0, dropped_rows=0, max_bucket=0)
    if band_df_cap is not None:
        # one linear agg + semi-join: keep only buckets <= cap before
        # the quadratic self-join (see docstring recall argument).
        bucket_counts = bands.groupBy("_band", "_band_key").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        if cap_stats_out is not None:
            # Surface what the cap discards (never silent): one 1-row
            # aggregate over the bucket-count frame.
            row = bucket_counts.agg(
                F.coalesce(
                    F.sum((F.col("_bn") > band_df_cap).cast("bigint")),
                    F.lit(0),
                ).alias("dropped_buckets"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("_bn") > band_df_cap, F.col("_bn")
                        ).otherwise(F.lit(0))
                    ),
                    F.lit(0),
                ).alias("dropped_rows"),
                F.coalesce(F.max("_bn"), F.lit(0)).alias("max_bucket"),
            ).collect()[0]  # 1-row bounded cap-audit scalar
            cap_stats_out.update(
                dropped_buckets=int(row["dropped_buckets"]),
                dropped_rows=int(row["dropped_rows"]),
                max_bucket=int(row["max_bucket"]),
            )
            logging.getLogger("glonassdatamining_spark.lsh").info(
                "band_df_cap=%d dropped %d oversized buckets "
                "(%d band postings; max bucket %d)",
                band_df_cap,
                cap_stats_out["dropped_buckets"],
                cap_stats_out["dropped_rows"],
                cap_stats_out["max_bucket"],
            )
        small = bucket_counts.filter(
            F.col("_bn") <= band_df_cap
        ).select("_band", "_band_key")
        bands = bands.join(small, ["_band", "_band_key"], "left_semi")
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["_band", "_band_key"])
        .filter(F.col("x._id") < F.col("y._id"))
        .select(F.col("x._id").alias("_a"), F.col("y._id").alias("_b"))
        .distinct()
    )
    verified = (
        cand.join(d.select(F.col("_id").alias("_a"), F.col("_s").alias("_sa")), "_a")
        .join(d.select(F.col("_id").alias("_b"), F.col("_s").alias("_sb")), "_b")
        # Multiply form of |∩|/|∪| >= tau: division-free, so two
        # empty-shingle docs (0/0) can't raise DIVIDE_BY_ZERO under
        # ANSI — they simply fail the union>0 requirement and stay
        # singletons (Jaccard is undefined for two empty sets).
        .filter(
            (F.size(F.array_union("_sa", "_sb")) > 0)
            & (
                F.size(F.array_intersect("_sa", "_sb")).cast("double")
                >= F.lit(tau) * F.size(F.array_union("_sa", "_sb"))
            )
        )
        .select("_a", "_b")
        # materialize once: connected_components references the edge
        # list from both legs of its symmetrizing union — without this
        # the candidate+verify join would execute twice.
        .localCheckpoint()
    )
    labels = connected_components(verified, "_a", "_b")
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(labels.withColumnRenamed("node", "_id").withColumnRenamed("component", "cluster"), "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("cluster", F.col("_id")).alias("cluster"),
        )
    )


# --------------------------------------------------------------------------
# graph mining
# --------------------------------------------------------------------------
def connected_components(
    edges_df: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 20,
    driver_max_edges: int = 200_000,
    stats_out: dict | None = None,
) -> DataFrame:
    """Weakly connected components over an (undirected) edge list;
    returns (node, component) with component = min member id, one row
    per node that appears in at least one edge.

    Hybrid execution (the AQE idea applied to graph merge): the edge
    list is usually orders of magnitude smaller than the corpus it was
    derived from (near-dup candidates, border pairs). When it fits
    comfortably on the driver (≤ ``driver_max_edges``), a local
    union-find computes the exact same min-label fixpoint in
    microseconds instead of paying one Spark job per propagation round
    — this is the "tiny merge table" pattern SURVEY §7.4 sanctions for
    DBSCAN/CC merges. Above the threshold: alternating large-star /
    small-star contraction (Kiveris et al. 2014) — each round hangs
    every node off its neighborhood minimum (large-star on all
    neighbors, small-star on smaller-id neighbors), halving the
    remaining tree height so the fixpoint lands in O(log n) rounds
    (NOT O(diameter) — a path graph of a million nodes converges in
    ~20 rounds, which is what the ``max_iter=20`` default assumes);
    each round is one shuffle-join + one groupBy, iterations
    materialized via localCheckpoint so lineage stays O(1) (use
    reliable checkpoint() on a cluster). Label frames shrink to
    distinct vertices, never edge-sized.
    Eager: runs Spark jobs when called.

    On a real cluster the star rounds ARE the dominant cost (two
    checkpoints + an exceptAll fixpoint probe per round), so their
    count is made visible: each round emits an INFO log line
    (``glonassdatamining_spark.cc`` logger) with the remaining
    parent-edge count, and passing ``stats_out={}`` fills it with
    ``path`` ("driver" | "distributed"), ``rounds``, and
    ``edge_counts`` (parent edges after each round) for callers /
    tests that need to pin the O(log n) bound.
    """
    oriented = edges_df.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst")
    )
    # Single-job gate probe: collect at most gate//2 + 1 rows — if the
    # limit wasn't hit, the whole (bounded) edge list is already on the
    # driver and union-find proceeds; if it WAS hit, the edge list is
    # over the gate and we fall to the distributed path. One bounded
    # collect replaces the checkpoint+count+collect triple (2 fewer
    # Spark jobs per merge — DBSCAN/LSH call this on tiny edge sets).
    probe_cap = driver_max_edges // 2 + 1
    probe = oriented.limit(probe_cap).collect()
    if 2 * len(probe) <= driver_max_edges:
        if stats_out is not None:
            stats_out.update(path="driver", rounds=0, edge_counts=[])
        # Union-find needs neither symmetrized nor deduplicated edges.
        pairs = [(r._src, r._dst) for r in probe]
        parent: dict = {}

        def find(a):
            root = a
            while parent[root] != root:
                root = parent[root]
            while parent[a] != root:  # path compression
                parent[a], a = root, parent[a]
            return root

        for a, b in pairs:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min so the representative IS the min label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(n, find(n)) for n in parent]
        node_type = oriented.schema["_src"].dataType.simpleString()
        import pandas as pd

        if not rows:
            return edges_df.sparkSession.createDataFrame(
                [], f"node {node_type}, component {node_type}"
            )
        # Arrow-path upload — avoids the pickled-parallelize job a
        # plain list createDataFrame would run.
        return edges_df.sparkSession.createDataFrame(
            pd.DataFrame(rows, columns=["node", "component"]),
            schema=f"node {node_type}, component {node_type}",
        )
    # Distributed path: alternating LARGE-STAR / SMALL-STAR rounds
    # (Kiveris et al. 2014, "Connected Components in MapReduce and
    # Beyond" — public algorithm, re-expressed as DataFrame ops).
    # Converges in O(log n) rounds instead of min-label propagation's
    # O(diameter): a 10M-node path graph needs ~24 rounds here vs 10M
    # there. Each round is two groupBy+join pairs; frames checkpointed
    # so lineage stays O(1) (reliable checkpoint() on a cluster).
    #
    # large-star: every node u hooks its strictly-LARGER neighbors to
    #   m(u) = min(Γ(u) ∪ {u}); output edges all satisfy _src > _dst.
    # small-star: on parent pointers (all _src > _dst), node u re-hooks
    #   itself and all its parents/smaller neighbors to their min.
    # Invariant: connectivity preserved; fixpoint = star per component
    # rooted at the component min.
    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.union(
            e.select(F.col("_dst").alias("_src"), F.col("_src").alias("_dst"))
        ).distinct()
        m = (
            sym.groupBy("_src")
            .agg(F.min("_dst").alias("_nmin"))
            .select("_src", F.least("_src", "_nmin").alias("_m"))
        )
        return (
            sym.join(m, "_src")
            .filter(F.col("_dst") > F.col("_src"))
            .select(F.col("_dst").alias("_src"), F.col("_m").alias("_dst"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # input invariant: _src > _dst for every edge
        m = e.groupBy("_src").agg(F.min("_dst").alias("_m"))
        hooked = e.join(m, "_src").select(
            F.col("_dst").alias("_src"), F.col("_m").alias("_dst")
        )
        self_hook = m.select("_src", F.col("_m").alias("_dst"))
        return (
            hooked.union(self_hook)
            .filter(F.col("_src") != F.col("_dst"))
            .distinct()
        )

    # Distributed path: pin the (large) edge list once so the star
    # rounds and the node universe don't re-derive upstream lineage.
    oriented = oriented.localCheckpoint()
    # Isolated/self-loop-only nodes never enter the star rounds; they
    # rejoin as their own component at the end.
    all_nodes = (
        oriented.select(F.col("_src").alias("node"))
        .union(oriented.select(F.col("_dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    e = oriented.filter(F.col("_src") != F.col("_dst")).localCheckpoint()
    converged = False
    prev_n = -1
    rounds = 0
    edge_counts: list[int] = []
    for _ in range(max_iter):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        n2 = e2.count()
        rounds += 1
        edge_counts.append(n2)
        # Per-round visibility: on a cluster the two checkpoints + the
        # exceptAll probe per round are THE dominant cost of this
        # kernel, so the round ledger goes to the log, not just to
        # stats_out.
        _CC_LOG.info(
            "connected_components: star round %d — %d parent edges remain",
            rounds, n2,
        )
        # Fixpoint test (exact): both frames are distinct sets, so
        # equal counts + empty one-sided difference ⇔ set equality.
        if n2 == prev_n and e2.exceptAll(e).limit(1).count() == 0:
            converged = True
            e = e2
            break
        e, prev_n = e2, n2
    if stats_out is not None:
        stats_out.update(
            path="distributed", rounds=rounds, edge_counts=edge_counts
        )
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: star contraction did not converge "
            f"in {max_iter} rounds — returned labels may merge further; "
            f"raise max_iter (bound is O(log n) rounds).",
            RuntimeWarning,
            stacklevel=2,
        )
    # Fixpoint is a star per component: every non-root points straight
    # at the component min. groupBy-min is a no-op safety net there and
    # the right merge if we stopped at max_iter unconverged.
    labels = e.groupBy("_src").agg(F.min("_dst").alias("_comp"))
    return (
        all_nodes.join(labels, all_nodes.node == labels._src, "left")
        .select(
            "node", F.coalesce("_comp", F.col("node")).alias("component")
        )
    )


def _undirected_edges(edges_df: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of every edge, deduplicated and checkpointed:
    (_src, _dst). Eager: runs Spark jobs when called."""
    return (
        edges_df.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
        .union(edges_df.select(F.col(dst).alias("_src"), F.col(src).alias("_dst")))
        .distinct()
        .localCheckpoint()
    )


def _bfs_levels(
    sym: DataFrame,
    seed: DataFrame,
    visited: DataFrame,
    expand,
    max_iter: int,
    n_parts: int | None,
) -> tuple[list[DataFrame], DataFrame]:
    """Level-synchronous frontier BFS over the undirected edges ``sym``
    (``_undirected_edges``). ``seed`` is level 0 and ``visited`` the
    nodes reached so far, both checkpointed with a ``node`` column
    (often the same frame). Round d joins the last level to ``sym`` and
    hands the joined rows to ``expand(joined, d)``, which returns the
    next level's rows keyed by ``node`` (one per node); nodes already
    visited are anti-joined away. Stops at the first empty level or
    after ``max_iter`` rounds. Returns (levels, visited): level d holds
    the nodes first reached in round d, and visited has ``visited``'s
    columns for every level.

    Each round runs three Spark actions: the level checkpoint, its
    emptiness probe and the visited checkpoint, so lineage stays O(1)
    (reliable checkpoint on a cluster; bucket edges by src and every
    round is co-located). With ``n_parts`` both are coalesced to that
    many partitions before their checkpoints."""
    levels = [seed]
    for d in range(1, max_iter + 1):
        frontier = levels[-1]
        nxt = expand(frontier.join(sym, frontier.node == sym._src), d).join(
            visited.select("node"), "node", "left_anti"
        )
        if n_parts:
            nxt = nxt.coalesce(n_parts)
        nxt = nxt.localCheckpoint()
        if nxt.isEmpty():
            break
        levels.append(nxt)
        visited = visited.unionByName(nxt.select(*visited.columns))
        if n_parts:
            visited = visited.coalesce(n_parts)
        visited = visited.localCheckpoint()
    return levels, visited


def kcore(
    edges_df: DataFrame,
    src: str,
    dst: str,
    k: int,
    max_iter: int = 50,
) -> DataFrame:
    """k-core decomposition: the maximal induced subgraph in which
    every node has degree ≥ k (undirected, deduplicated edges);
    returns (node, core_degree) for the surviving nodes.

    Iterative peeling: each round computes degrees (one groupBy) and
    anti-joins out the sub-k nodes from both edge endpoints — the
    standard distributed k-core shape. The low-degree node set shrinks
    every round and broadcasts; the edge frame is localCheckpoint'ed so
    lineage stays O(1) (reliable checkpoint on a cluster; bucket edges
    by src to co-locate every round). Converges in at most O(V) rounds
    (typically ≪; ``max_iter`` guards with a warning like
    ``connected_components``). Eager: runs Spark jobs when called.
    """
    sym = _undirected_edges(edges_df, src, dst)
    converged = False
    n_edges = sym.count()
    for _ in range(max_iter):
        if n_edges == 0:
            converged = True
            break
        deg = sym.groupBy("_src").agg(F.count(F.lit(1)).alias("_deg"))
        low = deg.filter(F.col("_deg") < k).select("_src")
        # ONE action per round: peel and materialize directly; a
        # shrinking edge count proves the round removed nodes, an
        # unchanged count proves `low` was empty (removing zero nodes
        # leaves every edge) — so no separate emptiness job on `low`.
        # No broadcast hint on the anti-joins: the first rounds can
        # drop MOST nodes (low is large), later rounds drop few — AQE
        # picks broadcast vs shuffle from the runtime size.
        sym_next = (
            sym.join(low, "_src", "left_anti")
            .join(low.select(F.col("_src").alias("_dst")), "_dst", "left_anti")
            .localCheckpoint()
        )
        n_next = sym_next.count()
        if n_next == n_edges:
            converged = True
            break
        sym, n_edges = sym_next, n_next
    if not converged:
        import warnings

        warnings.warn(
            f"kcore: peeling did not converge in {max_iter} iterations — "
            f"result may still contain sub-{k} nodes; raise max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    return (
        sym.groupBy("_src")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("_src").alias("node"), "core_degree")
    )


def bfs_hops(
    edges_df: DataFrame,
    src: str,
    dst: str,
    source_node=None,
    max_iter: int = 20,
) -> DataFrame:
    """Unweighted shortest-path hop counts from one source node over an
    undirected edge list; returns (node, hops) for every reachable
    node (source included at 0).

    Pregel-style frontier expansion: each round joins the CURRENT
    frontier (nodes first reached last round — shrinks toward the
    periphery) against the edge list, anti-joins the visited set, and
    appends. O(diameter) rounds, each one equi-join + distinct +
    anti-join; visited stays vertex-sized and is localCheckpoint'ed so
    lineage is O(1) (reliable checkpoint on a cluster; bucket edges by
    src and every round is co-located). The per-round emptiness check
    is a count on the (small) frontier, not the graph.

    ``source_node`` defaults to the minimum src value (deterministic).
    Eager: runs Spark jobs when called.
    """
    import pandas as pd

    spark = edges_df.sparkSession
    sym = _undirected_edges(edges_df, src, dst)
    # per-round frames sized to the graph, not the core count (§2.2)
    n_parts = adaptive_partitions(sym)
    sym = sym.coalesce(n_parts)
    if source_node is None:
        row = sym.agg(F.min("_src")).collect()[0]
        source_node = row[0]
    if source_node is None:
        node_type = edges_df.schema[src].dataType.simpleString()
        return spark.createDataFrame([], f"node {node_type}, hops bigint")
    seed = (
        spark.createDataFrame(pd.DataFrame({"node": [source_node], "hops": [0]}))
        .select(
            F.col("node").cast(sym.schema["_src"].dataType),
            F.col("hops").cast("bigint"),
        )
        .localCheckpoint()
    )
    _, visited = _bfs_levels(
        sym,
        seed,
        seed,
        lambda j, d: j.select(F.col("_dst").alias("node"))
        .distinct()
        .withColumn("hops", F.lit(d).cast("bigint")),
        max_iter,
        n_parts,
    )
    return visited


def weighted_sssp(
    edges_df: DataFrame,
    src: str,
    dst: str,
    weight: str,
    source_node=None,
    max_iter: int = 100,
    max_dist: int | None = None,
) -> DataFrame:
    """Single-source shortest WEIGHTED distances over an undirected
    edge list with positive integer edge lengths; returns
    (node, dist) for every reachable node (source at 0). Round-9
    verdict ask #3 — bfs_hops' frontier join with an integer RELAX
    step instead of hop counting.

    Frontier Bellman-Ford (delta-less): each round relaxes only from
    the frontier (nodes whose distance improved last round) — one
    equi-join onto the edge list, a per-node min, and an improvement
    anti-filter against the settled table. Positive integer weights
    make every improvement ≥ 1, so the fixpoint terminates in at most
    (max finite distance) rounds and — unlike Dijkstra — needs no
    priority queue, making it the standard distributed SSSP shape
    (Pregel's). All arithmetic is integer, hence hash-exact across
    engines. ``max_dist`` (optional) truncates the result to the
    bounded-cost ball dist ≤ max_dist — the form a recursive-CTE
    oracle can replay with a path-cost guard. Iterations are
    localCheckpoint-materialized (lineage O(1); reliable checkpoint()
    on a cluster, where bucketing edges by src makes every round
    co-located). Eager: runs Spark jobs when called.

    The positive-integer precondition is ENFORCED, not assumed
    (round-9 review fix): a float weight column would silently
    truncate partial sums per relax step (two 1.9-edges would tie a
    2.1-edge), and a weight < 1 breaks both the termination bound and
    the oracle's path-cost-guard equivalence -- fail fast on either.
    """
    wtype = edges_df.schema[weight].dataType.simpleString()
    if wtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"weighted_sssp: weight column {weight!r} must be an "
            f"integral type (got {wtype}) -- cast or round explicitly"
        )
    sym = (
        edges_df.select(
            F.col(src).alias("_src"),
            F.col(dst).alias("_dst"),
            F.col(weight).alias("_w"),
        )
        .union(
            edges_df.select(
                F.col(dst).alias("_src"),
                F.col(src).alias("_dst"),
                F.col(weight).alias("_w"),
            )
        )
        # parallel edges: keep only the lightest (shortest-path-
        # equivalent, smaller state)
        .groupBy("_src", "_dst")
        .agg(F.min("_w").alias("_w"))
        .localCheckpoint()
    )
    # per-round frames sized to the graph, not the core count (§2.2)
    n_parts = adaptive_partitions(sym)
    sym = sym.coalesce(n_parts)
    if not sym.filter(F.col("_w") < 1).isEmpty():
        raise ValueError(
            "weighted_sssp: all edge weights must be >= 1 (positive "
            "integers) -- a zero/negative length breaks termination"
        )
    if source_node is None:
        row = sym.agg(F.min("_src")).collect()[0]  # 1-row scalar seed
        source_node = row[0]
    node_type = sym.schema["_src"].dataType
    if source_node is None:
        return edges_df.sparkSession.createDataFrame(
            [], f"node {node_type.simpleString()}, dist bigint"
        )
    import pandas as pd

    seed = (
        edges_df.sparkSession.createDataFrame(
            pd.DataFrame({"node": [source_node], "dist": [0]})
        )
        .select(
            F.col("node").cast(node_type),
            F.col("dist").cast("bigint"),
        )
        .localCheckpoint()
    )
    dist = seed
    frontier = seed
    for _ in range(max_iter):
        relaxed = (
            frontier.join(sym, frontier.node == sym._src)
            .select(
                F.col("_dst").alias("node"),
                (F.col("dist") + F.col("_w")).cast("bigint").alias("dist"),
            )
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        improved = (
            relaxed.join(
                dist.select("node", F.col("dist").alias("_old")),
                "node",
                "left",
            )
            .filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .select("node", "dist")
            .coalesce(n_parts)
            .localCheckpoint()
        )
        if improved.isEmpty():
            break
        dist = (
            dist.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved)
            .coalesce(n_parts)
            .localCheckpoint()
        )
        frontier = improved
    else:
        raise RuntimeError(
            f"weighted_sssp did not converge in {max_iter} rounds — "
            "raise max_iter (graph diameter × max weight bound)"
        )
    if max_dist is not None:
        dist = dist.filter(F.col("dist") <= max_dist)
    return dist


def minimum_spanning_forest(
    edges_df: DataFrame,
    src: str,
    dst: str,
    weight: str,
    max_iter: int = 20,
    stats_out: dict | None = None,
) -> DataFrame:
    """Minimum spanning forest of an undirected weighted graph via
    distributed BORUVKA (Boruvka 1926; the provably O(log V)-round
    distributed MST algorithm — GHS/MST-in-MapReduce's shape);
    returns the forest's edge list (src, dst, weight), one tree per
    connected component.

    Determinism: edges are totally ordered by (weight, src, dst), so
    ties cannot make the forest ambiguous — with a total order the
    minimum spanning forest is UNIQUE (the standard cut-property
    argument applied to the induced strict order), which is what
    makes the result replayable by a python Kruskal reference in
    tests. Each round: (1) label every edge with its endpoints'
    current component, drop intra-component edges; (2) every
    component picks its MINIMUM outgoing edge (one struct-min
    aggregation — lexicographic on (w, src, dst)); (3) the chosen
    edges contract via connected_components ON COMPONENT LABELS
    (component-count-sized, not graph-sized), and the node->component
    map updates through one join. Components at least halve per
    round, so the fixpoint lands in O(log V) rounds; each round is
    two equi-joins + one aggregation on the (shrinking) edge
    frontier. Iterations localCheckpoint-materialized (reliable
    checkpoint() on a cluster; bucket edges by src and every round's
    first join is co-located). Eager: runs Spark jobs when called.
    ``stats_out`` (connected_components' ledger discipline): filled
    with ``rounds`` and ``frontier_edges`` (inter-component edges
    seen per round) so the O(log V) bound is pinnable by tests
    instead of argued.
    """
    e = (
        edges_df.select(
            F.col(src).alias("_src"),
            F.col(dst).alias("_dst"),
            F.col(weight).alias("_w"),
        )
        # parallel edges: keep the minimum weight (MSF-equivalent)
        .groupBy("_src", "_dst")
        .agg(F.min("_w").alias("_w"))
        .localCheckpoint()
    )
    comp = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("c"))
        .localCheckpoint()
    )
    forest = None
    rounds = 0
    frontier_sizes: list[int] = []
    for _ in range(max_iter):
        ec = (
            e.join(
                comp.select(F.col("node").alias("_src"), F.col("c").alias("_ca")),
                "_src",
            )
            .join(
                comp.select(F.col("node").alias("_dst"), F.col("c").alias("_cb")),
                "_dst",
            )
            .filter(F.col("_ca") != F.col("_cb"))
            .localCheckpoint()
        )
        n_frontier = ec.count()
        if n_frontier == 0:
            break
        rounds += 1
        frontier_sizes.append(n_frontier)
        pick = F.struct(
            F.col("_w").alias("w"),
            F.col("_src").alias("src"),
            F.col("_dst").alias("dst"),
        )
        cand = ec.select(F.col("_ca").alias("_c"), pick.alias("_pick")).union(
            ec.select(F.col("_cb").alias("_c"), pick.alias("_pick"))
        )
        chosen = (
            cand.groupBy("_c")
            .agg(F.min("_pick").alias("_pick"))
            .select("_pick.src", "_pick.dst", "_pick.w")
            # an edge minimal for BOTH its components appears twice
            .distinct()
            .localCheckpoint()
        )
        forest = chosen if forest is None else forest.unionByName(chosen)
        # contract on COMPONENT labels (component-sized CC, not
        # graph-sized): chosen edges form a forest over components
        chosen_c = (
            chosen.join(
                comp.select(F.col("node").alias("src"), F.col("c").alias("_ca")),
                "src",
            )
            .join(
                comp.select(F.col("node").alias("dst"), F.col("c").alias("_cb")),
                "dst",
            )
            .select("_ca", "_cb")
        )
        mapping = connected_components(chosen_c, "_ca", "_cb")
        comp = (
            comp.join(
                mapping.withColumnRenamed("node", "c"), "c", "left"
            )
            .select(
                "node", F.coalesce("component", F.col("c")).alias("c")
            )
            .localCheckpoint()
        )
    else:
        raise RuntimeError(
            f"minimum_spanning_forest did not converge in {max_iter} "
            "rounds -- components at least halve per round, so this "
            "means max_iter < log2(V)"
        )
    if stats_out is not None:
        stats_out.update(rounds=rounds, frontier_edges=frontier_sizes)
    if forest is None:
        node_t = e.schema["_src"].dataType.simpleString()
        w_t = e.schema["_w"].dataType.simpleString()
        return edges_df.sparkSession.createDataFrame(
            [], f"src {node_t}, dst {node_t}, w {w_t}"
        )
    return forest.localCheckpoint()


def pagerank(
    edges_df: DataFrame,
    src: str,
    dst: str,
    n_iter: int = 10,
    damping: float = 0.85,
    weight: str | None = None,
) -> DataFrame:
    """PageRank over a directed edge list; returns (node, rank) after
    ``n_iter`` power iterations with uniform initialization.

    Each iteration is one contribution join (rank/out_degree flows
    along edges) + one groupBy — the classic two-shuffle PageRank step;
    dangling-node mass is redistributed uniformly so ranks sum to 1.
    Iterations are localCheckpoint-materialized (lineage O(1); use
    reliable checkpoint() on a cluster). Eager: runs Spark jobs when
    called. Scale: edge frame is shuffled on src each round — a
    pre-partitioned/bucketed edge table makes every round co-located.

    ``weight`` (round-9 verdict ask #3): with an edge-weight column,
    rank flows PROPORTIONALLY to weight — each node distributes
    rank · w_e / Σ_out w instead of rank / out_degree (the standard
    weighted-PageRank generalization; parallel edges first sum their
    weights). Same two-shuffle round shape; the weighted out-degree
    is one extra integer column in the per-round join.
    """
    if weight is None:
        edges = (
            edges_df.select(
                F.col(src).alias("_src"), F.col(dst).alias("_dst")
            )
            .distinct()
            .withColumn("_w", F.lit(1.0))
            .localCheckpoint()
        )
    else:
        edges = (
            edges_df.select(
                F.col(src).alias("_src"),
                F.col(dst).alias("_dst"),
                F.col(weight).cast("double").alias("_w"),
            )
            .groupBy("_src", "_dst")
            .agg(F.sum("_w").alias("_w"))
            .localCheckpoint()
        )
        # Round-9 review fix: a non-positive (parallel-summed) edge
        # weight makes rank*w/0 or negative flow -- NaNs would
        # propagate silently through every iteration's F.sum. The
        # unweighted path can never hit this (deg >= 1); enforce the
        # same invariant here. One bounded probe on the checkpointed
        # frame.
        if not edges.filter(F.col("_w") <= 0).isEmpty():
            raise ValueError(
                "pagerank: summed edge weights must be positive -- a "
                "zero/negative out-weight makes rank flow undefined"
            )
    nodes = (
        edges.select(F.col("_src").alias("_id"))
        .union(edges.select(F.col("_dst").alias("_id")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        # Empty edge list → empty result with the correct schema
        # (mirrors connected_components' explicit empty-case handling).
        node_type = edges.schema["_src"].dataType.simpleString()
        return edges_df.sparkSession.createDataFrame(
            [], f"node {node_type}, rank double"
        )
    out_deg = edges.groupBy("_src").agg(F.sum("_w").alias("_deg"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(n_iter):
        contribs = (
            edges.join(ranks, edges._src == ranks._id)
            .join(out_deg, "_src")
            .select(
                F.col("_dst").alias("_id"),
                (F.col("rank") * F.col("_w") / F.col("_deg")).alias("_c"),
            )
            .groupBy("_id")
            .agg(F.sum("_c").alias("_in"))
        )
        # Dangling mass (rank held by nodes with no outgoing edges) is
        # folded into the plan as a broadcast 1-row aggregate instead of
        # a driver collect() — one Spark job per iteration, not two.
        dangling_agg = (
            ranks.join(out_deg, ranks._id == out_deg._src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        ranks = (
            nodes.join(contribs, "_id", "left")
            .crossJoin(F.broadcast(dangling_agg))
            .select(
                "_id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce("_in", F.lit(0.0)) + F.col("_dm") / n)
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks.select(F.col("_id").alias("node"), "rank")


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------
def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    round_to: int = 6,
    max_candidates: int = 262_144,
) -> DataFrame:
    """Exact all-pairs cosine top-k per vector; returns (qid, nid, cos).

    BLAS-vectorized brute force: the candidate matrix is collected and
    broadcast (bounded — this is the exact-twin contract; for unbounded
    candidate sets use LSH/IVF), queries stream through ``mapInPandas``
    as one matmul per Arrow batch. Eager: collects the candidate matrix
    when called.

    The collect is GATED (the connected_components probe-gate shape):
    the candidate pull is a ``limit(max_candidates + 1)`` — bounded by
    construction, never an unbounded driver fetch — and finding more
    than ``max_candidates`` rows raises immediately with a pointer to
    the scale paths (k14/ivf_query for IVF-bucketed ANN, j6 for LSH)
    instead of OOMing the driver. 262k × a few-hundred-dim float64
    vectors is well under a driver GiB; raise it deliberately if your
    driver is larger.
    """
    emb = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    import numpy as np

    cand = emb.limit(max_candidates + 1).toPandas()  # ≤ gate+1 rows, gated
    if len(cand) > max_candidates:
        raise ValueError(
            f"cosine_topk is the bounded exact twin: candidate set "
            f"exceeds max_candidates={max_candidates}. Use the scale "
            f"paths instead — IVF ANN (operators/llm_ops.ivf_query / "
            f"k14) or LSH (j6 minhash/random-projection) — or raise "
            f"max_candidates explicitly for a larger driver."
        )
    ids = cand["_id"].to_numpy(np.int64)
    mat = np.asarray([np.asarray(v, dtype=np.float64) for v in cand["_v"]])
    norms = np.sqrt((mat * mat).sum(axis=1))
    bc = emb.sparkSession.sparkContext.broadcast((ids, mat, norms))

    def topk(batches):
        import numpy as np
        import pandas as pd

        bids, bmat, bnorms = bc.value
        for pdf in batches:
            qids = pdf["_id"].to_numpy(np.int64)
            for lo in range(0, len(qids), 1024):
                q = qids[lo : lo + 1024]
                a = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["_v"].iloc[lo : lo + 1024]]
                )
                an = np.sqrt((a * a).sum(axis=1))
                cos = np.round((a @ bmat.T) / np.outer(an, bnorms), round_to)
                out_q, out_n, out_c = [], [], []
                for i, qid in enumerate(q):
                    row = cos[i]
                    order = np.lexsort((bids, -row))
                    took = 0
                    for j in order:
                        if bids[j] == qid:
                            continue
                        out_q.append(qid)
                        out_n.append(bids[j])
                        out_c.append(row[j])
                        took += 1
                        if took == k:
                            break
                yield pd.DataFrame({"qid": out_q, "nid": out_n, "cos": out_c})

    return emb.mapInPandas(topk, "qid bigint, nid bigint, cos double")


# --------------------------------------------------------------------------
# density clustering
# --------------------------------------------------------------------------
def dbscan_padded(
    points: DataFrame,
    id_col: str,
    x: str,
    y: str,
    eps: float,
    cell: float,
) -> DataFrame:
    """The grid + ε-halo projection DBSCAN clusters over: each point
    replicated into every neighbor cell whose ε-padded region contains
    it. Exposed separately so a bench/iteration loop can persist it
    once and sweep (eps-compatible) min_pts settings without repaying
    the scan + explode + shuffle — pass the result to :func:`dbscan`
    as ``padded=``.

    Halo replication rides a PRE-FILTERED offset array: the applicable
    neighbor offsets are selected inside a JVM higher-order filter
    BEFORE the explode, so only the ~(1+2eps/cell)²× real replicas are
    ever generated — the explode-9×-then-filter form materialized 9n
    rows to keep ~2n of them."""
    f = points.select(
        F.col(id_col).alias("_id"), F.col(x).alias("_x"), F.col(y).alias("_y")
    )
    home = f.withColumn("_cx", F.floor(F.col("_x") / cell)).withColumn(
        "_cy", F.floor(F.col("_y") / cell)
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    applicable = F.filter(
        offsets,
        lambda o: (F.col("_x") >= (F.col("_cx") + o.dx) * cell - eps)
        & (F.col("_x") < (F.col("_cx") + o.dx + 1) * cell + eps)
        & (F.col("_y") >= (F.col("_cy") + o.dy) * cell - eps)
        & (F.col("_y") < (F.col("_cy") + o.dy + 1) * cell + eps),
    )
    return home.withColumn("_o", F.explode(applicable)).select(
        "_id", "_x", "_y",
        # (eps, cell) ride as column METADATA (zero per-row cost) so
        # dbscan() can refuse a projection built for different
        # parameters — a stale-halo mismatch yields silently wrong
        # clusters, not an error, without this tag.
        (F.col("_cx") + F.col("_o.dx")).alias(
            "_tcx", metadata={"eps": float(eps), "cell": float(cell)}
        ),
        (F.col("_cy") + F.col("_o.dy")).alias("_tcy"),
        ((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0)).alias("_is_home"),
    )


def dbscan_local_plan(
    padded: DataFrame, eps: float, min_pts: int
) -> DataFrame:
    """The un-materialized local-clustering stage of :func:`dbscan`:
    per-cell Arrow DBSCAN over a :func:`dbscan_padded` projection,
    returning the (id, is_core, local_cid, x, y) plan. Exposed so an
    iteration/bench loop can build this plan ONCE and hand it to
    :func:`dbscan` via ``local_plan=`` — constructing it costs ~0.4 s
    of driver time (cloudpickling the numpy kernel + analyzing the
    grouped-map plan), a prepared-statement reuse in the spirit of
    the ``dbscan_padded`` cache. Every :func:`dbscan` call still
    EXECUTES the kernel: the plan is checkpointed per call, never the
    results."""
    import pandas as pd

    spark = padded.sparkSession

    def local_dbscan_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        outs = []
        for (kx, ky), cpdf in pdf.groupby(["_tcx", "_tcy"], sort=False):
            xs = cpdf["_x"].to_numpy()
            ys = cpdf["_y"].to_numpy()
            n = len(cpdf)
            d2 = (xs[:, None] - xs[None, :]) ** 2 + (ys[:, None] - ys[None, :]) ** 2
            neigh = d2 <= eps * eps
            degree = neigh.sum(axis=1)  # includes self
            core = degree >= min_pts
            labels = np.full(n, -1, dtype=np.int64)
            ci = np.nonzero(core)[0]
            if len(ci):
                # Vectorized connected components of the core-core
                # subgraph: min-label hop propagation + pointer jumping
                # (lbl[lbl] path halving) — O(log n) rounds of O(c²)
                # numpy work instead of a per-point Python BFS (the BFS
                # form was the kernel's hot loop at 100k+ points).
                A = neigh[np.ix_(ci, ci)]
                c = len(ci)
                lbl = np.arange(c)
                while True:
                    nl = np.where(A, lbl[None, :], c).min(axis=1)
                    nl = np.minimum(nl, lbl)
                    nl = np.minimum(nl, nl[nl])  # pointer jump
                    if np.array_equal(nl, lbl):
                        break
                    lbl = nl
                labels[ci] = lbl
                # Border points join their minimum-labeled neighboring
                # core (deterministic, order-independent — DBSCAN border
                # membership is tie-ambiguous by definition).
                nb = neigh[:, ci]
                border = nb.any(axis=1) & ~core
                if border.any():
                    labels[border] = np.where(
                        nb[border], lbl[None, :], c
                    ).min(axis=1)
            out = cpdf[cpdf["_is_home"]].copy()
            idx = cpdf.index.get_indexer(out.index)
            out["_is_core"] = core[idx]
            # Vectorized cid build — the per-row f-string loop was
            # ~100k Python string formats per run at sf0.1.
            li = labels[idx]
            cids = np.char.add(f"{kx}:{ky}:", li.astype(np.str_))
            out["_local_cid"] = np.where(li >= 0, cids, None)
            # Carry x/y through so the core-core edge pass needs no
            # join back to the input (saves a full point shuffle).
            outs.append(out[["_id", "_is_core", "_local_cid", "_x", "_y"]])
        return (
            pd.concat(outs, ignore_index=True)
            if outs
            else pd.DataFrame(
                columns=["_id", "_is_core", "_local_cid", "_x", "_y"]
            )
        )

    # Grouping rides on a HASH BUCKET of the cell key, not the cell
    # itself: one grouped-map call per bucket (≈ one per core) with the
    # per-cell loop inside, instead of one Arrow batch + pandas frame
    # per cell — thousands of tiny group calls amortize into `par` big
    # ones (the same trick a cluster needs when the grid has millions
    # of cells). The explicit bucket repartition also pins the kernel's
    # parallelism: AQE's byte-based coalescing would starve the
    # CPU-bound Python stage of cores.
    par = spark.sparkContext.defaultParallelism
    if "_bkt" in padded.columns:
        # Caller pre-bucketed (and usually persisted) the projection —
        # its HashPartitioning(_bkt) satisfies the groupBy's required
        # distribution, so no exchange is inserted here.
        bucketed = padded
    else:
        bucketed = padded.withColumn(
            "_bkt", F.pmod(F.hash("_tcx", "_tcy"), F.lit(par))
        ).repartition(par, "_bkt")
    # (eps, min_pts) ride as column metadata — dbscan() refuses a plan
    # prepared for different parameters (same stale-projection guard as
    # dbscan_padded's eps/cell tag: a mismatched plan yields silently
    # wrong labels, not an error, without this).
    return (
        bucketed.groupBy("_bkt")
        .applyInPandas(
            lambda pdf: local_dbscan_bucket(pdf),
            "_id BIGINT, _is_core BOOLEAN, _local_cid STRING, "
            "_x DOUBLE, _y DOUBLE",
        )
        .withMetadata(
            "_id", {"eps": float(eps), "min_pts": int(min_pts)}
        )
    )


def dbscan(
    points: DataFrame,
    id_col: str,
    x: str,
    y: str,
    eps: float,
    min_pts: int,
    cell: float,
    padded: DataFrame | None = None,
    local_plan: DataFrame | None = None,
) -> DataFrame:
    """Distributed, exact DBSCAN over 2-D points; returns
    (id_col, cluster, is_core) — noise rows carry NULL cluster.

    1. Cut the plane into ``cell``-width cells; replicate each point
       into every neighbor cell whose ε-padded region contains it
       (halo), so a home point's full ε-neighborhood is local
       (:func:`dbscan_padded`; pass a persisted one via ``padded``).
    2. Per-cell local DBSCAN in an Arrow ``applyInPandas`` kernel
       (numpy BFS) — home core flags are globally exact.
    3. Cross-cell core-core ε-pairs (grid equi-join) become merge
       edges; union-find over them runs on the driver with
       O(#local clusters) state — never O(points). Eager: collects the
       (tiny) merge-edge list when called.

    ``cell`` must be ≥ ``eps``; smaller cells shrink the O(n_cell²)
    local kernels, bigger cells shrink halo replication.
    """
    import pandas as pd

    if cell < eps:
        raise ValueError(f"cell ({cell}) must be >= eps ({eps})")
    spark = points.sparkSession
    if padded is None:
        padded = dbscan_padded(points, id_col, x, y, eps, cell)
    else:
        meta = padded.schema["_tcx"].metadata or {}
        if (meta.get("eps"), meta.get("cell")) != (float(eps), float(cell)):
            raise ValueError(
                f"padded projection was built for eps/cell "
                f"{meta.get('eps')}/{meta.get('cell')}, not {eps}/{cell} — "
                "its halo would be wrong for these parameters"
            )

    # Materialize the local-clustering pass once: both the merge-edge
    # collect and the final label join read it (without this the Arrow
    # kernel runs twice). The plan itself may be caller-prepared
    # (``local_plan`` — see :func:`dbscan_local_plan`); the checkpoint
    # below is taken fresh per call, so the kernel always executes.
    if local_plan is None:
        local_plan = dbscan_local_plan(padded, eps, min_pts)
    else:
        lp_meta = local_plan.schema["_id"].metadata or {}
        if (lp_meta.get("eps"), lp_meta.get("min_pts")) != (
            float(eps),
            int(min_pts),
        ):
            raise ValueError(
                f"local_plan was prepared for eps/min_pts "
                f"{lp_meta.get('eps')}/{lp_meta.get('min_pts')}, not "
                f"{eps}/{min_pts} — its core flags would be wrong for "
                "these parameters"
            )
    local = local_plan.localCheckpoint(eager=False)
    # eager=False: the checkpoint materializes inside the FIRST action
    # that reads it — the CC gate's probe collect — so the Arrow kernel
    # + checkpoint + edge join run as ONE Spark job instead of two
    # (per-job scheduling overhead is the dominant cost of this
    # operator's tail at bench scale). Compute-once semantics are
    # identical; the final label join reads the materialized copy.

    # Cross-cell merge edges can only involve cores within eps of their
    # home-cell boundary (a pair spanning two cells has both endpoints
    # within eps of the shared border) — the interior filter is exact
    # and shrinks the pair join's input to the boundary band
    # (1 − (1 − 2eps/cell)² of the cores).
    _inx = F.col("_x") - F.floor(F.col("_x") / cell) * cell
    _iny = F.col("_y") - F.floor(F.col("_y") / cell) * cell
    core_pts = local.filter(
        F.col("_is_core")
        & (
            (_inx < eps) | (_inx >= cell - eps)
            | (_iny < eps) | (_iny >= cell - eps)
        )
    ).select("_id", "_local_cid", "_x", "_y")
    chome = core_pts.withColumn("_ecx", F.floor(F.col("_x") / eps)).withColumn(
        "_ecy", F.floor(F.col("_y") / eps)
    )
    # Half-neighborhood probe (see grid_distance_join): union-find
    # edges are unordered, so each core pair need only surface once —
    # own cell + 4 forward neighbors, same-cell pairs deduped on id.
    fwd = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in [(0, 0), (1, 0), (-1, 1), (0, 1), (1, 1)]
        ]
    )
    cprobe = (
        chome.withColumn("_o", F.explode(fwd))
        .select(
            F.col("_id").alias("_a_id"), F.col("_local_cid").alias("_cid_a"),
            F.col("_x").alias("_ax"), F.col("_y").alias("_ay"),
            (F.col("_ecx") + F.col("_o.dx")).alias("_ecx"),
            (F.col("_ecy") + F.col("_o.dy")).alias("_ecy"),
            ((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0)).alias("_self"),
        )
    )
    cbuild = chome.select(
        F.col("_id").alias("_b_id"), F.col("_local_cid").alias("_cid_b"),
        F.col("_x").alias("_bx"), F.col("_y").alias("_by"), "_ecx", "_ecy",
    )
    d2m = (F.col("_ax") - F.col("_bx")) * (F.col("_ax") - F.col("_bx")) + (
        F.col("_ay") - F.col("_by")
    ) * (F.col("_ay") - F.col("_by"))
    # Broadcast the build side: the boundary-band core list is a
    # fragment-bounded sliver of the input (0.64 of cores at the bench
    # eps/cell; always ≪ points). A hash-shuffle here would move BOTH
    # sides for a join whose output is the tiny fragment-pair list —
    # broadcasting keeps the probe side streaming straight out of the
    # local-clustering checkpoint with no exchange. At 100 TB the band
    # can exceed broadcast limits: drop the hint and AQE plans the
    # shuffle (the hint degrades gracefully — Spark ignores it above
    # spark.sql.autoBroadcastJoinThreshold only when set to -1; for a
    # hard guard, gate on a count. We keep the hint: the band list is
    # O(cells·eps·density), orders below the corpus by construction).
    edges = (
        cprobe.join(broadcast(cbuild), ["_ecx", "_ecy"])
        .filter(
            (d2m <= eps * eps)
            & (F.col("_a_id") != F.col("_b_id"))
            & (~F.col("_self") | (F.col("_a_id") < F.col("_b_id")))
            & (F.col("_cid_a") != F.col("_cid_b"))
        )
        .select("_cid_a", "_cid_b")
        .distinct()
    )

    # Border-merge through the gated CC kernel: cluster-FRAGMENT pairs,
    # not points — tiny at every tested scale, but at 100 TB a grid
    # with millions of fragments would overwhelm an unconditional
    # driver collect. connected_components applies the
    # driver_max_edges gate (local union-find below it, distributed
    # star contraction above), so DBSCAN inherits the same escape
    # hatch as every other merge in the package.
    mapping = connected_components(edges, "_cid_a", "_cid_b").select(
        F.col("node").alias("_local_cid"), F.col("component").alias("cluster")
    )
    return (
        local.join(broadcast(mapping), "_local_cid", "left")
        .withColumn("cluster", F.coalesce("cluster", "_local_cid"))
        .select(F.col("_id").alias(id_col), "cluster", F.col("_is_core").alias("is_core"))
    )


# --------------------------------------------------------------------------
# skew mitigation
# --------------------------------------------------------------------------
def salted_agg(
    df: DataFrame,
    key: str,
    value: str,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-proof sum/count per key: two-stage aggregation through a
    random salt, for when one hot key would otherwise pin its entire
    partition on a single task; returns (key, sum_value, n_rows).

    Stage 1 groups on (key, salt) — the hot key spreads over
    ``n_salts`` tasks; stage 2 re-aggregates the ≤ n_salts partials per
    key. Only valid for algebraic aggregates (sum/count/min/max —
    anything with a merge function). For joins, prefer AQE's skew-join
    splitting; this helper covers aggregation paths AQE doesn't touch.
    The salt is non-deterministic per row, which is safe exactly
    because the aggregate is salt-invariant.
    """
    salted = df.withColumn("_salt", (F.rand(seed=0) * n_salts).cast("int"))
    partial = salted.groupBy(key, "_salt").agg(
        F.sum(value).alias("_psum"), F.count(F.lit(1)).alias("_pn")
    )
    return partial.groupBy(key).agg(
        F.sum("_psum").alias("sum_value"), F.sum("_pn").alias("n_rows")
    )


# --------------------------------------------------------------------------
# corpus quality / curation
# --------------------------------------------------------------------------
def repetition_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: fraction
    of duplicate word-bigrams and the most-frequent-word fraction;
    returns (id_col, n_words, dup_bigram_frac, top_word_frac).

    The bigram fraction is a pure JVM higher-order expression (no
    shuffle); the top-word fraction is an explode → two-stage groupBy —
    the per-(doc, token) partial combines map-side, so the shuffle
    carries at most |vocab| rows per doc, not the token stream.
    Documents with fewer than two words are excluded (no bigrams).
    """
    toks = F.split(F.col(text_col), " ")
    t = df.select(F.col(id_col), toks.alias("_toks")).filter(F.size("_toks") >= 2)
    n = F.size("_toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws("_", F.element_at("_toks", i), F.element_at("_toks", i + 1)),
    )
    base = t.select(
        id_col,
        n.alias("n_words"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(bigrams)).cast("double") / F.size(bigrams)
        ).alias("dup_bigram_frac"),
    )
    top = (
        t.select(id_col, F.explode("_toks").alias("_tok"))
        .groupBy(id_col, "_tok")
        .count()
        .groupBy(id_col)
        .agg(F.max("count").alias("_max_cnt"))
    )
    return base.join(top, id_col).select(
        id_col,
        "n_words",
        "dup_bigram_frac",
        (F.col("_max_cnt").cast("double") / F.col("n_words")).alias("top_word_frac"),
    )


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark-decontamination scan: for each training document,
    count the distinct word ``n``-gram shingles it shares with any
    document in ``eval_set``; returns (id_col, n_contaminated_shingles,
    contaminated).

    Scale shape: the eval side (benchmarks — tiny next to a 100 TB
    corpus) collapses to DISTINCT shingles and broadcasts; the train
    side explodes its shingles and probes the broadcast hash table, so
    no shuffle ever carries the corpus. At extreme eval sizes swap the
    broadcast for a shuffle equi-join on the shingle — same plan shape.
    """
    # Tokens materialize in their own projection FIRST: an inline
    # split(text) inside the shingle lambda re-tokenizes each doc once
    # per element_at (measured 7× slowdown).
    ev = (
        eval_set.select(F.split(text_col, " ").alias("_tk"))
        .select(F.explode(shingles(F.col("_tk"), n, pre_tokenized=True)).alias("_s"))
        .distinct()
    )
    tr = train.select(
        F.col(id_col), F.split(text_col, " ").alias("_tk")
    ).select(
        F.col(id_col),
        F.explode(shingles(F.col("_tk"), n, pre_tokenized=True)).alias("_s"),
    )
    hits = (
        tr.join(broadcast(ev), "_s")
        .groupBy(id_col)
        .agg(F.countDistinct("_s").alias("n_contaminated_shingles"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated_shingles", F.lit(0)).alias(
                "n_contaminated_shingles"
            ),
            (F.coalesce("n_contaminated_shingles", F.lit(0)) > 0)
            .cast("int")
            .alias("contaminated"),
        )
    )


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    content_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff the first two
    hex digits of md5(content) fall under the stratum's rate threshold.

    Unlike ``df.sample`` this is content-addressed — the same document
    is kept or dropped regardless of partitioning, executor count, or
    engine (md5 is standard everywhere), which is what reproducible
    corpus curation at 100 TB needs. Rates quantize to 1/256
    granularity. Narrow (no-shuffle) filter; the rate table folds into
    the predicate as a literal CASE, so nothing is joined.
    """
    def thr(rate: float) -> str:
        q = max(0, min(256, round(rate * 256)))
        # 256/256 must exceed every 2-hex-digit bucket; "zz" > "ff".
        return "zz" if q == 256 else format(q, "02x")

    bucket = F.substring(F.md5(F.col(content_col)), 1, 2)
    expr = F.lit(thr(default_rate))
    for k, v in sorted(rates.items()):
        expr = F.when(F.col(strata_col) == k, F.lit(thr(v))).otherwise(expr)
    return df.filter(bucket < expr)


_PII_PATTERNS: list[tuple[str, str]] = [
    # Java-regex-safe (no lookbehind); order matters — emails first so
    # their digits don't half-match the phone pattern.
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d"),
]


def pii_scrub(df: DataFrame, text_col: str) -> DataFrame:
    """Redact common PII (emails, IPv4 addresses, phone-like digit
    runs) from a text column; adds ``<text_col>_clean`` plus a
    ``pii_<kind>_count`` column per pattern.

    Pure JVM ``regexp_replace``/``regexp_count`` — narrow, no shuffle,
    whole-stage-codegen'd; at 100 TB this is a free rider on whatever
    scan already reads the column. Patterns are deliberately in the
    conservative Java-regex subset; swap in a domain list as needed.
    (No fixture demo: the driver corpus contains no PII-shaped tokens,
    so this kernel is unit-tested on inline data instead — see
    ``tests/test_api.py``.)
    """
    out = df
    clean = F.col(text_col)
    for kind, pat in _PII_PATTERNS:
        out = out.withColumn(f"pii_{kind}_count", F.regexp_count(text_col, F.lit(pat)))
        clean = F.regexp_replace(clean, pat, f"<{kind.upper()}>")
    return out.withColumn(f"{text_col}_clean", clean)


# --------------------------------------------------------------------------
# storage layout
# --------------------------------------------------------------------------
def zorder_key(cx: Column | str, cy: Column | str, bits: int = 10) -> Column:
    """Morton (Z-order) key from two non-negative integer cell coords
    (`bits` bits each, interleaved x-low). Sorting or range-partitioning
    by this key places spatially-near rows in the same file/row group,
    so Parquet min/max stats prune 2-D bbox scans — the lakehouse
    substitute for a spatial index (same idea as Delta/Iceberg Z-order
    clustering). Pure JVM bit arithmetic, fully codegen'd.
    """
    zx = F.col(cx) if isinstance(cx, str) else cx
    zy = F.col(cy) if isinstance(cy, str) else cy
    z = F.lit(0).cast("long")
    for i in range(bits):
        bx = F.shiftright(zx, i).bitwiseAND(F.lit(1)).cast("long")
        by = F.shiftright(zy, i).bitwiseAND(F.lit(1)).cast("long")
        z = z.bitwiseOR(F.shiftleft(bx, 2 * i)).bitwiseOR(
            F.shiftleft(by, 2 * i + 1)
        )
    return z


# --------------------------------------------------------------------------
# trajectory simplification
# --------------------------------------------------------------------------
def rdp_simplify(
    df: DataFrame,
    id_col: str,
    order_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    tiebreak: str | None = None,
) -> DataFrame:
    """Ramer–Douglas–Peucker polyline simplification per trajectory:
    keep the minimal subset of fixes whose piecewise-linear hull stays
    within ``eps`` of the original path. Returns the kept rows
    (id, order, x, y) — the standard pre-step before shipping GNSS
    tracks to storage/visualization (often 10-100× fewer points).

    Scale shape: one exchange on ``id_col`` (``applyInPandas``); each
    trajectory is simplified independently with an iterative
    stack-based RDP in numpy (no recursion-depth hazard). Per-group
    memory is one trajectory — bounded by the longest track, not the
    partition. Trajectories arrive Arrow-batched; the kernel is
    O(n²) worst case but O(n log n) typical, on thousands of points
    per object at most.
    """
    import numpy as np
    import pandas as pd

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(id_col, order_col, x_col, y_col).schema.fields
    )

    def simplify(pdf: pd.DataFrame) -> pd.DataFrame:
        # explicit tiebreak: order_col collisions would otherwise
        # inherit nondeterministic partition order (ewma's discipline)
        pdf = pdf.sort_values(
            [order_col, tiebreak] if tiebreak else order_col,
            ignore_index=True,
        )
        x = pdf[x_col].to_numpy(dtype=float)
        y = pdf[y_col].to_numpy(dtype=float)
        n = len(pdf)
        keep = np.zeros(n, dtype=bool)
        keep[0] = keep[n - 1] = True
        stack = [(0, n - 1)]
        while stack:
            a, b = stack.pop()
            if b - a < 2:
                continue
            # max perpendicular distance from chord (a,b)
            dx, dy = x[b] - x[a], y[b] - y[a]
            seg = np.hypot(dx, dy)
            xs, ys = x[a + 1 : b], y[a + 1 : b]
            if seg == 0.0:
                d = np.hypot(xs - x[a], ys - y[a])
            else:
                d = np.abs(dx * (ys - y[a]) - dy * (xs - x[a])) / seg
            i = int(np.argmax(d))
            if d[i] > eps:
                m = a + 1 + i
                keep[m] = True
                stack.append((a, m))
                stack.append((m, b))
        return pdf.loc[keep, [id_col, order_col, x_col, y_col]]

    cols = [id_col, order_col, x_col, y_col] + (
        [tiebreak] if tiebreak else []
    )
    return (
        df.select(*cols)
        .groupBy(id_col)
        .applyInPandas(simplify, schema)
    )


def dtw_distance(ax, ay, bx, by, band=None):
    """Dynamic-time-warping distance between two 2-D polylines given as
    coordinate arrays (euclidean point cost, symmetric step pattern).
    ``band`` is an optional Sakoe-Chiba constraint (|i-j| <= band)
    bounding the DP to O(n·band) — the standard scale control for long
    series. Pure numpy; safe inside Arrow-batched grouped-map UDFs."""
    import numpy as np

    ax = np.asarray(ax, dtype=float); ay = np.asarray(ay, dtype=float)
    bx = np.asarray(bx, dtype=float); by = np.asarray(by, dtype=float)
    n, m = len(ax), len(bx)
    if n == 0 or m == 0:
        return float("nan")
    # pairwise point costs, vectorized (n×m); band masks the DP below
    cost = np.hypot(ax[:, None] - bx[None, :], ay[:, None] - by[None, :])
    acc = np.full((n + 1, m + 1), np.inf)
    acc[0, 0] = 0.0
    w = max(band, abs(n - m)) if band is not None else None
    for i in range(1, n + 1):
        lo = 1 if w is None else max(1, i - w)
        hi = m if w is None else min(m, i + w)
        for j in range(lo, hi + 1):
            acc[i, j] = cost[i - 1, j - 1] + min(
                acc[i - 1, j], acc[i, j - 1], acc[i - 1, j - 1]
            )
    return float(acc[n, m])


def trajectory_dtw(
    df: DataFrame,
    id_col: str,
    order_col: str,
    x_col: str,
    y_col: str,
    ref_id,
    band: int | None = 64,
    tiebreak: str | None = None,
) -> DataFrame:
    """DTW similarity of every trajectory against a reference
    trajectory; returns (id_col, n_points, dtw). The classic
    trajectory-mining distance (REPOSE-style top-k similarity uses it
    as the exact refine step after sketch pruning).

    Scale shape: the reference polyline is collected once (bounded —
    one trajectory) and broadcast; every other trajectory streams
    through ONE ``applyInPandas`` exchange on ``id_col`` and computes
    its banded DTW locally in numpy. No pairwise blow-up: for all-pairs
    top-k, prune candidates first (grid sketches / first-last cells),
    then run this kernel on the survivor pairs only.
    """
    import pandas as pd

    ref = (
        df.filter(F.col(id_col) == ref_id)
        .select(order_col, x_col, y_col, *([tiebreak] if tiebreak else []))
        .orderBy(*([order_col, tiebreak] if tiebreak else [order_col]))
        .toPandas()
    )
    rx = ref[x_col].to_numpy(dtype=float)
    ry = ref[y_col].to_numpy(dtype=float)
    bc = df.sparkSession.sparkContext.broadcast((rx, ry))

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, n_points bigint, dtw double"

    def per_traj(pdf: pd.DataFrame) -> pd.DataFrame:
        rx_, ry_ = bc.value
        pdf = pdf.sort_values(
            [order_col, tiebreak] if tiebreak else order_col
        )
        d = dtw_distance(
            pdf[x_col].to_numpy(dtype=float),
            pdf[y_col].to_numpy(dtype=float),
            rx_, ry_, band=band,
        )
        return pd.DataFrame(
            {id_col: [pdf[id_col].iloc[0]], "n_points": [len(pdf)], "dtw": [d]}
        )

    cols = [id_col, order_col, x_col, y_col] + (
        [tiebreak] if tiebreak else []
    )
    return (
        df.select(*cols)
        .groupBy(id_col)
        .applyInPandas(per_traj, out_schema)
    )


# --------------------------------------------------------------------------
# time-series smoothing
# --------------------------------------------------------------------------
def ewma(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    alpha: float,
    out_col: str = "ewma",
    tiebreak: str | None = None,
) -> DataFrame:
    """Exponentially weighted moving average per key along the time
    axis (adjust=False recursion: y₀ = x₀, yₜ = α·xₜ + (1−α)·yₜ₋₁);
    returns the input columns plus ``out_col``.

    The recursion is inherently sequential per key, so this is a
    grouped-map kernel: ONE ``applyInPandas`` exchange on ``key``,
    pandas' C-vectorized ``ewm`` inside. State is O(1) per row — the
    streaming twin is a ``transformWithState`` carrying yₜ₋₁. A
    window-function closed form exists (powers of (1−α)) but overflows
    for long series; the kernel has no such bound. Pass ``tiebreak``
    (a unique column) whenever ``ts`` can collide within a key — the
    stable sort alone would inherit nondeterministic partition order.
    """
    import pandas as pd

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = f"{fields}, {out_col} double"

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        # ts collisions exist at scale; an explicit tiebreak keeps the
        # sequential fold deterministic regardless of partition order
        pdf = pdf.sort_values([ts, tiebreak] if tiebreak else ts)
        pdf[out_col] = (
            pdf[value].ewm(alpha=alpha, adjust=False).mean().astype(float)
        )
        return pdf

    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(par, key)
        .groupBy(key)
        .applyInPandas(smooth, out_schema)
    )


def convex_hull(df: DataFrame, id_col: str, x: str, y: str) -> DataFrame:
    """Per-group convex hull summary via Andrew's monotone chain;
    returns (id_col, n_hull_points, hull_area) — vertex count of the
    hull polygon and its shoelace area (0.0 for degenerate <3-point or
    collinear groups).

    One shuffle on the group key, then an O(n log n) numpy kernel per
    group in ``applyInPandas`` — hulls are not ANSI-SQL-expressible,
    so this is the sanctioned Arrow path (SURVEY §2.M). Hull area is
    rounded to 6 dp (shoelace sums are order-deterministic here: the
    vertex walk is canonical, starting at the lexicographic minimum).
    """
    import pandas as pd

    def hull(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        obj = pdf[id_col].iloc[0]
        pts = np.unique(pdf[[x, y]].to_numpy(), axis=0)
        # np.unique sorts rows lexicographically — monotone chain input
        if len(pts) < 3:
            return pd.DataFrame(
                {id_col: [obj], "n_hull_points": [len(pts)], "hull_area": [0.0]}
            )

        def half(points):
            out = []
            for p in points:
                while len(out) >= 2 and (
                    (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                    - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
                ) <= 0:
                    out.pop()
                out.append(tuple(p))
            return out

        lower = half(pts)
        upper = half(pts[::-1])
        verts = lower[:-1] + upper[:-1]
        if len(verts) < 3:  # fully collinear group
            return pd.DataFrame(
                {id_col: [obj], "n_hull_points": [len(verts)], "hull_area": [0.0]}
            )
        area = 0.0
        for i in range(len(verts)):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % len(verts)]
            area += x1 * y2 - x2 * y1
        return pd.DataFrame(
            {
                id_col: [obj],
                "n_hull_points": [len(verts)],
                "hull_area": [round(abs(area) / 2.0, 6)],
            }
        )

    # Derive the group-key type from the input schema (as
    # connected_components does) — a hardcoded BIGINT would miscast or
    # fail for string/int32 object ids.
    key_type = df.schema[id_col].dataType.simpleString()
    return df.groupBy(id_col).applyInPandas(
        hull, f"{id_col} {key_type}, n_hull_points BIGINT, hull_area DOUBLE"
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    tau_num: int = 9,
    tau_den: int = 10,
) -> DataFrame:
    """Exact shingle-containment pairs: all ordered (inner, outer)
    pairs of distinct documents where at least ``tau_num/tau_den`` of
    the inner doc's n-gram shingles also appear in the outer doc —
    the near-superset dedup case Jaccard misses. Returns
    (inner_doc, outer_doc, containment). τ is an integer fraction so
    the prefix bound below stays exact (a float (1−τ) undercounts the
    prefix by one at exact multiples and silently loses pairs).

    PREFIX-FILTERED set-similarity join (PPJoin-style, exact): a
    τ-containing pair must share one of the inner doc's
    sz − ceil(τ·sz) + 1 globally-RAREST shingles, so only that short
    prefix probes the inverted index; hot boilerplate shingles almost
    never enter prefixes, keeping candidates near-linear where the
    naive full-index join is Σ df². Index traffic rides 8-byte
    xxhash64 keys (collisions can only ADD candidates — re-verified
    exactly on the string arrays). Eager: checkpoints the shingle
    frame when called.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    d = (
        df.select(F.col(id_col).alias("_id"), F.split(text_col, " ").alias("_tk"))
        .repartition(par)
        .select("_id", shingles(F.col("_tk"), n, pre_tokenized=True).alias("s"))
        .filter(F.size("s") > 0)
        .localCheckpoint()
    )
    mem = d.select(
        "_id",
        F.size("s").alias("sz"),
        F.explode(F.transform("s", lambda x: F.xxhash64(x))).alias("sh"),
    )
    dfreq = mem.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("_id").orderBy("df", "sh")
    # Completeness: if |A∩B| ≥ ceil(τ·|A|) then |A∖B| ≤ sz − ceil(τ·sz),
    # and the prefix holds one more shingle than that, so at least one
    # prefix shingle is in B. ceil(τ·sz) = floor((num·sz + num − ... )
    # computed exactly as floor((num·sz + den − 1)/den)? No: ceil(a/b)
    # = floor((a + b − 1)/b); here a = tau_num·sz, b = tau_den.
    prefix = (
        mem.join(dfreq, "sh")
        .withColumn("_rk", F.row_number().over(w))
        .filter(
            F.col("_rk")
            <= F.col("sz")
            - F.floor((tau_num * F.col("sz") + tau_den - 1) / tau_den)
            + 1
        )
        .select("_id", "sh")
    )
    cand = (
        prefix.alias("a")
        .join(mem.alias("b"), "sh")
        .filter(F.col("a._id") != F.col("b._id"))
        .select(
            F.col("a._id").alias("inner_doc"),
            F.col("b._id").alias("outer_doc"),
        )
        .distinct()
    )
    verified = (
        cand.join(
            d.select(F.col("_id").alias("inner_doc"), F.col("s").alias("sa")),
            "inner_doc",
        )
        .join(
            d.select(F.col("_id").alias("outer_doc"), F.col("s").alias("sb")),
            "outer_doc",
        )
    )
    tau = float(tau_num) / float(tau_den)
    cont = F.size(F.array_intersect("sa", "sb")).cast("double") / F.size("sa")
    return (
        verified.filter(cont >= tau)
        .select("inner_doc", "outer_doc", F.round(cont, 6).alias("containment"))
    )


def heavy_hitters(
    df: DataFrame,
    tokens_col: str,
    cap: int = 200,
    pct: int = 100,
) -> DataFrame:
    """EXACT heavy hitters over a token-array column in two
    bounded-memory passes; returns (token, n) for every token with
    ``pct·n ≥ N`` (N = total token count; pct=100 ⇔ θ=1%).

    Pass 1: per-partition Misra-Gries sketch (capacity ``cap``) in
    ``mapInPandas`` — O(cap) state regardless of input size; each
    partition also emits its token total as a NULL-token row, so
    totals ride the same single scan. Summed sketches undercount any
    token by at most N/cap, so ``cap·mg ≥ N`` (with cap ≥ 2·pct/100…
    i.e. cap ≥ 2/θ) provably captures every true θ-heavy hitter.
    Pass 2: the tiny candidate set broadcasts into an exact recount;
    both the candidate bound and the final threshold are integer
    comparisons — no FP boundary.

    Completeness: a true heavy hitter has n ≥ N/pct, and the summed
    sketches undercount it by at most N/cap, so its merged count
    satisfies mg ≥ N·(cap − pct)/(pct·cap) — the candidate filter is
    exactly that bound (``pct·cap·mg ≥ N·(cap − pct)``). Requires
    ``cap > pct`` (θ·cap > 1) or the bound degenerates to
    all-tokens-candidates; ``cap ≥ 2·pct`` keeps the candidate set
    small in practice.
    """
    import pandas as pd

    if cap <= pct:
        raise ValueError(
            f"cap ({cap}) must exceed pct ({pct}) for candidate completeness"
        )

    # Normalize BEFORE sketching: a null array would crash len(); a null
    # ELEMENT would collide with the NULL-token totals sentinel below —
    # the groupBy would merge it into n_total and silently shift the
    # threshold for every result. JVM-side array_compact + isNotNull
    # keeps the sentinel unambiguous; both passes read the same frame.
    df = df.select(F.array_compact(F.col(tokens_col)).alias(tokens_col)).filter(
        F.col(tokens_col).isNotNull()
    )

    def mg_partial(batches):
        # Batched Misra-Gries (round-11, guide §4.3 — move the hot loop
        # out of per-token Python): count each Arrow batch exactly with
        # Counter (C-speed), then MG-MERGE into the running sketch —
        # add counts, subtract the (cap+1)-th largest, keep positives
        # (Agarwal/Cormode et al., "Mergeable Summaries" 2012: the
        # merged sketch undercounts any token by at most N/(cap+1),
        # STRICTLY tighter than the per-token form's N/cap, so the
        # candidate-completeness bound below still holds). State is
        # O(cap) between batches (+ one batch's vocabulary transiently
        # — bounded by the Arrow batch size, not the input). The final
        # output is invariant to sketch internals: pass 2 recounts
        # candidates exactly and re-applies the integer threshold.
        import heapq
        from collections import Counter

        ctr: Counter = Counter()
        total = 0
        for pdf in batches:
            batch = Counter()
            for toks in pdf[tokens_col]:
                total += len(toks)
                batch.update(toks)
            ctr.update(batch)
            if len(ctr) > cap:
                kth = heapq.nlargest(cap + 1, ctr.values())[-1]
                ctr = Counter(
                    {t: c - kth for t, c in ctr.items() if c > kth}
                )
        yield pd.DataFrame(
            {"token": list(ctr) + [None], "c": list(ctr.values()) + [total]}
        )

    partials = df.select(tokens_col).mapInPandas(mg_partial, "token string, c long")
    merged = partials.groupBy("token").agg(F.sum("c").alias("c")).localCheckpoint()
    totals = merged.filter(F.col("token").isNull()).select(
        F.col("c").alias("n_total")
    )
    cand = (
        merged.filter(F.col("token").isNotNull())
        .crossJoin(broadcast(totals))
        .filter(
            F.lit(pct * cap) * F.col("c") >= F.col("n_total") * F.lit(cap - pct)
        )
        .select("token")
    )
    exact = (
        df.select(F.explode(tokens_col).alias("token"))
        .join(broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.crossJoin(broadcast(totals))
        .filter(F.lit(pct) * F.col("n") >= F.col("n_total"))
        .select("token", "n")
    )


def count_min_estimates(
    df: DataFrame,
    tokens_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Count-min sketch frequency estimation over a token-array column:
    returns (token, est) for every DISTINCT token, where ``est`` is the
    CMS estimate — an OVERESTIMATE by at most εN with probability
    1−(1/2)^depth for width = 2/ε (Cormode & Muthukrishnan 2005; the
    one-sided twin of d22's Misra-Gries undercount).

    Distributed shape: ONE pass explodes each token into ``depth``
    (row, bucket) cells (bucket = seeded xxhash64 mod width), a single
    groupBy builds the depth×width sketch — O(depth·width) state total,
    mergeable across partitions/streams by cell-wise addition, which is
    why CMS is the sketch you keep per micro-batch at 100 TB. The
    estimate join probes the sketch with the same hashes and takes the
    per-token min across rows. Null tokens/arrays are compacted out
    (the heavy_hitters discipline)."""
    clean = df.select(
        F.array_compact(F.col(tokens_col)).alias("_tk")
    ).filter(F.col("_tk").isNotNull())
    tok = clean.select(F.explode("_tk").alias("token"))
    rows = F.array(*[F.lit(i) for i in range(depth)])
    cells = tok.select(
        "token", F.explode(rows).alias("d")
    ).select(
        "d", F.pmod(F.xxhash64("d", "token"), F.lit(width)).alias("b")
    )
    sketch = cells.groupBy("d", "b").agg(F.count(F.lit(1)).alias("c"))
    probes = (
        tok.distinct()
        .select("token", F.explode(rows).alias("d"))
        .select(
            "token",
            "d",
            F.pmod(F.xxhash64("d", "token"), F.lit(width)).alias("b"),
        )
    )
    return (
        probes.join(sketch, ["d", "b"])
        .groupBy("token")
        .agg(F.min("c").cast("bigint").alias("est"))
    )


def skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """Join-key skew census: per log2 frequency bucket, the key and
    row counts, plus the global skew factor fmax·n_keys/n_rows
    (1.0 = uniform; ≫1 = a hot key owns the shuffle). The diagnostic
    to run BEFORE picking `salted_agg`/C13's salt factor — a shuffle
    join's slowest task is the hottest key's row count, so the top
    bucket of this histogram IS the straggler forecast. One groupBy
    over the table the join would shuffle anyway + a ~log2(fmax)-row
    aggregate; SURVEY §2.C18 is the registered fixture demo."""
    kf = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    ).localCheckpoint()
    tot = kf.agg(
        F.sum("f").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("nk"),
        F.max("f").cast("bigint").alias("fmax"),
    )
    return (
        kf.crossJoin(F.broadcast(tot))
        .groupBy(F.floor(F.log2("f")).cast("int").alias("freq_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("f").cast("bigint").alias("n_rows"),
            F.round(
                F.first("fmax").cast("double") * F.first("nk") / F.first("n"),
                9,
            ).alias("skew_factor"),
        )
    )


def _md5_graph_pivots(sym: DataFrame, k_sources: int) -> tuple:
    """Deterministic source pivots for sampled centrality kernels:
    the k smallest md5(node) among nodes of degree ≥ 2 (F6's
    engine-independent hash discipline; the degree floor keeps pivots
    off isolated leaves — python-replayable exactly via hashlib).
    Returns (pivots, n_nodes) where n_nodes counts non-isolated
    nodes. One bounded collect (≤ k rows) + one scalar count."""
    deg = sym.groupBy("_src").agg(F.count(F.lit(1)).alias("_deg"))
    n_nodes = deg.count()  # 1-row-per-node frame; bounded scalar probe
    pivots_df = (
        deg.filter(F.col("_deg") >= 2)
        .select(
            F.col("_src").alias("node"),
            F.md5(F.col("_src").cast("string")).alias("_h"),
        )
        .orderBy("_h", "node")
        .limit(k_sources)
    )
    # bounded <= k_sources hash-picked pivot rows
    pivots = [r.node for r in pivots_df.collect()]
    return pivots, n_nodes


def betweenness_sampled(
    edges_df: DataFrame,
    src: str,
    dst: str,
    k_sources: int = 4,
    max_iter: int = 20,
    stats_out: dict | None = None,
) -> DataFrame:
    """SAMPLED BETWEENNESS CENTRALITY (round-9 verdict ask #5):
    k-source Brandes over an undirected edge list — the standard
    pivot estimator (Brandes–Pich): run exact single-source
    dependency accumulation from k deterministically chosen sources
    and scale by n/k, so bc_est(v) = (n/k)·Σ_{s∈S} δ_s(v) is an
    unbiased estimate of Σ_s-over-ALL-sources dependencies (= 2·bc
    for undirected graphs, endpoints excluded).

    Source pivots: the k smallest md5(node) among nodes of degree ≥ 2
    (F6's engine-independent hash discipline; the degree floor keeps
    pivots off isolated leaves, python-replayable exactly). One
    bounded collect (≤ k rows).

    Per source, the Brandes two-phase kernel as frontier joins:
      forward — level-synchronous BFS carrying σ (shortest-path
      counts, exact BIGINT sums: integer aggregation is
      order-insensitive, so no float hazard in phase 1);
      backward — for levels d = L−1 … 1, δ(v) = Σ_{w: succ}
      (σv/σw)·(1+δw), each per-edge term an exact double, the
      per-node sum through DECIMAL(38,18) (the house dsum
      discipline: shuffle order cannot move the sum).
    O(eccentricity) rounds each way per source; every round is one
    equi-join + one aggregation on frames that are at most
    vertex-sized; edges localCheckpoint'ed once. On a cluster,
    bucket edges by node and every round co-locates; the k sources
    are independent and could dispatch as parallel jobs.

    Returns (node, bc_est) for nodes with positive estimate, bc_est
    rounded to 6 dp. ``stats_out`` (optional dict) records
    per-source forward/backward round counts — the ledger pattern.
    Sampling error: Brandes–Pich bound the absolute error of the
    n/k-scaled estimator by O(n²/k · √(log n / k)) whp; with the
    fixture's small diameters the practical error is far below the
    rank scale, and the hand-graph test pins k = n exactness.
    Eager: runs Spark jobs when called."""
    spark = edges_df.sparkSession
    sym = _undirected_edges(edges_df, src, dst)
    node_type = sym.schema["_src"].dataType
    pivots, n_nodes = _md5_graph_pivots(sym, k_sources)
    if not pivots or not n_nodes:
        return spark.createDataFrame(
            [], f"node {node_type.simpleString()}, bc_est double"
        )
    scale = float(n_nodes) / float(len(pivots))

    delta_frames = []
    ledger: dict = {}
    for s_node in pivots:
        # ---- forward: levels of (node, sigma) ----
        seed = (
            spark.createDataFrame([(s_node, 1)], ["node", "sigma"])
            .select(F.col("node").cast(node_type), F.col("sigma").cast("bigint"))
            .localCheckpoint()
        )
        levels, _ = _bfs_levels(
            sym,
            seed,
            seed.select("node").localCheckpoint(),
            # σ(w) = Σ σ(v) over the frontier nodes v adjacent to w
            lambda j, _d: j.groupBy(F.col("_dst").alias("node")).agg(
                F.sum("sigma").cast("bigint").alias("sigma")
            ),
            max_iter,
            None,
        )
        fwd_rounds = len(levels) - 1
        # ---- backward: dependency accumulation ----
        bwd_rounds = 0
        delta = None  # delta frame for level d+1: (node, sigma, delta)
        for d in range(len(levels) - 1, 0, -1):
            wd = levels[d]
            if delta is not None:
                wd = wd.join(delta.select("node", "delta"), "node", "left")
            else:
                wd = wd.withColumn("delta", F.lit(None).cast("double"))
            wd = wd.select(
                F.col("node").alias("_w"),
                F.col("sigma").alias("_sw"),
                F.coalesce(F.col("delta"), F.lit(0.0)).alias("_dw"),
            )
            lv = levels[d - 1]
            term = (
                (F.col("sigma").cast("double") / F.col("_sw").cast("double"))
                * (F.lit(1.0) + F.col("_dw"))
            ).cast("decimal(38,18)")
            acc = (
                lv.join(sym, lv.node == sym._src)
                .join(wd, F.col("_dst") == F.col("_w"))
                .groupBy(lv.node)
                .agg(F.sum(term).cast("double").alias("_acc"))
            )
            delta = (
                lv.join(acc, "node", "left")
                .select(
                    "node",
                    "sigma",
                    F.coalesce(F.col("_acc"), F.lit(0.0)).alias("delta"),
                )
                .localCheckpoint()
            )
            bwd_rounds += 1
            if d >= 1:
                contrib = delta.filter(
                    (F.col("delta") > 0.0) & (F.col("node") != F.lit(s_node))
                ).select("node", "delta")
                delta_frames.append(contrib)
        ledger[s_node] = {"fwd_rounds": fwd_rounds, "bwd_rounds": bwd_rounds}
    if stats_out is not None:
        stats_out.update(
            {"pivots": pivots, "n_nodes": n_nodes, "per_source": ledger}
        )
    if not delta_frames:
        return spark.createDataFrame(
            [], f"node {node_type.simpleString()}, bc_est double"
        )
    allc = delta_frames[0]
    for fr in delta_frames[1:]:
        allc = allc.unionByName(fr)
    return (
        allc.groupBy("node")
        .agg(
            F.sum(F.col("delta").cast("decimal(38,18)"))
            .cast("double")
            .alias("_bc")
        )
        .select(
            "node",
            F.round(F.col("_bc") * F.lit(scale), 6).alias("bc_est"),
        )
        .filter(F.col("bc_est") > 0.0)
    )


def harmonic_closeness_sampled(
    edges_df: DataFrame,
    src: str,
    dst: str,
    k_sources: int = 4,
    max_iter: int = 20,
) -> DataFrame:
    """SAMPLED HARMONIC CLOSENESS centrality: h(v) = Σ_s 1/d(s, v)
    over k deterministic pivots, scaled by n/k — the pivot estimator
    of the full harmonic centrality Σ_{u≠v} 1/d(u, v) (Boldi–Vigna's
    axiom-preferred closeness variant: disconnection contributes 0
    instead of poisoning the mean, so no reachability bias term is
    needed — the reason harmonic beats classic closeness on the
    disconnected graphs real co-occurrence data produces).

    Pivots: the shared md5-of-node discipline (``_md5_graph_pivots``).
    Per source, ONE frontier BFS (n4's kernel shape: equi-join +
    anti-join per level); contributions 1/d are exact doubles summed
    through DECIMAL(38,18) so shuffle order cannot move a value.
    O(eccentricity) rounds per source on vertex-sized frames; the k
    sources are independent. Returns (node, harmonic_est) rounded to
    6 dp for reached nodes. Eager: runs Spark jobs when called."""
    spark = edges_df.sparkSession
    sym = _undirected_edges(edges_df, src, dst)
    node_type = sym.schema["_src"].dataType
    pivots, n_nodes = _md5_graph_pivots(sym, k_sources)
    if not pivots or not n_nodes:
        return spark.createDataFrame(
            [], f"node {node_type.simpleString()}, harmonic_est double"
        )
    scale = float(n_nodes) / float(len(pivots))
    contribs = []
    for s_node in pivots:
        seed = (
            spark.createDataFrame([(s_node,)], ["node"])
            .select(F.col("node").cast(node_type))
            .localCheckpoint()
        )
        levels, _ = _bfs_levels(
            sym,
            seed,
            seed,
            lambda j, _d: j.select(F.col("_dst").alias("node")).distinct(),
            max_iter,
            None,
        )
        contribs += [
            lvl.select("node", (F.lit(1.0) / F.lit(float(d))).alias("c"))
            for d, lvl in enumerate(levels[1:], 1)
        ]
    if not contribs:
        return spark.createDataFrame(
            [], f"node {node_type.simpleString()}, harmonic_est double"
        )
    allc = contribs[0]
    for fr in contribs[1:]:
        allc = allc.unionByName(fr)
    return (
        allc.groupBy("node")
        .agg(
            F.sum(F.col("c").cast("decimal(38,18)"))
            .cast("double")
            .alias("_h")
        )
        .select(
            "node", F.round(F.col("_h") * F.lit(scale), 6).alias("harmonic_est")
        )
    )
