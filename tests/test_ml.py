"""Semantic sanity for the rows-only operators (SURVEY §5.4): the
DuckDB oracle can't check model outputs, so these tests pin them to
ground truth (fixture labels), to exact twins (LSH recall vs k12,
DBSCAN vs a brute-force single-node reference), or to invariants."""

from __future__ import annotations

import numpy as np

from glonassdatamining_spark import registry
from tests.conftest import SF_DIR


def test_kmeans_valid_and_deterministic(spark):
    """The fixture embeddings are near-orthogonal (max pairwise cosine
    ≈ 0.51, probed) so ``label`` is NOT geometrically recoverable —
    assert structural validity + seed determinism instead."""
    got = registry.get("j1_kmeans").builder(spark, SF_DIR).toPandas()
    assert len(got) == got["vec_id"].nunique()
    assert 1 < got["cluster"].nunique() <= 10
    again = registry.get("j1_kmeans").builder(spark, SF_DIR).toPandas()
    a = got.sort_values("vec_id")["cluster"].tolist()
    b = again.sort_values("vec_id")["cluster"].tolist()
    assert a == b, "same seed must reproduce the same clustering"


def test_lsh_recall_vs_exact_pairs(spark):
    """j6's approximate join must find most of k12's exact cosine
    near-dup pairs (recall ≥ 0.9 at these LSH settings)."""
    exact = registry.get("k12_embedding_neardup").builder(spark, SF_DIR).toPandas()
    approx = registry.get("j6_lsh_similarity_join").builder(spark, SF_DIR).toPandas()
    exact_pairs = set(map(tuple, exact[["vec_a", "vec_b"]].values.tolist()))
    approx_pairs = set(map(tuple, approx[["vec_a", "vec_b"]].values.tolist()))
    assert exact_pairs, "exact near-dup twin is vacuous — tune tau"
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"LSH recall {recall:.3f} over {len(exact_pairs)} pairs"


def _brute_force_dbscan(xy: np.ndarray, eps: float, min_pts: int) -> np.ndarray:
    """Single-node reference DBSCAN (BFS through cores)."""
    n = len(xy)
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2)
    neigh = d2 <= eps * eps
    core = neigh.sum(axis=1) >= min_pts
    labels = np.full(n, -1)
    cid = 0
    for i in range(n):
        if not core[i] or labels[i] != -1:
            continue
        stack = [i]
        labels[i] = cid
        while stack:
            j = stack.pop()
            if not core[j]:
                continue
            for k in np.nonzero(neigh[j])[0]:
                if labels[k] == -1:
                    labels[k] = cid
                    stack.append(int(k))
        cid += 1
    return labels


def test_dbscan_matches_brute_force(spark):
    """The distributed (cell + halo + merge) DBSCAN must produce the
    same partition of CORE points into clusters as the single-node
    reference, including clusters that straddle cell borders
    (SURVEY §7.4 hard part). Border(non-core) membership is
    order-dependent in DBSCAN by definition — only cores compared."""
    from glonassdatamining_spark.operators.spatiotemporal import dbscan, fixes

    # sf0.001 is sparse (0.1 pts/unit²): eps=3 gives a connected-ish
    # graph with clusters that straddle the 10-unit cell borders —
    # exactly the hard case for the distributed merge.
    eps, min_pts = 3.0, 4
    got = dbscan(spark, SF_DIR, eps=eps, min_pts=min_pts, cell=10.0).toPandas()
    pts = fixes(spark, SF_DIR).select("event_id", "x", "y").toPandas()
    pts = pts.sort_values("event_id").reset_index(drop=True)
    ref_labels = _brute_force_dbscan(pts[["x", "y"]].to_numpy(), eps, min_pts)
    ref = dict(zip(pts["event_id"], ref_labels))

    core = got[got["is_core"]]
    assert len(core) > 0, "no core points — tune eps/min_pts"
    # same partition ⇔ the (ours, ref) cluster-id pairing is a bijection
    pairing = {}
    reverse = {}
    for _, row in core.iterrows():
        r = ref[row["event_id"]]
        assert r != -1, f"distributed core {row['event_id']} is not core in reference"
        ours = row["cluster"]
        assert pairing.setdefault(ours, r) == r, f"cluster {ours} split in reference"
        assert reverse.setdefault(r, ours) == ours, f"ref cluster {r} split in ours"
    # and every reference core is core for us too
    ref_cores = {eid for eid, lab in ref.items() if lab != -1}
    got_cores = set(core["event_id"])
    # reference cores include border-reachable? no: lab!=-1 includes
    # border points labeled during BFS — restrict to true cores:
    xy = pts[["x", "y"]].to_numpy()
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(axis=2)
    true_core = (d2 <= eps * eps).sum(axis=1) >= min_pts
    true_core_ids = set(pts["event_id"][true_core])
    assert got_cores == true_core_ids


def test_fpgrowth_supports_are_exact(spark):
    """FP-Growth frequencies must equal direct subset counts."""
    got = registry.get("j2_fpgrowth").builder(spark, SF_DIR).toPandas()
    baskets = (
        registry.get("l5_stateful_dedup").builder(spark, SF_DIR).toPandas()
        .groupby("user_id")["event_type"]
        .apply(set)
    )
    assert len(got) > 0
    for _, row in got.iterrows():
        items = set(row["items"])
        expect = sum(1 for b in baskets if items <= b)
        assert expect == row["freq"], f"{items}: {row['freq']} != {expect}"


def test_ivf_ann_recall_vs_exact(spark):
    """IVF top-5 must recover ≥ 0.9 of the exact brute-force top-5 at
    the declared operating point (nlist=16, spill=3, nprobe=5 — the
    k14 docstring's sweep table). The fixture's embeddings are
    isotropic, the worst case for partition-based ANN, so this recall
    costs a measured ≈ 0.70 distinct-scan fraction; the posted-entry
    bound spill·nprobe/nlist is asserted < 1 so the operating point
    can't silently degrade into a (duplicated) full scan."""
    from glonassdatamining_spark import registry
    from glonassdatamining_spark.operators.llm_ops import (
        _IVF_NLIST,
        _IVF_NPROBE,
        _IVF_SPILL,
    )

    exact = registry.get("k3_cosine_topk").builder(spark, SF_DIR).toPandas()
    approx = registry.get("k14_ivf_ann").builder(spark, SF_DIR).toPandas()
    truth = exact.groupby("qid")["nid"].apply(set)
    got = approx.groupby("qid")["nid"].apply(set)
    recalls = [
        len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth.index
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.9, f"IVF recall@5 too low: {mean_recall:.3f}"
    assert _IVF_SPILL * _IVF_NPROBE < _IVF_NLIST, (
        "operating point drifted into a duplicated full scan"
    )


def test_j7_pca_component_variances_decrease(spark):
    """PCA's defining invariant: projected variance is non-increasing
    across components."""
    import numpy as np

    from glonassdatamining_spark import registry

    pdf = registry.get("j7_pca").builder(spark, SF_DIR).toPandas()
    assert {"vec_id", "label", "pc1", "pc8"} <= set(pdf.columns)
    assert len(pdf) > 0 and pdf["pc1"].notna().all()
    variances = [np.var(pdf[f"pc{i}"].values) for i in range(1, 9)]
    assert variances[0] > 0
    assert all(
        variances[i] >= variances[i + 1] * 0.999 for i in range(7)
    ), variances


def test_hll_partial_union_close_to_exact(spark):
    from glonassdatamining_spark import registry
    from glonassdatamining_spark.sources import load
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    got = {
        r.event_type: r.approx_users
        for r in registry.get("d20_hll_partial_union").builder(spark, SF_DIR).collect()
    }
    exact = {
        r.event_type: r.n
        for r in load(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got.keys() == exact.keys()
    for k in exact:
        # HLL_4 default lgK=12 → ~1.6% rse; allow 5%
        assert abs(got[k] - exact[k]) <= max(2, 0.05 * exact[k]), (k, got[k], exact[k])


def test_k29_semdedup_drop_containment(spark):
    """Every dropped vector must have a smaller-id near-dup partner in
    ITS OWN cluster (the SemDeDup drop rule — the partner may itself be
    dropped further up a chain), and the keep/drop partition must cover
    the input exactly once."""
    import numpy as np

    from conftest import SF_DIR
    from glonassdatamining_spark.operators.llm_ops import (
        _SEMDEDUP_TAU,
        k29_semdedup,
    )
    from glonassdatamining_spark.sources import load

    out = k29_semdedup(spark, SF_DIR).toPandas()
    emb = {
        r.vec_id: np.array(r.embedding, dtype=float)
        for r in load(spark, SF_DIR, "embeddings").collect()
    }
    assert sorted(out.vec_id.tolist()) == sorted(emb.keys())
    by_cluster = {}
    for r in out.itertuples():
        by_cluster.setdefault(r.cluster, []).append((r.vec_id, r.keep))
    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    for cl, members in by_cluster.items():
        for vid, keep in members:
            if keep:
                continue
            partners = [
                o for o, _ in members
                if o < vid and cos(emb[o], emb[vid]) >= _SEMDEDUP_TAU - 1e-12
            ]
            assert partners, (
                f"dropped {vid} in cluster {cl} has no smaller near-dup partner"
            )


def test_hll_set_ops_close_to_exact(spark):
    """d23's inclusion-exclusion intersection estimates must land
    within HLL tolerance of the exact pairwise overlaps."""
    got = registry.get("d23_hll_set_ops").builder(spark, SF_DIR).toPandas()
    from glonassdatamining_spark.sources import load

    ev = load(spark, SF_DIR, "events").select("event_type", "user_id").toPandas()
    users = ev.groupby("event_type")["user_id"].apply(set)
    assert len(got) == len(users) * (len(users) - 1) // 2
    for _, r in got.iterrows():
        exact = len(users[r["type_a"]] & users[r["type_b"]])
        # lgConfigK default=12 → ~1.6% relative std err; allow 10% + slack
        tol = max(20.0, 0.1 * exact)
        assert abs(r["users_intersect_est"] - exact) <= tol, (
            f"{r['type_a']}∩{r['type_b']}: est {r['users_intersect_est']} vs {exact}"
        )


def test_model_persistence_identical_predictions(spark):
    """j11: the reloaded PipelineModel must agree with the in-memory
    model on every document."""
    got = registry.get("j11_model_persistence").builder(spark, SF_DIR).toPandas()
    assert len(got) > 0
    assert (got["n_agree"] == got["n_docs"]).all(), got


def test_j12_isotonic_monotone_and_bracketed(spark):
    """j12: the PAV step function sampled at quantity deciles must be
    nondecreasing and stay inside the raw label range."""
    got = (
        registry.get("j12_isotonic_regression")
        .builder(spark, SF_DIR)
        .toPandas()
        .sort_values("qty_decile")
    )
    assert len(got) >= 5
    fitted = got["fitted_price"].tolist()
    assert all(b >= a - 1e-9 for a, b in zip(fitted, fitted[1:])), fitted
    from glonassdatamining_spark.sources import load

    o = load(spark, SF_DIR, "orders").toPandas()["o_totalprice"]
    assert fitted[0] >= o.min() - 1e-6 and fitted[-1] <= o.max() + 1e-6


def test_j13_matches_d35_closed_form(spark):
    """j13's MLlib normal-equation solve and d35's exact-decimal
    determinant arithmetic are independent solvers of the same least
    squares problem — they must agree (slope/intercept in cents vs
    dollars differ by the ×100 unit change only)."""
    ml = (
        registry.get("j13_linear_regression")
        .builder(spark, SF_DIR)
        .toPandas()
        .set_index("l_returnflag")
    )
    ex = (
        registry.get("d35_ols_regression")
        .builder(spark, SF_DIR)
        .toPandas()
        .set_index("l_returnflag")
    )
    assert set(ml.index) == set(ex.index)
    for flag in ml.index:
        slope_d = ex.loc[flag, "slope_cents_per_unit"] / 100.0
        icept_d = ex.loc[flag, "intercept_cents"] / 100.0
        assert abs(ml.loc[flag, "slope"] - slope_d) <= 1e-4 * max(1.0, abs(slope_d)), flag
        assert abs(ml.loc[flag, "intercept"] - icept_d) <= 1e-4 * max(1.0, abs(icept_d)), flag
        assert abs(ml.loc[flag, "r2"] - ex.loc[flag, "r2"]) < 1e-6, flag


def test_gmm_valid_and_deterministic(spark):
    """J14 structural validity + seed determinism (the fixture's
    near-orthogonal embeddings make the mixture optimum geometry-
    blind, as with J1 — so assert structure, not label recovery):
    posteriors are probabilities, clusters span a sensible range,
    and the same seed reproduces the same soft partition."""
    got = registry.get("j14_gaussian_mixture").builder(spark, SF_DIR).toPandas()
    assert len(got) == got["vec_id"].nunique()
    assert 1 < got["cluster"].nunique() <= 5
    assert ((got["max_post"] >= 0.0) & (got["max_post"] <= 1.0)).all()
    # a soft max-posterior must be at least the uniform floor 1/k
    assert (got["max_post"] >= 1.0 / 5 - 1e-9).all()
    again = registry.get("j14_gaussian_mixture").builder(spark, SF_DIR).toPandas()
    a = got.sort_values("vec_id")[["cluster", "max_post"]].values.tolist()
    b = again.sort_values("vec_id")[["cluster", "max_post"]].values.tolist()
    assert a == b, "same seed must reproduce the same mixture"


def test_ivf_prebuilt_index_matches_refit_and_recall(spark):
    """k14b (persisted-index path) must produce EXACTLY k14's result —
    same quantizer seed, same operating point, index read back from
    the ManifestTable pair instead of refit — and independently clear
    the 0.9 recall floor against the exact brute-force top-5."""
    exact = registry.get("k3_cosine_topk").builder(spark, SF_DIR).toPandas()
    refit = registry.get("k14_ivf_ann").builder(spark, SF_DIR).toPandas()
    pre = (
        registry.get("k14b_ivf_ann_prebuilt").builder(spark, SF_DIR).toPandas()
    )
    key = lambda df: set(zip(df.qid, df.nid, df.cos))  # noqa: E731
    assert key(pre) == key(refit)
    truth = exact.groupby("qid")["nid"].apply(set)
    got = pre.groupby("qid")["nid"].apply(set)
    recalls = [
        len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth.index
    ]
    assert sum(recalls) / len(recalls) >= 0.9


def test_ivf_incremental_insert_recall(spark, tmp_path):
    """Build the index on 80% of the vectors, ivf_insert the rest
    (frozen centroids, postings APPENDED under snapshot isolation),
    and query the full set against the grown index: recall must still
    clear 0.9, re-inserting already-committed ids must post nothing
    (k32's committed-vs-new discipline), and the postings row count
    must equal spill × n_vectors exactly."""
    from pyspark.sql import functions as F

    from glonassdatamining_spark.lakehouse import ManifestTable
    from glonassdatamining_spark.operators.llm_ops import (
        _IVF_SPILL,
        _ivf_unit_vectors,
        ivf_build_index,
        ivf_insert,
        ivf_query,
    )

    root = str(tmp_path / "ivf")
    unit = _ivf_unit_vectors(spark, SF_DIR).localCheckpoint()
    n = unit.count()
    cut = unit.approxQuantile("vec_id", [0.8], 0.0)[0]
    ivf_build_index(spark, unit.filter(F.col("vec_id") <= cut), root)
    out = ivf_insert(spark, unit, root)  # only the >cut tail is fresh
    assert out["inserted_ids"] == unit.filter(F.col("vec_id") > cut).count()
    again = ivf_insert(spark, unit, root)
    assert again["inserted_ids"] == 0, "double-posting committed ids"
    post = ManifestTable(spark, f"{root}/postings", "list_id")
    assert post.read().count() == _IVF_SPILL * n
    assert post.read().select("nid").distinct().count() == n

    got = ivf_query(spark, unit, root, k=5).toPandas()
    exact = registry.get("k3_cosine_topk").builder(spark, SF_DIR).toPandas()
    truth = exact.groupby("qid")["nid"].apply(set)
    gots = got.groupby("qid")["nid"].apply(set)
    recalls = [
        len(truth[q] & gots.get(q, set())) / len(truth[q]) for q in truth.index
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.9, f"incremental-index recall: {mean_recall:.3f}"

def test_ivf_query_prunes_posting_files(spark, tmp_path):
    """The round-7 ADVICE fix: ivf_query must plan the postings scan
    through read_pruned_in on the probed list ids. For a single query
    vector (nprobe=5 of nlist=16, 4-file range-distributed postings)
    the pruned plan must read strictly fewer rows than the full
    postings table, and the pruned result must match the same
    re-rank computed over the UNPRUNED postings scan exactly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from glonassdatamining_spark.lakehouse import ManifestTable
    from glonassdatamining_spark.operators.llm_ops import (
        _IVF_NPROBE,
        _ivf_rank_lists,
        _ivf_unit_vectors,
        ivf_build_index,
        ivf_query,
    )

    unit = _ivf_unit_vectors(spark, SF_DIR).localCheckpoint()
    root = str(tmp_path / "ivf")
    ivf_build_index(spark, unit, root)
    post = ManifestTable(spark, f"{root}/postings", "list_id")
    cent = ManifestTable(spark, f"{root}/centroids", "list_id").read()

    one = unit.orderBy("vec_id").limit(1).localCheckpoint()
    probed = sorted(
        r["list_id"]
        for r in _ivf_rank_lists(one, cent, _IVF_NPROBE)
        .select("list_id")
        .distinct()
        .collect()
    )
    assert len(probed) == _IVF_NPROBE
    total = post.read().count()
    kept = post.read_pruned_in("list_id", probed).count()
    assert kept < total, "probe prune must skip at least one file"

    got = ivf_query(spark, one, root, k=5).toPandas()
    # unpruned twin: same probe + re-rank over the FULL postings scan
    probes = _ivf_rank_lists(one, cent, _IVF_NPROBE).select(
        F.col("vec_id").alias("qid"), F.col("u").alias("qu"), "list_id"
    )
    dot = F.aggregate(
        F.zip_with("qu", "cu", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "nid")
    want = (
        probes.join(post.read(), "list_id")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", F.round(dot, 6).alias("cos"))
        .dropDuplicates(["qid", "nid"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .toPandas()
    )
    assert set(zip(got.qid, got.nid, got.cos)) == set(
        zip(want.qid, want.nid, want.cos)
    )


def test_ivf_planted_boundary_pairs_zero_miss(spark, tmp_path):
    """Round-8 planted-adversary recall (verdict ask #8): the IVF
    failure mode is a true nearest neighbor sitting JUST ACROSS a
    Voronoi boundary from its query. Plant 16 tight direction
    clusters on the unit circle plus, on EVERY between-cluster
    bisector, a pair of mutual-true-NN vectors straddling the
    boundary (0.008 rad apart — far closer to each other than to any
    cluster member). Build the real index (KMeans k=16, spill=3,
    nprobe=5) and assert top-1 recall is EXACTLY 1.0 on all 16
    planted pairs: the spill/probe overlap must cover every boundary,
    no matter which cells KMeans carves."""
    import math

    from glonassdatamining_spark.operators.llm_ops import (
        ivf_build_index,
        ivf_query,
    )

    rows, vid = [], 0
    for c in range(16):
        base = 2 * math.pi * c / 16
        for j in range(12):
            ang = base + (j - 5.5) * 0.01
            rows.append(
                (vid, [math.cos(ang), math.sin(ang), 0.0, 0.0])
            )
            vid += 1
    pairs = []
    for c in range(16):
        bis = 2 * math.pi * (c + 0.5) / 16
        a_id, b_id = vid, vid + 1
        for s, pid in ((-0.004, a_id), (0.004, b_id)):
            rows.append(
                (pid, [math.cos(bis + s), math.sin(bis + s), 0.0, 0.0])
            )
        pairs.append((a_id, b_id))
        vid += 2
    df = spark.createDataFrame(rows, "vec_id LONG, u ARRAY<DOUBLE>")
    root = str(tmp_path / "ivf_boundary")
    ivf_build_index(spark, df, root)
    out = ivf_query(spark, df, root, k=1)
    top1 = {r.qid: r.nid for r in out.collect()}
    missed = [
        (a, b) for a, b in pairs
        if top1.get(a) != b or top1.get(b) != a
    ]
    assert not missed, f"boundary pairs missed by spill/probe: {missed}"


def test_i6b_equals_i6_at_reference_density(spark):
    """dbscan_auto with n_ref pinned to the actual fixture count must
    reproduce i6 exactly (derived scale s = 1) — the parent-
    equivalence half of the i6b contract."""
    from glonassdatamining_spark.operators.spatiotemporal import (
        dbscan_auto,
        fixes,
    )

    n = fixes(spark, SF_DIR).count()
    auto = dbscan_auto(spark, SF_DIR, n_ref=float(n)).toPandas()
    assert set(auto["eps"]) == {0.8}
    parent = registry.get("i6_dbscan").builder(spark, SF_DIR).toPandas()
    a = auto.drop(columns=["eps"]).sort_values("event_id").reset_index(drop=True)
    b = parent.sort_values("event_id").reset_index(drop=True)
    assert a.equals(b)


def test_i6b_matches_brute_force_at_derived_eps(spark):
    """The registered i6b runs with the DERIVED (eps, cell) at
    sf0.001 — its core-point partition must match single-node DBSCAN
    at that same derived eps (the brute-force discipline applied to
    the auto variant, not just the parent)."""
    import math

    from glonassdatamining_spark.operators.spatiotemporal import (
        _DB_EPS,
        _DB_MINPTS,
        _I6B_N_REF,
        fixes,
    )

    pts = fixes(spark, SF_DIR).select("event_id", "x", "y").toPandas()
    s = math.sqrt(_I6B_N_REF / len(pts))
    eps = _DB_EPS * s
    got = registry.get("i6b_dbscan_auto").builder(spark, SF_DIR).toPandas()
    assert abs(got["eps"].iloc[0] - round(eps, 6)) < 1e-9
    pts = pts.sort_values("event_id").reset_index(drop=True)
    ref_labels = _brute_force_dbscan(
        pts[["x", "y"]].to_numpy(), eps, _DB_MINPTS
    )
    ref = dict(zip(pts["event_id"], ref_labels))
    core = got[got["is_core"]]
    assert len(core) > 0, "derived eps found no cores at sf0.001"
    pairing: dict = {}
    reverse: dict = {}
    for _, row in core.iterrows():
        r = ref[row["event_id"]]
        assert r != -1
        ours = row["cluster"]
        assert pairing.setdefault(ours, r) == r
        assert reverse.setdefault(r, ours) == ours


def test_k14c_pq_recall_compression_and_determinism(spark):
    """PQ-ADC top-5 (round-11): (a) recall@5 >= 0.85 vs the exact
    brute-force top-5 at the registered operating point (M=16,
    ksub=16, L=50 — measured 0.93 on the isotropic fixture, ANN's
    worst case); (b) the persisted code table is exactly M small ints
    per vector — the 16x compression that is the operator's reason to
    exist; (c) two query passes against the same session index are
    row-identical (codebooks/codes frozen + deterministic ADC
    tie-breaks)."""
    from glonassdatamining_spark import registry
    from glonassdatamining_spark.operators.llm_ops import _PQ_M

    exact = registry.get("k3_cosine_topk").builder(spark, SF_DIR).toPandas()
    approx = registry.get("k14c_pq_ann_adc").builder(spark, SF_DIR).toPandas()
    truth = exact.groupby("qid")["nid"].apply(set)
    got = approx.groupby("qid")["nid"].apply(set)
    recalls = [
        len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth.index
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.85, f"PQ recall@5 too low: {mean_recall:.3f}"
    # compression: codes table carries M ints per vector
    import glob
    import os

    from glonassdatamining_spark.sources.scans import SCRATCH_ROOT

    roots = glob.glob(f"{SCRATCH_ROOT}/pq_sf0.001_*/codes")
    assert roots, "codes ManifestTable missing"
    from glonassdatamining_spark.lakehouse import ManifestTable

    codes = ManifestTable(spark, sorted(roots)[-1], "vec_id").read()
    widths = codes.selectExpr("size(codes) AS w").distinct().collect()
    assert [r.w for r in widths] == [_PQ_M], widths
    # determinism: a second query pass is row-identical
    again = registry.get("k14c_pq_ann_adc").builder(spark, SF_DIR).toPandas()
    a = approx.sort_values(["qid", "rn"] if "rn" in approx else ["qid", "nid"]).reset_index(drop=True)
    b = again.sort_values(["qid", "rn"] if "rn" in again else ["qid", "nid"]).reset_index(drop=True)
    assert a.equals(b)
