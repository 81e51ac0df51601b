"""§2.J — ML / mining operators (the reference's MLlib half).

All rows-only (model outputs aren't ANSI-SQL-expressible); pytest
layers assert semantic sanity instead (cluster purity vs the fixture
``label`` column, LSH recall vs the exact k12 pairs — tests/test_ml.py).

Every estimator here is the distributed MLlib implementation — at
100 TB these are the same iterative Spark jobs, just more partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from glonassdatamining_spark.registry import register
from glonassdatamining_spark.sources import load
from glonassdatamining_spark.sources.scans import SCRATCH_ROOT

_SEED = 42


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )


@register("j1_kmeans", oracle=None, section="J1")
def j1_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans k=10 over embeddings (fixture ``label`` 0..9 is the
    ground truth; purity asserted in tests/test_ml.py)."""
    from pyspark.ml.clustering import KMeans

    vec = _vectors(spark, sf_dir)
    model = KMeans(k=10, seed=_SEED, featuresCol="features").fit(vec)
    return model.transform(vec).select(
        "vec_id", "label", F.col("prediction").alias("cluster")
    )


@register("j2_fpgrowth", oracle=None, section="J2")
def j2_fpgrowth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FP-Growth frequent itemsets over per-user event-type baskets."""
    from pyspark.ml.fpm import FPGrowth

    ev = load(spark, sf_dir, "events")
    baskets = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("items")
    )
    model = FPGrowth(itemsCol="items", minSupport=0.2, minConfidence=0.5).fit(baskets)
    return model.freqItemsets.select(
        F.array_sort("items").alias("items"), "freq"
    )


@register("j3_tfidf", oracle=None, section="J3")
def j3_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF vectorization pipeline (Tokenizer → HashingTF → IDF)."""
    from pyspark.ml.feature import HashingTF, IDF, Tokenizer

    d = load(spark, sf_dir, "documents")
    toks = Tokenizer(inputCol="text", outputCol="tokens").transform(d)
    tf = HashingTF(inputCol="tokens", outputCol="tf", numFeatures=1024).transform(toks)
    idf_model = IDF(inputCol="tf", outputCol="tfidf").fit(tf)
    out = idf_model.transform(tf)
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array("tfidf")
    norm = F.sqrt(F.aggregate(F.transform(arr, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return out.select("doc_id", F.round(norm, 4).alias("tfidf_norm"))


@register("j4_word2vec", oracle=None, section="J4")
def j4_word2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2Vec doc embeddings (seeded, 1 partition for determinism
    within Spark; cross-engine oracle impossible)."""
    from pyspark.ml.feature import Tokenizer, Word2Vec

    d = load(spark, sf_dir, "documents")
    toks = Tokenizer(inputCol="text", outputCol="tokens").transform(d)
    w2v = Word2Vec(
        vectorSize=16, minCount=1, seed=_SEED, numPartitions=1,
        inputCol="tokens", outputCol="w2v", maxIter=1,
    )
    model = w2v.fit(toks)
    out = model.transform(toks)
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array("w2v")
    norm = F.sqrt(F.aggregate(F.transform(arr, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return out.select("doc_id", F.round(norm, 4).alias("w2v_norm"))


@register("j5_text_classifier", oracle=None, section="J5")
def j5_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentiment-pipeline shape: TF-IDF features → logistic regression
    predicting ``lang``; returns per-language accuracy counts."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, IDF, StringIndexer, Tokenizer

    d = load(spark, sf_dir, "documents")
    pipe = Pipeline(
        stages=[
            Tokenizer(inputCol="text", outputCol="tokens"),
            HashingTF(inputCol="tokens", outputCol="tf", numFeatures=1024),
            IDF(inputCol="tf", outputCol="features"),
            StringIndexer(inputCol="lang", outputCol="y"),
            LogisticRegression(labelCol="y", maxIter=20, regParam=0.01),
        ]
    )
    model = pipe.fit(d)
    pred = model.transform(d)
    return (
        pred.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("y") == F.col("prediction")).cast("int")).alias("n_correct"),
        )
    )


@register("j6_lsh_similarity_join", oracle=None, section="J6")
def j6_lsh_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH approximate ε-similarity self-join
    over L2-normalized embeddings — the 100 TB backbone for C12/K12
    (for unit vectors, L2 ≤ 1.14 ⇔ cosine ≥ ~0.35 = k12's τ). Candidates come
    from hash-bucket equi-joins, not all-pairs. Recall vs the exact
    k12 pairs is asserted in tests/test_ml.py."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer

    vec = _vectors(spark, sf_dir)
    unit = Normalizer(inputCol="features", outputCol="unit", p=2.0).transform(vec)
    lsh = BucketedRandomProjectionLSH(
        inputCol="unit", outputCol="hashes", bucketLength=0.5, numHashTables=4, seed=_SEED
    )
    model = lsh.fit(unit)
    pairs = model.approxSimilarityJoin(unit, unit, 1.14, distCol="l2")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.round("l2", 6).alias("l2"),
        )
    )


@register("j7_pca", oracle=None, section="J7")
def j7_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA 64→8 dims over the embeddings — the standard pre-step for
    cheap ANN (search in the reduced space, re-rank in the original;
    K14's IVF coarse quantizer composes with this). MLlib computes the
    covariance spectrum with one distributed Gramian aggregation, so
    the 100 TB cost is a single pass over the vectors plus an O(d²)
    driver eigendecomposition (d=64 here — trivial).

    Returns per-vector explained projections (vec_id, label, pc1..pc8
    rounded); variance capture asserted in tests/test_ml.py."""
    from pyspark.ml.feature import PCA

    vec = _vectors(spark, sf_dir)
    model = PCA(k=8, inputCol="features", outputCol="pca").fit(vec)
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array(F.col("pca"))
    return model.transform(vec).select(
        "vec_id",
        "label",
        *[F.round(arr[i], 6).alias(f"pc{i + 1}") for i in range(8)],
    )


@register("j8_als_recommend", oracle=None, section="J8")
def j8_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS collaborative filtering over the customer×part purchase
    matrix (implicit feedback = line-item count) — MLlib's distributed
    blocked alternating least squares; top-3 part recommendations per
    customer. rows-only: factor models aren't SQL-expressible. Scale:
    ALS is THE canonical Spark-scale recommender (user/item factor
    blocks co-partitioned per iteration); rank/iterations are the only
    knobs that move at 100 TB."""
    from pyspark.ml.recommendation import ALS

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ratings = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.count(F.lit(1)).cast("float").alias("rating"))
    )
    als = ALS(
        rank=8, maxIter=5, seed=42, regParam=0.1, implicitPrefs=True,
        userCol="user", itemCol="item", ratingCol="rating",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    recs = model.recommendForAllUsers(3)
    return recs.select(
        "user",
        F.posexplode("recommendations").alias("rank", "rec"),
    ).select(
        F.col("user").alias("custkey"),
        (F.col("rank") + 1).alias("rank"),
        F.col("rec.item").alias("partkey"),
        F.round(F.col("rec.rating"), 4).alias("score"),
    )


@register("j9_cross_validation", oracle=None, section="J9")
def j9_cross_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection via k-fold cross-validation — the MLlib
    tuning loop (`CrossValidator` + `ParamGridBuilder`) over the J5
    text classifier: TF-IDF → logistic regression, grid over
    regParam, 3 folds. Returns the per-model average metric and the
    winner flag. rows-only (CV metrics aren't SQL-expressible).
    Scale: each fold's fit is a full distributed Spark job; folds ×
    grid points parallelize via CrossValidator's `parallelism` param
    — the standard cluster tuning shape."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import HashingTF, IDF, RegexTokenizer
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    d = load(spark, sf_dir, "documents").withColumn(
        "label", (F.col("lang") == "en").cast("double")
    )
    pipe = Pipeline(
        stages=[
            RegexTokenizer(inputCol="text", outputCol="toks", pattern="\\s+"),
            HashingTF(inputCol="toks", outputCol="tf", numFeatures=1 << 12),
            IDF(inputCol="tf", outputCol="features"),
            LogisticRegression(maxIter=10),
        ]
    )
    lr = pipe.getStages()[-1]
    grid = ParamGridBuilder().addGrid(lr.regParam, [0.01, 0.3]).build()
    cv = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(metricName="areaUnderROC"),
        numFolds=3,
        seed=42,
        parallelism=4,
    )
    model = cv.fit(d)
    import pandas as pd

    rows = [
        (float(g[lr.regParam]), float(m), int(i == int(max(
            range(len(model.avgMetrics)), key=lambda j: model.avgMetrics[j]
        ))))
        for i, (g, m) in enumerate(zip(grid, model.avgMetrics))
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["reg_param", "avg_auc", "is_best"]),
        schema="reg_param double, avg_auc double, is_best int",
    )


@register("j10_gbt_regressor", oracle=None, section="J10")
def j10_gbt_regressor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted trees (round-2 addition) — MLlib's strongest
    tabular learner, regressing order totalprice from engineered
    per-order features (item count, quantity mass, mean discount).
    Seeded and depth-bounded for determinism; returns per-orderstatus
    RMSE-style residual stats so the output is small and stable.
    rows-only: boosted-ensemble predictions aren't SQL-expressible.
    Scale: each boosting iteration is one distributed gradient pass;
    feature assembly is a plain aggregate — the standard cluster
    shape for tabular GBT."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor

    li = load(spark, sf_dir, "lineitem")
    feats = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("double").alias("n_items"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.avg("l_discount").alias("avg_disc"),
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    data = o.join(feats, o.o_orderkey == feats.l_orderkey).select(
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("label"),
        "n_items",
        "sum_qty",
        "avg_disc",
    )
    assembled = VectorAssembler(
        inputCols=["n_items", "sum_qty", "avg_disc"], outputCol="features"
    ).transform(data)
    gbt = GBTRegressor(maxIter=5, maxDepth=3, seed=42, stepSize=0.3)
    model = gbt.fit(assembled)
    pred = model.transform(assembled)
    resid = F.col("prediction") - F.col("label")
    return pred.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sqrt(F.avg(resid * resid)), 2).alias("rmse"),
        F.round(F.avg(F.abs(resid)), 2).alias("mae"),
    )


@register("j11_model_persistence", oracle=None, section="J11")
def j11_model_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML model persistence round trip (round-2 addition) — the
    operational half of the ML surface: the fitted j5 TF-IDF +
    logistic-regression PipelineModel is saved to disk (Spark's
    native metadata+parquet model format, the artifact a scoring
    cluster loads), reloaded in the same session, and BOTH models
    score the corpus; the output proves prediction-identical behavior
    per language. At 100 TB this is how training and serving decouple
    — fit once, persist to object storage, load on any cluster.
    rows-only (model internals aren't ANSI-SQL); the identity
    assertion is the n_agree == n_docs column itself."""
    import os
    import shutil

    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, IDF, StringIndexer, Tokenizer

    d = load(spark, sf_dir, "documents")
    pipe = Pipeline(
        stages=[
            Tokenizer(inputCol="text", outputCol="tokens"),
            HashingTF(inputCol="tokens", outputCol="tf", numFeatures=1024),
            IDF(inputCol="tf", outputCol="features"),
            StringIndexer(inputCol="lang", outputCol="y"),
            LogisticRegression(labelCol="y", maxIter=10, regParam=0.01),
        ]
    )
    model = pipe.fit(d)
    sf = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = f"{SCRATCH_ROOT}/j11_model_{sf}"
    shutil.rmtree(path, ignore_errors=True)
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)
    a = model.transform(d).select("doc_id", "lang", F.col("prediction").alias("p1"))
    b = reloaded.transform(d).select("doc_id", F.col("prediction").alias("p2"))
    return (
        a.join(b, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("p1") == F.col("p2")).cast("int")).alias("n_agree"),
        )
    )


@register("j12_isotonic_regression", oracle=None, section="J12")
def j12_isotonic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression (round-4 addition): MLlib's pool-adjacent-
    violators fit of order totalprice as a MONOTONE nondecreasing
    function of basket quantity mass — the calibration primitive
    (probability calibration, dose-response, monotone tariff curves)
    the tree/linear tiers can't express. Deterministic: PAV has no
    seed, and the feature/label aggregates are exact. Returns the
    fitted step function sampled at quantity deciles (boundary,
    prediction) so the output is small and stable. rows-only: the
    pooled step function isn't SQL-expressible. Scale: MLlib
    parallelizes PAV by sorting feature-partitioned blocks and
    pooling across boundaries — one sort shuffle of the (feature,
    label) frame, linear after that; tests assert monotonicity and
    bracketing against the raw means."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression

    li = load(spark, sf_dir, "lineitem")
    feats = li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").cast("double").alias("qty_mass")
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    data = o.join(feats, o.o_orderkey == feats.l_orderkey).select(
        F.col("o_totalprice").cast("double").alias("label"), "qty_mass"
    )
    assembled = VectorAssembler(
        inputCols=["qty_mass"], outputCol="features"
    ).transform(data)
    model = IsotonicRegression(featuresCol="features", labelCol="label").fit(
        assembled
    )
    deciles = (
        data.agg(
            F.percentile_approx(
                "qty_mass",
                F.array(*[F.lit(i / 10.0) for i in range(1, 10)]),
                10000,
            ).alias("qs")
        )
        .select(F.explode("qs").alias("qty_decile"))
        .distinct()
    )
    scored = model.transform(
        VectorAssembler(inputCols=["qty_decile"], outputCol="features").transform(
            deciles.select(F.col("qty_decile").cast("double"))
        )
    )
    return scored.select(
        F.col("qty_decile"), F.round("prediction", 4).alias("fitted_price")
    ).orderBy("qty_decile")


@register("j13_linear_regression", oracle=None, section="J13")
def j13_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib LinearRegression (round-4 addition): unregularized
    least-squares fit of extended price on quantity per return flag —
    the distributed 'normal'-solver twin of D35's exact closed-form
    moments, and the tier's calibration check: tests assert the MLlib
    coefficients match D35's determinant arithmetic to ~1e-6
    relative, so the two independent solvers certify each other.
    Deterministic: solver='normal' computes the same normal equations
    via exact-enough Gram accumulation (no SGD, no seed). rows-only:
    the iterative/solver internals aren't SQL-expressible — D35 IS
    the SQL-checkable face of this operator. Scale: one treeAggregate
    of the 2×2 Gram matrix per group — map-side-combinable, no
    shuffle beyond the per-flag split."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    li = load(spark, sf_dir, "lineitem")
    flags = [r[0] for r in li.select("l_returnflag").distinct().collect()]
    out = []
    for flag in sorted(flags):
        data = (
            li.filter(F.col("l_returnflag") == flag)
            .select(
                F.col("l_quantity").cast("double").alias("qty"),
                F.col("l_extendedprice").cast("double").alias("label"),
            )
        )
        assembled = VectorAssembler(
            inputCols=["qty"], outputCol="features"
        ).transform(data)
        model = LinearRegression(
            featuresCol="features", labelCol="label",
            regParam=0.0, solver="normal",
        ).fit(assembled)
        out.append(
            (
                flag,
                float(model.coefficients[0]),
                float(model.intercept),
                float(model.summary.r2),
            )
        )
    return spark.createDataFrame(
        out, "l_returnflag STRING, slope DOUBLE, intercept DOUBLE, r2 DOUBLE"
    )


@register("j14_gaussian_mixture", oracle=None, section="J14")
def j14_gaussian_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian mixture (EM) soft clustering over the embeddings —
    KMeans' probabilistic sibling: where J1 assigns hard cells, GMM
    fits k full-covariance Gaussians and yields per-point posterior
    responsibilities, the model family behind soft dedup-cluster
    assignment and outlier scoring (low max-posterior = fits no
    component). Fit in J7's 8-dim principal subspace with k=5 (see
    the in-body note: full covariance needs points ≫ dims). Output: (vec_id, label, cluster, max_post) with the
    posterior rounded to 6 dp; rows-only by nature (EM's optimum is
    seed- and iteration-order-dependent — no SQL oracle exists);
    structural validity + seed determinism asserted in
    tests/test_ml.py. Scale shape: MLlib's distributed EM —
    per-partition sufficient statistics, driver-side M-step over
    k·d² covariance state (64-dim → 40 KB per component; fine), the
    same aggregate-then-broadcast loop every iterative MLlib
    estimator rides."""
    from pyspark.ml.clustering import GaussianMixture
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import vector_to_array

    vec = _vectors(spark, sf_dir)
    # PCA → GMM, the standard pipeline: a full-covariance component
    # needs comfortably more points than dimensions (64-dim raw
    # embeddings over ~50 points/component give singular covariances
    # — Breeze rejects the eigendecomposition), so the mixture is fit
    # in the 8-dim principal subspace. k=5 keeps ≥100 points per
    # component at the smallest fixture.
    pca = PCA(k=8, inputCol="features", outputCol="pc").fit(vec)
    red = pca.transform(vec)
    model = GaussianMixture(
        k=5, seed=_SEED, featuresCol="pc", maxIter=30
    ).fit(red)
    out = model.transform(red)
    return out.select(
        "vec_id", "label",
        F.col("prediction").alias("cluster"),
        F.round(
            F.array_max(vector_to_array("probability")), 6
        ).alias("max_post"),
    )
