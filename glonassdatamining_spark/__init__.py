"""glonassdatamining_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of
``maglighter/glonassdatamining`` (a Scala Spark + MLlib + STARK
spatio-temporal mining application; see SURVEY.md §0 for provenance —
the reference checkout is empty, so the surface is reconstructed from
the STARK/MLlib public APIs and the driver's north star).

Everything is DataFrame/SQL-declarative so Catalyst + Tungsten pick the
physical strategy; Pandas UDFs appear only where built-ins cannot
express the semantics (DBSCAN local clustering, multimodal decode).

Layout (SURVEY.md §7.5):
    session.py        SparkSession factory (local test tuning)
    registry.py       declared-query registry → __spark_entry__.py
    stable.py         hash-stability discipline (SURVEY.md §5.3)
    sources/          A* scans/sources/sinks
    operators/        B-G relational operators, I spatio-temporal,
                      K LLM-pipeline, J ML
    functions/        H scalar-function groups
    streaming/        L streaming ops + batch twins

Shipping rule for Python kernels: the package registers itself with
``pyspark.cloudpickle.register_pickle_by_value`` on import, so every
function or class of the package that a pandas UDF, ``mapInPandas``,
``applyInPandas`` or RDD closure reaches travels BY VALUE. Python
workers never import the package; they run from any cwd with any
``PYTHONPATH``. Kernels are plain functions that import what they
use at module top. One constraint follows: a kernel must not
reference a package MODULE object (``import ...spatiotemporal as
st`` then ``st.f``) — cloudpickle would ship that module's whole
namespace. Reference the function itself.

Driver-side handles tied to a running application (Column plan
fragments, UDF objects, persisted hot tables) go through the one
memo, ``session.memo``, which keys on the active SparkContext.
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

cloudpickle.register_pickle_by_value(sys.modules[__name__])

from glonassdatamining_spark.api import (  # noqa: E402,F401
    asof_join,
    bfs_hops,
    connected_components,
    containment_pairs,
    convex_hull,
    cosine_topk,
    dbscan,
    decontaminate,
    exact_dedup,
    funnel,
    grid_distance_join,
    haversine_distance_join,
    haversine_km,
    heavy_hitters,
    kcore,
    local_plane,
    minhash_lsh_dedup,
    minimum_spanning_forest,
    pagerank,
    pii_scrub,
    rdp_simplify,
    repetition_metrics,
    salted_agg,
    sessionize,
    set_similarity_topk,
    shingles,
    stratified_hash_sample,
    weighted_sssp,
)

__all__ = [
    "asof_join",
    "bfs_hops",
    "connected_components",
    "containment_pairs",
    "convex_hull",
    "cosine_topk",
    "dbscan",
    "decontaminate",
    "exact_dedup",
    "funnel",
    "haversine_distance_join",
    "haversine_km",
    "grid_distance_join",
    "heavy_hitters",
    "kcore",
    "local_plane",
    "minhash_lsh_dedup",
    "minimum_spanning_forest",
    "pagerank",
    "pii_scrub",
    "rdp_simplify",
    "repetition_metrics",
    "salted_agg",
    "sessionize",
    "set_similarity_topk",
    "shingles",
    "stratified_hash_sample",
    "weighted_sssp",
]
