"""K-Means geographic clustering (SURVEY §2.8 M7/M10, §2.9 E5/E7).

Reference parity: KMeans(k, seed=42, maxIter) with the silhouette-based
"elbow" sweep (kmeans_clustering.py:107-137 — argmax silhouette, not a
true elbow; kept with the same semantics), cluster centers + WSSSE
(M10), per-cluster stats aggregate (A2, kmeans_clustering.py:202-208),
squaredEuclidean silhouette (v2:cell48; SURVEY §7.4.8 records this as
the engine's canonical definition).
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans, KMeansModel
from pyspark.ml.evaluation import ClusteringEvaluator
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fit_kmeans(
    df: DataFrame,
    k: int,
    features_col: str = "features",
    prediction_col: str = "cluster",
    max_iter: int = 50,
    seed: int = 42,
) -> KMeansModel:
    km = KMeans(
        k=k,
        seed=seed,
        maxIter=max_iter,
        featuresCol=features_col,
        predictionCol=prediction_col,
    )
    return km.fit(df)


def silhouette(
    predictions: DataFrame,
    features_col: str = "features",
    prediction_col: str = "cluster",
    distance: str = "squaredEuclidean",
) -> float:
    """ClusteringEvaluator silhouette — squaredEuclidean to match the
    reference's Spark-side numbers (0.73-range, not sklearn's 0.11)."""
    ev = ClusteringEvaluator(
        featuresCol=features_col,
        predictionCol=prediction_col,
        metricName="silhouette",
        distanceMeasure=distance,
    )
    return ev.evaluate(predictions)


def k_sweep(
    df: DataFrame,
    ks: list[int],
    features_col: str = "features",
    max_iter: int = 30,
    seed: int = 42,
) -> tuple[int, list[tuple[int, float, float]]]:
    """Silhouette sweep over candidate k (E7). Returns
    (best_k, [(k, silhouette, wssse), ...]); best = argmax silhouette
    (the reference's 'elbow', kmeans_clustering.py:133-137).

    The per-k fits are INDEPENDENT Spark jobs, so they run from
    concurrent driver threads (Spark's scheduler interleaves their
    stages): each small-k fit leaves most of the cluster idle between
    its iteration barriers, and overlapping the candidates fills those
    gaps — measured ~2x on the pipeline's 3-candidate sweep at the
    200K tier. Results are deterministic per k (seeded); the thread
    pool only changes scheduling, never the math.

    Each fit is wrapped with ``inheritable_thread_target`` at submit
    time, so its jobs carry the caller's local properties (job group,
    job tags, ``spark.scheduler.pool``): a sweep started from a
    pipeline stage stays in that stage's FAIR pool and is cancelled
    with it. One wrap per fit, because the wrapper hands its thread
    the very properties object it cloned."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    def one(k: int) -> tuple[int, float, float]:
        model = fit_kmeans(df, k, features_col, max_iter=max_iter, seed=seed)
        pred = model.transform(df)
        sil = silhouette(pred, features_col)
        wssse = model.summary.trainingCost
        return (k, sil, wssse)

    inherit = inheritable_thread_target(df.sparkSession)
    with ThreadPoolExecutor(max_workers=min(len(ks), 4)) as pool:
        futures = [pool.submit(inherit(one), k) for k in ks]
        results = [f.result() for f in futures]
    best_k = max(results, key=lambda t: t[1])[0]
    return best_k, results


def cluster_stats(
    predictions: DataFrame,
    cluster_col: str = "cluster",
    stat_cols: list[str] | None = None,
) -> DataFrame:
    """Per-cluster count / avg / stddev multi-agg
    (kmeans_clustering.py:202-208) — plain SQL-expressible (A2)."""
    stat_cols = stat_cols or []
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in stat_cols:
        aggs += [
            F.round(F.avg(c), 4).alias(f"avg_{c}"),
            F.round(F.stddev(c), 4).alias(f"std_{c}"),
        ]
    return predictions.groupBy(cluster_col).agg(*aggs)


def cluster_centers(model: KMeansModel) -> list[list[float]]:
    """M10: model.clusterCenters() as plain lists."""
    return [c.tolist() for c in model.clusterCenters()]
