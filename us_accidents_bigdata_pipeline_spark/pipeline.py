"""End-to-end accidents pipeline: the reference's
``BigDataPipeline/spark/complete_pipeline.py`` (and
``run_pipeline.sh`` job sequence) as one orchestrated, idiomatic
Spark flow:

    ingest → clean/impute/encode → Random Forest severity
    classification → distributed kNN → K-Means geographic clustering
    → metrics/JSON export → parquet sink

Differences from the reference, by design (SURVEY §7):
- one cached cleaned frame feeds all three model stages (the reference
  re-reads parquet per job);
- kNN is the vectorized pandas_udf operator, not a row-at-a-time UDF;
- confusion matrix is a DataFrame aggregate, not RDD MulticlassMetrics;
- splits are hash-bucket deterministic (partition-layout independent);
- all sinks go through sources/io.py; metrics JSON mirrors the
  reference's result-document shape (FIXTURES.md §4);
- the stages that do not depend on each other run concurrently.

Stage DAG. ``run_complete_pipeline`` cleans, caches and counts on the
caller's thread. Every later stage runs on its own driver thread and
submits its jobs to its own FAIR scheduler pool named after the stage
(declared in ``fairscheduler.xml``; ``session.get_spark`` sets
``spark.scheduler.mode=FAIR``)::

    clean ─┬─ features ─┬─ rf ──┬─ confusion_chart ─┐
           │            │       ├─ model_results    ├─ release features
           │            └─ knn ─┴───────────────────┘
           ├─ kmeans ─┬─ clustered_data
           │          ├─ cluster_centers
           │          └─ cluster_chart
           ├─ cleaned_data   (State-partitioned parquet)
           └─ charts         (the cleaned-only charts)

``features`` builds and caches the shared RF/kNN feature frame and its
train/test split. ``rf``, ``knn`` and ``kmeans`` overlap with each
other and with the sinks; a sink starts as soon as its inputs are
ready (the sinks exist only when ``output_dir`` is set). Under FAIR
scheduling K-Means's small iteration jobs take task slots in turn with
RF's tree-level jobs instead of queueing behind them, and the sinks
fill the slots the models leave idle. ``k_sweep``'s own threads
inherit the ``kmeans`` pool. The feature cache is dropped once RF
(fit, evaluation, confusion chart) and kNN are done; every cache and
the kNN broadcast are released in ``finally`` blocks, so a failed run
leaks nothing. The first stage to fail cancels the others (their
running jobs, by a run-wide job tag) and its exception propagates.

The summary is the same for a given input and seed as with the stages
run one after another. Its per-stage timings (``sec``,
``stage_seconds``, ``training_time_seconds``) are each stage's own
wall time and now overlap, so they no longer add up to
``total_seconds``, which covers the whole run, sinks included.
"""

from __future__ import annotations

import json
import time
import uuid
from concurrent.futures import (
    FIRST_EXCEPTION,
    CancelledError,
    Future,
    ThreadPoolExecutor,
    wait,
)
from dataclasses import dataclass, field
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .ml.features import assemble_and_scale
from .ml.kmeans import cluster_stats, fit_kmeans, k_sweep, silhouette
from .ml.knn import broadcast_train, knn_predict
from .ml.metrics import evaluate_classifier
from .ml.rf import RFParams, feature_importance, train_with_retry
from .operators.clean import ACCIDENTS_CLEAN_SPEC, CleanSpec, clean
from .operators.sample import deterministic_split
from .sources.io import write_parquet
from .tuning import right_size_partitions

RF_FEATURES = [
    "Distance_mi",
    "Temperature_F",
    "Humidity_Percent",
    "Visibility_mi",
    "Wind_Speed_mph",
    "Traffic_Signal",
]
GEO_FEATURES = ["Start_Lat", "Start_Lng"]


@dataclass
class PipelineConfig:
    clean_spec: CleanSpec = field(default_factory=lambda: ACCIDENTS_CLEAN_SPEC)
    rf_params: RFParams = field(default_factory=RFParams.notebook_tuned)
    rf_features: list[str] = field(default_factory=lambda: list(RF_FEATURES))
    knn_k: int = 5
    knn_train_fraction: float = 0.1  # knn_classification.py:132
    # brute-force kNN scoring is O(|test|*|broadcast train|): cap the
    # evaluated test rows at scale (the reference's Spark kNN only ever
    # ran on a 5% dataset sample, knn_classification.py:298; its
    # full-data kNN was driver-side sklearn KD-trees)
    knn_max_test_rows: int = 100_000
    kmeans_ks: tuple[int, ...] = (4, 6, 8)  # full_scale_pipeline.py:197-222
    kmeans_max_iter: int = 30
    # sweep on a capped sample with fewer iterations (the reference's
    # own 200K elbow-sample pattern, v2:cell47-48) - the final fit uses
    # the full data and full iteration budget
    kmeans_sweep_sample_rows: int = 200_000
    kmeans_sweep_max_iter: int = 15
    test_fraction: float = 0.2
    seed: int = 42


class _ModelOut(NamedTuple):
    """What a model stage hands the summary and its dependent sinks."""

    doc: dict  # the stage's entry in summary["stages"]
    metrics: dict | None = None  # unrounded classifier metrics
    frame: DataFrame | None = None  # predictions / clustered rows


class _StageDag:
    """Runs pipeline stages on driver threads, each stage in its own
    FAIR scheduler pool named after it.

    ``submit(name, fn, *args)`` starts ``fn(*args)`` on a new thread;
    an argument that is an earlier stage's future is replaced by that
    stage's result, so a stage starts as soon as its inputs are ready.
    Threads inherit the caller's local properties (job group, tags)
    through ``inheritable_thread_target``, then set their pool and tag
    their jobs with one run-wide job tag. ``join`` waits for every
    stage; on the first failure it cancels the stages still waiting
    and the running stages' jobs (by the tag, repeatedly, until every
    thread has exited) and re-raises that first failure. Leaving the
    ``with`` block on any exception does the same clean-up, so no
    stage thread outlives the block.
    """

    # more threads than the pipeline has stages: no ready stage ever
    # waits for a thread (stages waiting on inputs hold theirs)
    _MAX_STAGES = 16

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._sc = spark.sparkContext
        self._tag = f"accidents-pipeline-{uuid.uuid4().hex}"
        self._pool = ThreadPoolExecutor(
            self._MAX_STAGES, thread_name_prefix="pipeline-stage"
        )
        self._futures: list[Future] = []
        self._errors: list[BaseException] = []  # in order of failure

    def submit(self, name: str, fn, *args, **kwargs) -> Future:
        def stage():
            try:
                vals = [a.result() if isinstance(a, Future) else a for a in args]
                # a stage failed while this one waited; a stage that
                # starts anyway has its jobs cancelled by the tag
                if self._errors:
                    raise CancelledError(f"stage {name!r}: pipeline aborted")
                self._sc.setLocalProperty("spark.scheduler.pool", name)
                self._sc.addJobTag(self._tag)
                return fn(*vals, **kwargs)
            except BaseException as e:
                self._errors.append(e)
                raise

        fut = self._pool.submit(inheritable_thread_target(self._spark)(stage))
        self._futures.append(fut)
        return fut

    def join(self) -> None:
        wait(self._futures, return_when=FIRST_EXCEPTION)
        if self._errors:
            self._cancel()
            raise self._errors[0]

    def _cancel(self) -> None:
        pending = {f for f in self._futures if not f.cancel() and not f.done()}
        while pending:
            self._sc.cancelJobsWithTag(self._tag)
            _, pending = wait(pending, timeout=0.25)

    def __enter__(self) -> _StageDag:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            self._cancel()
        self._pool.shutdown()


def run_complete_pipeline(
    spark: SparkSession,
    raw: DataFrame,
    output_dir: str | None = None,
    config: PipelineConfig | None = None,
) -> dict:
    """Run the full pipeline; returns the metrics document (the
    reference's pipeline_summary.json shape) and, when ``output_dir``
    is set, writes cleaned parquet + clustered sample + metrics JSON.
    The stages run as the DAG in the module docstring."""
    cfg = config or PipelineConfig()
    t_start = time.time()
    out = Path(output_dir) if output_dir else None
    caches: list[DataFrame] = []  # every cache this run made
    try:
        # -- clean (data_cleaning.py semantics) -------------------------
        t0 = time.time()
        cleaned = clean(raw, cfg.clean_spec).cache()
        caches.append(cleaned)
        n_clean = cleaned.count()
        clean_doc = {"rows": n_clean, "sec": round(time.time() - t0, 2)}

        with _StageDag(spark) as dag:
            feat = dag.submit("features", _feature_stage, cleaned, n_clean, cfg, caches)
            rf = dag.submit("rf", _rf_stage, feat, cfg)
            knn = dag.submit("knn", _knn_stage, feat, cfg)
            km = dag.submit("kmeans", _kmeans_stage, cleaned, n_clean, cfg, caches)
            charts = _submit_sinks(dag, spark, cfg, out, cleaned, rf, knn, km) if out else []
            # RF (fit, evaluation and, with sinks, the confusion chart
            # charts[2]) and kNN are the feature cache's only readers:
            # drop it once they are all done
            dag.submit(
                "release_features", lambda f, *_: f.frame.unpersist(),
                feat, rf, knn, *charts[2:],
            )
            dag.join()

        summary: dict = {
            "stages": {
                "clean": clean_doc,
                "random_forest": rf.result().doc,
                "knn": knn.result().doc,
                "kmeans": km.result().doc,
            },
            "total_seconds": round(time.time() - t_start, 2),
            "rows_processed": n_clean,
        }
        if out:
            summary["charts"] = [p for c in charts for p in c.result()]
            with open(out / "pipeline_summary.json", "w") as f:
                json.dump(summary, f, indent=2)
        return summary
    finally:
        for df in caches:
            df.unpersist()


def _submit_sinks(
    dag: _StageDag,
    spark: SparkSession,
    cfg: PipelineConfig,
    out: Path,
    cleaned: DataFrame,
    rf: Future,
    knn: Future,
    km: Future,
) -> list[Future]:
    """Submit the parquet and chart sinks, each as soon as its inputs
    are ready. Returns the chart stages in the suite's order: the
    cleaned-only charts, the cluster scatter, the confusion matrix."""
    from .ml.metrics import cluster_centers_document, result_documents
    from .operators.viz import export_chart_suite

    out.mkdir(parents=True, exist_ok=True)
    charts_dir = str(out / "charts")

    def write_clustered(k: _ModelOut) -> None:
        cols = ["ID", "Severity", "Start_Lat", "Start_Lng", "cluster"]
        write_parquet(k.frame.select(*cols), str(out / "clustered_data"))

    def write_centers(k: _ModelOut) -> None:
        docs = cluster_centers_document(spark, k.doc["cluster_stats"])
        write_parquet(docs, str(out / "cluster_centers"))

    def write_model_results(r: _ModelOut, n: _ModelOut) -> None:
        docs = result_documents(
            spark, "random_forest", r.metrics, parameters=str(cfg.rf_params)
        ).union(
            result_documents(spark, "knn", n.metrics, parameters=f"k={cfg.knn_k}")
        )
        write_parquet(docs, str(out / "model_results"))

    # hive-partition the cleaned output by State (SURVEY §4's named
    # improvement): downstream per-state queries prune to one
    # directory instead of scanning the full dataset. ~50 states →
    # bounded partition count; no repartition first, so each task
    # writes only the states it holds (file count = tasks × local
    # states, acceptable at this partition cardinality).
    dag.submit(
        "cleaned_data", write_parquet, cleaned, str(out / "cleaned_data"),
        partition_by=["State"],
    )
    dag.submit("clustered_data", write_clustered, km)
    dag.submit("cluster_centers", write_centers, km)
    dag.submit("model_results", write_model_results, rf, knn)
    # chart rendering (generate_visualizations.py parity): distributed
    # aggregation -> tiny collect -> dependency-free SVG
    return [
        dag.submit("charts", export_chart_suite, cleaned, charts_dir),
        dag.submit(
            "cluster_chart",
            lambda k: export_chart_suite(
                None, charts_dir,
                clustered=k.frame.select("Start_Lat", "Start_Lng", "cluster"),
            ),
            km,
        ),
        dag.submit(
            "confusion_chart",
            lambda r: export_chart_suite(None, charts_dir, predictions=r.frame),
            rf,
        ),
    ]


class _Features(NamedTuple):
    """The cached RF/kNN feature frame and its deterministic split."""

    frame: DataFrame
    train: DataFrame
    test: DataFrame
    n_train: int
    prep_sec: float


def _feature_stage(
    cleaned: DataFrame, n_clean: int, cfg: PipelineConfig, caches: list[DataFrame]
) -> _Features:
    """Shared RF/kNN features: label, assemble + scale, right-size,
    cache, split, and the train count that materializes the cache. The
    cache goes on ``caches`` for the caller to release."""
    t0 = time.time()
    labeled = cleaned.withColumn("label", (F.col("Severity") - 1).cast("double"))
    feat, _ = assemble_and_scale(labeled, cfg.rf_features, with_mean=False)
    # iterative trainers pay per-task overhead per iteration: size
    # partitions by rows, not by cluster width (tuning.py rationale).
    # ~5K rows/partition floor keeps small tiers at full parallelism
    # (profiled 46K vs 28K rows/s at the 200K tier), while the 2x-
    # parallelism ceiling lets the 2M tier over-decompose to 64 tasks
    # for load balance (profiled ~15% faster than 32). Cache ONLY the
    # columns the train/eval path reads (ID for the split, label,
    # features) — tree passes re-scan the cache every node group, so
    # dragging the full cleaned row width through it costs ~40% fit
    # throughput.
    feat = right_size_partitions(
        feat.select("ID", "label", "features"),
        n_rows=n_clean,
        rows_per_partition=5_000,
        max_parts=2 * cleaned.sparkSession.sparkContext.defaultParallelism,
        allow_grow=True,
    ).cache()
    caches.append(feat)
    train, test = deterministic_split(feat, "ID", cfg.test_fraction)
    n_train = train.count()
    return _Features(feat, train, test, n_train, time.time() - t0)


def _rf_stage(feat: _Features, cfg: PipelineConfig) -> _ModelOut:
    """Random Forest severity classification: fit + evaluation."""
    # time the model fit separately from stage prep (scaler fit, cache
    # materialization, split count): the reference's published RF
    # throughput is fit-only (Pipeline_Collab/outputs/rf_results.json —
    # 6.18M rows / 80.37 s training), so rows_per_sec must measure the
    # same window to be comparable
    t_fit = time.time()
    rf_model, used_fraction = train_with_retry(feat.train, cfg.rf_params)
    fit_sec = time.time() - t_fit
    preds = rf_model.transform(feat.test)
    metrics = evaluate_classifier(preds)
    doc = {
        "train_rows": feat.n_train,
        "train_fraction_used": used_fraction,
        "training_time_seconds": round(fit_sec, 2),
        "stage_seconds": round(feat.prep_sec + fit_sec, 2),
        "rows_per_sec": round(feat.n_train / max(fit_sec, 1e-9)),
        "fit_rows_per_sec": round(feat.n_train / max(fit_sec, 1e-9)),
        "metrics": {k: round(v, 4) for k, v in metrics.items()},
        "feature_importance": [
            {"feature": f, "importance": round(i, 4)}
            for f, i in feature_importance(rf_model, cfg.rf_features)[:15]
        ],
    }
    return _ModelOut(doc, metrics, preds.select("label", "prediction"))


def _knn_stage(feat: _Features, cfg: PipelineConfig) -> _ModelOut:
    """Distributed kNN: broadcast the train sample, predict, evaluate."""
    t0 = time.time()
    knn_test = feat.test
    n_test = feat.test.count()
    if n_test > cfg.knn_max_test_rows:
        knn_test = feat.test.sample(False, cfg.knn_max_test_rows / n_test, cfg.seed)
    # broadcast created here (not inside knn_predict) so it can be
    # destroyed once metrics are materialized — otherwise each pipeline
    # run leaks one train-matrix broadcast on driver and executors
    knn_bc = broadcast_train(
        feat.train,
        features_col="features",
        label_col="label",
        train_fraction=cfg.knn_train_fraction,
        seed=cfg.seed,
    )
    try:
        knn_preds = knn_predict(
            knn_test,
            k=cfg.knn_k,
            features_col="features",
            label_col="label",
            train_broadcast=knn_bc,
        )
        metrics = evaluate_classifier(
            knn_preds.withColumn("prediction", F.col("prediction").cast("double"))
        )
    finally:
        knn_bc.destroy()
    doc = {
        "k": cfg.knn_k,
        "train_fraction": cfg.knn_train_fraction,
        "sec": round(time.time() - t0, 2),
        "metrics": {k: round(v, 4) for k, v in metrics.items()},
    }
    return _ModelOut(doc, metrics)


def _kmeans_stage(
    cleaned: DataFrame, n_clean: int, cfg: PipelineConfig, caches: list[DataFrame]
) -> _ModelOut:
    """K-Means geographic clustering: geo features, k sweep, final fit,
    silhouette and per-cluster stats. The geo cache goes on ``caches``
    for the caller to release."""
    t0 = time.time()
    geo, _ = assemble_and_scale(
        cleaned.select("ID", "Severity", *GEO_FEATURES), GEO_FEATURES
    )
    geo = right_size_partitions(geo, n_rows=n_clean).cache()
    caches.append(geo)
    # materialize BEFORE the concurrent sweep: k_sweep's threads would
    # otherwise race to populate this cache, each recomputing the
    # lineage and contending on BlockManager puts
    geo.count()
    if n_clean > cfg.kmeans_sweep_sample_rows:
        sweep_df = geo.sample(False, cfg.kmeans_sweep_sample_rows / n_clean, cfg.seed)
    else:
        sweep_df = geo
    best_k, sweep = k_sweep(
        sweep_df, list(cfg.kmeans_ks), max_iter=cfg.kmeans_sweep_max_iter,
        seed=cfg.seed,
    )
    km_model = fit_kmeans(geo, best_k, max_iter=cfg.kmeans_max_iter, seed=cfg.seed)
    clustered = km_model.transform(geo)
    sil = silhouette(clustered)
    # per-cluster stats carry the RAW lat/lng means — the model's
    # clusterCenters() live in StandardScaler space and must never
    # reach the geographic cluster_centers sink
    stats = cluster_stats(
        clustered, stat_cols=["Severity", "Start_Lat", "Start_Lng"]
    )
    stats_rows = [r.asDict() for r in stats.orderBy("cluster").collect()]
    doc = {
        "best_k": best_k,
        "silhouette": round(sil, 4),
        "wssse": round(km_model.summary.trainingCost, 2),
        "sweep": [
            {"k": k, "silhouette": round(s, 4), "wssse": round(w, 2)}
            for k, s, w in sweep
        ],
        "sec": round(time.time() - t0, 2),
        "cluster_stats": stats_rows,
    }
    return _ModelOut(doc, frame=clustered)


def main(argv: list[str] | None = None) -> dict:
    """spark-submit / python -m entry point — the analog of the
    reference's run_pipeline.sh → spark-submit complete_pipeline.py
    (BigDataPipeline/run_pipeline.sh, spark/complete_pipeline.py:1-40):
    generate-or-read the accidents table, run the full clean → RF →
    kNN → K-Means pipeline, and write every sink under --output.

    `spark-submit us_accidents_bigdata_pipeline_spark/pipeline.py
    --rows 1000000 --output out/` works unchanged on a real cluster —
    the session factory only sets master when none is configured.
    """
    import argparse

    from .session import get_spark
    from .sources.accidents import generate_accidents_raw_distributed
    from .sources.io import read_csv

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--rows", type=int, default=100_000,
                   help="synthetic accident rows (ignored with --csv)")
    p.add_argument("--csv", default=None,
                   help="read a real accidents CSV instead of generating")
    p.add_argument("--output", default="pipeline_out")
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args(argv)

    spark = get_spark(app_name="accidents-pipeline")
    if args.csv:
        # explicit schema (S1 discipline): reuse the generator's schema
        # rather than paying inferSchema's extra full scan
        schema = generate_accidents_raw_distributed(spark, 1).schema
        raw = read_csv(spark, args.csv, schema)
    else:
        raw = generate_accidents_raw_distributed(
            spark, args.rows, seed=args.seed
        )
    summary = run_complete_pipeline(spark, raw, output_dir=args.output)
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":  # pragma: no cover - exercised via tests/main()
    main()
