"""End-to-end pipeline golden test (the reference's golden-JSON idiom
made automatic, SURVEY §5.2): run the complete pipeline on the seeded
accidents fixture and assert metrics within tolerance bands."""

from __future__ import annotations

import json
import threading
import xml.etree.ElementTree as ET

import pytest

from us_accidents_bigdata_pipeline_spark import pipeline
from us_accidents_bigdata_pipeline_spark.pipeline import run_complete_pipeline
from us_accidents_bigdata_pipeline_spark.session import FAIR_POOLS_FILE
from us_accidents_bigdata_pipeline_spark.sources.accidents import generate_accidents_raw

from .conftest import finished_jobs, last_job_id, stage_pools

# The 3000-row seed-42 fixture's model summary (timings dropped), as
# produced when the stages ran one after another: running them
# concurrently must not change a single value or key.
_CLUSTER_STATS = [
    # cluster, n, avg/std Severity, avg/std Start_Lat, avg/std Start_Lng
    (0, 728, 2.1415, 0.7196, 30.9127, 3.6858, -82.2381, 8.6106),
    (1, 768, 2.1693, 0.7311, 30.7726, 3.6473, -110.7176, 8.0376),
    (2, 714, 2.2087, 0.7319, 43.6145, 3.5452, -110.7574, 8.3276),
    (3, 732, 2.1339, 0.7007, 43.1818, 3.6598, -81.0953, 8.3123),
]
PINNED_SUMMARY = {
    "stages": {
        "clean": {"rows": 2942},
        "random_forest": {
            "train_rows": 2336,
            "train_fraction_used": 1.0,
            "metrics": {
                "accuracy": 0.7162, "precision": 0.7086,
                "recall": 0.7162, "f1": 0.6806,
            },
            "feature_importance": [
                {"feature": f, "importance": i}
                for f, i in [
                    ("Distance_mi", 0.6043), ("Visibility_mi", 0.1343),
                    ("Wind_Speed_mph", 0.1274), ("Traffic_Signal", 0.0896),
                    ("Humidity_Percent", 0.0244), ("Temperature_F", 0.0199),
                ]
            ],
        },
        "knn": {
            "k": 5,
            "train_fraction": 0.1,
            "metrics": {
                "accuracy": 0.6865, "precision": 0.678,
                "recall": 0.6865, "f1": 0.6616,
            },
        },
        "kmeans": {
            "best_k": 4,
            "silhouette": 0.5899,
            "wssse": 1462.45,
            "sweep": [
                {"k": 4, "silhouette": 0.5899, "wssse": 1462.45},
                {"k": 6, "silhouette": 0.5266, "wssse": 1068.25},
                {"k": 8, "silhouette": 0.5414, "wssse": 748.32},
            ],
            "cluster_stats": [
                dict(zip(
                    ["cluster", "n", "avg_Severity", "std_Severity",
                     "avg_Start_Lat", "std_Start_Lat", "avg_Start_Lng",
                     "std_Start_Lng"],
                    row,
                ))
                for row in _CLUSTER_STATS
            ],
        },
    },
    "rows_processed": 2942,
}
_TIMINGS = {
    "sec", "training_time_seconds", "stage_seconds", "rows_per_sec",
    "fit_rows_per_sec", "total_seconds", "charts",
}


def _model_summary(summary: dict) -> dict:
    """The summary without its timings and chart paths."""
    if isinstance(summary, dict):
        return {k: _model_summary(v) for k, v in summary.items() if k not in _TIMINGS}
    return summary


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _stage_threads() -> list[threading.Thread]:
    return [t for t in threading.enumerate() if t.name.startswith("pipeline-stage")]


def test_complete_pipeline_golden(spark, tmp_path):
    raw = generate_accidents_raw(spark, n_rows=3000, seed=42)
    persisted = _persisted_rdds(spark)
    first_job = last_job_id(spark)
    summary = run_complete_pipeline(spark, raw, output_dir=str(tmp_path / "out"))

    # the full model summary, keys in order, equals the pinned one
    got = _model_summary(summary)
    assert got == PINNED_SUMMARY
    assert json.dumps(got) == json.dumps(PINNED_SUMMARY)
    # every cache the run made (and every MLlib-internal one) is gone;
    # RDDs other tests left persisted may be GC-cleaned meanwhile
    assert _persisted_rdds(spark) <= persisted
    # the model stages ran in their own declared FAIR pools
    pools = set(stage_pools(spark, finished_jobs(spark, first_job)).values())
    declared = {p.get("name") for p in ET.parse(FAIR_POOLS_FILE).iter("pool")}
    assert {"rf", "knn", "kmeans", "cleaned_data", "model_results"} <= pools
    assert pools <= declared | {"default"}

    st = summary["stages"]
    # clean drops ~2-3% (null coords, severity out of range)
    assert 2800 <= st["clean"]["rows"] <= 3000
    # RF learns the planted signal well above the ~0.66 majority rate
    assert st["random_forest"]["metrics"]["accuracy"] > 0.70
    assert st["random_forest"]["feature_importance"][0]["feature"] in (
        "Distance_mi",
        "Visibility_mi",
    )
    # kNN on a 10% broadcast sample still beats majority-class
    assert st["knn"]["metrics"]["accuracy"] > 0.55
    # geographic clustering separates
    assert st["kmeans"]["best_k"] in (4, 6, 8)
    assert st["kmeans"]["silhouette"] > 0.3
    n_stats = {r["cluster"] for r in st["kmeans"]["cluster_stats"]}
    assert len(n_stats) == st["kmeans"]["best_k"]

    # sinks: parquet + summary JSON round-trip
    back = spark.read.parquet(str(tmp_path / "out" / "cleaned_data"))
    assert back.count() == st["clean"]["rows"]
    # cleaned output is hive-partitioned by State and a per-state filter
    # prunes at planning time (PartitionFilters, not a data filter)
    one_state = back.select("State").head()["State"]
    pruned = back.filter(back.State == one_state)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "State" in plan.split("PartitionFilters")[1].splitlines()[0], plan
    clustered = spark.read.parquet(str(tmp_path / "out" / "clustered_data"))
    assert set(clustered.columns) == {
        "ID",
        "Severity",
        "Start_Lat",
        "Start_Lng",
        "cluster",
    }
    with open(tmp_path / "out" / "pipeline_summary.json") as f:
        assert json.load(f)["rows_processed"] == st["clean"]["rows"]

    # determinism: same seed + same data → same model summary, with or
    # without the sinks running alongside the models
    summary2 = run_complete_pipeline(spark, raw)
    assert _model_summary(summary2) == PINNED_SUMMARY
    assert _persisted_rdds(spark) <= persisted


def test_stage_failure_propagates_and_releases_caches(spark, tmp_path, monkeypatch):
    """A stage that raises cancels the others; its exception reaches
    the caller only after every stage thread has exited, and the run's
    caches are released on the way out."""
    def fail(*args, **kwargs):
        raise RuntimeError("injected K-Means failure")

    monkeypatch.setattr(pipeline, "fit_kmeans", fail)
    raw = generate_accidents_raw(spark, n_rows=3000, seed=42)
    # start from an empty cache manager, so any entry left is this run's
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="injected K-Means failure"):
        run_complete_pipeline(spark, raw, output_dir=str(tmp_path / "out"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert not _stage_threads()
    assert not (tmp_path / "out" / "pipeline_summary.json").exists()
    # the context is healthy after the cancellations
    assert spark.range(10).count() == 10


def test_cli_main_runs_end_to_end(spark, tmp_path):
    """The spark-submit entry point (pipeline.main) — run_pipeline.sh
    parity — must run the whole pipeline from argv and write the
    summary + sinks under --output."""
    import json
    import os

    from us_accidents_bigdata_pipeline_spark.pipeline import main

    out = str(tmp_path / "cli_out")
    summary = main(["--rows", "4000", "--output", out, "--seed", "7"])
    assert summary["rows_processed"] > 0
    assert summary["stages"]["clean"]["rows"] == summary["rows_processed"]
    assert os.path.exists(f"{out}/pipeline_summary.json")
    with open(f"{out}/pipeline_summary.json") as f:
        disk = json.load(f)
    assert disk["rows_processed"] == summary["rows_processed"]


def test_export_corpus_cli_argv_smoke():
    """The corpus-export script is runnable from argv in a fresh
    interpreter (``python scripts/export_corpus.py --help``). The full
    end-to-end run lives in tests/test_export_cli.py's IN-PROCESS twin
    — the former subprocess duplicate spawned a second local[2] Spark
    JVM alongside the suite's live session and tripped its 420 s
    timeout whenever the host was co-tenant-loaded (passed alone in
    68 s; the r8 verdict's only red row). --help exits at argparse —
    pyspark gets imported but no JVM is ever launched — so this stays
    a few seconds under any load."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    r = subprocess.run(
        [
            sys.executable,
            str(repo / "scripts" / "export_corpus.py"),
            "--help",
        ],
        capture_output=True,
        text=True,
        timeout=60,
        cwd=str(repo),
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    for flag in ("--sf-dir", "--out", "--shards", "--master"):
        assert flag in r.stdout


def test_stage_dag_passes_upstream_results(spark):
    """A future passed as an argument is replaced by that stage's
    result; plain arguments and keywords pass through."""
    from us_accidents_bigdata_pipeline_spark.pipeline import _StageDag

    with _StageDag(spark) as dag:
        leaves = [dag.submit("rf", lambda i=i: i) for i in range(12)]
        total = dag.submit("knn", lambda *xs, scale: scale * sum(xs), *leaves, scale=2)
        dag.join()
    assert total.result() == 2 * sum(range(12))
    assert not _stage_threads()


def test_stage_dag_cancels_running_jobs_on_first_failure(spark):
    """The first failure cancels the Spark job another stage is running
    (a sum over 10^13 rows that would otherwise run for hours), skips
    the stages waiting on the failed one, and is re-raised once every
    stage thread has exited; a later failure does not replace it."""
    import time

    from us_accidents_bigdata_pipeline_spark.pipeline import _StageDag

    sc = spark.sparkContext
    ran = []

    def endless():
        return spark.range(0, 10**13, numPartitions=2).selectExpr("sum(id)").collect()

    def fail_once_a_job_runs():
        deadline = time.monotonic() + 60
        while not sc.statusTracker().getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)
        raise ValueError("first failure")

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="first failure"):
        with _StageDag(spark) as dag:
            running = dag.submit("kmeans", endless)
            failed = dag.submit("rf", fail_once_a_job_runs)
            dag.submit("model_results", ran.append, failed)
            dag.join()
    assert time.monotonic() - t0 < 120
    assert running.exception() is not None
    assert ran == []
    assert not _stage_threads()
    assert not sc.statusTracker().getActiveJobsIds()
    assert spark.range(10).count() == 10
