"""End-to-end app assembly test: the full EP2-parity pipeline runs at
sf0.001 and produces readable artifacts with sane metrics."""

from __future__ import annotations

import json
import threading
import time

from customer_review__etl_spark.app.pipeline import run_pipeline
from customer_review__etl_spark.ml import pipeline as P
from customer_review__etl_spark.sources import sinks

from conftest import SF_DIR


def test_run_pipeline_end_to_end(spark, tmp_path):
    ts = "20240301_120000"
    out = run_pipeline(
        spark,
        SF_DIR,
        str(tmp_path / "out"),
        bucket_url=f"file://{tmp_path}/bucket",
        execution_ts=ts,
    )

    m = out["metrics"]
    assert m["rows_clean"] <= m["rows_raw"]
    assert 0.0 <= m["accuracy"] <= 1.0
    assert 0.0 <= m["weighted_f1"] <= 1.0

    processed = spark.read.parquet(out["processed_path"])
    assert processed.count() == m["rows_clean"]
    assert set(processed.columns) == {
        "doc_id", "lang", "source", "topic", "theme",
    }

    dist = sinks.read_csv(
        spark, out["theme_distribution_path"], "theme STRING, n BIGINT"
    )
    assert dist.count() >= 1

    with open(out["metrics_path"], encoding="utf-8") as f:
        on_disk = json.load(f)
    assert on_disk["accuracy"] == m["accuracy"]

    model = sinks.load_model(out["model_path"])
    assert len(model.stages) == 4

    # S5 publish: reference-DAG key layout, readable back from the store
    loc = out["store_locations"]
    assert loc["processed_data"].endswith(f"data/processed_reviews_{ts}.csv")
    assert loc["metrics"].endswith(f"metrics/model_metrics_{ts}.json")
    assert loc["models"], "model files published"
    assert all(f"models/{ts}/" in u for u in loc["models"])
    published = sinks.read_csv(
        spark,
        loc["processed_data"],
        "doc_id BIGINT, lang STRING, source STRING, topic INT, theme STRING",
    )
    assert published.count() == m["rows_clean"]


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_run_pipeline_releases_its_caches(spark, tmp_path):
    """Every table run_pipeline caches is released before it returns.
    The suite shares one session, so compare against the ids cached
    before the run rather than asserting none are left."""
    before = _persistent_rdd_ids(spark)
    run_pipeline(spark, SF_DIR, str(tmp_path / "out"))
    assert _persistent_rdd_ids(spark) == before


def test_run_pipeline_branches_overlap(spark, tmp_path, monkeypatch):
    """The LDA fit and the RF fit run on two threads at the same time:
    the classifier never waits for the themes branch."""
    calls: dict[str, tuple[int, float, float]] = {}

    def record(name, fn):
        def wrapper(*args, **kwargs):
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                calls[name] = (
                    threading.get_ident(), start, time.perf_counter()
                )
        return wrapper

    monkeypatch.setattr(P, "fit_lda", record("lda", P.fit_lda))
    monkeypatch.setattr(P, "fit_classifier", record("rf", P.fit_classifier))
    run_pipeline(spark, SF_DIR, str(tmp_path / "out"))

    lda_thread, lda_start, lda_end = calls["lda"]
    rf_thread, rf_start, rf_end = calls["rf"]
    assert lda_thread != rf_thread
    assert lda_start < rf_end and rf_start < lda_end
