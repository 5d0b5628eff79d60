"""End-to-end review-pipeline application (EP2 parity).

Reference flow (Dockerfile:277-287; cleaner.process_pipeline
cleaner.py:288-324): extract → clean/dedup → text-normalize → LDA
themes → classifier + metrics → CSV/models/metrics-JSON → dashboard
aggregates. Stages hand each other lazy DataFrames, not CSV files
(SURVEY §1.1 — files-as-IPC becomes DataFrame chaining), but a run
is still many Spark jobs (estimator passes, LDA iterations, RF
levels, sinks).

Shape of one run:
  1. extract + clean + tokenize into ONE token table, persisted and
     materialized by the ``rows_clean`` count — the only tokenize and
     dedup-window shuffle of the run;
  2. two branches over that table, concurrently, each in its own FAIR
     scheduler pool:
       themes     — LDA fit → topics → processed parquet, dashboard
                    CSVs, the bucket's processed-data CSV;
       classifier — md5 split → RF fit → metrics → model dir.
     They are independent: the RF predicts ``lang`` from ``unigrams``,
     both columns of the token table, and never reads a topic. Run
     serially, each branch's single-job stretches (LDA iterations, RF
     levels) leave most cores idle; overlapped, the other branch's
     tasks fill them;
  3. after the join: the token table released, then the metrics
     JSON and the bucket's metrics + model publish.

Stage map (reference loc → here):
  clean_dataframe   cleaner.py:77-116  → _clean (P1-P6)
  preprocess_text   cleaner.py:118-150 → ml.pipeline.with_tokens + stem
  extract_themes    cleaner.py:152-223 → ml.pipeline.fit_lda/assign_topics
  train_classifier  cleaner.py:225-273 → ml.pipeline.fit_classifier/metrics
  load_to_s3        loader.py          → sources.sinks (s3a-ready paths)
  dashboard-prep    dashboard.py:21-46 → theme_distribution/top_words
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..ml import pipeline as P
from ..sources import sinks, tables


def _clean(docs: DataFrame) -> DataFrame:
    """P1-P6: lowercase column names, null-filter the text key, exact
    dedup keep-first on content (cleaner.py:93-113)."""
    df = docs.toDF(*[c.lower() for c in docs.columns])
    df = df.filter(F.col("text").isNotNull())
    w = Window.partitionBy(T.doc_fingerprint(F.col("text"))).orderBy("doc_id")
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def theme_distribution(themed: DataFrame) -> DataFrame:
    """Dashboard A1: value_counts over theme (dashboard.py:29-30)."""
    return (
        themed.groupBy("theme")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "theme")
    )


def top_words(themed: DataFrame, k: int = 50) -> DataFrame:
    """Dashboard A6, scale-safe top-K form (dashboard.py:36)."""
    return (
        themed.select(F.explode("unigrams").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(k)
    )


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    bucket_url: str | None = None,
    execution_ts: str = "19700101_000000",
) -> dict[str, Any]:
    """Run the full ETL+ML chain; write parquet/model/metrics; return
    paths + metrics (the reference's XCom dict, ml_pipeline_dag.py:114).

    When ``bucket_url`` is given (``file://…`` or ``s3a://…``), the
    run also publishes to the object store with the reference DAG's
    versioned key layout (upload_to_s3, ml_pipeline_dag.py:225-260):
    processed data under data/, metrics under metrics/, the model dir
    under models/{execution_ts}/ — and the returned dict gains the
    "s3_locations"-style manifest.

    The themes and classifier branches run on two driver threads (see
    the module docstring). Each thread target is wrapped in
    ``inheritable_thread_target`` so the caller's job group and
    description carry over to the branch's jobs. Every table cached
    here is released before return, also on failure."""
    from ..sources.objectstore import ObjectBucket, publish_run

    docs = tables.load(spark, sf_dir, "documents")
    n_raw = docs.count()

    processed_path = f"{out_dir}/processed"
    dist_path = f"{out_dir}/theme_distribution"
    words_path = f"{out_dir}/top_words"
    model_path = f"{out_dir}/models/classifier"
    bucket = (
        ObjectBucket(spark, bucket_url).ensure()
        if bucket_url is not None
        else None
    )
    sc = spark.sparkContext
    toks = P.with_tokens(_clean(docs)).persist(StorageLevel.MEMORY_AND_DISK)

    def _themes() -> dict[str, Any]:
        sc.setLocalProperty("spark.scheduler.pool", "run_pipeline_themes")
        _, transformed = P.fit_lda(toks)
        themed = P.assign_topics(transformed).cache()
        try:
            processed = themed.select(
                "doc_id", "lang", "source", "topic", "theme"
            )
            sinks.write_parquet(processed, processed_path)
            sinks.write_csv(
                theme_distribution(themed), dist_path, single_file=True
            )
            sinks.write_csv(top_words(themed), words_path, single_file=True)
            if bucket is None:
                return {}
            return publish_run(bucket, execution_ts, processed_df=processed)
        finally:
            themed.unpersist()

    def _classifier() -> Any:
        sc.setLocalProperty("spark.scheduler.pool", "run_pipeline_classifier")
        split = P.md5_split(
            toks.select("doc_id", "lang", "unigrams"), "doc_id"
        )
        clf_model, predictions, _ = P.fit_classifier(split)
        m = P.classification_metrics(predictions).collect()[0]
        sinks.save_model(clf_model, model_path)
        return m

    try:
        n_clean = toks.count()
        # One wrap per target: each wrap clones the caller's local
        # properties, so each branch sets its pool on its own copy.
        themes_fn = inheritable_thread_target(spark)(_themes)
        clf_fn = inheritable_thread_target(spark)(_classifier)
        with ThreadPoolExecutor(max_workers=2) as pool:
            themes, clf = pool.submit(themes_fn), pool.submit(clf_fn)
            manifest, m = themes.result(), clf.result()
    finally:
        toks.unpersist()

    metrics = {
        "rows_raw": n_raw,
        "rows_clean": n_clean,
        "n_test": m["n_test"],
        "accuracy": m["accuracy"],
        "weighted_f1": m["weighted_f1"],
    }
    metrics_path = sinks.write_metrics_json(
        metrics, f"{out_dir}/metrics/pipeline_metrics.json"
    )
    result: dict[str, Any] = {
        "metrics": metrics,
        "processed_path": processed_path,
        "theme_distribution_path": dist_path,
        "top_words_path": words_path,
        "model_path": model_path,
        "metrics_path": metrics_path,
    }
    if bucket is not None:
        manifest.update(
            publish_run(
                bucket, execution_ts, metrics=metrics, models_dir=model_path
            )
        )
        result["store_locations"] = manifest
    return result
