"""Per-layer metrics of a traced run, from its spans, its Spark event
log and the landings it left on disk.

Layers are the engine's modules: ``session`` (get_spark, ensure_confs),
``sources`` (tables.load*, sinks.*, objectstore.publish_run), ``plans``
(registered queries: build, physical planning, action), ``scratch``
(dedupplans.materialized_df landings), ``ml`` (ml.pipeline's public
functions) and ``app`` (run_pipeline's own time). The benchmark's own
glue is the ``client`` layer. Times and counts are per timed operation
unless the name says otherwise.

A layer's ``self_s`` is Spark-driver wall time: its spans' time minus their
child spans. Its task metrics sum the Spark tasks of the jobs launched
while one of its spans was innermost. ``tasks.*`` sum every task of the
operation, whatever span forced it; their input counts include reads of
cached blocks as well as file scans.
"""

from __future__ import annotations

import statistics

from spans import GroupStats, Span, descendants, self_times

SOURCE_WRITES = frozenset(
    {"write_parquet", "write_csv", "save_model", "write_metrics_json",
     "publish_run"}
)
ML_FUNCS = {
    "fit_lda": "fit_lda_s",
    "fit_classifier": "fit_classifier_s",
    "assign_topics": "assign_topics_s",
    "classification_metrics": "metrics_s",
}
SPARK_LAYERS = ("sources", "plans", "scratch", "ml", "app")
TASK_METRICS = (
    ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_bytes", "B"), ("shuffle_fetch_wait_s", "s"),
    ("spill_bytes", "B"),
)
CORES = 4


def per_layer(
    spans: list[Span],
    roots: list[Span],
    walls: list[float],
    outs: list,
    groups: dict[str | None, GroupStats],
    session_start_s: float,
) -> dict[str, dict]:
    """All per-layer metrics of one traced run, name -> {value, unit}."""
    n = len(roots)
    self_s = self_times(spans)
    by_id = {s.id: s for s in spans}
    in_ops: set[int] = set()
    coverage = []
    for root in roots:
        ids = descendants(spans, root.id)
        in_ops |= ids
        covered = sum(self_s[i] for i in ids if by_id[i].layer != "client")
        coverage.append(covered / (root.end - root.start))
    op_spans = [by_id[i] for i in sorted(in_ops)]

    def self_sum(pred) -> float:
        return sum(self_s[s.id] for s in op_spans if pred(s)) / n

    def task_sum(layer: str | None, key: str) -> float:
        return sum(
            groups[s.group].task[key] if key != "jobs" else groups[s.group].jobs
            for s in op_spans
            if (layer is None or s.layer == layer) and s.group in groups
        ) / n

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_start_s, "s"),
        "session.confs_s": (self_sum(lambda s: s.layer == "session"), "s"),
        "sources.self_s": (self_sum(lambda s: s.layer == "sources"), "s"),
        "sources.write_s": (self_sum(lambda s: s.name in SOURCE_WRITES), "s"),
        "sources.scan_s": (task_sum(None, "scan_s"), "s"),
        "tasks.input_rows": (task_sum(None, "input_rows"), "count"),
        "tasks.input_bytes": (task_sum(None, "input_bytes"), "B"),
        "sources.bytes_written": (sum(o.bytes_written for o in outs) / n, "B"),
        "plans.build_s": (
            self_sum(lambda s: s.name.startswith("build:")), "s"),
        "plans.planning_s": (self_sum(lambda s: s.name == "planning"), "s"),
        "plans.exec_s": (self_sum(lambda s: s.name == "exec"), "s"),
        "plans.jobs_per_op": (task_sum("plans", "jobs"), "count"),
        "plans.tasks_per_op": (task_sum("plans", "tasks"), "count"),
        "ml.self_s": (self_sum(lambda s: s.layer == "ml"), "s"),
        "ml.jobs": (task_sum("ml", "jobs"), "count"),
        "app.self_s": (self_sum(lambda s: s.layer == "app"), "s"),
    }
    for fn, metric in ML_FUNCS.items():
        m[f"ml.{metric}"] = (
            self_sum(lambda s, fn=fn: s.layer == "ml" and s.name == fn), "s")
    m.update(_scratch(outs, self_sum(lambda s: s.layer == "scratch")))
    for layer in SPARK_LAYERS:
        for key, unit in TASK_METRICS:
            m[f"{layer}.{key}"] = (task_sum(layer, key), unit)
        wall = self_sum(lambda s, layer=layer: s.layer == layer)
        run = m[f"{layer}.task_run_s"][0]
        m[f"{layer}.busy_frac"] = (run / (wall * CORES) if wall else 0.0, "ratio")
    m["trace.op_p50_s"] = (statistics.median(walls), "s")
    m["trace.layer_coverage"] = (statistics.median(coverage), "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())}


def _scratch(outs: list, self_s: float) -> dict[str, tuple[float, str]]:
    """Landing counters, read from the landing dirs each operation left.

    A landing-backed call is a hit when it built no new landing.
    ``landings_done_s`` is the last _SUCCESS time of an operation minus
    its start (median over the operations that built any): when the
    operation's landings were all on disk, whatever kinds they are."""
    n = len(outs)
    calls = [phase for o in outs for phase in o.landings]
    built = [x for phase in calls for x in phase]
    done = [
        max(x.done for phase in o.landings for x in phase) - o.t[0]
        for o in outs if any(o.landings)
    ]
    return {
        "scratch.self_s": (self_s, "s"),
        "scratch.landings_built": (len(built) / n, "count"),
        "scratch.bytes_landed": (sum(x.nbytes for x in built) / n, "B"),
        "scratch.hit_ratio": (
            sum(1 for phase in calls if not phase) / len(calls) if calls else 0.0,
            "ratio",
        ),
        "scratch.landings_done_s": (
            statistics.median(done) if done else 0.0, "s"),
    }
