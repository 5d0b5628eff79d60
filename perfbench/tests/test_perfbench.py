"""Unit tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

import layers  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
from spans import Span  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")


# -- event log -----------------------------------------------------------


def test_event_log_groups_jobs_and_sums_task_metrics():
    groups = spans.read_event_log(FIXTURE)
    assert set(groups) == {"span3", "span5", None}
    g = groups["span3"]
    assert g.jobs == 1
    # stage 1 was submitted without a group: it keeps job 0's group
    assert g.task["tasks"] == 3
    assert g.task["task_run_s"] == pytest.approx(2.3)
    assert g.task["task_cpu_s"] == pytest.approx(1.7)
    assert g.task["gc_s"] == pytest.approx(0.1)
    assert g.task["shuffle_write_bytes"] == 1500
    assert g.task["shuffle_fetch_wait_s"] == pytest.approx(0.04)
    assert g.task["spill_bytes"] == 192
    assert g.task["input_bytes"] == 8000
    assert g.task["input_rows"] == 16
    assert g.task["scan_s"] == pytest.approx(1.0)
    # a stage re-listed by a later job stays with the job that ran it
    assert groups["span5"].jobs == 1
    assert groups["span5"].task["tasks"] == 1
    assert groups["span5"].task["task_run_s"] == pytest.approx(0.1)
    assert groups[None].jobs == 1
    assert groups[None].task["task_run_s"] == pytest.approx(0.05)


# -- percentile rule -----------------------------------------------------


@pytest.mark.parametrize(
    "n, expect",
    [(19, None), (20, (50.0, 10)), (39, (50.0, 20)), (40, (75.0, 30)),
     (100, (90.0, 90)), (199, (90.0, 180)), (200, (95.0, 190)),
     (1000, (99.0, 990))],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expect):
    samples = [float(x) for x in range(n, 0, -1)]
    assert stats.tail(samples) == expect


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 1) == 1.0


def test_spread_is_interquartile_share_of_median():
    assert stats.spread([10.0, 10.0, 10.0, 10.0]) == 0.0
    xs = [8.0, 9.0, 10.0, 11.0, 12.0]
    assert stats.spread(xs) == pytest.approx((11.5 - 8.5) / 10.0)


# -- span self time --------------------------------------------------------


def _tree() -> list[Span]:
    return [
        Span(0, "op", "client", None, 0.0, 10.0),
        Span(1, "a", "plans", 0, 1.0, 4.0),
        Span(2, "b", "scratch", 1, 2.0, 3.0),
        Span(3, "c", "sources", 0, 5.0, 9.0),
        Span(4, "other", "plans", None, 20.0, 21.0),
    ]


def test_self_time_subtracts_children_and_sums_to_root():
    st = spans.self_times(_tree())
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0, 4: 1.0})
    tree = spans.descendants(_tree(), 0)
    assert tree == {0, 1, 2, 3}
    assert sum(st[i] for i in tree) == pytest.approx(10.0)


def test_tracer_nests_spans_and_restores_job_group():
    calls = []

    class FakeSc:
        def setJobGroup(self, group, desc):
            calls.append(group)

        def setLocalProperty(self, key, value):
            calls.append((key, value))

    tr = spans.Tracer(FakeSc())
    with tr.span("client", "op"):
        with tr.span("plans", "exec"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("op", None), ("exec", 0)]
    assert calls[:3] == ["span0", "span1", "span0"]
    assert calls[3:] == [("spark.jobGroup.id", None),
                         ("spark.job.description", None)]


def test_instrument_wraps_every_alias_and_restores():
    mod = types.ModuleType(f"{spans.ENGINE_PKG}._fake")

    def load(x):
        return x + 1

    mod.load = load
    mod.alias = load
    sys.modules[mod.__name__] = mod
    try:
        tr = spans.Tracer()
        restore = spans.instrument(tr, [(mod, "load", "sources")])
        assert mod.load(1) == 2 and mod.alias(2) == 3
        assert [(s.layer, s.name) for s in tr.spans] == [("sources", "load")] * 2
        restore()
        assert mod.load is load and mod.alias is load
    finally:
        del sys.modules[mod.__name__]


def test_layer_coverage_and_busy_frac():
    tree = _tree()[:4]
    g = spans.GroupStats(jobs=2)
    g.task["task_run_s"] = 4.0  # 4 s of tasks in a 1 s scratch span
    m = layers.per_layer(
        spans=tree, roots=[tree[0]], walls=[10.0], outs=[_Out()],
        groups={"span2": g}, session_start_s=7.0,
    )
    assert m["trace.layer_coverage"]["value"] == pytest.approx(0.7)
    assert m["scratch.busy_frac"]["value"] == pytest.approx(1.0)
    assert m["plans.build_s"]["value"] == 0.0
    assert m["session.start_s"]["value"] == 7.0


class _Out:
    bytes_written = 0
    landings: list = []
    t = (0.0,)


def test_landing_counters_do_not_depend_on_kind():
    import workloads

    class Op:
        t = (100.0, 103.0, 104.0)
        landings = [
            [workloads.Landing("shingles", 10, 101.0),
             workloads.Landing("renamed_kind", 20, 102.5)],
            [],  # the consumer built nothing: a hit
        ]

    m = layers._scratch([Op()], self_s=1.0)
    assert m["scratch.landings_done_s"] == (2.5, "s")
    assert m["scratch.landings_built"] == (2.0, "count")
    assert m["scratch.bytes_landed"] == (30.0, "B")
    assert m["scratch.hit_ratio"] == (0.5, "ratio")


# -- failed_frac counting --------------------------------------------------


def test_failed_frac():
    assert stats.failed_frac(4, 1) == 0.25
    assert stats.failed_frac(1, 0) == 0.0
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(2, 3)


def test_a_wrong_output_counts_as_failed(tmp_path):
    import workloads

    dist = tmp_path / "dist"
    dist.mkdir()
    (dist / "part-0.csv").write_text("theme,n\nA,3\nB,4\n")
    paths = {}
    for key in ("processed", "top", "model", "metrics.json", "bucket_data",
                "bucket_metrics", "bucket_model"):
        p = tmp_path / key
        p.write_text("x")
        paths[key] = str(p)
    res = {
        "metrics": {"rows_raw": 9, "rows_clean": 7, "accuracy": 0.5},
        "processed_path": paths["processed"],
        "theme_distribution_path": str(dist),
        "top_words_path": paths["top"],
        "model_path": paths["model"],
        "metrics_path": paths["metrics.json"],
        "store_locations": {
            "processed_data": "file://" + paths["bucket_data"],
            "metrics": "file://" + paths["bucket_metrics"],
            "models": ["file://" + paths["bucket_model"]],
        },
    }
    ok = workloads.ReviewEtl._check_one(res, n_raw=9, n_clean=7)
    wrong_count = workloads.ReviewEtl._check_one(res, n_raw=9, n_clean=8)
    res["metrics"]["accuracy"] = 1.5
    wrong_acc = workloads.ReviewEtl._check_one(res, n_raw=9, n_clean=7)
    verdicts = [ok, wrong_count, wrong_acc]
    assert verdicts == [True, False, False]
    assert stats.failed_frac(len(verdicts), verdicts.count(False)) == 2 / 3


def test_materialize_ctes():
    import workloads

    sql = "WITH a AS (SELECT 1),\nb AS (SELECT 2)\nSELECT * FROM a, b"
    out = workloads.materialize_ctes(sql, ("a", "b"))
    assert "a AS MATERIALIZED (" in out and "b AS MATERIALIZED (" in out
    with pytest.raises(ValueError):
        workloads.materialize_ctes(sql, ("c",))


# -- input generator -------------------------------------------------------


def test_generator_is_seeded_and_has_the_measured_shape():
    import numpy as np

    import gen

    a = gen.documents(np.random.default_rng([3, 400]), 400)
    b = gen.documents(np.random.default_rng([3, 400]), 400)
    c = gen.documents(np.random.default_rng([4, 400]), 400)
    assert a["text"].to_pylist() == b["text"].to_pylist()
    assert a["text"].to_pylist() != c["text"].to_pylist()
    texts = a["text"].to_pylist()
    words = [t.split() for t in texts]
    assert {w for ws in words for w in ws} <= set(gen.VOCAB) | {gen.COPY_MARK}
    # originals: the fixed word-count ladder, the same for every seed
    orig = sorted(len(ws) for ws in words if gen.COPY_MARK not in ws)
    assert orig[0] == gen.MIN_WORDS and orig[-1] == gen.MAX_WORDS
    assert orig == sorted(
        len(t.split()) for t in c["text"].to_pylist()
        if gen.COPY_MARK not in t.split()
    )
    # every copy is an earlier text plus the mark
    copies = [t for t in texts if t.endswith(" " + gen.COPY_MARK)]
    assert len(copies) == round(400 * gen.COPY_RATE)
    assert all(t[: -len(gen.COPY_MARK) - 1] in texts for t in copies)
    assert len(set(a["doc_id"].to_pylist())) == 400
    assert a["n_chars"].to_pylist() == [len(t) for t in texts]


# -- BENCHMARK.json --------------------------------------------------------


def test_benchmark_json_lists_exactly_the_per_layer_metrics():
    import json
    import re

    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    tree = _tree()[:1]
    produced = layers.per_layer(
        spans=tree, roots=tree, walls=[1.0], outs=[_Out()], groups={},
        session_start_s=1.0,
    )
    listed = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert listed == {k: v["unit"] for k, v in produced.items()}
    names = [m["name"] for key in ("end_to_end", "per_layer", "workloads")
             for m in bench[key]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert "setup_s" in {m["name"] for m in bench["end_to_end"]}
