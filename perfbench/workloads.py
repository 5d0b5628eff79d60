"""The benchmark workloads: inputs, the timed operation, output checks.

Each workload runs in three steps per operation: ``before`` (untimed:
fresh inputs), ``op`` (timed: the calls into the engine), ``after``
(untimed: bytes written, landings built). ``check`` runs once after the
timed window and returns one verdict per operation.
"""

from __future__ import annotations

import csv
import glob
import os
import re
import time
from dataclasses import dataclass, field
from typing import Any

import duckdb

import __spark_entry__ as entry
from customer_review__etl_spark import session
from customer_review__etl_spark.app import pipeline as app
from customer_review__etl_spark.ml import pipeline as ml
from customer_review__etl_spark.plans import dedupplans
from customer_review__etl_spark.plans.helpers import sql_normalize
from customer_review__etl_spark.sources import objectstore, sinks, tables
from tools.verify_local import _rows_to_multiset

import gen

# (module, function, layer) — the engine calls each traced run wraps
LAYER_TARGETS = [
    (session, "ensure_confs", "session"),
    (tables, "load", "sources"),
    (tables, "load_parallel", "sources"),
    (sinks, "write_parquet", "sources"),
    (sinks, "write_csv", "sources"),
    (sinks, "save_model", "sources"),
    (sinks, "write_metrics_json", "sources"),
    (objectstore, "publish_run", "sources"),
    (dedupplans, "materialized_df", "scratch"),
    (ml, "with_tokens", "ml"),
    (ml, "fit_lda", "ml"),
    (ml, "assign_topics", "ml"),
    (ml, "md5_split", "ml"),
    (ml, "fit_classifier", "ml"),
    (ml, "classification_metrics", "ml"),
]


@dataclass
class Ctx:
    """What one run hands its workload."""

    spark: Any
    tracer: Any
    seed: int
    root: str      # checkout root (the engine lands under root/.tmp)
    scratch: str   # this run's scratch dir, deleted at exit


@dataclass
class Landing:
    kind: str
    nbytes: int
    done: float  # wall-clock time its _SUCCESS marker was written


@dataclass
class OpOut:
    """One operation's outputs, kept for the checks and the counters."""

    value: Any = None
    t: tuple[float, ...] = ()
    bytes_written: int = 0  # by sinks and the object store
    landings: list[list[Landing]] = field(default_factory=list)


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def landings(root: str) -> dict[str, Landing]:
    """Landing dirs of THIS process, read from the engine's scratch
    tree (``.tmp/run_<pid>_*/edges_<kind>_<8 random chars>``)."""
    out: dict[str, Landing] = {}
    pattern = os.path.join(root, ".tmp", f"run_{os.getpid()}_*", "edges_*")
    for d in glob.glob(pattern):
        marker = os.path.join(d, "_SUCCESS")
        if not os.path.exists(marker):
            continue
        kind = os.path.basename(d)[len("edges_"):-9]
        out[d] = Landing(kind, _du(d), os.path.getmtime(marker))
    return out


def duck(ctx: Ctx) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB for output checks, spilling only into the
    run's scratch dir (its default temp dir is ``.tmp`` in the cwd)."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{ctx.scratch}/duckdb_tmp'")
    con.execute("SET max_temp_directory_size = '2GB'")
    return con


def run_query(ctx: Ctx, name: str, fn, sf_dir: str):
    """One registered query: build the DataFrame, force the physical
    plan, then collect — each step its own ``plans`` span."""
    with ctx.tracer.span("plans", f"build:{name}"):
        df = fn(ctx.spark, sf_dir)
    with ctx.tracer.span("plans", "planning"):
        df._jdf.queryExecution().executedPlan()
    with ctx.tracer.span("plans", "exec"):
        rows = df.collect()
    return df.columns, [tuple(r) for r in rows]


class ReviewEtl:
    """The paper's application: ``run_pipeline`` end to end, publishing
    to a ``file://`` bucket. Every operation reads the same generated
    corpus and writes to its own output dir and bucket."""

    name = "review_etl"
    n_docs = 1000

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.corpus = gen.make_inputs(
            os.path.join(ctx.scratch, "inputs"), ctx.seed, self.n_docs
        )
        self.input_bytes = self.corpus.input_bytes

    def before(self, i: int) -> None:
        pass

    def _dirs(self, i: int) -> tuple[str, str]:
        return (os.path.join(self.ctx.scratch, f"etl_out_{i}"),
                os.path.join(self.ctx.scratch, f"etl_bucket_{i}"))

    def op(self, i: int) -> OpOut:
        out_dir, bucket_dir = self._dirs(i)
        with self.ctx.tracer.span("app", "run_pipeline"):
            res = app.run_pipeline(
                self.ctx.spark, self.corpus.sf_dir, out_dir,
                bucket_url=f"file://{bucket_dir}",
                execution_ts=f"{self.ctx.seed}_{i}",
            )
        return OpOut(value=res)

    def after(self, i: int, out: OpOut) -> None:
        out.bytes_written = sum(_du(d) for d in self._dirs(i))

    def check(self, outs: list[OpOut]) -> list[bool]:
        con = duck(self.ctx)
        try:
            n_raw, n_clean = con.execute(
                f"SELECT count(*), count(DISTINCT CASE WHEN text IS NOT NULL "
                f"THEN md5({sql_normalize('text')}) END) "
                f"FROM '{self.corpus.sf_dir}/documents.parquet'"
            ).fetchone()
        finally:
            con.close()
        return [self._check_one(o.value, n_raw, n_clean) for o in outs]

    @staticmethod
    def _check_one(res: dict, n_raw: int, n_clean: int) -> bool:
        m = res["metrics"]
        if (m["rows_raw"], m["rows_clean"]) != (n_raw, n_clean):
            return False
        if not 0.0 <= m["accuracy"] <= 1.0:
            return False
        theme_total = 0
        for part in glob.glob(os.path.join(res["theme_distribution_path"], "*.csv")):
            with open(part, newline="", encoding="utf-8") as f:
                theme_total += sum(int(r["n"]) for r in csv.DictReader(f))
        if theme_total != n_clean:
            return False
        store = res["store_locations"]
        paths = [
            res["processed_path"], res["theme_distribution_path"],
            res["top_words_path"], res["model_path"], res["metrics_path"],
            store["processed_data"], store["metrics"], *store["models"],
        ]
        return bool(store["models"]) and all(
            os.path.exists(p.removeprefix("file://")) for p in paths
        )


# pl06's oracle repeats its d06 survivor fragment in several branches;
# DuckDB inlines each use, which at 100 docs takes ~40 s instead of ~5 s.
# Materializing the top-level CTEs is a planner hint only: same rows.
_PL06_MATERIALIZE = ("surv", "dcflag", "gate", "clean", "mixed")


def materialize_ctes(sql: str, names: tuple[str, ...]) -> str:
    """Mark the named top-level CTEs ``AS MATERIALIZED``."""
    out = re.sub(r"^WITH (\w+) AS \(", r"WITH\n\1 AS (", sql.lstrip(), count=1)
    for name in names:
        out, n = re.subn(
            rf"^{name} AS \(", f"{name} AS MATERIALIZED (", out, flags=re.M
        )
        if n != 1:
            raise ValueError(f"CTE {name!r} found {n} times at line start")
    return out


class DedupRecipe:
    """Landing cache miss then hit: ``pl06_data_recipe_unified`` on a
    fresh corpus directory (builds every landing), then
    ``d06_unified_clusters`` on the same directory (reuses them and runs
    the connected-components fixpoint). Every operation's corpus has
    the same content in a new path, so each operation misses once."""

    name = "dedup_recipe"
    n_docs = 100
    queries = ("pl06_data_recipe_unified", "d06_unified_clusters")

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.inputs = os.path.join(ctx.scratch, "inputs")
        self.sf_dirs: dict[int, str] = {}
        self.input_bytes = 0
        self.seen = landings(ctx.root)
        registry = entry.queries()
        self.fns = [(n, registry[n]) for n in self.queries]

    def before(self, i: int) -> None:
        corpus = gen.make_inputs(self.inputs, self.ctx.seed, self.n_docs)
        self.sf_dirs[i] = corpus.sf_dir
        self.input_bytes = corpus.input_bytes

    def op(self, i: int) -> OpOut:
        sf_dir = self.sf_dirs[i]
        t0 = time.time()
        pl06 = run_query(self.ctx, *self.fns[0], sf_dir)
        t1 = time.time()
        d06 = run_query(self.ctx, *self.fns[1], sf_dir)
        return OpOut(value=(pl06, d06), t=(t0, t1, time.time()))

    def after(self, i: int, out: OpOut) -> None:
        now = landings(self.ctx.root)
        new = [v for k, v in now.items() if k not in self.seen]
        self.seen = now
        _t0, t1, _t2 = out.t
        out.landings = [
            [x for x in new if x.done <= t1], [x for x in new if x.done > t1]
        ]

    def check(self, outs: list[OpOut]) -> list[bool]:
        # every corpus has the same content: one oracle pass serves all
        first = next(iter(self.sf_dirs.values()))
        expect = {}
        con = duck(self.ctx)
        try:
            con.execute(
                f"CREATE VIEW documents AS "
                f"SELECT * FROM '{first}/documents.parquet'"
            )
            ids = {r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()}
            oracles = entry.oracle_sql()
            for name in self.queries:
                sql = oracles[name]
                if name == self.queries[0]:
                    sql = materialize_ctes(sql, _PL06_MATERIALIZE)
                cur = con.execute(sql)
                cols = [d[0] for d in cur.description]
                expect[name] = (sorted(cols), _rows_to_multiset(cols, cur.fetchall()))
        finally:
            con.close()

        verdicts = []
        for o in outs:
            ok = True
            for name, (cols, rows) in zip(self.queries, o.value):
                ok &= (sorted(cols), _rows_to_multiset(cols, rows)) == expect[name]
            d06_cols, d06_rows = o.value[1]
            pos = {c: j for j, c in enumerate(d06_cols)}
            got = {r[pos["doc_id"]] for r in d06_rows}
            surv = {r[pos["doc_id"]] for r in d06_rows if r[pos["survivor"]] == 1}
            ok &= got == ids and bool(surv) and surv <= ids
            verdicts.append(ok)
        return verdicts


WORKLOADS = {w.name: w for w in (ReviewEtl, DedupRecipe)}
