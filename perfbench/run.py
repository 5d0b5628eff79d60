"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload review_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one Spark session with
``SPARK_GRAFT_CPUS=4``, one closed-loop client: the next operation
starts only after the previous one returns. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones). Everything the run writes lives under
``.perfbench_scratch/run_<pid>_*`` and the engine's ``.tmp/run_<pid>_*``;
both are deleted before exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = "4"
DRIVER_MEM = "1g"


def _since_process_start() -> float:
    """Seconds since this process was exec'd (10 ms resolution)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_PROC = time.perf_counter() - _since_process_start()


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(scratch: str, trace: bool) -> None:
    """Point every temp, local and log dir of Spark, the JVM and Python
    into this run's scratch dir. Must run before pyspark starts."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(scratch, sub))
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={scratch}/tmp -XX:-UsePerfData -Xms{DRIVER_MEM}",
    }
    if trace:
        # static confs: they cannot be set on a running session
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{scratch}/eventlog",
        })
    os.environ.update({
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        "TMPDIR": os.path.join(scratch, "tmp"),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf '{k}={v}'" for k, v in confs.items()
        ) + " pyspark-shell",
    })


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
        raise


def main(argv: list[str]) -> int:
    args = _args(argv)
    sys.path[:0] = [ROOT, HERE]
    scratch = os.path.join(
        ROOT, ".perfbench_scratch", f"run_{os.getpid()}_{uuid.uuid4().hex[:8]}"
    )
    _environment(scratch, bool(args.trace))
    live: dict = {}
    try:
        import layers
        import spans
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"unknown workload {args.workload!r}; "
                  f"have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        result, traced = _run(args, scratch, live)
        _stop_spark(live.pop("spark"))
        if args.trace:
            (log,) = glob.glob(os.path.join(scratch, "eventlog", "*"))
            result["metrics"] = layers.per_layer(
                groups=spans.read_event_log(log), **traced
            )
        print(json.dumps(result))
        return 0
    finally:
        if "spark" in live:
            _stop_spark(live["spark"])
        shutil.rmtree(scratch, ignore_errors=True)
        for d in glob.glob(os.path.join(ROOT, ".tmp", f"run_{os.getpid()}_*")):
            shutil.rmtree(d, ignore_errors=True)
        parent = os.path.dirname(scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, scratch: str, live: dict) -> tuple[dict, dict]:
    """Set up, run the timed window, check. Returns the result line
    (end-to-end metrics) and what the per-layer metrics need.

    There is no warm-up operation. The pipeline runs as one batch job
    per process, so the first operation of a fresh process, first-touch
    codegen and JIT included, is what a scheduled run costs; on 4 cores
    it is ~45 s, and a warm second one would double the run."""
    from pyspark import SparkContext

    import spans
    import stats
    import workloads
    from customer_review__etl_spark.session import get_spark

    t = time.perf_counter()
    spark = live["spark"] = get_spark("perfbench")
    setup_s = time.perf_counter() - T_PROC
    session_start_s = time.perf_counter() - t
    tracer: spans.Tracer | spans.NoTracer = spans.NoTracer()
    if args.trace:
        tracer = spans.Tracer(spark.sparkContext)
    ctx = workloads.Ctx(spark, tracer, args.seed, ROOT, scratch)

    t = time.perf_counter()
    w = workloads.WORKLOADS[args.workload](ctx)
    gen_s = time.perf_counter() - t
    if args.trace:
        spans.instrument(tracer, workloads.LAYER_TARGETS)

    pids = [os.getpid(), SparkContext._gateway.proc.pid]
    outs, walls, cpus, roots = [], [], [], []
    t_window = time.perf_counter()
    while not walls or time.perf_counter() - t_window < args.seconds:
        i = len(walls)
        w.before(i)
        c = stats.cpu_s(pids)
        t = time.perf_counter()
        with tracer.span("client", "op") as root:
            out = w.op(i)
        walls.append(time.perf_counter() - t)
        cpus.append(stats.cpu_s(pids) - c)
        roots.append(root)
        w.after(i, out)
        outs.append(out)
    rss = stats.peak_rss_mb(pids)

    verdicts = w.check(outs)
    failed = verdicts.count(False)
    written = sum(
        o.bytes_written + sum(x.nbytes for phase in o.landings for x in phase)
        for o in outs
    )
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "docs_per_s": (w.n_docs * len(walls) / sum(walls), "1/s"),
        "peak_rss_mb": (rss, "MB"),
        "bytes_written_per_input_byte": (
            written / (w.input_bytes * len(walls)), "B/B"),
    }
    tail = stats.tail(walls)
    print(
        f"# {args.workload} seed={args.seed} ops={len(walls)} "
        f"docs/op={w.n_docs} input_bytes/op={w.input_bytes} "
        f"session_start_s={session_start_s:.3f} gen_s={gen_s:.3f} "
        f"failed_frac={stats.failed_frac(len(walls), failed)} "
        f"op_s={[round(x, 3) for x in walls]} "
        f"op_cpu_s={[round(x, 2) for x in cpus]} "
        + (f"op_p{tail[0]:g}_s={tail[1]:.3f}" if tail
           else "tail: under 10 samples beyond p50, not reported"),
        flush=True,
    )
    result = {
        "correct": failed == 0,
        "attempted": len(walls),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    traced = {
        "spans": tracer.spans,
        "roots": roots,
        "walls": walls,
        "outs": outs,
        "session_start_s": session_start_s,
    }
    return result, traced


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
