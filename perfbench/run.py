"""Benchmark of the skyline/dedup engine on local[N], N = usable cores.

    python3 perfbench/run.py --workload q4d_anticorr_310k --seed 1 \\
        --seconds 3 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  Failure details go to standard error.  Everything the
run writes stays under ``.perfbench_run/`` in the repository root and
is removed at exit, apart from the span file of a traced run.  See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "flink_skyline_qos_spark"

# name -> (runner, arguments)
WORKLOADS = {
    "q4d_anticorr_310k": ("run_query", {"n": 310_000, "dims": 4}),
    "stream_2d_open": ("run_stream", {"rows_per_file": 50_000, "period": 5.0}),
    "dedup_minhash_10k": ("run_dedup", {"n": 10_000}),
}


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    at the repository root declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        cfg = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in cfg[key]}
                 for key in ("end_to_end", "per_layer"))


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """A quarter of the host's memory, capped at 4g: get_spark's own
    default heap is larger than a small host."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(1, min(4, total_kb // (4 << 20)))}g"


def _prepare_env(tmp: str) -> None:
    """Launch hygiene: Python workers import the package from the
    repository root, and everything Spark and the JVM write (local
    dirs, java.io.tmpdir, the warehouse; -XX:-UsePerfData turns off the
    JVM's hsperfdata file, which ignores java.io.tmpdir) stays inside
    it.  The driver heap is fixed at its maximum and touched at start
    (-Xms = -Xmx, AlwaysPreTouch): a growing G1 heap expanded
    differently from run to run and moved the JVM's peak RSS by up to
    0.5 GB between identical runs.  The console progress bar is off:
    it writes carriage-return lines to standard error, which bury the
    run's summary line."""
    heap = _driver_memory()
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_DRIVER_MEMORY"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options",
        shlex.quote(f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={tmp}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf",
        shlex.quote(f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"),
        "pyspark-shell",
    ])
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every process this
    run started has ended."""
    from tracing import tree_pids

    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while (left := tree_pids()[1:]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    _prepare_env(os.path.join(work, "tmp"))

    import workloads
    from tracing import RssSampler

    end_to_end, per_layer = metric_units()
    runner, kwargs = WORKLOADS[args.workload]
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), work)
    try:
        with RssSampler() as rss:
            try:
                getattr(workloads, runner)(run, **kwargs)
            finally:
                if run.spark is not None:
                    _stop_spark(run.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for msg in run.failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    if not run.latencies or not run.timed_s:
        print("perfbench: no timed answer completed", file=sys.stderr)
        return 1
    e2e = {
        "latency_p50_s": _p50(run.latencies),
        "rows_per_s": run.rows_answered / run.timed_s,
        "setup_s": run.setup_s,
        "peak_rss_mb": rss.peak_mb,
    }
    print(f"perfbench: {args.workload} seed={args.seed} "
          f"answers={len(run.latencies)} start_s={run.start_s:.2f} "
          f"build_s={','.join(f'{b:.2f}' for b in run.build_s)} "
          f"warmup_s={run.warmup_s:.2f} timed_s={run.timed_s:.2f} "
          + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()), file=sys.stderr)
    if args.trace:
        layer = dict.fromkeys(per_layer, 0.0)
        layer.update(run.layer)
        layer["session.start_s"] = run.start_s
        layer["generators.input_s"] = _p50(run.build_s)
        layer["trace.latency_p50_s"] = e2e["latency_p50_s"]
        layer["trace.rows_per_s"] = e2e["rows_per_s"]
        layer["trace.setup_s"] = e2e["setup_s"]
        metrics = {k: {"value": float(layer[k]), "unit": u}
                   for k, u in per_layer.items()}
        run.tracer.dump(
            os.path.join(ROOT, ".perfbench_run", "traces",
                         f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed,
             "latencies": run.latencies, "layer": layer})
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in end_to_end.items()}
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
