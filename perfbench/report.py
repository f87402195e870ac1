"""Repeat benchmark runs and summarise them.

    python3 perfbench/report.py spread --seeds 1-10
    python3 perfbench/report.py layers --seed 1

``spread`` runs every workload once per seed with tracing off and
prints, per end-to-end metric, the median and the distance between the
first and third quartile as a share of the median.  ``layers`` runs
each workload untraced and traced on one seed and prints the per-layer
table, with the tracing overhead (traced minus untraced end-to-end
numbers).  Both append their raw results, one JSON line per run, to
the file named by ``--out``.  Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS, metric_units  # noqa: E402


def _bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def bench(workload: str, seed: int, trace: int) -> dict:
    cfg = _bench_config()
    cmd = cfg["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(cfg["run_seconds"]),
                            "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    out = json.loads(lines[-1])
    out.update(workload=workload, seed=seed, trace=trace, wall_s=wall)
    return out


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def cmd_spread(args, log) -> None:
    bounds = {m["name"]: m["bound"] for m in _bench_config()["end_to_end"]}
    runs = {w: [] for w in WORKLOADS}
    for seed in _seeds(args.seeds):
        for w in WORKLOADS:
            r = bench(w, seed, 0)
            log.write(json.dumps(r) + "\n")
            log.flush()
            runs[w].append(r)
            print(f"{w} seed={seed} wall={r['wall_s']:.1f}s "
                  f"correct={r['correct']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
    print(f"\n{'workload':<22}{'metric':<16}{'median':>12}{'spread':>9}"
          f"{'bound/3':>9}  ok")
    for w, rs in runs.items():
        walls = [r["wall_s"] for r in rs]
        for m in metric_units()[0]:
            vals = [r["metrics"][m]["value"] for r in rs]
            s = spread(vals) if len(vals) > 1 else float("nan")
            ok = m == "setup_s" or s < bounds[m] / 3
            print(f"{w:<22}{m:<16}{statistics.median(vals):>12.4g}"
                  f"{s:>9.3f}{bounds[m] / 3:>9.3f}  {'yes' if ok else 'NO'}")
        print(f"{w:<22}{'run wall s':<16}{statistics.median(walls):>12.4g}"
              f"  max {max(walls):.1f}")


def cmd_layers(args, log) -> None:
    seconds = _bench_config()["run_seconds"]
    for w in WORKLOADS:
        plain = bench(w, args.seed, 0)
        traced = bench(w, args.seed, 1)
        for r in (plain, traced):
            log.write(json.dumps(r) + "\n")
        lay = {k: v["value"] for k, v in traced["metrics"].items()}
        print(f"\n### {w} (seed {args.seed}, {seconds} s)\n")
        print("| metric | value | unit |\n|---|---:|---|")
        for k, unit in metric_units()[1].items():
            if lay[k] and not k.startswith("trace."):
                print(f"| `{k}` | {lay[k]:.4g} | {unit} |")
        print("\nTracing overhead (traced minus untraced):\n")
        print("| metric | untraced | traced | overhead |\n|---|---:|---:|---:|")
        for m in ("latency_p50_s", "rows_per_s", "setup_s"):
            a = plain["metrics"][m]["value"]
            b = lay[f"trace.{m}"]
            print(f"| `{m}` | {a:.4g} | {b:.4g} | {b - a:+.4g} "
                  f"({(b - a) / a:+.1%}) |")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("spread", "layers"))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_run",
                                                  "report.jsonl"))
    args = ap.parse_args()
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "a") as log:
        (cmd_spread if args.mode == "spread" else cmd_layers)(args, log)


if __name__ == "__main__":
    main()
