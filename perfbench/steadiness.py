"""Steadiness report: two sets of runs of the same code, compared.

    # run two sets of 10 seeds per workload, then report
    python3 perfbench/steadiness.py run --out /some/dir --runs 10 --sets 2
    # report on result files already collected
    python3 perfbench/steadiness.py report /some/dir

For each workload and end-to-end metric it prints each set's median and
quartiles (``statistics.quantiles(values, n=4)``), the spread (quartile
distance over the median) and the gap between the two sets' medians,
and compares them with the metric's bound from BENCHMARK.json.  This is
the evidence behind the bounds: a spread should sit below a third of
its bound, and the gap between sets below the bound.

``run`` writes one ``<set>/<workload>-<seed>.json`` per run (the run's
last stdout line) next to the full stdout/stderr in ``.log``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SET_SEED_BASE = 100     # set k uses seeds k*100+1 .. k*100+runs


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_sets(out: str, runs: int, sets: int, workloads: list[str],
             seconds: int, trace: int) -> None:
    for k in range(sets):
        d = os.path.join(out, f"set{k}")
        os.makedirs(d, exist_ok=True)
        for i in range(1, runs + 1):
            for w in workloads:
                seed = k * SET_SEED_BASE + i
                cmd = [sys.executable, os.path.join(HERE, "run.py"),
                       "--workload", w, "--seed", str(seed),
                       "--seconds", str(seconds), "--trace", str(trace)]
                proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                      text=True, timeout=600)
                base = os.path.join(d, f"{w}-{seed}")
                with open(base + ".log", "w") as f:
                    f.write(proc.stdout + "\n--- stderr ---\n" + proc.stderr)
                last = proc.stdout.strip().splitlines()[-1:] or [""]
                with open(base + ".json", "w") as f:
                    f.write(last[0] + "\n")
                print(f"set{k} {w} seed={seed} exit={proc.returncode} {last[0][:160]}",
                      flush=True)


def load_set(d: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values, from one set's result files, plus
    the ungated wall-time numbers of each run's detail line
    (``wall.<name>``)."""
    out: dict[str, dict[str, list[float]]] = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        workload = os.path.basename(path).rsplit("-", 1)[0]
        with open(path) as f:
            try:
                res = json.loads(f.read())
            except json.JSONDecodeError:
                continue
        values = {name: m["value"] for name, m in res.get("metrics", {}).items()}
        log = path[: -len(".json")] + ".log"
        if os.path.exists(log):
            with open(log) as f:
                for line in f:
                    if line.startswith('{"detail"'):
                        wall = json.loads(line)["detail"].get("wall", {})
                        values.update({f"wall.{k}": v for k, v in wall.items()})
        for name, v in values.items():
            out.setdefault(workload, {}).setdefault(name, []).append(v)
    return out


def spread_rows(a: dict, b: dict) -> list[dict]:
    rows = []
    for w in sorted(a):
        for m in sorted(a[w]):
            xa, xb = a[w][m], b.get(w, {}).get(m, [])
            row = {"workload": w, "metric": m, "n_a": len(xa), "n_b": len(xb)}
            for tag, xs in (("a", xa), ("b", xb)):
                if len(xs) >= 2:
                    q1, q2, q3 = statistics.quantiles(xs, n=4)
                    row.update({f"q1_{tag}": q1, f"median_{tag}": q2,
                                f"q3_{tag}": q3, f"spread_{tag}": (q3 - q1) / q2})
            if "median_a" in row and "median_b" in row:
                row["gap"] = (row["median_b"] - row["median_a"]) / row["median_a"]
            rows.append(row)
    return rows


def report(out: str) -> int:
    sets = sorted(glob.glob(os.path.join(out, "set*")))
    a = load_set(sets[0])
    b = load_set(sets[1]) if len(sets) > 1 else {}
    bounds = {m["name"]: m.get("bound") for m in _spec()["end_to_end"]}
    worst = 0
    print(f"{'workload':<16}{'metric':<18}{'n':>4}{'median_a':>12}{'q1_a':>11}"
          f"{'q3_a':>11}{'spread_a':>9}{'median_b':>12}{'spread_b':>9}"
          f"{'gap':>8}{'bound':>7}  verdict")
    for r in spread_rows(a, b):
        bound = bounds.get(r["metric"])
        verdict = ""
        if bound:
            spreads = [r[k] for k in ("spread_a", "spread_b") if k in r]
            gap = r.get("gap", 0.0)
            if r["metric"] == "setup_s":
                spreads = []      # set-up spread is not gated, only its drift
            if any(s > bound for s in spreads) or gap > bound:
                verdict, worst = "FAIL", max(worst, 2)
            elif any(s > bound / 3 for s in spreads):
                verdict, worst = "wide", max(worst, 1)
            else:
                verdict = "ok"
        fmt = lambda k: f"{r[k]:>12.4g}" if k in r else f"{'-':>12}"  # noqa: E731
        pct = lambda k: f"{r[k]:>9.3f}" if k in r else f"{'-':>9}"  # noqa: E731
        print(f"{r['workload']:<16}{r['metric']:<18}{r['n_a']:>4}{fmt('median_a')}"
              f"{r.get('q1_a', float('nan')):>11.4g}{r.get('q3_a', float('nan')):>11.4g}"
              f"{pct('spread_a')}{fmt('median_b')}{pct('spread_b')}"
              f"{r.get('gap', float('nan')):>8.3f}{bound if bound else '-':>7}  {verdict}")
    return worst


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="steadiness of the benchmark")
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--sets", type=int, default=2)
    r.add_argument("--workloads", default=None,
                   help="comma-separated; default: the workloads in BENCHMARK.json")
    r.add_argument("--seconds", type=int, default=None)
    r.add_argument("--trace", type=int, default=0)
    q = sub.add_parser("report")
    q.add_argument("out")
    args = p.parse_args(argv)
    if args.cmd == "report":
        return report(args.out)
    spec = _spec()
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    run_sets(args.out, args.runs, args.sets, workloads,
             args.seconds or spec["run_seconds"], args.trace)
    return report(args.out)


if __name__ == "__main__":
    sys.exit(main())
