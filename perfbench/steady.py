"""Run the benchmark over several seeds and report each end-to-end
metric's spread: the quartile distance over a set of seeds.

    python3 perfbench/steady.py --workload nightly_build --seeds 1-10
    python3 perfbench/steady.py --compare first.json second.json
    python3 perfbench/steady.py --workload history_reads --seeds 1-5 --overhead

For each metric: the median over the seeds, and the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a share
of the median, next to the metric's bound from ``BENCHMARK.json``.
``--compare`` checks that the second set's median is not worse than the
first's by more than the bound.  ``--overhead`` runs every seed untraced
and traced and prints the tracing overhead: traced minus untraced median of
each end-to-end metric.  Runs are sequential subprocesses of ``run.py``;
results go to ``.perfbench_out/steady_<workload>_<seeds>_trace<n>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds_of(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_seeds(workload: str, seeds: list[int], seconds: float, trace: int) -> list[dict]:
    """The result line of each run, with the report line's end-to-end
    figures under ``"report"``."""
    results = []
    for seed in seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            sys.exit(1)
        results.append(json.loads(lines[-1]))
        results[-1]["report"] = json.loads(lines[-2])["report"]
        print(f"seed {seed}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in results[-1]["metrics"].items()),
            flush=True)
    return results


def summarize(results: list[dict], spec: dict) -> dict:
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        out[m["name"]] = {"median": med, "spread": (q3 - q1) / med,
                          "bound": m["bound"], "values": vals}
    return out


def overhead(untraced: list[dict], traced: list[dict], spec: dict) -> None:
    for m in spec["end_to_end"]:
        name = m["name"]
        a = statistics.median(r["report"][name]["value"] for r in untraced)
        b = statistics.median(r["report"][name]["value"] for r in traced)
        print(f"{name:22s} untraced {a:12.5g}  traced {b:12.5g}  "
              f"overhead {b - a:+.5g} ({(b - a) / a:+.3f})")


def compare(first: dict, second: dict, spec: dict) -> bool:
    ok = True
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    for name, a in first.items():
        b = second[name]
        change = (b["median"] - a["median"]) / a["median"]
        worse = change if better[name] == "lower" else -change
        flag = "ok" if worse <= a["bound"] else "WORSE"
        ok &= flag == "ok"
        print(f"{name:22s} {a['median']:12.5g} -> {b['median']:12.5g} "
              f"({change:+.3f}, bound {a['bound']}) {flag}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--compare", nargs=2, metavar="JSON")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    spec = load_spec()
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as f:
                sets.append(json.load(f)["summary"])
        return 0 if compare(sets[0], sets[1], spec) else 1
    seeds = seeds_of(args.seeds)
    if args.overhead:
        untraced, traced = [], []
        for seed in seeds:
            untraced += run_seeds(args.workload, [seed], spec["run_seconds"], 0)
            traced += run_seeds(args.workload, [seed], spec["run_seconds"], 1)
        overhead(untraced, traced, spec)
        return 0
    results = run_seeds(args.workload, seeds, spec["run_seconds"], args.trace)
    summary = summarize(results, spec) if args.trace == 0 else {}
    ok = True
    for name, s in summary.items():
        flag = "ok" if s["spread"] <= s["bound"] / 3 else (
            "within bound" if s["spread"] <= s["bound"] else "TOO WIDE")
        if name != "setup_s":
            ok &= flag != "TOO WIDE"
        print(f"{name:22s} median {s['median']:12.5g}  spread {s['spread']:.3f}  "
              f"bound {s['bound']}  {flag}")
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench_out",
                        f"steady_{args.workload}_{args.seeds}_trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seeds": seeds,
                   "results": results, "summary": summary}, f, indent=1)
    print(f"wrote {path}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
