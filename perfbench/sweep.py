"""Run the benchmark over several seeds and report each end-to-end metric's
median and spread (the distance between its first and third quartile as a
share of the median) against the bound in BENCHMARK.json. With
``--traced``, also one traced run per workload: its per-layer metrics, and
the tracing overhead (traced phase time minus the untraced median).

From the checkout root:

    python3 perfbench/sweep.py --seeds 1-10 --out perfbench/results/sweep.json
    python3 perfbench/sweep.py --seeds 1-3 --traced 11 --out perfbench/results/traced.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from run import WORKLOADS

ROOT = os.getcwd()


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    out["summary"] = lines[:-1]
    return out


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--traced", type=int, help="seed of one traced run per workload")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {"host": os.uname().nodename, "nproc": os.cpu_count(), "workloads": {}}
    for w in workloads:
        runs = [run_once(bench, w, s, 0) for s in seeds(args.seeds)]
        entry: dict = {"runs": [{k: r[k] for k in ("correct", "attempted", "failed", "wall_s", "metrics")}
                                for r in runs]}
        stats = {}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs]
            stats[name] = spread(vals) if len(vals) > 1 else {"median": vals[0]}
            st = stats[name]
            flag = "" if "spread" not in st else (
                "ok" if name == "setup_s" or st["spread"] < bounds[name] / 3 else "WIDE")
            print(f"{w:<16} {name:<12} median {st['median']:10.4f}  spread {st.get('spread', 0):.4f}"
                  f"  bound {bounds[name]}  {flag}", flush=True)
        entry["stats"] = stats
        entry["wall_s"] = spread([r["wall_s"] for r in runs]) if len(runs) > 1 else runs[0]["wall_s"]
        entry["all_correct"] = all(r["correct"] for r in runs)
        if args.traced is not None:
            t = run_once(bench, w, args.traced, 1)
            layers = {k: v["value"] for k, v in t["metrics"].items()}
            entry["traced"] = {"seed": args.traced, "correct": t["correct"], "wall_s": t["wall_s"],
                               "per_layer": layers, "summary": t["summary"]}
            overhead = {e2e: layers[f"{w}.{name}"] - stats[e2e]["median"]
                        for e2e, name in zip(("phase_a_s", "phase_b_s"), WORKLOADS[w][1])}
            entry["traced"]["tracing_overhead_s"] = overhead
            print(f"{w:<16} tracing overhead {overhead}", flush=True)
        print(f"{w:<16} run wall {entry['wall_s']}  all correct {entry['all_correct']}", flush=True)
        report["workloads"][w] = entry
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
