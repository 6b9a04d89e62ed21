"""Benchmark of the SharePoint->lakehouse copy and the engine's query and
table layers.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload sharepoint_copy --seed 1 --seconds 1 --trace 0

Inputs are generated from ``--seed`` inside ``.perfbench_work/`` (removed
at the end). Each run sets the session up three times (the first from
process start, then two restarts), then repeats the workload's unit of work
until ``--seconds`` have passed (at least once; later units run on a warm
engine), checks every output, and prints a summary followed by one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` its
per-layer metrics (and writes the spans to ``.perfbench_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import traceback

ROOT = os.getcwd()
# workload -> (its module, its two timed phases by the names users know them by)
WORKLOADS = {
    "sharepoint_copy": ("wl_copy", ("copy_full_s", "resync_s")),
    "engine": ("wl_engine", ("queries_pass_s", "tables_s")),
}


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run's scratch directory; set before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files: JVMs write them under /tmp whatever java.io.tmpdir says
    # (the launcher JVM of spark-submit reads SPARK_LAUNCHER_OPTS)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java_opts} pyspark-shell"
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    # one core per host cpu, capped so a large host keeps few Python workers
    os.environ["SPARK_GRAFT_CPUS"] = str(min(os.cpu_count() or 1, 8))
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    # Python workers import the package from the checkout, whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "scripts")]
    import copy_sharepoint_to_onelake_lakehousefiles_spark  # noqa: F401 — fail before writing anything
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)

    from harness import Context, Result, RssSampler, median

    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), work)
    res = Result()
    sampler = RssSampler()
    try:
        __import__(WORKLOADS[args.workload][0]).run(ctx, res)
    finally:
        peak = sampler.close()
        ctx.shutdown()
        if ctx.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    e2e = {
        "setup_s": median(ctx.setup_samples),
        "phase_a_s": median(res.phase_a),
        "phase_b_s": median(res.phase_b),
        "peak_rss_mb": peak,
    }
    a_name, b_name = WORKLOADS[args.workload][1]
    failed_frac = res.failed / max(res.attempted, 1)
    print(f"workload {args.workload}  seed {args.seed}  iterations {len(res.phase_a)}  "
          f"setup samples {[round(s, 3) for s in ctx.setup_samples]}")
    print(f"host {json.dumps(ctx.host)}")
    for name, unit, value in [("setup_s", "s", e2e["setup_s"]), (a_name, "s", e2e["phase_a_s"]),
                              (b_name, "s", e2e["phase_b_s"]), ("failed_frac", "ratio", failed_frac),
                              ("peak_rss_mb", "MB", peak)]:
        print(f"  {name:<22} {value:>12.4f} {unit}")
    for note in res.notes:
        print(note)

    if args.trace:
        res.layers.update({f"host.{k}": v for k, v in ctx.host.items()})
        res.layers["session.cold_start_s"] = ctx.setup_samples[0]
        res.layers["session.python_workers_s"] = ctx.python_workers_s
        res.layers[f"{args.workload}.{a_name}"] = e2e["phase_a_s"]
        res.layers[f"{args.workload}.{b_name}"] = e2e["phase_b_s"]
        wanted = spec["per_layer"]
        metrics = {m["name"]: {"value": float(res.layers.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
        extra = sorted(set(res.layers) - {m["name"] for m in wanted})
        if extra:
            print(f"unlisted layer metrics: { {k: res.layers[k] for k in extra} }")
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": res.failed == 0, "attempted": max(res.attempted, 1),
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:  # noqa: BLE001 — report and exit non-zero without a result line
        traceback.print_exc()
        sys.exit(1)
