"""Run one benchmark workload; the last line of stdout is the result JSON.

Usage (from the repository root):

    python3 perfbench/run.py --workload {map_build,board} --seed N \
        --seconds S --trace {0,1}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (and writes the span file and layer table under
``.bench_work/trace/``). Everything the run reads or writes lives under the
checkout; generated inputs are cached in ``.bench_work/inputs/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "peak_rss_mib": "MiB",
    "heap_alloc_mib": "MiB",
}
# the pass figures the tracing overhead is reported for
OVERHEAD_KEYS = ("pass_s", "pass_cpu_s")


def per_layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "_mib" in name:
        return "MiB"
    return "count"


def code_digest() -> str:
    """Digest of the package, tool and benchmark sources a run executes."""
    h = hashlib.sha256()
    for top in ("map_spark_sql_spark", "tools", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    h.update(name.encode())
                    with open(os.path.join(dirpath, name), "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def _results_path(workload: str) -> str:
    """Untraced results of ``workload`` at this code."""
    return os.path.join(WORK, "results", f"{workload}_{code_digest()}.jsonl")


def _untraced_baseline(workload: str, seed: int) -> tuple[dict[str, float], str] | None:
    """Median pass figures of the untraced runs of ``workload`` at this
    code: of this seed if there are any, else of every seed. None when
    there are none."""
    path = _results_path(workload)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        runs = [json.loads(line) for line in f]
    same = [r for r in runs if r["seed"] == seed]
    runs, what = (same, f"seed {seed}") if same else (runs, "all seeds")
    return {k: statistics.median(r[k] for r in runs) for k in OVERHEAD_KEYS}, (
        f"{len(runs)} untraced run(s) of {what} at this code"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    # a temp dir of this run's own (the session ships the package through
    # one), removed when the run ends
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    try:
        return _run(ap, args)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(ap: argparse.ArgumentParser, args: argparse.Namespace) -> int:
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    res = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), WORK)
    e2e = res["end_to_end"]
    figures = {"pass_s": e2e["pass_s"], "pass_cpu_s": res["pass_cpu_s"]}
    steps = [t for _, t in res["steps"]]
    print(
        f"{args.workload} seed={args.seed}: passes={res['passes']} attempted={res['attempted']} "
        f"failed={res['failed']} failed_frac={res['failed'] / res['attempted']:.3f} "
        f"sink_mib={res['sink_mib']:.3f} steps={len(steps)} step_p50_s={statistics.median(steps):.3f} "
        f"step_max_s={max(steps):.3f} "
        f"jvm_peak_mib={res['rss_split_mib'][0]:.0f} py_workers_peak_mib={res['rss_split_mib'][1]:.0f}"
    )
    print("  steps: " + " ".join(f"{n}={t:.3f}" for n, t in res["steps"]))
    print(
        f"  pass CPU time {res['pass_cpu_s']:.4f} s; "
        f"wall as measured: setup {res['setup_raw_s']:.4f} s, pass {res['pass_raw_s']:.4f} s; "
        f"stolen by the hypervisor during them: {res['stolen_s']:.4f} s"
    )
    for k, v in e2e.items():
        print(f"  {k} = {v:.4f} {E2E_UNITS[k]}")

    if args.trace:
        layers = res["per_layer"]
        out_dir = os.path.join(WORK, "trace")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}_s{args.seed}")
        with open(stem + ".spans.jsonl", "w") as f:
            for s in res["spans"]:
                f.write(json.dumps(s) + "\n")
        base = _untraced_baseline(args.workload, args.seed)
        if base is None:
            overhead = "tracing overhead: no untraced run of this workload at this code yet"
        else:
            medians, what = base
            overhead = f"tracing overhead against the median of {what}: " + ", ".join(
                f"{k} {figures[k]:.3f} s traced vs {medians[k]:.3f} s "
                f"({100 * (figures[k] - medians[k]) / medians[k]:+.1f}%)" for k in OVERHEAD_KEYS
            )
        table = workloads.layer_table(res["spans"], layers) + "\n\n" + overhead
        with open(stem + ".layers.txt", "w") as f:
            f.write(table + "\n")
        print(table)
        print(f"self times: {json.dumps(res['self_time_check'])}; spans in {stem}.spans.jsonl")
        correct = res["correct"] and res["self_time_check"]["ok"]
        metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in layers.items()}
    else:
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(_results_path(args.workload), "a") as f:
            f.write(json.dumps({"seed": args.seed, **figures}) + "\n")
        correct = res["correct"]
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
