"""Traced-run artifact with its tracing overhead.

    python3 graftbench/trace_pair.py --workload mc_ref --seed 7

Runs the workload untraced and then traced on the same seed, writes both
summaries to graftbench/results/<workload>_{untraced,traced}.json and
adds to the traced one the overhead: each end-to-end metric of the
traced run relative to the untraced one.
"""
import argparse
import json
import os
import subprocess
import sys


def run(workload, seed, trace, path):
    bench = json.load(open("BENCHMARK.json"))
    r = subprocess.run([sys.executable, "graftbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                        "--trace", str(trace), "--artifact", path],
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} trace={trace}: run failed ({r.returncode})")
    return json.load(open(path))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    out = os.path.join("graftbench", "results")
    os.makedirs(out, exist_ok=True)
    plain = run(args.workload, args.seed, 0, os.path.join(out, f"{args.workload}_untraced.json"))
    traced_path = os.path.join(out, f"{args.workload}_traced.json")
    traced = run(args.workload, args.seed, 1, traced_path)
    traced["tracing_overhead"] = {
        k: {"untraced": v["value"], "traced": traced["end_to_end"][k]["value"],
            "traced_over_untraced": traced["end_to_end"][k]["value"] / v["value"]}
        for k, v in plain["end_to_end"].items()}
    with open(traced_path, "w") as fh:
        json.dump(traced, fh, indent=1, sort_keys=True)
    print(json.dumps({"workload": args.workload, "reconcile": traced["reconcile"],
                      "tracing_overhead": traced["tracing_overhead"]}))


if __name__ == "__main__":
    main()
