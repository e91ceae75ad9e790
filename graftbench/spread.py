"""Run-to-run spread of the end-to-end metrics.

    python3 graftbench/spread.py --workload mc_ref --seeds 1-10

Runs the benchmark once per seed (sequentially, untraced, for
BENCHMARK.json's run_seconds) and prints,
per end-to-end metric, the median, the quartiles and the interquartile
range as a share of the median (statistics.quantiles(n=4)), next to the
metric's bound from BENCHMARK.json. Raw per-run lines are appended to
--log if given.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += range(int(a), int(b) + 1)
        else:
            out.append(int(part))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--log")
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    secs = bench["run_seconds"]
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for s in seeds(args.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, "graftbench/run.py", "--workload", args.workload,
                            "--seed", str(s), "--seconds", str(secs), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            sys.exit(f"seed {s}: run failed ({r.returncode})")
        res = json.loads(last)
        if args.log:
            with open(args.log, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, "seed": s, **res}) + "\n")
        print(f"seed {s}: {time.time() - t0:.0f} s correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{m['name']:>14}: median {statistics.median(v):.4g} q1 {q1:.4g} q3 {q3:.4g} "
              f"iqr/median {(q3 - q1) / statistics.median(v):.3f} (bound {m['bound']})")


if __name__ == "__main__":
    main()
