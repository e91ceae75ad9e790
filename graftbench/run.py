"""graft benchmark entry point.

    python3 graftbench/run.py --workload mc_ref --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds graft and the benchmark driver
(build.py), runs one closed-loop JVM session of the workload on
local[cores], checks every timed op's output, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Options beyond the four above:
    --artifact PATH     also write the run's full summary (per-op layer
                        metrics, attribution reconciliation) as JSON
    --record-expected   catalog only: record each query's row count and
                        digest as the expected results (see NOTES.md)
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# fixed driver heap (-Xms = -Xmx), so heap sizing does not vary by host
DRIVER_HEAP = "3g"
# a run must end within 180 s; the JVM gets what the build left of this
RUN_DEADLINE_S = 170.0
# the first run in a fresh checkout also compiles
BUILD_DEADLINE_S = 880.0


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_command(cfg, wl_name, wl, args, classpath, raw_path, tmp):
    n = cores()
    conf = dict(cfg["spark_conf"])
    conf["spark.master"] = f"local[{n}]"
    conf["spark.sql.shuffle.partitions"] = str(n)
    conf["spark.local.dir"] = tmp
    conf["spark.sql.warehouse.dir"] = os.path.join(tmp, "warehouse")
    cmd = ["java", f"-Xms{DRIVER_HEAP}", f"-Xmx{DRIVER_HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.GraftBench",
            "--workload", wl_name, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", raw_path]
    if "queries" in wl:
        expected = "-" if args.record_expected else os.path.abspath(wl["expected"])
        cmd += ["--data", os.path.abspath(wl["data"]),
                "--queries", ",".join(wl["queries"]), "--expected", expected]
    for k, v in sorted(conf.items()):
        cmd += ["--conf", f"{k}={v}"]
    return cmd, conf


def check_repeatable(wl_name, wl, seed, ops):
    """mc_ref: an op's rounded-estimate digest must be identical on every
    run of the same seed, workload configuration and build. Digests are
    kept in the build directory."""
    path = os.path.join(build.BUILD, "digests", f"{wl_name}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    seen = json.load(open(path)) if os.path.exists(path) else {}
    key = json.dumps([seed, wl, open(build.STAMP).read().strip()], sort_keys=True)
    mine = seen.setdefault(key, {})
    for o in ops:
        d = o.get("digest")
        if d is None:
            continue
        if o["name"] in mine and mine[o["name"]] != d:
            o["check_ok"] = False
            o["check"] = o.get("check", "") + " digest differs from an earlier run of this seed"
        mine.setdefault(o["name"], d)
    with open(path + ".tmp", "w") as fh:
        json.dump(seen, fh)
    os.replace(path + ".tmp", path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--artifact")
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()

    t0 = time.time()
    cfg_path = os.path.join("graftbench", "config.json")
    bench_path = "BENCHMARK.json"
    if not os.path.exists(cfg_path) or not os.path.exists(bench_path):
        fail("run from the repository root (graftbench/config.json, BENCHMARK.json)")
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) not found: nothing to benchmark")
    cfg = json.load(open(cfg_path))
    bench = json.load(open(bench_path))
    if args.workload not in cfg["workloads"]:
        fail(f"unknown workload {args.workload}")
    wl = cfg["workloads"][args.workload]

    os.makedirs(build.BUILD, exist_ok=True)
    classpath = build.build()
    built_s = time.time() - t0

    tmp = os.path.join(build.BUILD, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    raw_path = os.path.join(tmp, "raw.json")
    cmd, conf = jvm_command(cfg, args.workload, wl, args, classpath, raw_path, tmp)
    log_path = os.path.join(build.BUILD, f"jvm-{args.workload}.log")
    deadline = (BUILD_DEADLINE_S if built_s > 20 else RUN_DEADLINE_S) - built_s
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(deadline, 10.0))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"JVM exceeded its {deadline:.0f} s deadline; log: {log_path}", 3)
        if rc != 0 or not os.path.exists(raw_path):
            tail = open(log_path, errors="replace").read()[-3000:]
            sys.stderr.write(tail)
            fail(f"JVM exited with {rc}; log: {log_path}", 4)
        raw = json.load(open(raw_path))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if args.record_expected:
        out = os.path.abspath(wl["expected"])
        with open(out, "w") as fh:
            for o in sorted(raw["ops"], key=lambda o: o["name"]):
                if not o.get("ok"):
                    fail(f"{o['name']} failed while recording: {o.get('error')}")
                fh.write(f"{o['name']}\t{int(o['rows'])}\t{o['digest']}\n")
        print(f"recorded {len(raw['ops'])} expected results to {out}")
        return

    if args.workload != "catalog":
        check_repeatable(args.workload, wl, args.seed, raw["ops"])
    attempted, failed = metrics.failures(raw)
    for o in raw["ops"]:
        if not o.get("ok") or not o.get("check_ok"):
            print(f"FAILED {o['name']}: {o.get('error') or o.get('check')}", file=sys.stderr)

    if args.trace:
        values, reconcile = metrics.layer_summary(raw)
        wanted = bench["per_layer"]
    else:
        values, reconcile = metrics.end_to_end(raw), None
        wanted = bench["end_to_end"]
    out = {}
    for m in wanted:
        v, _unit = values[m["name"]]
        out[m["name"]] = {"value": v, "unit": m["unit"]}

    walls = [o["wall_s"] for o in raw["ops"]]
    tail = metrics.tail_percentile(len(walls))
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": cores(),
        "spark_conf": {k: v for k, v in conf.items()
                       if k not in ("spark.local.dir", "spark.sql.warehouse.dir")},
        "op_samples": len(walls), "cold_setup_s": raw["cold_setup_s"],
        "setup_rounds_s": raw["setup_rounds_s"], "warmup_s": raw["warmup_s"],
        "failed_ratio": failed / attempted if attempted else 0.0,
        # the highest percentile with at least ten samples beyond it
        "tail_percentile": tail,
        "op_tail_s": metrics.percentile(walls, tail) if tail and tail > 50 else None,
        "reconcile": reconcile}
    print(json.dumps(info))
    if args.artifact:
        summary = dict(info, attempted=attempted, failed=failed,
                       end_to_end={k: {"value": v, "unit": u}
                                   for k, (v, u) in metrics.end_to_end(raw).items()},
                       op_walls_s=[[o["name"], o["wall_s"]] for o in raw["ops"]])
        if args.trace:
            summary["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
            summary["ops"] = []
            for o in raw["ops"]:
                s, mods, spans, recon = metrics.op_layers(o, raw["cores"])
                summary["ops"].append({
                    "name": o["name"], "family": o["family"], "wall_s": o["wall_s"],
                    "spark": s, "spans_s": spans, "reconcile_excess_share": recon,
                    "modules": {m: v for m, v in mods.items() if v["jobs"] or v["plan_s"]}})
        with open(args.artifact, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
