"""Arithmetic of the graft benchmark: percentiles, interval unions,
module attribution and the per-op / per-module layer metrics.

Everything here is a pure function of the raw JSON the JVM driver
writes (see scala/graftbench/GraftBench.scala), so it is unit-tested
without Spark: python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import math
import re
import statistics

# graft's packages that issue Spark jobs, in the order the per-layer
# metrics list them. graft.functions (Catalyst expressions) and
# graft.plans (an optimizer rule) never issue a job of their own: their
# work runs inside plans charged to the module that ran them.
# `unattributed` holds jobs that carry no SQL execution id, and
# executions the benchmark issued outside any span.
MODULES = ["sampling", "stats", "weights", "variance", "hazard", "pipeline",
           "core", "relational", "llm", "streaming", "sources", "unattributed"]
MODULE_FIELDS = ["jobs", "job_s", "exec_cpu_s", "shuffle_mb", "plan_s"]

CATALOG_FAMILIES = ["d", "t", "a", "w", "j", "p", "s", "ev", "f", "sim",
                    "q", "g", "o", "mm", "mix"]
SPANS = ["pps_draw", "ipsw_chain", "greg_calibrate", "breslow", "query_build",
         "query_collect"]
OP_FIELDS = ["plan_s", "codegen_compiles", "jobs", "stages", "tasks",
             "failed_tasks", "exec_run_s", "exec_cpu_s", "gc_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
             "driver_gap_s", "exec_busy_ratio"]

# Σ module job_s + driver_gap_s may exceed op wall only by the time in
# which jobs of different modules overlapped; the benchmark states this
# tolerance for the reconciliation, as a share of op wall.
RECONCILE_TOLERANCE = 0.05

_FRAME = re.compile(r"^graft\.([a-z]+)\.")


def tail_percentile(n, min_beyond=10, ladder=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)):
    """Highest percentile on `ladder` that leaves at least `min_beyond`
    of `n` samples strictly beyond it, or None."""
    for p in ladder:
        if n * (100.0 - p) / 100.0 >= min_beyond:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def union_seconds(intervals):
    """Length of the union of [start, end] intervals (any unit in, same
    unit out)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def module_of_frames(details):
    """Module named by a SQL execution's call site: the first graft
    package among its frames. Returns None when the benchmark's own
    frame comes first (the benchmark issued the action) or no graft
    frame is present."""
    for line in (details or "").splitlines():
        frame = line.strip()
        if frame.startswith("graftbench."):
            return None
        m = _FRAME.match(frame)
        if m and m.group(1) in MODULES:
            return m.group(1)
    return None


def innermost_span(spans, t_ms):
    """Module of the innermost benchmark span covering time t_ms."""
    best = None
    for name, module, s, e in spans:
        if s <= t_ms <= e and (best is None or s >= best[2]):
            best = (name, module, s, e)
    return best[1] if best else None


def exec_module(ex_id, execs, spans):
    """Module an SQL execution is charged to: the call site of the
    execution (or of its root); else, when its plan scans a graft.sources
    relation, `sources`; else the module whose function the enclosing
    benchmark span called, which built the plan the benchmark's own
    action runs; else `unattributed`."""
    rec = execs[ex_id]
    root = str(int(rec["root"]))
    mod = module_of_frames(rec["details"])
    if mod is None and root != ex_id and root in execs:
        mod = module_of_frames(execs[root]["details"])
    if mod is None and rec.get("graft_source"):
        mod = "sources"
    return mod or innermost_span(spans, rec["start_ms"]) or "unattributed"


def job_module(job, execs, spans):
    """Module a job is charged to: that of its SQL execution; a job
    without an execution id is `unattributed`."""
    ex = str(int(job["exec"]))
    if int(ex) < 0:
        return "unattributed"
    if ex in execs:
        return exec_module(ex, execs, spans)
    return innermost_span(spans, job["start_ms"]) or "unattributed"


def op_layers(op, cores):
    """Per-op Spark-wide metrics and per-module metrics of one traced op."""
    jobs, execs, spans = op["jobs"], op["execs"], op["spans"]
    wall = op["wall_s"]
    s = {k: 0.0 for k in OP_FIELDS}
    mods = {m: {k: 0.0 for k in MODULE_FIELDS} for m in MODULES}
    intervals = {m: [] for m in MODULES}
    all_iv = []
    lo, hi = op["start_ms"], op["end_ms"]
    for j in jobs:
        m = job_module(j, execs, spans)
        iv = (max(j["start_ms"], lo) / 1e3, min(j["end_ms"], hi) / 1e3)
        intervals[m].append(iv)
        all_iv.append(iv)
        mods[m]["jobs"] += 1
        mods[m]["exec_cpu_s"] += j["cpu_s"]
        mods[m]["shuffle_mb"] += j["shuffle_read_mb"] + j["shuffle_write_mb"]
        s["jobs"] += 1
        s["stages"] += j["stages"]
        s["tasks"] += j["tasks"]
        s["failed_tasks"] += j["failed_tasks"]
        s["exec_run_s"] += j["run_s"]
        s["exec_cpu_s"] += j["cpu_s"]
        s["gc_s"] += j["gc_s"]
        s["shuffle_read_mb"] += j["shuffle_read_mb"]
        s["shuffle_write_mb"] += j["shuffle_write_mb"]
        s["spill_mb"] += j["spill_mb"]
    for ex_id, rec in execs.items():
        m = exec_module(ex_id, execs, spans)
        mods[m]["plan_s"] += rec["plan_s"]
        s["plan_s"] += rec["plan_s"]
    for m in MODULES:
        mods[m]["job_s"] = union_seconds(intervals[m])
    covered = union_seconds(all_iv)
    s["driver_gap_s"] = max(0.0, wall - covered)
    s["codegen_compiles"] = op.get("codegen_compiles", 0.0)
    s["exec_busy_ratio"] = s["exec_run_s"] / (wall * cores) if wall > 0 else 0.0
    span_s = {n: 0.0 for n in SPANS}
    for name, _mod, a, b in spans:
        if name in span_s:
            span_s[name] += (b - a) / 1e3
    recon = (sum(mods[m]["job_s"] for m in MODULES) + s["driver_gap_s"] - wall) / wall \
        if wall > 0 else 0.0
    return s, mods, span_s, recon


def end_to_end(raw):
    """End-to-end metrics of one untraced (or traced) run."""
    ops = raw["ops"]
    walls = [o["wall_s"] for o in ops]
    out = {
        "setup_s": (statistics.median(raw["setup_rounds_s"]), "s"),
        "ops_per_min": (60.0 * len(walls) / sum(walls), "1/min"),
        "op_p50_s": (statistics.median(walls), "s"),
        "live_heap_mb": (raw["live_heap_mb"], "MB"),
    }
    return out


def failures(raw):
    ops = raw["ops"]
    failed = sum(1 for o in ops if not o.get("ok") or not o.get("check_ok"))
    return len(ops), failed


def layer_summary(raw):
    """Per-layer metrics of a traced run: means per timed op, plus the
    reconciliation of module job time + driver gap against op wall."""
    ops = raw["ops"]
    cores = raw["cores"]
    n = len(ops)
    tot = {k: 0.0 for k in OP_FIELDS}
    mods = {m: {k: 0.0 for k in MODULE_FIELDS} for m in MODULES}
    spans = {k: 0.0 for k in SPANS}
    fam_walls = {f: [] for f in CATALOG_FAMILIES}
    recon = []
    wall_sum = 0.0
    for op in ops:
        s, m, sp, r = op_layers(op, cores)
        recon.append(r)
        wall_sum += op["wall_s"]
        for k in OP_FIELDS:
            tot[k] += s[k]
        for mod in MODULES:
            for k in MODULE_FIELDS:
                mods[mod][k] += m[mod][k]
        for k in SPANS:
            spans[k] += sp[k]
        if op["family"] in fam_walls:
            fam_walls[op["family"]].append(op["wall_s"])
    metrics = {}
    for mod in MODULES:
        for k in MODULE_FIELDS:
            unit = {"jobs": "count", "job_s": "s", "exec_cpu_s": "s",
                    "shuffle_mb": "MB", "plan_s": "s"}[k]
            metrics[f"{mod}.{k}"] = (mods[mod][k] / n, unit)
    for k in OP_FIELDS:
        unit = ("count" if k in ("codegen_compiles", "jobs", "stages", "tasks", "failed_tasks")
                else "MB" if k.endswith("_mb") else "ratio" if k.endswith("ratio") else "s")
        v = tot[k] / n
        if k == "exec_busy_ratio":
            v = tot["exec_run_s"] / (wall_sum * cores)
        metrics[k] = (v, unit)
    for k in SPANS:
        metrics[f"span.{k}_s"] = (spans[k] / n, "s")
    for f in CATALOG_FAMILIES:
        w = fam_walls[f]
        metrics[f"family.{f}_s"] = (statistics.median(w) if w else 0.0, "s")
    unattr_share = mods["unattributed"]["jobs"] / tot["jobs"] if tot["jobs"] else 0.0
    reconcile = {
        "tolerance": RECONCILE_TOLERANCE,
        "max_excess_share": max(recon) if recon else 0.0,
        "min_excess_share": min(recon) if recon else 0.0,
        "within_tolerance": all(-1e-9 <= r <= RECONCILE_TOLERANCE for r in recon),
        "unattributed_job_share": unattr_share,
    }
    return metrics, reconcile
