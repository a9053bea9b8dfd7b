"""Statistics and metric derivation for perfbench.

Everything here is pure Python over the harness's raw JSON, so it is unit
tested without Spark (tests/test_metrics.py).
"""
import math
import statistics
from collections import defaultdict


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(Q1, Q2, Q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def iqr_share(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> self time in ms: duration minus what its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            kids[s["parent"]].append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - covered(kids[s["id"]], s["start_ms"], s["end_ms"])
            for s in spans}


# ---------------------------------------------------------------- end to end

def query_medians(rows):
    by_q = defaultdict(list)
    for r in rows:
        if r.get("error") is None:
            by_q[r["q"]].append(r["total_s"])
    return {q: median(v) for q, v in by_q.items()}


def pass_drift(rows):
    """Wall time of the last complete pass over that of the first."""
    per_pass = defaultdict(float)
    for r in rows:
        per_pass[r["pass"]] += r["total_s"]
    passes = sorted(per_pass)
    return per_pass[passes[-1]] / per_pass[passes[0]]


def pass_rates(loop):
    """Per timed pass: (executions per second, CPU seconds per execution)."""
    per_pass = defaultdict(int)
    for r in loop["rows"]:
        per_pass[r["pass"]] += 1
    return [(per_pass[p] / w, c / per_pass[p]) for p, (w, c) in
            enumerate(zip(loop["pass_wall_s"], loop["pass_cpu_s"]))]


def end_to_end(result):
    """Throughput and CPU are the median over the timed passes, latency the
    median over a query's executions, so one disturbed pass or execution
    does not move a run's figures."""
    loop = result["timed"]
    meds = query_medians(loop["rows"])
    rates = pass_rates(loop)
    return {
        "setup_s": result["setup_s"],
        "queries_per_s": median([q for q, _ in rates]),
        "query_geomean_s": geomean(list(meds.values())),
        "worst_query_s": max(meds.values()),
        "cpu_s_per_query": median([c for _, c in rates]),
    }


# ----------------------------------------------------------------- per layer

SINK = "exec"
BUILD = ("compile", "ops")
# counters summed over every phase of a query: the runtime runs both the
# jobs a build launches eagerly and the sink's jobs
RUNTIME = ("tasks", "task_ms", "task_cpu_ns", "gc_ms", "input_bytes",
           "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
           "result_bytes", "output_bytes", "task_failures", "useful_tasks",
           "stream_batches", "stream_batch_ms")


def layer_totals(traced, cores):
    """Per-layer sums over the traced loop, plus one row per execution."""
    rows = traced["rows"]
    tokens = traced.get("tokens", {})
    nodes = traced.get("logical_nodes", {})
    counters = defaultdict(lambda: defaultdict(float))
    for c in traced["counters"]:
        for k, v in c["values"].items():
            counters[(c["exec"], c["phase"])][k] += v
    spans = traced["spans"]
    self_ms = self_times(spans)
    phase_self = defaultdict(float)
    for s in spans:
        if s["parent"] >= 0 and s["name"] in BUILD:
            phase_self[(s["exec"], s["name"])] += self_ms[s["id"]]

    t = defaultdict(float)
    per_exec = []
    for r in rows:
        ex, ph = r["exec"], r["phases"]
        sink = counters[(ex, SINK)]
        e = {"q": r["q"], "exec": ex, "total_s": r["total_s"]}
        for name in ("parse", "compile", "ops", "exec"):
            e[f"{name}.s"] = ph.get(name, 0.0)
        # the parser launches no Spark job, so all of its time is its own
        e["parse.self_s"] = e["parse.s"]
        e["parse.tokens"] = tokens.get(r["q"], 0)
        e["compile.logical_nodes"] = nodes.get(r["q"], 0)
        for b in BUILD:
            c = counters[(ex, b)]
            e[f"{b}.jobs"] = c["jobs"]
            e[f"{b}.job_s"] = c["job_ms"] / 1e3
            e[f"{b}.self_s"] = phase_self[(ex, b)] / 1e3
        for k in ("analysis", "optimization", "planning"):
            e[f"catalyst.{k}_s"] = sink[f"{k}_ms"] / 1e3
        for k in ("physical_nodes", "exchanges", "smj", "bhj"):
            e[f"catalyst.{k}"] = sink[k]
        e["exec.jobs"] = sink["jobs"]
        e["exec.stages"] = sink["stages"]
        e["exec.sink_task_s"] = sink["task_ms"] / 1e3
        run = defaultdict(float)
        for phase in ("parse",) + BUILD + (SINK,):
            for k in RUNTIME:
                run[k] += counters[(ex, phase)][k]
        e["exec.tasks"] = run["tasks"]
        e["exec.useful_tasks"] = run["useful_tasks"]
        e["exec.task_s"] = run["task_ms"] / 1e3
        e["exec.task_cpu_s"] = run["task_cpu_ns"] / 1e9
        e["exec.gc_s"] = run["gc_ms"] / 1e3
        for k in ("input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_bytes", "result_bytes", "output_bytes",
                  "task_failures"):
            e[f"exec.{k}"] = run[k]
        e["stream.batches"] = run["stream_batches"]
        e["stream.batch_s"] = run["stream_batch_ms"] / 1e3
        per_exec.append(e)
        for k, v in e.items():
            if isinstance(v, (int, float)) and k not in ("exec", "total_s"):
                t[k] += v
    passes = traced["passes"]
    per_pass = {k: v / passes for k, v in t.items()}
    per_pass["parse.tokens_per_s"] = (
        per_pass["parse.tokens"] / per_pass["parse.s"]
        if per_pass.get("parse.s") else 0.0)
    per_pass["exec.useful_task_frac"] = (
        per_pass["exec.useful_tasks"] / per_pass["exec.tasks"]
        if per_pass.get("exec.tasks") else 0.0)
    # the DataFrame build, whichever front end ran it
    for k in ("s", "self_s", "job_s", "jobs"):
        per_pass[f"build.{k}"] = sum(per_pass.get(f"{f}.{k}", 0.0)
                                     for f in ("parse",) + BUILD)
    per_pass["exec.idle_core_s"] = (
        per_pass["exec.s"] * cores - per_pass["exec.sink_task_s"])
    return per_pass, per_exec


def per_query(rows, traced_rows=None, count_s=None):
    """One summary row per query: median latency and phase split, and with
    a traced run, mean job counts per phase and the count/noop pair."""
    out = {}
    by_q = defaultdict(list)
    for r in rows:
        by_q[r["q"]].append(r)
    for q, rs in sorted(by_q.items()):
        ok = [r for r in rs if r.get("error") is None]
        row = {"n": len(rs), "errors": len(rs) - len(ok)}
        if ok:
            row["median_s"] = median([r["total_s"] for r in ok])
            for ph in ("parse", "compile", "ops", "exec"):
                vals = [r["phases"][ph] for r in ok if ph in r["phases"]]
                if vals:
                    row[f"{ph}_s"] = median(vals)
        out[q] = row
    for e in traced_rows or []:
        row = out.setdefault(e["q"], {})
        tr = row.setdefault("traced", defaultdict(list))
        for k in ("compile.jobs", "ops.jobs", "exec.jobs", "exec.stages",
                  "exec.tasks", "exec.s", "stream.batches"):
            if k in e:
                tr[k].append(e[k])
    for row in out.values():
        if "traced" in row:
            row["traced"] = {k: sum(v) / len(v) for k, v in row["traced"].items()}
    for q, s in (count_s or {}).items():
        row = out.setdefault(q, {})
        row["count_s"] = s
        if "traced" in row:
            row["noop_exec_s"] = row["traced"]["exec.s"]
    return out
