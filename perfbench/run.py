#!/usr/bin/env python3
"""perfbench: what a caller of the engine pays, end to end and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
and the harness from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Inputs are generated from --seed.

One run: generate (or reuse) the seeded tables, start one JVM running
`perfbench.Harness`, check every query's warm-up output against its DuckDB
oracle, and print one JSON line whose metrics are the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1) named in BENCHMARK.json.
Per-query rows, spans and every per-layer metric go to
`.bench_build/perfbench/runs/<workload>-seed<n>-trace<t>/report.json`.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SOURCES = os.path.join(ROOT, "src", "main", "scala")
RUN_LIMIT_S = 170
KEEP_DATASETS = 4
KEEP_RUNS = 12
SF = 0.1
MAX_PASSES = 50
HEAP = "3g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# --------------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE_SOURCES, os.path.join(HERE, "src", "main")]
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness when a source or build file changed; return
    the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["hash"] == digest:
            return cached["classpath"]
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=840)
        out.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and ":" in ln]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}), see {log}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": classpath}, f)
    return classpath


# ---------------------------------------------------------------------- data

def evict(data_root, keep):
    dirs = sorted((os.path.join(data_root, d) for d in os.listdir(data_root)),
                  key=os.path.getmtime)
    for d in dirs[:max(0, len(dirs) - keep)]:
        shutil.rmtree(d, ignore_errors=True)


def prepare_data(spec, seed):
    """Seeded tables for the workload; returns (dir, seconds it took to
    generate them, by this run or an earlier one)."""
    import datagen
    data_root = os.path.join(WORK, "data")
    os.makedirs(data_root, exist_ok=True)
    k = spec.get("scale_k", 1)
    base = os.path.join(data_root, f"sf{SF}-seed{seed}")
    out = base if k == 1 else f"{base}-k{k}"

    def ready(d):  # complete data sets carry their cost file
        return os.path.isfile(os.path.join(d, datagen.COST_FILE))
    if not ready(out):
        evict(data_root, KEEP_DATASETS - 2)
        if not ready(base):
            shutil.rmtree(base, ignore_errors=True)
            datagen.generate(base, seed, SF)
        if k > 1:
            shutil.rmtree(out, ignore_errors=True)
            datagen.scale_up(base, out, k)
    os.utime(out)
    os.utime(base)
    cost = datagen.cost_s(base) + (datagen.cost_s(out) if k > 1 else 0.0)
    return out, cost


# ----------------------------------------------------------------------- run

def plan_queries(spec, seed):
    """The workload's queries and, per pass, a seeded query order."""
    cypher = load_json("queries.json")
    out = [dict(cypher[n], name=n, kind="cypher") if n in cypher
           else {"name": n, "kind": "ops"} for n in spec["queries"]]
    rng = random.Random(f"{spec['name']}:{seed}")
    orders = []
    for _ in range(MAX_PASSES):
        order = list(range(len(out)))
        rng.shuffle(order)
        orders.append(order)
    return out, orders


def run_harness(classpath, plan, run_dir, deadline):
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dlog4j2.level=error"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness", plan_path])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded the run limit, see {run_dir}/jvm.log")
    if code != 0 or not os.path.exists(plan["result"]):
        fail(f"harness exited {code}, see {run_dir}/jvm.log")
    with open(plan["result"]) as f:
        return json.load(f)


def check_outputs(result, data_dir, check_dir):
    """Oracle verdict per query, None when it matches, from the engine's
    oracle gate run over the warm-up outputs in check_dir."""
    verdict, sql = {}, {}
    for c in result["checks"]:
        q = c["q"]
        if c["error"] is not None:
            verdict[q] = f"warm-up failed: {c['error']}"
        elif q not in result["oracle_sql"]:
            verdict[q] = "no oracle"
        else:
            sql[q] = result["oracle_sql"][q]
    if not sql:
        return verdict
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(sql, f)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         data_dir, check_dir], stdout=subprocess.PIPE, text=True)
    for line in proc.stdout.splitlines():
        word, _, rest = line.partition(" ")
        q, _, why = rest.partition(":")
        q = q.split(" ")[0]
        if q in sql and word in ("PASS", "FAIL"):
            verdict[q] = None if word == "PASS" else why.strip()
    for q in sql:
        verdict.setdefault(q, f"no oracle verdict (check_oracle exit "
                              f"{proc.returncode})")
    return verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S

    if not (os.path.isfile(os.path.join(ENGINE_SOURCES, "graft", "SparkEntry.scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py"))):
        fail("engine sources not found; run from the root of a source checkout")
    workloads = load_json("workloads.json")
    bench = load_json(os.path.join("..", "BENCHMARK.json"))
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; one of {sorted(workloads)}")
    spec = dict(workloads[args.workload], name=args.workload)

    classpath = build()
    deadline = max(deadline, time.monotonic() + RUN_LIMIT_S)
    sys.path.insert(0, HERE)
    import metrics

    data_dir, datagen_s = prepare_data(spec, args.seed)
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    evict(runs, KEEP_RUNS)
    run_dir = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    check_dir = os.path.join(run_dir, "check")
    queries, orders = plan_queries(spec, args.seed)
    plan = {
        "data_dir": data_dir, "check_dir": check_dir,
        "warehouse_dir": os.path.join(run_dir, "warehouse"),
        "result": os.path.join(run_dir, "result.json"),
        "cores": len(os.sched_getaffinity(0)), "seconds": args.seconds,
        "trace": bool(args.trace), "queries": queries, "orders": orders,
        "min_passes": spec["passes"]}
    try:
        result = run_harness(classpath, plan, run_dir, deadline)
        verdict = check_outputs(result, data_dir, check_dir)
    finally:
        for d in ("tmp", "check", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    rows = result["timed"]["rows"]
    bad = {q: v for q, v in verdict.items() if v is not None}
    loop_failed = [r for r in rows if r["error"] is not None]
    attempted = len(rows) + len(verdict)
    failed = len(bad) + len(loop_failed)
    for q, v in sorted(bad.items()):
        print(f"perfbench: {q}: {v}", file=sys.stderr)

    e2e = metrics.end_to_end(result)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "data_dir": os.path.relpath(data_dir, ROOT), "datagen_s": datagen_s,
        "end_to_end": dict(e2e, failed_frac=failed / attempted),
        "oracle": verdict, "session_s": result["session_s"],
        "passes": result["timed"]["passes"],
        "queries": metrics.per_query(rows),
    }
    if args.trace:
        traced = result["traced"]
        layers, per_exec = metrics.layer_totals(traced, result["cores"])
        layers["session.heap_after_gc_mb"] = result["heap_after_gc_mb"]
        layers["session.pass_drift"] = metrics.pass_drift(rows)
        layers["session.tmp_bytes_left"] = result["tmp_bytes_left"]
        layers["bench.datagen_s"] = datagen_s
        layers["bench.trace_overhead"] = e2e["queries_per_s"] / (
            len(traced["rows"]) / traced["wall_s"])
        report["per_layer"] = layers
        report["queries"] = metrics.per_query(rows, per_exec, traced["count_s"])
        report["executions"] = per_exec
        report["spans"] = traced["spans"]
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=float)
    print(f"perfbench: report in {os.path.relpath(run_dir, ROOT)}/report.json",
          file=sys.stderr)
    values, wanted = ((report["per_layer"], bench["per_layer"]) if args.trace
                      else (e2e, bench["end_to_end"]))
    out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
           for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
