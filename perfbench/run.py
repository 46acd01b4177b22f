"""Benchmark of csvbspark's three user paths: CSV exec, pgwire serve, federation.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload csv_exec|pg_serve|federate \\
        --seed N --seconds S --trace 0|1

Builds the program from ``src/main`` with scalac (once per source tree,
cached in ``.bench_build``), makes the seeded fixtures and DuckDB's expected
answers (cached per seed), starts two PostgreSQL shards for ``federate``,
then runs the workload in one plain JVM (``harness/Harness.scala``). Every
operation's output is checked against the oracle. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. Lines before it give per-path detail.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import workloads  # noqa: E402

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_HEAP = "2g"
RUN_LIMIT_S = 175    # a run must end within 180 s ...
BUILD_LIMIT_S = 880  # ... or 900 s when it also builds the program

# the operations each metric is taken over
INTERACTIVE = {"csv_exec": {"exec"}, "pg_serve": {"short", "catalog_dt", "catalog_d"},
               "federate": {"fed_query"}}
BULK = {"csv_exec": {"exec"}, "pg_serve": {"wide_rows", "wide_copy"},
        "federate": {"gather_rows", "gather_copy", "publish"}}
PER_LAYER_UNITS = {
    "core.register_ms": "ms", "core.analyze_ms": "ms", "core.plan_ms": "ms",
    "core.collect_ms": "ms", "frontend.overhead_ms": "ms", "scan.read_ratio": "ratio",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.task_run_ms_per_op": "ms", "spark.codegen_compile_ms_per_op": "ms",
    "jvm.gc_ms_per_op": "ms", "jvm.jit_ms_per_op": "ms", "trace.overhead_pct": "%",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through every cleanup `finally`


# ---- build --------------------------------------------------------------

def tree_hash(paths, salt=b""):
    h = hashlib.sha256(salt)
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    """The jars of the Spark installation the program builds and runs on:
    ``$SPARK_HOME/jars``, or the one beside ``spark-submit`` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME or put spark-submit on the PATH")
    return os.path.join(home, "jars")


def scalac(out, classpath, sources, log):
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jar_dir = spark_jars()
    jars = ":".join(os.path.join(jar_dir, j) for j in sorted(os.listdir(jar_dir))
                    if j.endswith(".jar"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(out)}", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", ":".join(classpath + [jars])] + sources
    with open(log, "wb") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        fail(f"scalac failed ({log}):\n{tail}")
    os.rename(tmp, out)


def build(root):
    """Compile src/main and the harness once per source tree; returns the
    classpath entries and whether anything was compiled."""
    src = os.path.join(root, "src", "main")
    files = [os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs]
    scala = [f for f in files if f.endswith(".scala")]
    if not scala:
        fail(f"no program sources under {src}")
    harness = os.path.join(HERE, "harness", "Harness.scala")
    cache = os.path.join(root, ".bench_build", "classes")
    os.makedirs(cache, exist_ok=True)
    prog = os.path.join(cache, "prog-" + tree_hash(files))
    hcls = os.path.join(cache, "harness-" + tree_hash([harness], os.path.basename(prog).encode()))
    built = False
    with open(os.path.join(cache, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for d in os.listdir(cache):
            full = os.path.join(cache, d)
            if os.path.isdir(full) and full not in (prog, hcls):
                shutil.rmtree(full, ignore_errors=True)
        if not os.path.isdir(prog):
            scalac(prog, [], scala, os.path.join(cache, "prog.log"))
            built = True
        if not os.path.isdir(hcls):
            scalac(hcls, [prog], [harness], os.path.join(cache, "harness.log"))
            built = True
    resources = os.path.join(src, "resources")
    return [hcls, prog, resources, os.path.join(spark_jars(), "*")], built


# ---- one JVM run --------------------------------------------------------

def cpu_times():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_jvm(root, classpath, conf, timeout_s):
    run_dir = conf["run_dir"]
    os.makedirs(os.path.join(run_dir, "tmp"))
    conf_path = os.path.join(run_dir, "config.json")
    conf["out"] = os.path.join(run_dir, "result.json")
    conf["launch_ms"] = int(time.time() * 1000)
    with open(conf_path, "w") as f:
        json.dump(conf, f)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", ":".join(classpath),
            "perfbench.Harness", conf_path]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(conf["cpus"]),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout_s)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(conf["out"]):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        fail(f"harness JVM exited with {code}:\n{tail}")
    with open(conf["out"]) as f:
        return json.load(f)


# ---- metrics ------------------------------------------------------------

def verify(spec, result):
    """(attempted, failed, correct, first problems) over every operation."""
    attempted = failed = wrong = 0
    problems = []
    for op in result["ops"]:
        attempted += 1
        if op["error"]:
            failed += 1
            problems.append(f"{op['id']}: {op['error']}")
            continue
        diff = checks.check_op(op, spec["expected"][op["id"]])
        if diff:
            failed += 1
            wrong += 1
            problems.append(f"{op['id']}: {diff}")
    return attempted, failed, wrong == 0, problems[:5]


def done(result, phase):
    return [o for o in result["ops"] if not o["error"] and o["phase"] == phase]


def per_id(ops, value):
    """{operation id: [value(op), ...]}"""
    out = {}
    for o in ops:
        out.setdefault(o["id"], []).append(value(o))
    return out


def latency(workload, ops):
    """Geometric mean over interactive operation ids of each id's median
    latency, and the latencies per id."""
    lat = per_id([o for o in ops if o["kind"] in INTERACTIVE[workload]], lambda o: o["ms"])
    return checks.geomean(checks.median(v) for v in lat.values()), lat


def ops_per_s(result, phase):
    """Each client's operations over its own window, summed over clients."""
    return sum(w["ops"] / w["seconds"] for w in result["windows"] if w["phase"] == phase)


def end_to_end(workload, spec, result):
    """The gated metrics, {name: (value, unit)}, and the per-path figures
    under the names of each path, printed as detail lines.

    Operations of one kind differ in cost (a point lookup against a
    scan), so latency and row rate are summarised per operation id
    first and then combined by geometric mean: a median over the whole
    mix would sit in the gap between a cheap and a costly id and jump
    between them from run to run.
    """
    ops = done(result, "measure")
    lat_ms, lat = latency(workload, ops)
    input_rows = {op["id"]: op.get("input_rows", 0) for op in spec["round"]}
    bulk = per_id([o for o in ops if o["kind"] in BULK[workload]],
                  lambda o: (o["rows"] or input_rows[o["id"]], o["ms"] / 1000))
    rates = {i: sum(r for r, _ in v) / sum(t for _, t in v) for i, v in bulk.items()}
    cold = [o for o in result["ops"] if o["phase"] == "cold"][0]
    metrics = {
        "setup_s": (checks.median(result["setup_s"]), "s"),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024, "MB"),
        "latency_ms": (lat_ms, "ms"),
        "ops_per_s": (ops_per_s(result, "measure"), "1/s"),
        "rows_per_s": (checks.geomean(rates.values()), "rows/s"),
    }
    # the figures under the names each path's users know them by
    flat = [x for v in lat.values() for x in v]
    path = {"csv_exec": "exec", "pg_serve": "stmt", "federate": "fed_query"}[workload]
    detail = {"ready_s": result["ready_s"], "latency_samples": len(flat),
              f"{path}_p50_ms": checks.median(flat), f"{path}_cold_ms": cold["ms"],
              "first_result_s": result["ready_s"] + cold["ms"] / 1000}
    if workload == "pg_serve":
        detail["stmts_per_s"] = metrics["ops_per_s"][0]
    tail = checks.tail(flat)
    if tail:
        detail[f"{path}_p{tail[0]:g}_ms"] = tail[1]
    detail.update({f"{i}_p50_ms": checks.median(v) for i, v in sorted(lat.items())})
    named = {"wide_rows": "wide_rows_per_s", "wide_copy": "copy_out_rows_per_s",
             "gather_rows": "fed_scan_rows_per_s", "gather_copy": "fed_copy_rows_per_s",
             "publish": "fed_publish_rows_per_s"}
    detail.update({named[i]: r for i, r in rates.items() if i in named})
    return metrics, detail


def per_layer(workload, result):
    """The gated per-layer metrics {name: value}, and every layer sample
    median by its own name (printed as layer lines)."""
    layers = {k: checks.median(v) for k, v in result["layers"].items() if v}
    traced = done(result, "traced")
    tot = {}
    for c in result["traced_counters"]:
        for k, v in c.items():
            tot[k] = tot.get(k, 0) + v
    per_op = {k: v / max(len(traced), 1) for k, v in tot.items()}
    p50 = {ph: latency(workload, done(result, ph))[0] for ph in ("traced", "untraced")}
    cg = result["codegen_total"]
    values = {k: layers.get(k) for k in ("core.register_ms", "core.analyze_ms", "core.plan_ms",
                                          "core.collect_ms", "frontend.overhead_ms",
                                          "scan.read_ratio")}
    values.update({
        "spark.jobs_per_op": per_op.get("jobs"),
        "spark.tasks_per_op": per_op.get("tasks"),
        "spark.task_run_ms_per_op": per_op.get("task_run_ms"),
        "spark.codegen_compile_ms_per_op": cg["codegen_ms"] / max(cg["ops"], 1),
        "jvm.gc_ms_per_op": per_op.get("gc_ms"),
        "jvm.jit_ms_per_op": per_op.get("jit_ms"),
        "trace.overhead_pct": 100 * (p50["traced"] - p50["untraced"]) / p50["untraced"],
    })
    if workload == "federate":
        pub = [o["ms"] / o["rows"] * 1000 for o in traced if o["kind"] == "publish"]
        layers["fed.publish_ms_per_krow"] = checks.median(pub)
    return values, layers


# ---- main ---------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ORDERS_ROWS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_sigterm)
    t_start = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the root of a csvbspark checkout (src/main/scala not found)")

    classpath, built = build(root)
    spec = workloads.load(root, a.workload, a.seed)
    cpus = min(4, len(os.sched_getaffinity(0)))
    bench = os.path.join(root, ".bench_build")
    run_dir = os.path.join(bench, "runs", f"{a.workload}-{os.getpid()}")
    conf = dict(spec, workload=a.workload, seconds=a.seconds, trace=bool(a.trace), cpus=cpus,
                clients=cpus, run_dir=run_dir,
                spans=os.path.join(bench, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl"))
    del conf["expected"]
    os.makedirs(os.path.dirname(conf["spans"]), exist_ok=True)
    shards = None
    try:
        if a.workload == "federate":
            import pgshard
            shards = pgshard.Shards(os.path.join(bench, "pg"), spec["shard_loads"],
                                    spec["shard_ddl"], extra_tables=["orders_pub"],
                                    log_statements=bool(a.trace)).__enter__()
            conf["shards"] = [{"host": "127.0.0.1", "port": p, "log": log}
                              for p, log in zip(shards.ports, shards.logs)]
            conf["source"] = spec["parquet"][0][1]
            conf["publish_table"] = "orders_pub"
        limit = BUILD_LIMIT_S if built else RUN_LIMIT_S
        steal0, total0 = cpu_times()
        result = run_jvm(root, classpath, conf, limit - (time.time() - t_start))
        steal1, total1 = cpu_times()
    finally:
        if shards is not None:
            shards.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed, correct, problems = verify(spec, result)
    for p in problems:
        print(f"problem {p}")
    # CPU time the hypervisor gave to other machines during the run: a
    # run with much of it reads slow for reasons outside the program
    print(f"detail steal_pct {100 * (steal1 - steal0) / max(total1 - total0, 1):.3g}")
    if a.trace:
        values, layers = per_layer(a.workload, result)
        for k, v in sorted(layers.items()):
            print(f"layer {k} {v:.6g}")
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}
    else:
        values, detail = end_to_end(a.workload, spec, result)
        for k, v in detail.items():
            print(f"detail {k} {v:.6g}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    missing = sorted(k for k, m in metrics.items() if m["value"] is None)
    if missing:
        fail(f"no samples for {', '.join(missing)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
