#!/usr/bin/env python3
"""Repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload {ingest,dashboard,prep} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source checkout. Builds the program and this
benchmark's JVM side from source with sbt (the first run, or after a
source change), makes the seeded inputs, runs the workload in one JVM,
checks its outputs against DuckDB or the generator's ledger, prints a
run report, and ends
with one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end with ``--trace 0``, per-layer with ``--trace 1``).
Everything it writes goes under ``.bench_build/perfbench/`` of the
checkout. See ``perfbench/README.md``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("ingest", "dashboard", "prep")

# Input sizes. The work each run does is set on the JVM side
# (`Queries`, `Ingest` in src/main/scala/graftbench/Workloads.scala).
CORPUS_LINES = 20000       # toots in the nightly batch's corpus
PROBE_CORPUS_LINES = 10000  # toots in the traced run's batch probe
STREAM_LINES = 121000      # enough for `ingest` at --seconds 60
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile the program and the benchmark; return the runtime classpath."""
    cp_file = os.path.join(out, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log = os.path.join(out, "build.log")
    # resolve only from the local caches, as the project's own test
    # command does when SBT_OPTS is not set
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Xmx4g")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
            stderr=lf, text=True, timeout=BUILD_TIMEOUT_S,
            stdin=subprocess.DEVNULL, env=env)
    lines = [x for x in p.stdout.splitlines() if ".jar" in x and ":" in x]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-3000:])
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def make_inputs(out, seed, workload, trace):
    """Generate (or reuse) the seeded inputs; return their paths."""
    import gen
    d = os.path.join(out, "inputs", f"seed-{seed}")
    paths = {"data": os.path.join(d, "tables"),
             "stream": os.path.join(d, f"stream-{STREAM_LINES}.jsonl"),
             "corpus": os.path.join(d, f"corpus-{CORPUS_LINES}.jsonl"),
             "probe-corpus": os.path.join(d, f"probe-{PROBE_CORPUS_LINES}.jsonl")}
    need = {"data": workload != "ingest" or trace,
            "stream": workload == "ingest" or trace,
            "corpus": workload == "prep",
            "probe-corpus": trace and workload != "prep"}
    for key, wanted in need.items():
        done = paths[key] + ".done"
        if not wanted or os.path.exists(done):
            continue
        if key == "data":
            gen.tables(seed, paths["data"])
        else:
            os.makedirs(d, exist_ok=True)
            n = {"stream": STREAM_LINES, "corpus": CORPUS_LINES,
                 "probe-corpus": PROBE_CORPUS_LINES}[key]
            lines, ledger = gen.toots(seed, n, stream={"stream": 0,
                                      "corpus": 1, "probe-corpus": 2}[key])
            gen.write_toots(paths[key], lines, ledger)
        open(done, "w").close()
    return paths


def run_jvm(cp, work, argv, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile="
           + os.path.join(HERE, "log4j2.properties"),
           f"-Dderby.system.home={tmp}", *opens, "-cp", cp, "graftbench.Main"]
    launched = time.time_ns()
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
    # scratch files inside the run directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd + argv + ["--launched-ns", str(launched)],
                             stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=work, env=env)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run timed out; see {work}/jvm.log")
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited {p.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    choices=range(1, 61), metavar="1..60")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/compare_oracle.py", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a source checkout: {need} is missing")
    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)
    t_built = time.time()
    paths = make_inputs(out, a.seed, a.workload, a.trace)

    work = os.path.join(out, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    argv = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work]
    for k, v in paths.items():
        argv += [f"--{k}", v]
    res = run_jvm(cp, work, argv, t_built + RUN_TIMEOUT_S)

    from check import Checker
    t_check = time.time()
    chk = Checker(root)
    fails = []
    if a.workload in ("dashboard", "prep"):
        names = [o["name"] for o in res["ops"] if o["kind"] == "query"]
        fails += chk.queries(paths["data"], os.path.join(work, "out"),
                             res["oracle"], names)
    if a.workload == "prep":
        fails += chk.batch(os.path.join(work, "store"),
                           paths["corpus"] + ".ledger.parquet")
    if a.workload == "ingest":
        ing = res["ingest"]
        fails += chk.ingest(os.path.join(work, ing["sink_dir"], "sinks"),
                            paths["stream"] + ".ledger.parquet", ing["lines"])
    check_s = time.time() - t_check

    failed_ops = [o for o in res["ops"] if o["error"] is not None]
    if a.workload == "ingest":
        ing = res["ingest"]
        attempted = ing["events"] + ing["backlog_rows"] * len(ing["drain_s"])
    else:
        attempted = len(res["ops"])
    e2e, tail_p, n_lat = metrics.end_to_end(a.workload, res)

    # ---- run report ----
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{attempted} ops attempted, {len(failed_ops)} failed; "
          f"task slots {res['slots']}, nproc {len(os.sched_getaffinity(0))} "
          f"(of {os.cpu_count()} CPUs)")
    for o in failed_ops:
        print(f"  FAILED {o['name']}: {o['error']}")
    for f in fails:
        print(f"  CHECK FAILED {f}")
    print("  set-up (s; JVM launch to the session, session start, tables or "
          f"stream start, warm-up): {res['setup_s']:.2f} = " + " + ".join(
              f"{x:.2f}" for x in res["setup_parts_s"]))
    print(f"  latency tail = p{tail_p:g} of {n_lat} samples; "
          f"checks {check_s:.1f} s; total {time.time() - t_start:.1f} s")
    if a.workload == "ingest":
        ing = res["ingest"]
        print(f"  open loop: {ing['events']} events at {ing['rate']}/s; "
              f"generator late by p50 {ing['lateness_p50_s'] * 1e3:.2f} ms, "
              f"max {ing['lateness_max_s'] * 1e3:.2f} ms; backlog drains (s): "
              f"{', '.join(f'{x:.3f}' for x in ing['drain_s'])}")
    if a.trace:
        ms = metrics.per_layer(a.workload, res)
        bd = metrics.breakdown(res)
        print("  end-to-end, traced: " + ", ".join(
            f"{k} {v:.4g}" for k, v in sorted(e2e.items())))
        print("  self time by layer (s): " + ", ".join(
            f"{k} {v:.3f}" for k, v in sorted(bd.items(), key=lambda x: -x[1])))
        with open(os.path.join(out, f"trace-{a.workload}.json"), "w") as f:
            json.dump({"per_layer": ms, "self_s": bd, "ops": res["ops"],
                       "groups": res["groups"]}, f)
    else:
        ms = e2e
    for k in sorted(ms):
        print(f"  {k} = {ms[k]:.6g}")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"]
             for m in bench["end_to_end"] + bench["per_layer"]}
    # `rows_per_s` is measured on `ingest` alone, which BENCHMARK.json
    # does not list: it stays in the report above
    print(json.dumps({
        "correct": not fails, "attempted": attempted,
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in ms.items() if k in units}}))


if __name__ == "__main__":
    main()
