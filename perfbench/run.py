#!/usr/bin/env python3
"""The repository benchmark: one workload per run, end-to-end metrics by
default, per-layer metrics with --trace 1.

Usage (from the checkout root):
  python3 perfbench/run.py --workload stedi_live|stedi_replay|graph_loops \\
      --seed N --seconds S --trace 0|1

It builds the engine and the benchmark from source (perfbench/build.py),
generates the dataset once with tools/gen_sf.py, runs the workload in one
JVM on at most 4 task slots, and prints the result as the last line of
standard output. Everything it writes stays under .bench_build/perfbench.
BENCHMARK.json names the workloads and metrics; perfbench/README.md says
which layer metric should move which end-to-end metric.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
WORKLOADS = ("stedi_live", "stedi_replay", "graph_loops")
# Dataset size relative to the sf0.1 fixtures: sf0.01. Below it the
# workloads' time is the same per-job overhead, and at sf0.1 one graph
# pass alone exceeds a run's budget.
SCALE = "0.1"
JVM_TIMEOUT_S = 170
# Same module openings as build.sbt's javaOptions (Spark on JDK 17).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def info(msg):
    print(f"[perfbench] {msg}", flush=True)


def dataset():
    """Generate the dataset once per checkout; return its directory."""
    gen = os.path.join(ROOT, "tools", "gen_sf.py")
    if not os.path.isfile(gen):
        raise build.BuildError("tools/gen_sf.py is missing")
    with open(gen, "rb") as f:
        tag = hashlib.sha256(f.read() + SCALE.encode()).hexdigest()[:12]
    d = os.path.join(OUT, "data", f"gen-{SCALE}-{tag}")
    if os.path.isfile(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    r = subprocess.run([sys.executable, gen, SCALE, d], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=300)
    if r.returncode != 0:
        raise build.BuildError("dataset generation failed:\n" + r.stdout[-2000:])
    open(os.path.join(d, "_DONE"), "w").close()
    return d


def index_store_state():
    """Listing of the engine's persistent content-keyed cache (the root
    IndexStore.scala names), or None when it does not exist. No workload
    may build into it: a changed listing fails the run."""
    src = os.path.join(ROOT, "src", "main", "scala", "graft", "queries",
                       "IndexStore.scala")
    m = re.search(r's"([^"$]*graft_index)/', open(src).read())
    if not m:
        raise build.BuildError("cannot find the IndexStore root")
    root = m.group(1) if os.path.isabs(m.group(1)) else os.path.join(ROOT, m.group(1))
    if not os.path.exists(root):
        return None
    state = []
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            state.append((os.path.join(d, f), st.st_size, st.st_mtime_ns))
    return sorted(state)


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    load0 = loadavg()
    try:
        classes, jars = build.build()
        data = dataset()
        guard0 = index_store_state()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    tmp = os.path.join(OUT, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    spans = os.path.join(OUT, "traces", f"{a.workload}-{a.seed}.jsonl")
    spark_version = re.sub(r"^spark-core_[\d.]+-|\.jar$", "", next(
        (os.path.basename(j) for j in glob.glob(os.path.join(jars, "spark-core_*.jar"))),
        "unknown"))
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx2g", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--expected", os.path.join(build.HERE, "expected.txt"),
              "--spans", spans])
    log = os.path.join(OUT, "logs", f"{a.workload}-{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                 cwd=ROOT, env=env)
            try:
                stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                sys.exit(f"perfbench: workload did not finish in {JVM_TIMEOUT_S} s; see {log}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = stdout.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if p.returncode != 0 or not lines:
        sys.exit(f"perfbench: workload exited with {p.returncode}; see {log}")
    result = json.loads(lines[-1])

    if index_store_state() != guard0:
        info("the IndexStore cache changed during the run")
        result["correct"] = False
    nproc = os.cpu_count()
    info(f"box: nproc {nproc}, Spark {spark_version}, task slots {min(4, nproc)}, "
         f"load average {load0} at start, {loadavg()} at end")
    saved = os.path.join(OUT, "results", f"{a.workload}-{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(saved), exist_ok=True)
    with open(saved, "w") as f:
        json.dump(result, f)
    if a.trace:
        plain = saved.replace("-trace1.json", "-trace0.json")
        if os.path.isfile(plain):
            base = json.load(open(plain))["metrics"]["wall_s"]["value"]
            traced = result["metrics"]["trace.wall_s"]["value"]
            info(f"tracing overhead on wall_s: {traced - base:+.4f} s "
                 f"({(traced - base) / base:+.1%} of the untraced run, same seed)")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
