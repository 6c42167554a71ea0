#!/usr/bin/env python3
"""Run one benchmark measurement from the root of a source checkout.

    python3 perfbench/run.py --workload serve|board --seed N --seconds S --trace 0|1

Builds the engine together with the benchmark (perfbench/build.sbt) on first
use, caching the classpath under perfbench/target keyed by a hash of every
source, then runs one JVM (perfbench.Main) and prints its result as the last
line of stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones (0 for a layer the workload bypasses). Everything it writes
stays inside the checkout: perfbench/target and .perfbench_runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

RUN_LIMIT_S = 165  # one measurement must end within 180 s (a build comes on top)
ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
TARGET = os.path.join(BENCH, "target")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile once per source state; return the runtime classpath."""
    key = source_hash()
    cp_file = os.path.join(TARGET, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g",
        f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}",
        "-Dsbt.server.forcestart=false"])
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850, stdin=subprocess.DEVNULL)
    lines = [ln for ln in proc.stdout.splitlines()
             if os.pathsep in ln and ".jar" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "board"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail("no engine sources (src/main/scala) in this directory")
    e2e, layer = declared_metrics()
    cp = build()

    out = os.path.join(ROOT, ".perfbench_runs",
                       f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    # a fixed heap and metaspace: no full collection (a 150-200 ms pause
    # that stalls the load generator too) in the timed phase
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:MetaspaceSize=256m", "-XX:+UseParallelGC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--bench-dir", BENCH, "--out", out])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run timed out")
    finally:
        # keep the result and detail; drop what the engine wrote
        for name in os.listdir(out):
            if name not in ("result.json", "detail.json"):
                shutil.rmtree(os.path.join(out, name), ignore_errors=True)
    result_file = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_file):
        fail(f"benchmark JVM exited with {code}")
    with open(result_file) as fh:
        res = json.load(fh)
    got = res["metrics"]
    metrics = {}
    if args.trace == 0:
        for m in e2e:
            if m["name"] not in got:
                fail(f"metric {m['name']} missing")
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
    else:
        for m in layer:
            v = got.get(m["name"], {"value": 0.0})["value"]
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
