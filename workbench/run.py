#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 workbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--smoke] [--record-digests]

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (offline) and generates the fixture;
both are cached under .bench_build/ and rebuilt when a source changes.
The harness (workbench/src) then runs the workload in one JVM and this
script prints its result as the last stdout line:

    {"correct": true, "attempted": 13, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. --smoke runs the tiny sf0.001 fixture
with a handful of ops and one set-up. --record-digests (re)records the
catalog result digests into workbench/digests.json.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
SCALE = "0.01"
SMOKE_SCALE = "0.001"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"[run] {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    """Hash of every input of the build: program and harness sources and
    build definitions."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "workbench/build.sbt", "workbench/project/build.properties", "workbench/src"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """sbt-compile program + harness; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.json")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = sources_stamp()
        if os.path.exists(cp_file):
            with open(cp_file) as f:
                cached = json.load(f)
            if cached["stamp"] == stamp:
                return cached["classpath"]
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export workbench/Runtime/fullClasspath"],
            cwd="workbench", env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stdout[-4000:])
            fail("build failed")
        classpath = lines[-1].strip()
        with open(cp_file, "w") as f:
            json.dump({"stamp": stamp, "classpath": classpath}, f)
        print(f"[run] built in {time.time() - t0:.0f} s", file=sys.stderr)
        return classpath


def fixture(scale):
    """Generated once per checkout; the same for every seed."""
    out = os.path.join(BUILD, "data", f"sf{scale}")
    done = os.path.join(out, "_done")
    if not os.path.exists(done):
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), out, scale],
                       check=True)
        open(done, "w").close()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    args = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        fail("run from the root of a checkout of the program (build.sbt, src/main/scala)")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    classpath = build()
    scale = SMOKE_SCALE if args.smoke else SCALE
    data = fixture(scale)
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{args.trace}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-Duser.timezone=UTC", "-Dfile.encoding=UTF-8",
            "-Dsun.jnu.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}", "-Dhttp.keepAlive=false",
            "-cp", classpath, "workbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", os.path.join(work, "run"),
            "--digests", os.path.join(HERE, "digests.json")])
    if args.smoke:
        cmd += ["--smoke", "1"]
    if args.record_digests:
        cmd += ["--record", "1"]
    # Spark's scratch space stays inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "run", "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    results = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not results:
        fail(f"harness exited with {proc.returncode} and no result")
    result = json.loads(results[-1][len("RESULT "):])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != wanted:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(wanted))}", 3)
    trace = os.path.join(work, "run", f"trace-{args.workload}-{args.seed}.jsonl")
    if os.path.exists(trace):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.move(trace, os.path.join(BUILD, "traces", os.path.basename(trace)))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))


if __name__ == "__main__":
    main()
