#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as JSON.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the classpath in .bench_build/;
later runs start the JVM directly. The last line of standard output is
the result: {"correct", "attempted", "failed", "metrics"}. Exits non-zero,
without a result, if the build or the run fails, and with code 1 (after
printing the result) if any output check failed.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(BUILD, "perfbench.json")
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, relative to the root."""
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"]
    out = []
    for r in roots:
        p = os.path.join(ROOT, r)
        if os.path.isfile(p):
            out.append(r)
        for d, _, fs in os.walk(p):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    """Offline sbt, with the repositories file the toolchain was set up
    with, and its temporary files kept in the build directory."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if not opts:
        opts = "-Dsbt.offline=true -Xmx2g"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}"
    return env


def classpath(deadline):
    """Build if the sources changed since the cached build; return the
    runtime classpath and whether this call built."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = fingerprint()
        if os.path.isfile(STAMP):
            with open(STAMP) as f:
                stamp = json.load(f)
            if stamp.get("fingerprint") == fp:
                return stamp["classpath"], False
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
        try:
            r = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, text=True, timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("build timed out")
        lines = [l.strip() for l in r.stdout.splitlines() if l.strip()]
        cp = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
        if r.returncode != 0 or not cp:
            sys.stderr.write(r.stdout[-5000:])
            fail("build failed")
        with open(STAMP, "w") as f:
            json.dump({"fingerprint": fp, "classpath": cp[-1]}, f)
        return cp[-1], True


def cpus():
    """Spark's task slots: one core fewer than the process may use, so the
    driver thread, the JIT and the collector do not wait for a core."""
    return max(1, min(4, len(os.sched_getaffinity(0)) - 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--dump-oracle", help="write the panel gates' oracle SQL as JSON and exit")
    a = ap.parse_args()
    start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found under src/main/scala/graft")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if a.dump_oracle is None and a.workload not in names:
        fail(f"unknown workload {a.workload!r}; expected one of {names}")

    cp, built = classpath(start + FIRST_RUN_LIMIT_S - 60)
    deadline = start + (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S)
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = ["java", "-Xms2g", "-Xmx3g", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=256m"]
    java += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    java += [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
             "-Duser.timezone=UTC", "-cp", cp, "graftbench.Main",
             "--cpus", str(cpus()), "--work", work,
             "--data", os.path.join(HERE, "data", "tpch"),
             "--expected", os.path.join(HERE, "expected", "panel.json"),
             "--launch-ms", str(int(time.time() * 1000))]
    if a.dump_oracle:
        java += ["--dump-oracle", os.path.abspath(a.dump_oracle)]
    else:
        java += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(java, cwd=ROOT, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.dump_oracle:
        sys.exit(proc.returncode)

    lines = [l for l in out.splitlines() if l.strip()]
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"no result (exit code {proc.returncode})")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    got = {n: m.get("unit") for n, m in result.get("metrics", {}).items()}
    if got != want:
        fail(f"metrics {sorted(set(got.items()) ^ set(want.items()))} differ from BENCHMARK.json", 3)
    if proc.returncode not in (0, 1):
        fail(f"run exited with code {proc.returncode}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
