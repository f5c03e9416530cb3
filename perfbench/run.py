#!/usr/bin/env python3
"""Sync-engine benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jars
directory, into .bench_build/ (reused while the sources are unchanged), then
runs one workload in a fresh JVM. Prints an info line and, as the last line,
the JSON result. Exits non-zero without a result when the engine's sources,
Spark or the build are missing, or when the run fails or times out.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
WORKLOADS = ("webhook_catchup", "webhook_live")
RUN_TIMEOUT_S = 170
# no -Xms and no pre-touch: on a box that faults pages slowly, a small heap
# that reuses its pages starts and runs faster than a large committed one
HEAP = "1536m"

# Spark 4 on JDK 17 outside spark-submit (see the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        die("Spark not found (set SPARK_HOME)")
    if not any(f.startswith("scala-compiler") for f in os.listdir(jars)):
        die(f"no Scala compiler in {jars}")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(HERE, "src")
    found = []
    for base in (engine, bench):
        for d, _, fs in os.walk(base):
            found += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    if not any(p.startswith(engine + os.sep) for p in found):
        die(f"engine sources not found under {engine}")
    return sorted(found)


def build(jars):
    srcs = sources()
    h = hashlib.sha1()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return stamp
    os.makedirs(BUILD, exist_ok=True)
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", staging, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        die("compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return stamp


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    stamp = build(jars)

    tag = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    logs = os.path.join(BUILD, "logs")
    traces = os.path.join(BUILD, "traces")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    out = os.path.join(work, "result.json")
    log_path = os.path.join(logs, f"{a.workload}-{a.seed}-{a.trace}.log")
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-XX:+UseG1GC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            f"-Dperfbench.source={stamp}", f"-Dperfbench.git={git_sha()}",
            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out,
            "--trace-out", os.path.join(traces, f"{a.workload}-{a.seed}.json") if a.trace else ""])
    rc = 1
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
                rc = proc.returncode
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                die(f"run exceeded {RUN_TIMEOUT_S}s (log: {log_path})")
        if rc != 0 or not os.path.exists(out):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            die(f"run failed with exit code {rc} (log: {log_path})")
        result = json.loads(open(out).read())
        info = next((json.loads(l)["info"] for l in stdout.splitlines()
                     if l.startswith('{"info"')), {})
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # tracing overhead: this traced run's end-to-end figures minus the last
    # untraced run of the same workload in this checkout
    last = os.path.join(BUILD, f"last_untraced_{a.workload}.json")
    if a.trace == 0:
        with open(last, "w") as f:
            json.dump(result["metrics"], f)
    elif os.path.exists(last) and "traced_end_to_end" in info:
        base = json.load(open(last))
        info["tracing_overhead"] = {
            k: v["value"] - base[k]["value"]
            for k, v in info["traced_end_to_end"].items() if k in base}
    print(json.dumps({"info": info}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
