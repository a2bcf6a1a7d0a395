#!/usr/bin/env python3
"""Build the benchmark and run one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds: sbt compiles the engine's sources
together with the benchmark's (perfbench/build.sbt) into one jar, then a
short training run of two workloads records a class-data-sharing archive
so that later JVMs start without re-loading Spark's classes one by one.
Build outputs live in .bench_build/ and are rebuilt when any source changes
or the archive is missing; a training run that writes no archive fails the
build, so that every run starts the same way.

The last line of standard output is the JSON result; everything else goes
to standard error. Exits non-zero, printing no result, when the engine's
sources are missing, the build fails, the run fails or the result does not
name exactly the metrics BENCHMARK.json lists.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(BUILD, "stamp")
CLASSPATH = os.path.join(BUILD, "classpath")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit, as in build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE, os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(classpath, extra):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        "-Xmx3g", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=error:stderr",
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        "-cp", classpath,
    ] + extra + ["perfbench.Main"]


def run_java(cmd, args, timeout):
    """Runs the JVM, forwarding its stderr; returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd + args, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        log(f"timed out after {timeout} s")
        return 1, ""
    return proc.returncode, out


def build():
    digest = sources_digest()
    if os.path.exists(STAMP) and os.path.exists(ARCHIVE) and open(STAMP).read() == digest:
        return open(CLASSPATH).read()
    log("building")
    os.makedirs(BUILD, exist_ok=True)
    for f in (STAMP, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Keeps sbt's JVMs, including the launcher's version probe, out of /tmp.
    env = dict(os.environ,
               SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -Dsbt.server.autostart=false",
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    sbt = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package", "writeClasspath"],
                         cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if sbt.returncode != 0:
        raise SystemExit("sbt build failed")
    jars = [os.path.join(BENCH, "target", "scala-2.13", n)
            for n in os.listdir(os.path.join(BENCH, "target", "scala-2.13")) if n.endswith(".jar")]
    deps = open(os.path.join(BENCH, "target", "classpath.txt")).read().split(os.pathsep)
    # Class-data sharing archives classes from jars only, so the compiled
    # classes enter the classpath as the packaged jar.
    classpath = os.pathsep.join(jars + [d for d in deps if d.endswith(".jar")])
    with open(CLASSPATH, "w") as f:
        f.write(classpath)
    log("recording the class-data-sharing archive")
    code, _ = run_java(java_cmd(classpath, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]),
                       ["--train", "1", "--seed", "0", "--seconds", "1"], 600)
    if code != 0:
        raise SystemExit("training run failed")
    # Every run starts from the archive, so that set-up time is always
    # measured the same way.
    if not os.path.exists(ARCHIVE):
        raise SystemExit("the training run wrote no class-data-sharing archive")
    with open(STAMP, "w") as f:
        f.write(digest)
    return classpath


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = p.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    if a.workload not in workloads:
        raise SystemExit(f"unknown workload {a.workload}; one of {', '.join(workloads)}")
    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE}")

    classpath = build()
    code, out = run_java(java_cmd(classpath, [f"-XX:SharedArchiveFile={ARCHIVE}"]),
                         ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace)], RUN_TIMEOUT_S)
    lines = out.strip().splitlines()
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if code != 0 or not lines:
        raise SystemExit(f"benchmark exited with {code}")
    result = json.loads(lines[-1])
    wanted = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if set(result["metrics"]) != wanted:
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(set(result['metrics']) ^ wanted)}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
