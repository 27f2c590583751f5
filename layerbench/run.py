#!/usr/bin/env python3
"""Layered benchmark of the graft engine: one command per workload run.

    python3 layerbench/run.py --workload el_flat --seed 1 --seconds 10 --trace 0

Builds the benchmark program (layerbench/build.sbt, which compiles the
repository's src/main/scala next to the benchmark's own sources) when
any source changed, runs one workload in one Spark process (local[N],
N = usable cores, shuffle partitions = N), checks the outputs, and
prints one JSON object as the last line of stdout:

    {"correct": true, "attempted": 40, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end-to-end metrics;
with --trace 1 its per-layer metrics, from a traced run. The full
record of the run (every metric of the workload, inputs with digests,
every op, spans op -> job -> stage, checks, per-query counters) is
written to layerbench/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("el_flat", "el_drift", "serve_mix")
JVM_TIMEOUT_S = 165
HEAP = "3g"
ARCHIVE = os.path.join(BENCH, "target", "layerbench.jsa")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_stamp():
    """Digest of every file the build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (PROGRAM, os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(home):
    """Compile when a source changed; returns the program's jar."""
    target = os.path.join(BENCH, "target")
    jar = os.path.join(target, "layerbench.jar")
    stamp_file = os.path.join(target, "layerbench.stamp")
    stamp = source_stamp()
    if os.path.exists(jar) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    tmp = os.path.join(target, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(target, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    # one jar, not a directory: the JVM shares classes from jars only
    for stale in (jar, ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    subprocess.run(["jar", "cf", jar, "-C", os.path.join(target, "scala-2.13", "classes"), "."],
                   check=True, stdin=subprocess.DEVNULL, timeout=120)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java(home, jar, workload, args, work, raw, jvm_opts):
    """Run the program in one JVM; returns its exit code ("timeout" if
    it had to be killed). Its output goes to <work>/program.log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:+UseParallelGC"]
    cmd += jvm_opts
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", jar + os.pathsep + os.path.join(home, "jars", "*"),
            "layerbench.Main", "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores()),
            "--work", work, "--out", raw]
    with open(os.path.join(work, "program.log"), "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return "timeout"


def class_archive(home, jar, args):
    """JVM options that share the classes a JVM loads to start a Spark
    session from an archive (class-data sharing), made once per build by
    a JVM that only starts a session. Start-up takes ≈3 s instead of
    ≈6.5 s. The archive holds only classes every run loads before its
    clocks start, so no timed phase changes."""
    if not os.path.exists(ARCHIVE):
        work = os.path.join(BENCH, "work", "archive")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        rc = java(home, jar, "session", args, work, os.path.join(work, "raw.json"),
                  [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0 and os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
    return [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM, ROOT)}")
    t0 = time.time()
    home = spark_home()
    jar = build(home)
    jvm_opts = class_archive(home, jar, args)
    work = os.path.join(BENCH, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    t1 = time.time()
    rc = java(home, jar, args.workload, args, work, raw_path, jvm_opts)
    if rc != 0 or not os.path.exists(raw_path):
        log = os.path.join(work, "program.log")
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"benchmark program failed ({rc}); log in {log}")
    t2 = time.time()
    with open(raw_path) as fh:
        raw = json.load(fh)

    oracle = metrics.oracle_checks(raw) if args.workload == "serve_mix" else []
    report = metrics.report(raw, oracle)
    report["cores"] = cores()
    report["program_s"] = t2 - t1
    report["oracle_s"] = time.time() - t2
    report["wall_s"] = time.time() - t0
    out_dir = os.path.join(BENCH, "results")
    os.makedirs(out_dir, exist_ok=True)
    artifact = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(artifact, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    names = metrics.metric_names(args.trace)
    missing = sorted(set(names) - set(report["metrics"]))
    if missing:
        fail(f"metrics not measured: {', '.join(missing)}; record in {artifact}")
    result = {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": report["metrics"][k], "unit": names[k]} for k in names},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
