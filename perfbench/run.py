#!/usr/bin/env python3
"""Paper-pipeline benchmark for graft (see perfbench/README.md).

    python3 perfbench/run.py --workload wiki-4k --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program from source when needed
(perfbench/build.py), then runs one benchmark JVM. Its report lines go to
stdout, prefixed "[perfbench]", and the last stdout line is the JSON result.
Spark's log goes to .bench_build/perfbench/logs/, a traced run's spans to
.bench_build/perfbench/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["wiki-4k", "links-10k"]
# One Spark task thread, so that the JIT's compiler threads (busy with Spark's
# generated code through every run) do not compete with the measured work
# for the host's four virtual CPUs (see README.md, "Why one Spark thread").
CORES = 1
JVM_TIMEOUT_S = 170
# Spark on JDK 17 needs these opens outside spark-submit; build.sbt passes
# the same list to the JVMs it forks.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classes = build.build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(build.OUT, "work", tag)
    logs = os.path.join(build.OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(os.path.join(build.OUT, "traces"), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "spark-local"))
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_MASTER", "SPARK_CONF_DIR")}
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xms1536m", "-Xmx1536m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    log_path = os.path.join(logs, tag + ".log")
    proc = None

    def stop(signum, _frame):
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                sys.exit(f"perfbench: the run exceeded {JVM_TIMEOUT_S} s; log in {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        sys.stdout.write(out)
        sys.exit(f"perfbench: the benchmark JVM failed (exit {proc.returncode}); log in {log_path}")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
