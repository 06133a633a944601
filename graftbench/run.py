"""Run one graft benchmark workload and print its result as the last line.

    python3 graftbench/run.py --workload backfill|live_tail|curation \
        --seed N --seconds S --trace 0|1 [--scale full|tiny]

Run from the root of a checkout: builds the program and the harness
(graftbench/build.py), starts one JVM driving Spark local[nproc], and prints
{"correct", "attempted", "failed", "metrics"} as the last stdout line.
Everything the run writes stays under .bench_build/ and is removed after,
apart from the build, the curation digests and the span trace.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("backfill", "live_tail", "curation")
TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as the repo's build.sbt)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--scale", default="full", choices=("full", "tiny"))
    a = p.parse_args()

    root = os.getcwd()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        print(f"[graftbench] build error: {e}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".bench_build", "graftbench")
    work = os.path.join(base, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    out = os.path.join(work, "result.json")
    digests = os.path.join(os.path.dirname(classpath[0]), "digests")
    cmd = ["java"] + [x for o in OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                     "log4j2.properties"),
        "-cp", os.pathsep.join(classpath), "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--scale", a.scale, "--work", work, "--out", out,
        "--digests", digests,
        "--spans", os.path.join(base, "traces", f"{a.workload}-{a.seed}-t{a.trace}.jsonl")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=root, env=env)
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[graftbench] run exceeded {TIMEOUT_S} s", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 3
    result = None
    if rc == 0 and os.path.exists(out):
        with open(out) as f:
            result = f.read().strip()
    shutil.rmtree(work, ignore_errors=True)
    if not result:
        print(f"[graftbench] run failed (exit {rc})", file=sys.stderr)
        return rc or 1
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
