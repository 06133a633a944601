"""Build file of the graft benchmark.

Compiles the program (src/main/scala, the tree the repo's own build.sbt
compiles) and the benchmark harness (graftbench/harness) with the Scala
compiler that ships in Spark's jar directory, into
.bench_build/graftbench/<source hash>/. A build whose sources are unchanged
is reused.

    python3 graftbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for c in candidates:
        if os.path.isdir(c) and any(n.startswith("scala-compiler") for n in os.listdir(c)):
            return os.path.realpath(c)
    raise BuildError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources(root, sub, ext=".scala"):
    out = []
    for d, _, files in os.walk(os.path.join(root, sub)):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return sorted(out)


def build(root, log=sys.stderr):
    """Compile if needed; returns the runtime classpath entries."""
    program = sources(root, os.path.join("src", "main", "scala"))
    if not os.path.isfile(os.path.join(root, "build.sbt")) or not program:
        raise BuildError("no graft program here: build.sbt and src/main/scala are missing")
    harness = sources(root, os.path.join("graftbench", "harness"))
    if not harness:
        raise BuildError("graftbench/harness holds no sources")
    jars = spark_jars()
    h = hashlib.sha256()
    for path in program + harness:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(root, ".bench_build", "graftbench", h.hexdigest()[:16])
    prog_out, harn_out = os.path.join(out, "program"), os.path.join(out, "harness")
    resources = os.path.join(root, "src", "main", "resources")
    classpath = [prog_out, harn_out] + ([resources] if os.path.isdir(resources) else [])
    classpath.append(os.path.join(jars, "*"))
    if os.path.exists(os.path.join(out, "ok")):
        return classpath
    shutil.rmtree(out, ignore_errors=True)
    for dest, srcs, extra in ((prog_out, program, []), (harn_out, harness, [prog_out])):
        os.makedirs(dest)
        argfile = dest + ".args"
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        print(f"[graftbench] compiling {len(srcs)} files into {os.path.relpath(dest, root)}",
              file=log, flush=True)
        cp = os.pathsep.join([os.path.join(jars, "*")] + extra)
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                            "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest,
                            "@" + argfile],
                           stdout=log, stderr=log)
        if r.returncode != 0:
            raise BuildError(f"compile failed ({r.returncode}) for {dest}")
    open(os.path.join(out, "ok"), "w").close()
    return classpath


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build(os.getcwd())))
    except BuildError as e:
        print(f"[graftbench] build error: {e}", file=sys.stderr)
        sys.exit(2)
