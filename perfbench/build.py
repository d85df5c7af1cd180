"""Build file of the workload benchmark.

Compiles the library's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that
ships among the Spark distribution's jars -- the same jar directory the
repo's build.sbt compiles against. Classes go to
<build dir>/perfbench/<hash of the sources>/classes; a build whose hash
already exists is reused.

    python3 perfbench/build.py     # prints the runtime classpath
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise SystemExit(f"perfbench: no scala-compiler jar under {home}/jars")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(ROOT, d)):
            raise SystemExit(f"perfbench: source directory {d} is missing; run from the repo root")
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles if needed; returns the runtime classpath as a list."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + jars:
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    out = os.path.join(build_dir(), "perfbench", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(classes)
        cp = os.pathsep.join(jars)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs))
        print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
        r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile])
        if r.returncode != 0:
            raise SystemExit(f"perfbench: compile failed ({r.returncode})")
        open(os.path.join(out, "ok"), "w").close()
    return [classes] + jars


if __name__ == "__main__":
    print(os.pathsep.join(build()))
