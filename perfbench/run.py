"""Workload benchmark for the follower graph and the nightly pipeline.

Run from the repo root:

    python3 perfbench/run.py --workload follower_patterns --seed 1 --seconds 20 --trace 0

Builds the library and the benchmark (perfbench/build.py), then runs one
workload in one JVM (graft.perfbench.Main). Workloads: follower_patterns,
follower_rank, nightly_ingest. The last stdout line is a JSON object with
`correct`, `attempted`, `failed` and `metrics`; the exit code is non-zero
when a call or an output check failed. Everything the run writes stays
under the build directory (.bench_build by default); the run's own
working directory is removed when it ends. With --trace 1 the span trace
is kept as .bench_build/traces/<workload>-seed<n>.json.
"""

import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TIMEOUT_S = 170


def launch(main_class, args):
    """Runs main_class in a JVM with a private working directory; relays
    its stdout and returns its exit code."""
    cp = build.build()
    work = os.path.join(build.build_dir(), f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and the throughput collector: warm passes spread less
    # between runs than with G1's resizing and concurrent threads
    cmd = ["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xss16m",
           f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.work={work}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), main_class] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    timer = threading.Timer(TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
    timer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        code = proc.wait()
        if not timer.is_alive():
            print(f"perfbench: {main_class} exceeded {TIMEOUT_S} s", file=sys.stderr)
            return 124
        return code
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def main():
    args = sys.argv[1:]
    if len(args) != 8:
        print("usage: run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>", file=sys.stderr)
        return 2
    return launch("graft.perfbench.Main", args)


if __name__ == "__main__":
    sys.exit(main())
