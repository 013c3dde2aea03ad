#!/usr/bin/env python3
"""graftbench: seeded end-to-end and per-layer benchmark of graft.

    python3 graftbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Builds graft from source (see build.py), then runs the chosen workload in one
JVM on local[nproc]. Every stdout line is a standalone JSON object; the last
one is the result: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. Run records, spans and the JVM log go to a per-run directory under
.bench_build/graftbench/runs. See README.md for the metrics.
"""
import argparse
import datetime
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("search_interactive", "curate_batch", "ingest_maintain")
HEAP = "3g"
# a run must finish within 180 s; the JVM gets what is left after the build
RUN_BUDGET_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_rev():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return ""
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    # a TERM unwinds like an exception, so the compiler or JVM is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()
    classes, jars, digest = build.build()
    build_s = time.monotonic() - t_start

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    run_dir = os.path.join(build.OUT_BASE, "runs",
                           f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}")
    work = os.path.join(run_dir, "work")
    os.makedirs(work, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))

    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m"]
    cmd += [f for p in JDK17_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [
        f"-Djava.io.tmpdir={work}",
        "-Dlog4j2.configurationFile=" +
        os.path.join(build.BENCH_DIR, "log4j2.properties"),
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", repr(args.seconds), "--trace", str(args.trace),
        "--out", run_dir, "--work", work, "--nproc", str(nproc),
        "--git-rev", git_rev(), "--source-sha256", digest,
        "--build-s", f"{build_s:.3f}",
    ]
    # a build that ran here has used the first run's larger allowance
    budget = RUN_BUDGET_S - (0 if build_s > 5 else build_s)
    proc = None
    timer = None
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            # Spark would put its scratch space in these instead of spark.local.dir
            env = {k: v for k, v in os.environ.items()
                   if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
            proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                                    stderr=log, text=True, env=env)
            timer = threading.Timer(budget, proc.kill)
            timer.start()
            for line in proc.stdout:
                sys.stdout.write(line)
                sys.stdout.flush()
            proc.wait()
    finally:
        if timer is not None:
            timer.cancel()
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    code = proc.returncode
    if code != 0:
        print(f"graftbench: JVM exited with {code}; log: {run_dir}/jvm.log",
              file=sys.stderr)
        try:
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
        except OSError:
            pass
    sys.exit(code)


if __name__ == "__main__":
    main()
