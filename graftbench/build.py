"""Compile graft's main sources together with the benchmark's own sources.

The Scala compiler is the one shipped in the Spark distribution's jars, so a
build needs only a JDK and SPARK_HOME. Classes land in
`.bench_build/graftbench/<digest>/classes` under the repository root; a
finished build is reused for as long as the digest of the sources it was
compiled from is unchanged.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "scala")
OUT_BASE = os.path.join(ROOT, ".bench_build", "graftbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:  # fall back to the distribution that owns spark-submit
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("graftbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def scala_sources():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise SystemExit(f"graftbench: graft sources not found under {GRAFT_SRC}")
    files = []
    for base in (GRAFT_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()


def build():
    """Returns (classes_dir, spark_jars_dir, source_digest), compiling if needed."""
    jars = spark_jars()
    files = scala_sources()
    digest = source_digest(files)
    out = os.path.join(OUT_BASE, digest[:16])
    classes = os.path.join(out, "classes")
    if os.path.isfile(os.path.join(out, "ok")):
        return classes, jars, digest
    if os.path.isdir(OUT_BASE):  # builds of other source trees are stale
        for name in os.listdir(OUT_BASE):
            if name != "runs":
                shutil.rmtree(os.path.join(OUT_BASE, name), ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-classpath", cp, "-d", tmp,
           "@" + argfile]
    print(f"graftbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"graftbench: compile failed (exit {r.returncode})")
    os.replace(tmp, classes)
    open(os.path.join(out, "ok"), "w").close()
    return classes, jars, digest


if __name__ == "__main__":
    print(build()[0])
