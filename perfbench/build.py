"""Build file of the benchmark: compiles the library's main sources
(src/main/scala) together with the benchmark's own sources
(perfbench/src) into .bench_build/graftbench/classes with the Scala
compiler that ships among the Spark jars — the same jars the repository's
build.sbt compiles against. A stamp of every source's content skips the
compile when nothing changed.

    python3 perfbench/build.py          # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
SRC_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def sources():
    out = []
    for d in SRC_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d} "
                             "(run from the repository root)")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.path.join(spark_jars(), "*") + os.pathsep + CLASSES


def build(log=sys.stderr):
    """Compile if the sources changed; returns the source digest."""
    files = sources()
    d = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == d:
        return d
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    print(f"build: compiling {len(files)} sources", file=log)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("build: compile failed")
    with open(STAMP, "w") as fh:
        fh.write(d)
    return d


if __name__ == "__main__":
    print(build())
