"""Build file of the benchmark: compiles graft's sources (src/main/scala
of the repository) together with the benchmark's own (graftbench/src)
into one classes directory, with the Scala compiler that ships among the
Spark jars. A build is keyed by a hash of every source file, so an
unchanged tree is compiled once.

    python3 graftbench/build.py [BUILD_DIR]
"""

import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def program_present():
    return os.path.isdir(PROGRAM_SRC) and os.path.isfile(os.path.join(ROOT, "build.sbt"))


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    repository's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("graftbench: no Spark jars (set SPARK_HOME)")
    return m.group(1)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def build(build_dir):
    """Returns the classes directory for the current sources, compiling
    it first if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    os.makedirs(build_dir, exist_ok=True)
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".complete")):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(build_dir, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        print(f"graftbench: compiling {len(srcs)} sources into {out}", file=sys.stderr)
        cmd = [java(), "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            raise SystemExit("graftbench: compilation failed")
        open(os.path.join(tmp, ".complete"), "w").close()
        os.rename(tmp, out)
        for old in os.listdir(build_dir):
            p = os.path.join(build_dir, old)
            if old.startswith("classes-") and p != out:
                shutil.rmtree(p, ignore_errors=True)
        return out


if __name__ == "__main__":
    if not program_present():
        sys.exit("graftbench: graft's sources are not next to the benchmark")
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, "out"))))
