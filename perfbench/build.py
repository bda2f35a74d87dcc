#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark harness (perfbench/src) into one class directory with the
Scala compiler that ships in Spark's jar directory. No sbt, no network.

The output is reused while the sources are unchanged (content hash).

Usage: python3 perfbench/build.py [<repo root>]   (prints the class dir)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _read(path, mode="r"):
    with open(path, mode) as f:
        return f.read()


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the one the repo's
    sbt build declares as its unmanaged base."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _read(sbt))
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(dirs[0]):
        raise SystemExit(f"perfbench: engine sources not found under {root}/src")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Compile if needed; returns the class directory."""
    build_dir = os.path.join(root, ".bench_build")
    classes = os.path.join(build_dir, "classes")
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + [os.path.join(HERE, "build.py")]:
        h.update(os.path.relpath(p, root).encode())
        h.update(_read(p, "rb"))
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and \
            _read(stamp) == h.hexdigest():
        return classes
    os.makedirs(build_dir, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir}", "-Xmx2g",
           "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    root = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.getcwd())
    print(build(root))
