#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`, the sources build.sbt compiles)
and the benchmark harness (`perfbench/src`) with the Scala compiler that
ships among the Spark jars, against those jars: the directory build.sbt
names as its `unmanagedBase`, or `$SPARK_HOME/jars` when build.sbt names
none. A build is skipped when the hash of every source it reads matches
the previous build's stamp.

    python3 perfbench/build.py            # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "out")


def spark_jars(root):
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def tree_hash(files):
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, os.path.dirname(HERE)).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def program_sources(root):
    return glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True)


def bench_sources():
    return glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)


def scalac(jars, sources, out, classpath):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    os.remove(argfile)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(root):
    """Compile what changed; return (classpath, program source hash)."""
    jar_dir = spark_jars(root)
    if not glob.glob(os.path.join(jar_dir, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jar_dir}")
    jars = os.path.join(jar_dir, "*")
    prog = program_sources(root)
    if not prog:
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    prog_hash = tree_hash(prog)
    bench_hash = tree_hash(bench_sources())
    prog_out = os.path.join(OUT, "classes", "program")
    bench_out = os.path.join(OUT, "classes", "bench")
    stamp = os.path.join(OUT, "classes", "stamp")
    want = f"{prog_hash} {bench_hash}"
    have = open(stamp).read() if os.path.exists(stamp) else ""
    if have.split(" ")[:1] != [prog_hash] or not os.path.isdir(prog_out):
        scalac(jar_dir, prog, prog_out, jars)
        have = ""
    if have != want or not os.path.isdir(bench_out):
        scalac(jar_dir, bench_sources(), bench_out, os.pathsep.join([prog_out, jars]))
        with open(stamp, "w") as fh:
            fh.write(want)
    return os.pathsep.join([bench_out, prog_out, jars]), prog_hash


if __name__ == "__main__":
    print(build(os.getcwd())[0])
