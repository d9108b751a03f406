#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's main sources
(src/main/scala) together with the harness (perfbench/src) into
.bench_build/bench.jar with the Scala compiler that ships in Spark's jars
directory. A stamp of every source's content skips the compile when nothing
changed.

The jar (not a class directory) is what lets run.py keep a class-data-sharing
archive of the loaded classes: a cold Spark JVM on a small machine otherwise
spends most of its first twenty seconds loading classes, in every run.

Usage: build.py [checkout-root]   (prints the jar path)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: Spark jars with a Scala compiler not found "
                         "(set SPARK_HOME)")
    return jars


def sources(root):
    prog = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(prog, "graft")):
        raise SystemExit(f"perfbench: program sources not found under {prog}")
    files = []
    for base in (prog, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build(root):
    jars = spark_jars()
    files = sources(root)
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, ".bench_build", "classes")
    jar = os.path.join(root, ".bench_build", "bench.jar")
    stamp = os.path.join(root, ".bench_build", "bench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return jar, jars
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(root, ".bench_build", "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", out, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for d, _, fs in os.walk(out):
            for f in fs:
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), out))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(out)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return jar, jars


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                                os.path.join(HERE, "..")))[0])
