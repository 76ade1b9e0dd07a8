#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/scala`)
with the Scala compiler that ships among Spark's jars, the same compiler
and class path the project's sbt build uses.

    python3 perfbench/build.py            # prints the classes directory

Output goes to `$CARGO_TARGET_DIR` (default `.bench_build`) under the
checkout; a stamp of every source's content skips unchanged rebuilds.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark jars, which include the Scala compiler: `$SPARK_HOME/jars`,
    else those of the first `spark-submit` on the PATH that has them."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("no Spark jars with a Scala compiler: set SPARK_HOME")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"program sources not found: {main}")
    return (sorted(glob.glob(os.path.join(main, "**", "*.scala"),
                             recursive=True))
            + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala"))))


def ensure(root):
    """Compile if any source changed; return the classes directory."""
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(out, "classes")
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4", "-classpath", jars,
           "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compilation failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(ensure(os.getcwd()))
