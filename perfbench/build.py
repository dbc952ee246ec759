"""Builds the program and the benchmark's JVM driver from source.

Compiles `src/main/scala` (the program, unchanged) together with
`perfbench/scala` with the Scala compiler that ships in Spark's jars, into
`$CARGO_TARGET_DIR/classes` (default `.bench_build/classes`) under the
checkout root. A stamp of the sources' hash skips rebuilding unchanged code.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME's, else those beside the
    first spark-submit on the PATH that has a Scala compiler with them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("perfbench: no Spark install with a Scala compiler found (set SPARK_HOME)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/**/*.scala"), recursive=True))
    if not prog:
        sys.exit("perfbench: no program sources under %s/src/main/scala" % ROOT)
    return prog + bench


def build():
    """Returns the classpath entry holding the compiled classes."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = os.path.join(build_dir(), "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           # an explicit -classpath: scalac's default "." would read the
           # checkout's directories as packages
           "-usejavacp", "-classpath", out, "-nowarn", "-d", out, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: compile failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return out


if __name__ == "__main__":
    print(build())
