"""Build file of the benchmark: compiles the engine's main sources and the
benchmark driver (perfbench/src) with the Scala compiler that ships in the
Spark distribution at $SPARK_HOME, into `.bench_build/classes` of the checkout.

The build is skipped when the sources are unchanged (content hash).

Usage: python3 perfbench/build.py   (from the checkout root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

OUT = ".bench_build/classes"


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME (they include the
    Scala compiler the build uses)."""
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise FileNotFoundError("SPARK_HOME must point at a Spark distribution")
    return os.path.join(home, "jars")


def sources():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        raise FileNotFoundError("no engine sources under src/main/scala")
    return srcs + sorted(glob.glob("perfbench/src/*.scala"))


def build():
    """Compile if needed; return the driver classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = f"{OUT}.stamp"
    cp = f"{os.path.abspath(OUT)}:{spark_jars()}/*"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    tmp = f"{OUT}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=600)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("scalac failed")
    shutil.rmtree(OUT, ignore_errors=True)
    os.rename(tmp, OUT)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
