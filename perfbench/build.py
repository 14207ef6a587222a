"""Build file of the benchmark package: compiles the engine's main sources
(`src/main/scala`) together with the harness (`perfbench/src`) with the
Scala compiler that ships with Spark, into `perfbench/.build/<hash>/`.
The hash covers every source file, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The Spark distribution's jars: the engine's only dependencies."""
    d = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        raise SystemExit("perfbench: no Spark jars; set SPARK_HOME to a Spark 4 distribution")
    return d


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return engine + bench


def classpath(jars):
    return os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))


def build():
    """Return the compiled class directory, compiling if needed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(HERE, ".build", key)
    if os.path.isdir(out):
        return out, key
    jars = spark_jars()
    base = os.path.join(HERE, ".build")
    shutil.rmtree(base, ignore_errors=True)  # older trees are never reused
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={base}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath(jars),
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    os.rename(tmp, out)
    return out, key


if __name__ == "__main__":
    print(build()[0])
