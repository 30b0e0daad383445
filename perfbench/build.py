"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into `.bench_build/classes`, with the Scala compiler that ships among
Spark's jars (`$SPARK_HOME/jars`, the same Scala 2.13 the program's
build pins). A build is reused while no source file changes.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("SPARK_HOME must point at a Spark 4 installation")
    return os.path.join(home, "jars")


def sources(root):
    found = []
    for d in ("src/main/scala", "perfbench/src"):
        found += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    if not any("/src/main/scala/" in f for f in found):
        raise SystemExit("no program sources under src/main/scala")
    return sorted(found)


def build(root="."):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD, "classes")
    stamp_file = os.path.join(root, BUILD, "classes.stamp")
    classpath = out + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(root, BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13.*.jar"))[0]
                for m in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"compilation failed ({r.returncode})")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
