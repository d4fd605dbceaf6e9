"""Build file of the benchmark: compiles the engine sources and the
benchmark's JVM side into one class directory.

The Scala compiler used is the one in the Spark distribution's jar
directory ($SPARK_HOME/jars), the same jars the engine runs on, so the
build needs neither sbt nor a network. A stamp of the source contents
skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise RuntimeError("SPARK_HOME must point at a Spark distribution")
    return os.path.join(home, "jars")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise RuntimeError("no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
         "@" + args_file],
        # scalac's default user classpath is ".": run it inside the empty
        # output directory so nothing from the caller's cwd leaks in
        cwd=classes, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise RuntimeError("compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
