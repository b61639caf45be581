"""Build file of the benchmark: compiles the engine (src/main/scala of
the checkout) together with the benchmark driver (perfbench/src) into
one class directory, using the Scala compiler that ships with the Spark
jars. A stamp of the sources skips the rebuild when nothing changed.

Usage: python3 perfbench/build.py   (from the checkout root)
Prints the class directory. The output goes to $CARGO_TARGET_DIR
(default .bench_build) under the checkout.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys


def root():
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """The Spark jar directory the engine compiles against: build.sbt's
    unmanagedBase."""
    with open(os.path.join(root(), "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m is None:
        raise SystemExit("build: build.sbt names no unmanagedBase directory")
    return m.group(1)


def target_dir():
    t = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return t if os.path.isabs(t) else os.path.join(root(), t)


def sources():
    dirs = [os.path.join(root(), "src", "main", "scala"),
            os.path.join(root(), "perfbench", "src")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256(spark_jars().encode())
    for f in files:
        h.update(os.path.relpath(f, root()).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns the class directory, compiling first if needed."""
    files = sources()
    classes = os.path.join(target_dir(), "classes")
    stamp_file = os.path.join(target_dir(), "classes.stamp")
    want = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    os.makedirs(target_dir(), exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    log = os.path.join(target_dir(), "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(
            ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", cp] + files,
            stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"build: scalac failed ({rc}), see {log}")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    print(build())
