#!/usr/bin/env python3
"""Build file of the benchmark: compiles the graft library from the checkout's
source tree (src/main/scala, plus src/main/resources on the classpath)
together with the harness in perfbench/src, with the Scala compiler that
ships in Spark's jar directory. No sbt, no network.

Output goes to .bench_build/ at the checkout root. A stamp of every input
file's content skips the compile when nothing changed.

    python3 perfbench/build.py        # build if needed, print the classes dir
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory beside the first spark-submit
    on PATH that has one."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.realpath(os.path.join(d, "spark-submit"))
        jars = os.path.join(os.path.dirname(os.path.dirname(exe)), "jars")
        if os.path.isfile(exe) and os.path.isdir(jars):
            return jars
    return "jars"


def _files(top, suffix=None):
    out = []
    for dirpath, _, names in os.walk(top):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(dirpath, n))
    return sorted(out)


def inputs():
    lib = os.path.join(ROOT, "src", "main", "scala")
    res = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(lib):
        raise SystemExit("perfbench: no library sources at src/main/scala in %s" % ROOT)
    scala = _files(lib, ".scala") + _files(os.path.join(HERE, "src"), ".scala")
    resources = _files(res) if os.path.isdir(res) else []
    return scala, res, resources


def ensure():
    """Compile if the stamp is stale; return the classes directory."""
    scala, res_root, resources = inputs()
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found at %s (set SPARK_HOME)" % jars)
    h = hashlib.sha256()
    for f in scala + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()

    out = os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return classes
        staging = classes + ".new"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(scala) + "\n")
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", staging, "-cp", cp, "@" + argfile]
        print("perfbench: compiling %d Scala files" % len(scala), file=sys.stderr)
        subprocess.run(cmd, check=True, stdout=sys.stderr)
        for f in resources:
            dst = os.path.join(staging, os.path.relpath(f, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(staging, classes)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(ensure())
