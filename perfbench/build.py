"""Build file of the benchmark package.

Compiles the program under test (``src/main/scala`` plus its resources)
together with the harness (``perfbench/scala``) into one class directory
under ``.bench_build``, with the Scala compiler that ships in the Spark
distribution (``$SPARK_HOME/jars``, else the repository build's jar
directory). The directory name carries a hash of every source file, so a
changed source rebuilds and an unchanged checkout reuses the last build.

    python3 perfbench/build.py        # prints the class directory
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's own sbt
    build compiles against (its ``unmanagedBase``)."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        d = m.group(1) if m else ""
    if not os.path.isdir(d):
        raise SystemExit("build: no Spark jars found (set SPARK_HOME)")
    return d


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit("build: no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def resources():
    r = os.path.join(ROOT, "src", "main", "resources")
    return sorted(p for p in glob.glob(os.path.join(r, "**", "*"), recursive=True) if os.path.isfile(p))


def build():
    srcs = sources()
    h = hashlib.sha1()
    for p in srcs + resources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:12])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    os.remove(args)
    res = os.path.join(ROOT, "src", "main", "resources")
    for p in resources():
        dst = os.path.join(tmp, os.path.relpath(p, res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
