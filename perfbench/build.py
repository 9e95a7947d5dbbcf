#!/usr/bin/env python3
"""Build for the benchmark: compiles the engine's sources (src/main/scala of
the checkout) together with the benchmark's own (perfbench/src) with scalac,
against the Spark distribution's jars. The classes land in perfbench/_build
and are reused while no source file changes.

Spark comes from $SPARK_HOME/jars, else from the installed pyspark package.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in cands:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any("scala-compiler" in j for j in jars):
            return jars
    sys.exit("perfbench: no Spark jars with a Scala compiler "
             "(set SPARK_HOME or install pyspark)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        sys.exit(f"perfbench: no engine sources under {ROOT}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + bench


def build():
    """Returns the runtime classpath, compiling first if any source changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as fh:
                h.update(fh.read())
    key = h.hexdigest()
    classes = os.path.join(BUILD, "classes-" + key[:16])
    if not os.path.isfile(os.path.join(classes, ".ok")):
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(classes, exist_ok=True)
        cp = os.pathsep.join(jars)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-classpath", cp] + srcs
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            sys.exit("perfbench: build failed")
        open(os.path.join(classes, ".ok"), "w").close()
    return os.pathsep.join([classes] + jars)


if __name__ == "__main__":
    print(build())
