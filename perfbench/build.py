"""Build file of the benchmark: compiles the engine from its sources
(`src/main/scala`) together with the harness (`perfbench/scala`) into
`perfbench/.build/classes`, with the Scala compiler that ships in the
Spark distribution. No build tool and no dependency resolution: the
engine's only compile dependency is the Spark jar set, found in
`$SPARK_HOME/jars` or else in the directory the repository's `build.sbt`
names as `unmanagedBase`.

    python3 perfbench/build.py          # from the repository root

A stamp over the source bytes makes a rebuild happen only when a source
changed. Exits non-zero when the engine sources are missing.
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
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) if os.path.exists(sbt) else None
        if not m:
            raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars in {jar_dir} (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("build: engine sources (src/main/scala) not found; "
                         "run from a checkout of the repository")
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return engine + harness


def classpath():
    return os.pathsep.join([CLASSES] + spark_jars())


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    if len(compiler) != 3:
        raise SystemExit("build: scala-compiler/library/reflect not in the Spark jars")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", CLASSES,
           "-cp", os.pathsep.join(jars), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
