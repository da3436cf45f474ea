"""Build file of the benchmark package.

Compiles the repository's main Scala sources together with the benchmark
sources under ``perfbench/src`` into ``.bench_build/perfbench/classes``,
with the Scala compiler and the Spark jars that ship in ``$SPARK_HOME/jars``
(the same jars ``build.sbt`` compiles against; without ``SPARK_HOME`` the
install that holds ``spark-submit`` on the PATH). A stamp of every source's
content makes a rebuild happen only when a source changed.

Run it alone with ``python3 perfbench/build.py``; ``perfbench/run.py``
calls it before every run.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA_VERSION = "2.13.17"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark install with a jars directory")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + bench


def classpath():
    """Runtime classpath of the benchmark (after ``build()``)."""
    return os.path.join(OUT, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256(SCALA_VERSION.encode())
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(OUT, "STAMP")
    classes = os.path.join(OUT, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                               for m in ("compiler", "library", "reflect"))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    rc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                         "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp,
                         "@" + argfile], stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: compilation failed ({rc})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
