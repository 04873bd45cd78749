"""Builds the program and the benchmark's JVM side into `.bench_build/`.

Compiles `src/main/scala` of the checkout together with `pipebench/src`
using the Scala compiler that ships in Spark's jar directory, so the build
needs no network and no build tool. A stamp of the sources' hash skips the
compile when nothing changed.

    python3 pipebench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SOURCES = (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"))


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the jars bundled with
    the `pyspark` package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars in {jars!r}; set SPARK_HOME")
    return os.path.join(jars, "*")


def classpath():
    return os.path.join(OUT, "classes") + os.pathsep + spark_jars()


def build():
    """Returns the classpath, compiling first when the sources changed."""
    if not os.path.isdir(SOURCES[0]):
        raise SystemExit(f"program sources not found at {SOURCES[0]}")
    files = sorted(os.path.join(d, f) for src in SOURCES
                   for d, _, fs in os.walk(src) for f in fs if f.endswith(".scala"))
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp, classes = os.path.join(OUT, "stamp"), os.path.join(OUT, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classpath()
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", spark_jars(), "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"compile failed ({res.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classpath()


if __name__ == "__main__":
    print(build())
