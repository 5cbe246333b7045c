"""Build file of the benchmark: compiles the library's main sources
together with the benchmark's own Scala sources into
perfbench/.build/perfbench.jar.

    python3 perfbench/build.py

The Scala compiler and the Spark runtime come from a Spark jar
directory: $SPARK_HOME/jars, the one beside the spark-submit on PATH, or
the jars of the installed pyspark package, whichever holds the compiler.
A build is skipped when the sources hash to the stamp of the last one.
A new build removes the class-data archive of the last one, which run.py
dumps again on its next run. Exit code 0 on success; anything else means
no usable build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
# the class-data archive can only hold classes that come from jars
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "classes.jsa")
STAMP = os.path.join(OUT, "stamp")


def spark_jars():
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        dirs.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import pyspark
        dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    return dirs[0] if dirs else "jars"


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return lib, own


def build():
    lib, own = sources()
    if not lib:
        print("build: no library sources under src/main/scala", file=sys.stderr)
        return 2
    if not glob.glob(os.path.join(spark_jars(), "scala-compiler-*.jar")):
        print(f"build: no Scala compiler in {spark_jars()}", file=sys.stderr)
        return 2
    h = hashlib.sha256()
    for p in lib + own:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return 0
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES] + lib + own
    # scalac adds "." to its classpath; compile from the output directory
    rc = subprocess.run(cmd, stdout=sys.stderr, cwd=OUT).returncode
    if rc != 0:
        print(f"build: scalac exited {rc}", file=sys.stderr)
        return 1
    with zipfile.ZipFile(JAR, "w") as jar:
        for base, _, files in os.walk(CLASSES):
            for f in sorted(files):
                p = os.path.join(base, f)
                jar.write(p, os.path.relpath(p, CLASSES))
    shutil.rmtree(CLASSES)
    with open(STAMP, "w") as f:
        f.write(digest)
    return 0


if __name__ == "__main__":
    sys.exit(build())
