"""Build file of the benchmark package: compiles the engine sources
(`src/main/scala`) and the harness (`perfbench/src`) with the Scala compiler
that ships among Spark's jars, into `perfbench/.build/<source hash>/`.
A build whose hash matches the sources is reused.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of Spark's jars: $SPARK_HOME/jars, else next to the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home, "jars") if home else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("Spark jars with the Scala compiler not found; "
                         "set SPARK_HOME")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala",
                                           "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError("engine sources (src/main/scala) not found")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                             recursive=True))
    return engine + bench


def ensure():
    """Returns the classes directory, compiling first if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    base = os.path.join(HERE, ".build")
    out = os.path.join(base, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "done")):
        return classes
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-encoding", "utf8", "-nowarn",
           "-d", classes, "-cp", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, "done"), "w").close()
    return classes


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
