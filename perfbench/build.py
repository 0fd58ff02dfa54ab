"""Build file of the benchmark package: compiles the engine's main sources
together with the benchmark's own Scala sources, with the Scala compiler
that ships in the Spark distribution, into a content-addressed directory.

    python3 perfbench/build.py        # prints the classes directory

The output lives under $CARGO_TARGET_DIR (default `.bench_build`) in the
checkout; a build whose sources are unchanged is reused.
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
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    spark-submit on the PATH that belongs to a full distribution."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found under {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build():
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    target = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.join(target, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    os.remove(argfile)
    open(os.path.join(tmp, ".ok"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def classpath():
    return build() + os.pathsep + os.path.join(spark_jars(), "*")


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
