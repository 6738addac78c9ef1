"""Build file of the benchmark package: compiles graft's sources together
with the harness in `perfbench/scala` into one jar, with the Scala
compiler that ships in Spark's jar directory.

The output is keyed by a hash of every source file, so an unchanged tree
is not rebuilt. Run directly to build: `python3 perfbench/build.py`.
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
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the repository's own build.sbt compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("no Spark jars found; set SPARK_HOME")


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not graft:
        raise SystemExit(f"no graft sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    return graft + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build():
    """Return the jar of graft + harness classes, compiling it first if needed."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD, "graftbench-" + digest.hexdigest()[:16] + ".jar")
    if os.path.isfile(out):
        return out
    jars = spark_jars()
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("compile failed")
    for old in glob.glob(os.path.join(BUILD, "graftbench-*")):
        os.remove(old)
    subprocess.run(["jar", "cf", out + ".tmp", "-C", tmp, "."], check=True)
    shutil.rmtree(tmp)
    os.rename(out + ".tmp", out)
    return out


if __name__ == "__main__":
    print(build())
