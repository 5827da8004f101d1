"""Builds the library (src/main) and the benchmark (perfbench/src) into one
class directory with the Scala compiler that ships with Spark, without sbt.

    python3 perfbench/build.py        # prints the class directory

The Spark jars are taken from $SPARK_HOME/jars, or from the `jars`
directory beside the `spark-submit` found on PATH. A build is reused while
the sources and the jar list are unchanged.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = sorted(Path(home).glob("jars/*.jar")) if home else []
    if not any(j.name.startswith("scala-compiler") for j in jars):
        raise SystemExit("build: no Spark jars with a Scala compiler (set SPARK_HOME)")
    return jars


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise SystemExit("build: src/main/scala not found; run from a checkout of the repository")
    return sorted(lib.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build():
    """Returns the class directory, compiling first if the sources changed."""
    jars, files = spark_jars(), sources()
    resources = ROOT / "src" / "main" / "resources"
    digest = hashlib.sha256()
    for f in files + sorted(p for p in resources.rglob("*") if p.is_file()):
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    digest.update("\n".join(j.name for j in jars).encode())
    stamp, classes = BUILD / "stamp", BUILD / "classes"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = os.pathsep.join(str(j) for j in jars)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                    "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp,
                    "@" + str(argfile)],
                   check=True, stdout=sys.stderr, stderr=sys.stderr)
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
