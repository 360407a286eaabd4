"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/scala`)
with the Scala compiler that ships in Spark's jar directory
($SPARK_HOME/jars), into
`.bench_build/classes`. A stamp of every source's bytes skips the
compile when nothing changed.

    python3 perfbench/build.py      # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def _spark_home():
    """$SPARK_HOME, else the first Spark installation (a `jars` directory
    holding spark-core next to a `bin/spark-submit`) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = Path(d).resolve().parent
        if (Path(d) / "spark-submit").exists() and any((home / "jars").glob("spark-core_*.jar")):
            return home
    raise SystemExit("perfbench: set SPARK_HOME to a Spark installation")


SPARK_JARS = _spark_home() / "jars"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]


def spark_classpath():
    jars = sorted(SPARK_JARS.glob("*.jar"))
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars under {SPARK_JARS}")
    return jars


def sources():
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"perfbench: source directory {d} is missing")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def source_digest(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def ensure_built():
    """Compile if the sources changed; return (classes dir, digest)."""
    srcs = sources()
    digest = source_digest(srcs)
    classes, stamp = BUILD / "classes", BUILD / "classes.stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes, digest
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    jars = spark_classpath()
    compiler = [j for j in jars if j.name.startswith(("scala-compiler-", "scala-library-",
                                                     "scala-reflect-"))]
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    log = BUILD / "compile.log"
    with open(log, "w") as out:
        rc = subprocess.call(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={BUILD}", "-cp", os.pathsep.join(map(str, compiler)),
             "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
             "-d", str(tmp), "-classpath", os.pathsep.join(map(str, jars)),
             f"@{argfile}"], stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"perfbench: compile failed (log: {log})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest)
    return classes, digest


if __name__ == "__main__":
    print(ensure_built()[0])
