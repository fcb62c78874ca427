"""Build file of the benchmark: compile the engine (`src/main/scala`) and
the harness (`perfbench/harness`) into one jar with the Scala compiler
that ships among Spark's jars. The compile is skipped when a stamp of
every source's content matches the last build.

The launcher then dumps a class-data-sharing archive of the classes one
short harness run loads (`ARCHIVE`), once per build, so later JVMs map
Spark's classes instead of loading them one by one. It saves seconds of
JVM start per run and changes no measured figure: every timed phase
runs after start-up.

    python3 perfbench/build.py        # build (or confirm) and print the jar
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
OUT = REPO / ".bench_build" / "perfbench"
JAR = OUT / "engine.jar"
ARCHIVE = OUT / "classes.jsa"
NO_ARCHIVE = OUT / "classes.jsa.failed"  # the dump failed for this jar: skip it
STAMP = OUT / "sources.sha256"


def sources():
    roots = [REPO / "src" / "main" / "scala", REPO / "perfbench" / "harness"]
    return sorted(p for r in roots for p in r.rglob("*.scala"))


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    return f"{JAR}{os.pathsep}{SPARK_JARS}/*"


def build():
    """Compile if the sources changed since the last build; return the
    jar. A rebuild drops the class-data archive, which belongs to the old
    jar."""
    srcs = sources()
    digest = stamp(srcs)
    if STAMP.exists() and STAMP.read_text() == digest and JAR.is_file():
        return JAR
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
    cmd += [str(p) for p in srcs]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compile failed")
    ARCHIVE.unlink(missing_ok=True)
    NO_ARCHIVE.unlink(missing_ok=True)
    with zipfile.ZipFile(OUT / "engine.jar.tmp", "w", zipfile.ZIP_STORED) as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    (OUT / "engine.jar.tmp").replace(JAR)
    shutil.rmtree(tmp)
    STAMP.write_text(digest)
    return JAR


if __name__ == "__main__":
    print(build())
