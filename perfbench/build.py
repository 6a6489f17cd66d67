#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the harness.

The program (`src/main/scala` at the repository root) and the harness
(`perfbench/harness`) are compiled together with the Scala compiler that
ships in the Spark distribution's `jars/` directory, against the same jars.
The classes land in `.bench_build/classes` under the checkout; a stamp of
every source file's path and content skips the compile when nothing changed.

    python3 perfbench/build.py          # build (or reuse) and print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.stamp"
SCALA_VERSION = "2.13.17"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return Path(home) / "jars"


def sources() -> list:
    program = ROOT / "src" / "main"
    if not program.is_dir():
        raise BuildError(f"program sources missing: {program}")
    files = sorted(program.rglob("*.scala")) + sorted(program.rglob("*.java"))
    files += sorted((BENCH / "harness").rglob("*.scala"))
    return files


def classpath() -> str:
    return os.pathsep.join([str(CLASSES), str(spark_jars() / "*")])


def build(quiet: bool = False) -> str:
    """Compile if any source changed; return the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return classpath()
    jars = spark_jars()
    compiler = [jars / f"scala-{m}-{SCALA_VERSION}.jar"
                for m in ("compiler", "library", "reflect")]
    missing = [str(j) for j in compiler if not j.exists()]
    if missing:
        raise BuildError(f"Scala {SCALA_VERSION} compiler jars missing: {missing}")
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    STAMP.unlink(missing_ok=True)
    jar_cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", jar_cp,
           "-d", str(CLASSES)] + [str(f) for f in srcs]
    if not quiet:
        print(f"[build] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    STAMP.write_text(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)
