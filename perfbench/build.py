#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships among
the Spark jars, into .bench_build/perfbench/classes.

    python3 perfbench/build.py      # prints the runtime classpath

The build is skipped when no source changed since the last one. Spark's
jars come from $SPARK_HOME/jars, or else from the `unmanagedBase` that
build.sbt names.
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


class CompileError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = pathlib.Path(home) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            raise CompileError("no SPARK_HOME and no unmanagedBase in build.sbt")
        jars = pathlib.Path(m.group(1))
    if not list(jars.glob("scala-compiler-*.jar")):
        raise CompileError(f"no Scala compiler among the jars in {jars}")
    return jars


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    if not engine:
        raise CompileError("no engine sources under src/main/scala")
    if not bench:
        raise CompileError("no benchmark sources under perfbench/src")
    return engine + bench


def build():
    """Compile when sources changed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = OUT / "stamp"
    classes = OUT / "classes"
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classpath
    shutil.rmtree(OUT, ignore_errors=True)
    classes.mkdir(parents=True)
    tmp = OUT / "tmp"
    tmp.mkdir()
    cmd = ["java", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
           "-d", str(classes)] + [str(f) for f in srcs]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        raise CompileError("scalac failed:\n" + done.stdout[-4000:])
    stamp.write_text(digest.hexdigest())
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except CompileError as e:
        sys.exit(f"build failed: {e}")
