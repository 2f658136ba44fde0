#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine sources (src/main/scala) together with the benchmark's
own sources (perfbench/src) into one class directory, with the Scala
compiler that ships in Spark's jars (the jar directory the repo's build.sbt
uses), so no build tool or network is needed. Output goes under $CARGO_TARGET_DIR (default .bench_build) in the
checkout; a content stamp skips the compile when no source changed.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    """Spark's jar directory: the one the repo's build.sbt compiles against
    (its unmanagedBase), else $SPARK_HOME/jars.
    """
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            return pathlib.Path(m.group(1))
    if "SPARK_HOME" not in os.environ:
        raise BuildError("no Spark jars: build.sbt names no unmanagedBase "
                         "and SPARK_HOME is not set")
    return pathlib.Path(os.environ["SPARK_HOME"]) / "jars"


def build_root() -> pathlib.Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources not found under {engine}")
    srcs = sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    if not any(p.name == "ExtractJob.scala" for p in srcs):
        raise BuildError("engine sources are incomplete (no ExtractJob.scala)")
    return srcs


def ensure() -> pathlib.Path:
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    compiler = sorted(jars.glob("scala-compiler-*.jar"))
    if not compiler:
        raise BuildError(f"no scala-compiler jar in {jars}")
    srcs = sources()
    h = hashlib.sha256(compiler[-1].name.encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = build_root()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    out.mkdir(parents=True, exist_ok=True)
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(ensure())
    except (BuildError, OSError, subprocess.SubprocessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
