#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's main sources (src/main/scala) together with the
benchmark harness (perfbench/src) into .bench_build/perfbench.jar, with the
Scala compiler that ships in Spark's jar directory, the same jars the
program's own build compiles and runs against. Rebuilds only when a source
changed, and then drops the class-data archive made from the old jar.

Usage, from the repository root:  python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
JAR = BUILD / "perfbench.jar"
# class-data-sharing archive of the classes a run loads; run.py writes it
# on the first run after a build and maps it in every later run
CDS_ARCHIVE = BUILD / "perfbench.jsa"


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                    sbt.read_text())
    if m and pathlib.Path(m.group(1)).is_dir():
        return pathlib.Path(m.group(1))
    sys.exit("perfbench: no Spark jar directory (set SPARK_HOME)")


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        sys.exit("perfbench: program sources not found under src/main/scala")
    return program + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build():
    """Compile if needed; returns the jar."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes())
    stamp = BUILD / "perfbench.stamp"
    if JAR.is_file() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return JAR
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        sys.exit("perfbench: compilation failed")
    CDS_ARCHIVE.unlink(missing_ok=True)
    with zipfile.ZipFile(BUILD / "perfbench.jar.tmp", "w") as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    (BUILD / "perfbench.jar.tmp").replace(JAR)
    shutil.rmtree(tmp)
    stamp.write_text(digest.hexdigest())
    return JAR


if __name__ == "__main__":
    print(build())
