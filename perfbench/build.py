#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources and
the benchmark's own Scala sources with scalac into `.bench_build/classes`.

It reads the Scala version, the Spark jar directory and the JVM module
options from the repository's `build.sbt`, so the benchmark compiles and
runs exactly what sbt would, without sbt. A stamp over every source file
skips the compile when nothing changed.

    python3 perfbench/build.py          # from the repository root
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
HERE = Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def sbt_settings():
    """(scala version, Spark jar dir, JVM --add-opens options) from build.sbt."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError("no build.sbt in the current directory: run from the repository root")
    text = sbt.read_text()
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", text, re.S)
    if not (version and jars and opens):
        raise BuildError("build.sbt no longer names scalaVersion, unmanagedBase or jdk17AddOpens")
    add_opens = []
    for pkg in re.findall(r'"([^"]+)"', opens.group(1)):
        add_opens += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    return version.group(1), Path(jars.group(1)), add_opens


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError("no src/main/scala in the current directory")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def stamp():
    """Digest of the sources the current classes were compiled from."""
    return (OUT / "classes.sha256").read_text()


def classpath():
    _, jars, _ = sbt_settings()
    return f"{CLASSES}{os.pathsep}{jars}/*"


def build(log=sys.stderr):
    """Compiles if any source changed; returns the run classpath."""
    version, jars, _ = sbt_settings()
    srcs = sources()
    digest = hashlib.sha256(version.encode())
    for s in srcs:
        digest.update(str(s.relative_to(ROOT)).encode())
        digest.update(s.read_bytes())
    stamp_file = OUT / "classes.sha256"
    if stamp_file.is_file() and stamp_file.read_text() == digest.hexdigest() and CLASSES.is_dir():
        return classpath()
    compiler = [jars / f"scala-{m}-{version}.jar" for m in ("compiler", "library", "reflect")]
    if not all(j.is_file() for j in compiler):
        raise BuildError(f"scala {version} compiler jars not found in {jars}")
    OUT.mkdir(exist_ok=True)
    if CLASSES.exists():
        subprocess.run(["rm", "-rf", str(CLASSES)], check=True)
    CLASSES.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
           "-d", str(CLASSES), f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    stamp_file.write_text(digest.hexdigest())
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
