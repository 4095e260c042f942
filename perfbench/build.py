#!/usr/bin/env python3
"""Build graft and the benchmark harness from source with scalac.

The benchmark compiles without sbt so that it reads and writes nothing
outside the checkout: the Spark jars (which carry the Scala compiler)
are found where `build.sbt` says they are (`unmanagedBase`), and the
JDK module flags are the `jdk17AddOpens` list of the same file.

Classes land in `<root>/.bench_build/classes/{main,harness}`, rebuilt
only when a source file changed (a hash stamp sits beside them).

Usage: python3 perfbench/build.py   (prints the run classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "classes"


def build_sbt() -> str:
    return (ROOT / "build.sbt").read_text()


def spark_jars() -> Path:
    """The jar directory build.sbt compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt())
    if not m:
        raise SystemExit("build.sbt declares no unmanagedBase jar directory")
    jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no scala-compiler jar in {jars}")
    return jars


def java_module_flags() -> list:
    """build.sbt's --add-opens list, which Spark needs on JDK 17+."""
    block = re.search(r"jdk17AddOpens\s*=\s*Seq\((.*?)\)\.flatMap", build_sbt(), re.S)
    if not block:
        raise SystemExit("build.sbt declares no jdk17AddOpens list")
    flags = []
    for pkg in re.findall(r'"([^"]+)"', block.group(1)):
        flags += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    return flags


def _sources(d: Path) -> list:
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(name: str, files: list, classpath: str) -> Path:
    dest = OUT / name
    stamp = OUT / f"{name}.stamp"
    key = _stamp(files) + classpath
    if stamp.exists() and stamp.read_text() == key:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    jars = spark_jars()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", str(dest)] + [str(f) for f in files]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed building {name}")
    stamp.write_text(key)
    return dest


def build() -> str:
    """Compile graft's main sources, then the harness; return the run classpath."""
    src = ROOT / "src" / "main" / "scala"
    if not src.is_dir():
        raise SystemExit(f"no graft sources at {src}")
    jars = f"{spark_jars()}/*"
    main = _compile("main", _sources(src), jars)
    harness = _compile("harness", _sources(ROOT / "perfbench" / "harness"), f"{main}{os.pathsep}{jars}")
    return os.pathsep.join([str(harness), str(main), jars])


if __name__ == "__main__":
    print(build())
