"""Compile the engine's main sources and the benchmark into one class dir.

Plain scalac from the Spark distribution's own Scala jars, so the build
needs no sbt, no dependency cache and writes nothing outside the checkout.
The output goes under `.bench_build/perfbench` (or $CARGO_TARGET_DIR/perfbench
when that is set) and is reused while no source changes.

    python3 perfbench/build.py        # prints the class dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return (d if d.is_absolute() else ROOT / d) / "perfbench"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar dir build.sbt names as unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")
    return Path(m.group(1))


def scala_version() -> str:
    sbt = ROOT / "build.sbt"
    m = sbt.is_file() and re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt.read_text())
    if not m:
        raise SystemExit("perfbench: build.sbt names no scalaVersion")
    return m.group(1)


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: {main.relative_to(ROOT)} is missing")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build() -> Path:
    srcs = sources()
    jars = spark_jars()
    v = scala_version()
    compiler = [jars / f"scala-{n}-{v}.jar" for n in ("compiler", "library", "reflect")]
    for j in compiler:
        if not j.is_file():
            raise SystemExit(f"perfbench: {j.name} not found beside the Spark jars")
    h = hashlib.sha256(v.encode())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    classes = out / "classes"
    if (out / "stamp").is_file() and (out / "stamp").read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
           "-d", str(tmp), "-classpath", str(jars / "*"), f"@{argfile}"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    tmp.rename(classes)
    (out / "stamp").write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
