"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own listeners and traced harness (`perfbench/src`) into
`.bench_build/classes` with the Scala compiler that ships among the Spark
jars the repo's `build.sbt` names as its `unmanagedBase`.

The build is skipped when no source changed since the last one.

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
BUILD = ROOT / ".bench_build"


def spark_jars():
    """The jar directory the engine's build.sbt compiles against."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise SystemExit(f"no engine build file at {sbt}")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"no engine sources under {main}")
    return sorted(main.rglob("*.scala")) + sorted(
        (ROOT / "perfbench" / "src").rglob("*.scala"))


def build():
    """Compile if needed; return the classpath to run with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(str(jars).encode())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    cp = f"{classes}{os.pathsep}{jars}/*"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs))
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"],
        check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return cp


if __name__ == "__main__":
    print(build())
