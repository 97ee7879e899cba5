#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`) with the Scala compiler that ships in the Spark
distribution (`$SPARK_HOME`, or the jars directory build.sbt names), and
packs the classes into
`$CARGO_TARGET_DIR/perfbench/perfbench.jar` (default `.bench_build`). A
stamp of the sources' contents skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars():
    """The Spark jars to build and run against: `$SPARK_HOME/jars`, or the
    `unmanagedBase` directory that the project's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    sbt = ROOT / "build.sbt"
    if home:
        jars = Path(home) / "jars"
    elif sbt.is_file() and (m := re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                           sbt.read_text())):
        jars = Path(m.group(1))
    else:
        jars = None
    if jars is None or not jars.is_dir():
        sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    engine = ROOT / "src" / "main" / "scala"
    bench = ROOT / "perfbench" / "src"
    if not engine.is_dir():
        sys.exit(f"perfbench: engine sources not found under {engine}")
    return sorted(engine.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def out_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    out = out_dir()
    jar, stamp_file = out / "perfbench.jar", out / "stamp"
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    if not (jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp):
        tmp = out / "classes"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        argfile = out / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        subprocess.run(
            ["java", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"],
            check=True, stdout=sys.stderr)
        with zipfile.ZipFile(out / "perfbench.jar.tmp", "w") as z:
            for f in sorted(tmp.rglob("*.class")):
                z.write(f, f.relative_to(tmp).as_posix())
        (out / "perfbench.jar.tmp").replace(jar)
        shutil.rmtree(tmp)
        stamp_file.write_text(stamp)
    return f"{jar}{os.pathsep}{jars}/*"


if __name__ == "__main__":
    print(build())
