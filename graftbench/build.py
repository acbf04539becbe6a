"""Compiles the engine (src/main/scala) together with the benchmark harness
into a class directory keyed by a hash of every source file, so one
checkout compiles once and every later run reuses the classes.

The compiler is the scala-compiler jar that ships with the Spark jars; the
jars directory is $SPARK_HOME/jars or, failing that, the `unmanagedBase`
that build.sbt declares. No build tool runs, and nothing is written outside
the checkout.
"""
import hashlib
import os
import re
import shutil
import subprocess
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
HARNESS = HERE / "harness"

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BuildError(RuntimeError):
    pass


def spark_jars(root: Path) -> Path:
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME or declare unmanagedBase in build.sbt")


def sources(root: Path) -> list:
    main = root / "src" / "main" / "scala"
    engine = sorted(main.rglob("*.scala")) if main.is_dir() else []
    if not engine:
        raise BuildError(f"no engine sources under {main}")
    return engine + sorted(HARNESS.rglob("*.scala"))


def classpath(root: Path, classes: Path) -> str:
    return f"{classes}{os.pathsep}{spark_jars(root)}/*"


def java_opens() -> list:
    return [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def build(root: Path, log=print) -> Path:
    """Returns the class directory for the current sources, compiling it
    first if no earlier run has."""
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(root) if f.is_relative_to(root) else f.name).encode())
        h.update(f.read_bytes())
    out = root / ".bench_build" / "graft" / f"classes-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = spark_jars(root)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    argfile.unlink()
    (tmp / ".ok").write_text(f"{time.time() - t0:.1f}\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    log(f"[graftbench] compiled {len(srcs)} sources in {time.time() - t0:.1f} s")
    return out
