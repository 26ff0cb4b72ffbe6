"""Build file of the benchmark package: compiles the program and the harness.

The program (`src/main/scala`) and the harness (`perfbench/src`) are
compiled with the Scala compiler that ships among the Spark jars, into
`.bench_build/` of the checkout, so building writes nothing outside it.
A content hash of the sources is kept next to the classes; an unchanged
tree is not compiled again. The Spark jar directory is the one `build.sbt`
names as `unmanagedBase` (`SPARK_JARS` overrides it).

The harness JVM gets the flags `build.sbt` gives forked runs (module
opens, code cache, recompilation cutoffs, UTC session time zone), except
the GC log file, which `build.sbt` writes outside the checkout, the
JIT compiler thread count, which `build.sbt` sizes for a 32-core machine
and which on a 4-core run competes with the 4 task threads, and the heap
size, which is fixed small so a run fits a shared machine.
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-XX:ReservedCodeCacheSize=2g",
    "-XX:PerMethodRecompilationCutoff=-1",
    "-XX:PerBytecodeRecompilationCutoff=-1",
    # keeps the JVM from writing its perf-data file outside the checkout
    "-XX:-UsePerfData",
]
HEAP = "-Xmx3g"


class BuildError(Exception):
    pass


def spark_jars(root):
    """The Spark jar directory named by build.sbt's `unmanagedBase`."""
    if os.environ.get("SPARK_JARS"):
        return Path(os.environ["SPARK_JARS"])
    sbt = root / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"{sbt} not found: not a checkout of the program")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


def _sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(jars, out, classpath, files):
    compiler = [str(jars / f"scala-{m}-2.13.17.jar") for m in ("compiler", "library", "reflect")]
    found = {p.name for p in jars.glob("scala-*.jar")}
    needed = [Path(c).name for c in compiler]
    if not all(n in found for n in needed):
        raise BuildError(f"Scala 2.13.17 compiler jars not found in {jars}")
    out.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", os.pathsep.join(classpath)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def ensure_built(root):
    """Compile what changed; returns the harness JVM's classpath entries."""
    root = Path(root)
    main_src = root / "src" / "main" / "scala"
    bench_src = root / "perfbench" / "src"
    main_files = _sources(main_src)
    if not main_files:
        raise BuildError(f"no program sources under {main_src}")
    jars = spark_jars(root)
    build = root / ".bench_build"
    main_out, bench_out = build / "classes" / "main", build / "classes" / "perfbench"
    spark_cp = str(jars / "*")
    stamp = build / "stamp"
    digest = _digest(root, main_files + _sources(bench_src))
    if not stamp.is_file() or stamp.read_text() != digest:
        for d in (main_out, bench_out):
            if d.exists():
                subprocess.run(["rm", "-rf", str(d)], check=True)
        _compile(jars, main_out, [spark_cp], main_files)
        _compile(jars, bench_out, [spark_cp, str(main_out)], _sources(bench_src))
        stamp.write_text(digest)
    return [str(bench_out), str(main_out), str(root / "src" / "main" / "resources"), spark_cp]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(ensure_built(Path(__file__).resolve().parent.parent)))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
