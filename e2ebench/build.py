"""Build file of the benchmark: compiles the library (src/main/scala) and the
harness (e2ebench/src) with the Scala compiler that ships among Spark's jars
into one jar under .bench_build/, then has the JVM write a class-data-sharing
archive of every class a short run loads, so each run's JVM maps them
instead of parsing and verifying them again. The build is skipped when the
digest of every source file matches the last build's.

Standalone use: python3 e2ebench/build.py (the same as the first run's build)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

COMPILER_JARS = ("scala-compiler", "scala-library", "scala-reflect")


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit on
    PATH, else the build's own `unmanagedBase`."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (root / "build.sbt").read_text() if (root / "build.sbt").exists() else "")
    if m:
        candidates.append(Path(m.group(1)))
    for c in candidates:
        if c.is_dir():
            return c
    raise SystemExit("e2ebench: no Spark jars found; set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    if home and Path(home, "bin", "java").exists():
        return str(Path(home, "bin", "java"))
    return shutil.which("java") or "java"


def sources(root):
    lib = root / "src" / "main" / "scala"
    if not lib.is_dir():
        raise SystemExit(f"e2ebench: no library sources under {lib}")
    files = sorted(lib.rglob("*.scala")) + sorted(lib.rglob("*.java"))
    files += sorted((root / "e2ebench" / "src").rglob("*.scala"))
    return files


def digest(root, files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    h.update(" ".join(sorted(p.name for p in jars.iterdir())).encode())
    return h.hexdigest()


def _jar(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())


def ensure_built(root, state, dump):
    """Returns (runtime classpath, JVM options, source digest), building if
    stale. `dump(classpath, options)` must run the benchmark JVM once with
    those extra options; it writes the class-data archive."""
    files = sources(root)
    jars = spark_jars(root)
    want = digest(root, files, jars)
    jar = state / "classes.jar"
    archive = state / "classes.jsa"
    stamp = state / "classes.digest"
    classpath = f"{jar}:{jars}/*"
    options = [f"-XX:SharedArchiveFile={archive}"]
    if stamp.exists() and stamp.read_text() == want and jar.exists() and archive.exists():
        return classpath, options, want
    stamp.unlink(missing_ok=True)
    staging = state / "classes.new"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    compiler = ":".join(str(next(jars.glob(f"{n}-2.*.jar")))
                        for n in COMPILER_JARS)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-cp", f"{jars}/*", *map(str, files)]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("e2ebench: compilation failed")
    _jar(staging, jar)
    shutil.rmtree(staging)
    archive.unlink(missing_ok=True)
    dump(classpath, [f"-XX:ArchiveClassesAtExit={archive}"])
    if not archive.exists():
        raise SystemExit("e2ebench: the JVM wrote no class-data archive")
    stamp.write_text(want)
    return classpath, options, want


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    import run
    print(run.prepare()[0])
