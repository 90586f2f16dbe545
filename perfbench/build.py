"""Build file of the benchmark: compiles the program (src/main/scala)
together with the harness (perfbench/scala) into one class directory
with the Scala compiler that ships in Spark's jar directory.

    python3 perfbench/build.py            # from the repository root

The output lands in .bench_build/classes and is reused while no source
file changes (a content hash is stamped next to it).
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = Path(".bench_build")
CLASSES = BUILD_DIR / "classes"
SOURCE_ROOTS = [Path("src/main/scala"), Path("perfbench/scala")]


def spark_jars() -> str:
    """Classpath entry for Spark's jars: $SPARK_HOME/jars, else the
    directory the project's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = Path(home) / "jars"
    else:
        sbt = Path("build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text()) if sbt.is_file() else None
        if m is None:
            raise SystemExit("build: set SPARK_HOME to a Spark installation")
        jars = Path(m.group(1))
    if not jars.is_dir():
        raise SystemExit(f"build: no Spark jar directory at {jars}")
    return str(jars / "*")


def sources() -> list:
    missing = [str(r) for r in SOURCE_ROOTS if not r.is_dir()]
    if missing:
        raise SystemExit(f"build: source directory missing: {', '.join(missing)} "
                         "(run from the repository root)")
    return sorted(str(p) for r in SOURCE_ROOTS for p in r.rglob("*.scala"))


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Compile if needed; return the class directory."""
    files = sources()
    digest = stamp(files)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == digest:
        return CLASSES
    tmp = BUILD_DIR / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(files) + "\n")
    jars = spark_jars()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", str(tmp), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        print(res.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with exit code {res.returncode}")
    (tmp / ".stamp").write_text(digest)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    print(build())
    sys.exit(0)
