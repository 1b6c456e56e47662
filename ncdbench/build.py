"""Build file of the benchmark: compiles the repository's Spark library
(src/main/scala) together with the benchmark's own Scala sources into one
class directory under .bench_build/, with the Scala compiler that ships in
the Spark distribution's jars. A build is reused while no source changes.

    python3 ncdbench/build.py [--tests]     # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
BUILD_DIR = ".bench_build"

# Spark on JDK 17 needs these when a session is created outside
# spark-submit (the same list the repository's build.sbt passes).
ADD_OPENS = [
    arg
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        sys.exit("ncdbench: no java on PATH and JAVA_HOME unset")
    return found


def spark_jars() -> Path:
    """The jars of the Spark distribution: $SPARK_HOME/jars, else the one
    that holds the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("ncdbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources(root: Path, tests: bool) -> list:
    library = root / "src" / "main" / "scala"
    if not library.is_dir():
        sys.exit(f"ncdbench: {library} is missing; run from the repository root")
    dirs = [library, BENCH / "src"] + ([BENCH / "test"] if tests else [])
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def build(root: Path, tests: bool = False) -> Path:
    files = sources(root, tests)
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    out = root / BUILD_DIR / f"classes-{digest.hexdigest()[:16]}"
    if out.is_dir():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    classpath = str(spark_jars() / "*")
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", classpath, f"@{argfile}"]
    result = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if result.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"ncdbench: compilation failed ({result.returncode})")
    argfile.unlink()
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build(Path.cwd(), tests="--tests" in sys.argv[1:]))
