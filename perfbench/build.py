"""Builds the program and the benchmark's JVM side from source.

    python3 perfbench/build.py        # prints the classpath it built

Compiles the program (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) with the Scala compiler that ships in
Spark's jars directory, into perfbench/.build/<stamp>/classes. The stamp
hashes every source file, so an unchanged tree is not rebuilt. The repo's
sbt build is not used: it would need sbt's own caches outside the
checkout, and the benchmark must build from the checkout alone.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"


class BuildError(Exception):
    pass


def java_bin():
    java = Path(os.environ.get("JAVA_HOME", "/nonexistent")) / "bin" / "java"
    return str(java) if java.is_file() else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("Spark jars with a Scala compiler not found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    if not (PROGRAM_SRC / "graft" / "PipelineCli.scala").is_file():
        raise BuildError(f"program sources not found under {PROGRAM_SRC}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    return files


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    return h.hexdigest()[:16]


def build():
    """Returns (source stamp, classpath of classes dir + Spark jars),
    compiling if needed."""
    jars = spark_jars()
    files = sources()
    out = HERE / ".build" / stamp(files, jars)
    classes = out / "classes"
    cp = f"{classes}{os.pathsep}{jars}/*"
    if (out / "ok").is_file():
        return out.name, cp
    if out.exists():
        shutil.rmtree(out)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, cwd=out, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    (out / "ok").write_text("ok\n")
    return out.name, cp


if __name__ == "__main__":
    try:
        print(build()[1])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
