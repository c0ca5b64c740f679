"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala` at the repository root) together with the benchmark's
own (`linkbench/src`) with the Scala compiler that ships in
`$SPARK_HOME/jars`. Output goes to `<build>/classes`; a content hash of every
source skips the compile when nothing changed.

    python3 linkbench/build.py            # prints the classes directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d, "linkbench")


def spark_jars():
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("SPARK_HOME is not set")
    jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise SystemExit(f"engine sources not found under {SOURCE_DIRS[0]}")
    return files


def build():
    """Compile if needed; returns the classes directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("compile failed")
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
