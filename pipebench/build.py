"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark harness (pipebench/src) into one class directory with the Scala
compiler that ships in the Spark distribution's jars.

    python3 pipebench/build.py            # build (no-op when up to date)

The class directory lives under the build dir ($CARGO_TARGET_DIR, else
.bench_build at the repo root) and is rebuilt whenever a source file, the
compiler or the Spark jars change.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def spark_jars():
    """The Spark distribution's jars dir: $SPARK_HOME/jars, else the one
    next to the spark-submit found on PATH."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME)")
    return exe


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    own = os.path.join(HERE, "src")
    if not os.path.isdir(lib) or not os.path.isdir(own):
        raise BuildError("library sources (src/main/scala) or benchmark sources (pipebench/src) missing")
    files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(own, "*.scala")))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def ensure():
    """Compile if stale; returns the class directory."""
    jars = spark_jars()
    compilers = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if not compilers:
        raise BuildError("the Spark jars dir has no scala-compiler jar")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    print(f"[pipebench] compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with code {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"[pipebench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
