"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/scala`) with the Scala compiler that ships in
the Spark distribution's jar directory (`$SPARK_HOME/jars`), the same jars
the repository's sbt build compiles against. The classes land in the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`) under a stamp of the source
contents, so an unchanged tree is not compiled twice.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

SCALA_VERSION = "2.13.17"


def repo_root():
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(root, d)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside a `spark-submit` on PATH that ships this Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
            return jars
    raise SystemExit(f"build: no Spark distribution with Scala {SCALA_VERSION} "
                     "found; set SPARK_HOME")


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "scala")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {d} is missing")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not out:
        raise SystemExit("build: no Scala sources found")
    return sorted(out)


def stamp(srcs):
    h = hashlib.sha256(SCALA_VERSION.encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_built(root=None, quiet=True):
    """Return the classes directory, compiling first if the sources changed."""
    root = root or repo_root()
    srcs = sources(root)
    jars = spark_jars()
    out = os.path.join(build_dir(root), "classes")
    want = stamp(srcs)
    stamp_file = os.path.join(build_dir(root), "classes.stamp")
    if os.path.isdir(out) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return out
    os.makedirs(build_dir(root), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes.", dir=build_dir(root))
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{n}-{SCALA_VERSION}.jar")
                               for n in ("compiler", "library", "reflect"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(
               os.path.join(jars, j) for j in sorted(os.listdir(jars))
               if j.endswith(".jar")),
           "-d", os.path.join(tmp, "out"), "@" + argfile]
    os.makedirs(os.path.join(tmp, "out"))
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with exit code {proc.returncode}")
    if not quiet:
        sys.stderr.write(proc.stdout)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(os.path.join(tmp, "out"), out)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return out


if __name__ == "__main__":
    print(ensure_built(quiet=False))
