"""Build file of the benchmark: compiles the library sources (src/main/scala)
together with the benchmark's own sources (perfbench/src) into one class
directory, with the Scala compiler that ships in Spark's jar directory.

    python3 perfbench/build.py            # build (or reuse) and print the class dir

The output lives under $CARGO_TARGET_DIR (default: .bench_build) in a
directory named after a hash of every source file, so an unchanged tree is
never compiled twice and a changed one is never run stale.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def target_dir():
    t = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, t) if not os.path.isabs(t) else t


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError(f"library sources missing: {LIB_SRC}")
    out = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build_key(srcs):
    h = hashlib.sha256()
    extra = [os.path.abspath(__file__)]
    if os.path.isdir(LIB_RES):
        extra += sorted(os.path.join(d, f) for d, _, fs in os.walk(LIB_RES) for f in fs)
    for p in srcs + extra:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(quiet=False):
    """Return the class directory, compiling if this source tree has no build yet."""
    jars = spark_jars()
    srcs = sources()
    root = os.path.join(target_dir(), "perfbench")
    out = os.path.join(root, "classes-" + build_key(srcs))
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [os.path.join(jars, f) for f in os.listdir(jars)
                if f.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("scala-compiler/library/reflect jars not found beside Spark")
    argfile = os.path.join(root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    if not quiet:
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    if os.path.isdir(LIB_RES):
        shutil.copytree(LIB_RES, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
