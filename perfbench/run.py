"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ranges|depth|annotate --seed N \\
        --seconds S --trace 0|1 [--perturb]

Builds the library and the benchmark from source first (see build.py;
reused while the sources are unchanged), then runs one JVM with
local[nproc]. Inputs, Spark's scratch space and span files live in a
per-run directory under the build directory and are removed afterwards,
except span files, which are kept in <build dir>/perfbench/spans.
"""
import argparse
import os
import shutil
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HEAP = "4g"
TIMEOUT_S = 170
WORKLOADS = ("ranges", "depth", "annotate")

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--perturb", action="store_true",
                   help="self-test: every check must reject a shifted output")
    return p.parse_args()


def main():
    a = parse()
    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    base = os.path.join(build.target_dir(), "perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work]
    if a.perturb:
        cmd.append("--perturb")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    timer = threading.Timer(TIMEOUT_S, proc.kill)
    timer.start()
    last = None
    try:
        for line in proc.stdout:
            if line.strip():
                last = line.rstrip("\n")
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        spans = os.path.join(base, "spans")
        for f in os.listdir(work) if os.path.isdir(work) else []:
            if f.startswith("spans-"):
                os.makedirs(spans, exist_ok=True)
                shutil.move(os.path.join(work, f), os.path.join(spans, f))
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or last is None or not last.startswith("{"):
        print(f"perfbench: run failed (exit code {code})", file=sys.stderr)
        return code or 1
    print(last, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
