#!/usr/bin/env python3
"""Build and run the benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The program (src/main/scala) and the
benchmark's own Scala code (perfbench/src/main/scala) are compiled with
the Scala compiler that ships with Spark, into .bench_build/, and reused
while their sources are unchanged. The benchmark's last stdout line is
the JSON result; this script exits non-zero, printing no result, when
the build or the run fails.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Jars of $SPARK_HOME, else of the directory the repository's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.isfile(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jar_dir = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def sources(rel):
    base = os.path.join(ROOT, rel)
    files = sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    if not files:
        fail(f"no Scala sources under {rel}: run from the repository root")
    return files


def compile_tree(name, srcs, classpath, salt=""):
    """Compile `srcs` into .bench_build/<name>-<hash>; reuse it when built."""
    h = hashlib.sha256(salt.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(BUILD, f"{name}-{digest}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out, digest
    for old in glob.glob(os.path.join(BUILD, f"{name}-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cp = os.pathsep.join(classpath)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp, "@" + argfile]
    print(f"[perfbench] compiling {name} ({len(srcs)} files)", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail(f"compiling {name} failed")
    open(os.path.join(out, ".ok"), "w").close()
    return out, digest


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    jars = spark_jars()
    main_out, main_hash = compile_tree("main", sources("src/main/scala"), jars)
    bench_out, _ = compile_tree("bench", sources("perfbench/src/main/scala"),
                                [os.path.join(main_out, "classes")] + jars, salt=main_hash)

    work = os.path.join(BUILD, "run", f"{a.workload}-{os.getpid()}")
    tmp = work + "-tmp"
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join([os.path.join(bench_out, "classes"),
                          os.path.join(main_out, "classes")] + jars)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise keep its counters file
    # under /tmp, outside the checkout.
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + opens +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    # Spark honours these over spark.local.dir; the run keeps its
    # temporary files inside the checkout.
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        fail(f"benchmark exited {proc.returncode} without a result")
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
