#!/usr/bin/env python3
"""Build the engine plus the benchmark harness from source and run one workload.

    python3 perfbench/run.py --workload kv_changelog --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The engine sources (src/main/scala) and the
harness sources (perfbench/src) are compiled with the Scala compiler that
ships in the Spark distribution (SPARK_HOME, else the one whose spark-submit
is on PATH), so no build tool or network is needed. Build output goes to .bench_build/, results to
.bench_results/<run id>.json, and each run's scratch data to
.bench_tmp/<run id>/, which is deleted when the run ends.

The harness JVM prints the result object as its last stdout line; this script
relays that line as its own last line and exits with the JVM's code.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
TEST_SRC = os.path.join(HERE, "test")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RESULTS = os.path.join(ROOT, ".bench_results")
TMP = os.path.join(ROOT, ".bench_tmp")
WORKLOADS = ("kv_changelog", "corpus_build", "index_serve")
RUN_TIMEOUT_S = 170
# A fixed heap and young generation: G1 then sizes nothing from pause
# times, so peak RSS depends on what the engine allocates and retains,
# not on how fast the machine was.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC"]

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar")):
        die(f"no Scala 2.13 compiler jar under {jars!r}; set SPARK_HOME")
    return jars


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_into(out_dir, files, classpath, jars):
    """scalac `files` into `out_dir` unless a build of the same sources exists."""
    stamp = os.path.join(out_dir, "SOURCES.sha256")
    fp = fingerprint(files)
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    compiler_cp = os.pathsep.join(
        glob.glob(os.path.join(jars, n))[0]
        for n in ("scala-compiler-2.13*.jar", "scala-library-2.13*.jar", "scala-reflect-2.13*.jar"))
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out_dir] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        die(f"compile of {out_dir} failed")
    with open(stamp, "w") as fh:
        fh.write(fp)
    print(f"perfbench: compiled {len(files)} files in {time.time() - t0:.1f}s", file=sys.stderr)


def build(with_tests):
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found at {ENGINE_SRC}; run from a full checkout")
    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    classes = os.path.join(BUILD, "classes")
    compile_into(classes, sources(ENGINE_SRC, BENCH_SRC), spark_cp, jars)
    cp = [classes, spark_cp]
    if with_tests:
        test_classes = os.path.join(BUILD, "test-classes")
        compile_into(test_classes, sources(TEST_SRC), os.pathsep.join(cp), jars)
        cp.insert(0, test_classes)
    return os.pathsep.join(cp)


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classpath, main, args, tmp_dir, log_path):
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, main] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=ROOT, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"run exceeded {RUN_TIMEOUT_S}s; log: {log_path}")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the harness's unit tests instead of a workload")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        die("BENCHMARK.json not found at the repository root")

    classpath = build(with_tests=a.self_test)
    os.makedirs(RESULTS, exist_ok=True)
    if a.self_test:
        run_id = f"selftest-{os.getpid()}"
        main_class, jvm_args = "perfbench.BenchLogicTest", []
    else:
        run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
        main_class = "perfbench.Main"
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--run-id", run_id, "--root", ROOT,
                    "--results", RESULTS, "--git-commit", git_commit()]
    tmp_dir = os.path.join(TMP, run_id)
    os.makedirs(tmp_dir)
    try:
        code, out = run_jvm(classpath, main_class, jvm_args + ["--tmp", tmp_dir], tmp_dir,
                            os.path.join(RESULTS, f"{run_id}.log"))
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
        if os.path.isdir(TMP) and not os.listdir(TMP):
            os.rmdir(TMP)
    sys.stdout.write(out)
    sys.stdout.flush()
    if code != 0:
        print(f"perfbench: JVM exited with {code}; log: {RESULTS}/{run_id}.log", file=sys.stderr)
    sys.exit(code)


if __name__ == "__main__":
    main()
