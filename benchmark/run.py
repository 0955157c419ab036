#!/usr/bin/env python3
"""graft benchmark: build the program from source, run one workload, report.

Usage (from the repository root):

    python3 benchmark/run.py --workload tsdb_ingest --seed 1 --seconds 20 --trace 0
    python3 benchmark/run.py --selftest

Workloads: tsdb_ingest and corpus_batch; benchmark/metadata.json documents
them. With --trace 1 the raw spans and jobs are also written as JSON lines
under the build directory's traces/. The program's Scala sources (src/main/scala) and the
benchmark's own (benchmark/src) are compiled together with the Scala compiler
that ships in Spark's jar directory; the classes are cached under the build
directory (CARGO_TARGET_DIR if set, else .bench_build) and rebuilt only when a
source changes. Every file a run writes lives under that build directory.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. Exits non-zero, without that line, when the program's
sources are missing, the build fails, the run fails or times out, or the
metrics do not match BENCHMARK.json.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
RUN_TIMEOUT_S = 170
COMPILE_TIMEOUT_S = 800
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print("graftbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jars, which include the Scala compiler: $SPARK_HOME/jars, else
    the jar directory the program's build.sbt names as unmanagedBase."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return jars
    fail("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found at {os.path.relpath(PROGRAM_SRC, ROOT)}")
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(build_dir, jars):
    """Compile program + benchmark sources once per source state."""
    srcs = sources()
    os.makedirs(build_dir, exist_ok=True)
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(os.path.relpath(p, ROOT).encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(jars), "@" + args_file]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=COMPILE_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("compile timed out", 3)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        fail("compile failed", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"graftbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(main_class, args, classes, jars, build_dir):
    # one work dir per run, so two runs in one checkout cannot collide
    work = os.path.join(build_dir, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{HEAP}", "-Xss8m", "-Djava.awt.headless=true",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
            "-cp", os.pathsep.join([classes, os.path.join(os.path.dirname(jars[0]), "*")]),
            main_class] +
           args + ["--work", os.path.join(work, "data")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload not in ("tsdb_ingest", "corpus_batch"):
        fail(f"unknown workload {a.workload!r}")
    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                             "graftbench")
    classes = build(build_dir, jars)
    if a.selftest:
        code, out = run_jvm("graftbench.SelfTest", [], classes, jars, build_dir)
        sys.stdout.write(out)
        sys.exit(code)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--expected", os.path.join(BENCH_DIR, "expected.json")]
    if a.trace:
        args += ["--trace-out",
                 os.path.join(build_dir, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    code, out = run_jvm("graftbench.Main", args, classes, jars, build_dir)
    lines = out.rstrip("\n").split("\n")
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"benchmark JVM exited with {code}", 5)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("no result line", 5)
    want = declared_metrics(a.trace == 1)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, units {sorted(k for k in got if k in want and got[k] != want[k])}", 6)
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
