#!/usr/bin/env python3
"""Run one workload of the repo benchmark and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 20 --trace 0

The first run in a checkout compiles the engine (src/main/scala) and the
benchmark (perfbench/src/main/scala) with the Scala compiler that ships
in Spark's jars, then builds etl_daily's base warehouse with the freshly
compiled engine. Later runs reuse both until a source file changes.
Everything the benchmark writes stays under perfbench/.build.

The last line of standard output is the JSON result. A failed build or
run exits non-zero without printing one.
"""
import argparse
import hashlib
import json
import os
import pathlib
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = HERE / ".build"
CLASSES = STATE / "classes"
DATA = HERE / "data" / "sf0.01"
GOLDENS = HERE / "goldens.tsv"
WORKLOADS = ("llm_corpus", "etl_daily")
# a run must end within 180 s, and a run that builds within 900 s
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 890
START = time.time()

# Spark 4 on JDK 17 needs these when a session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars: SPARK_HOME's, else those of the spark-submit on
    PATH, else the directory the engine's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent
    if home:
        jars = pathlib.Path(home) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        jars = pathlib.Path(m.group(1)) if m else None
    if jars is None or not jars.is_dir():
        sys.exit("perfbench: Spark not found; set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        sys.exit(f"perfbench: no engine sources at {engine.relative_to(ROOT)}")
    return sorted(engine.rglob("*.scala")) + sorted((HERE / "src" / "main" / "scala").rglob("*.scala"))


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def java_cmd(jars, classpath):
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    # -Xms = -Xmx: the heap does not shrink after the System.gc() between
    # operations, so no operation pays for growing it back
    return (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss16m",
             f"-Djava.io.tmpdir={STATE / 'tmp'}",
             f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join(classpath + [str(jars / "*")])])


def call(cmd, deadline, stdout=None):
    """Run a child process to completion; kill it and fail if it is
    still running at `deadline` (seconds since the epoch)."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=stdout, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: out of time: {' '.join(cmd[:1] + cmd[-8:])}")
    if proc.returncode != 0:
        sys.exit(f"perfbench: exit code {proc.returncode}: {' '.join(cmd[:1] + cmd[-8:])}")
    return out


def scalac(files, out, jars, classpath=()):
    """Compile `files` into a fresh `out` directory."""
    log(f"compiling {len(files)} Scala files")
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    t0 = time.time()
    call(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", str(jars / "*"),
          "scala.tools.nsc.Main",
          "-usejavacp", "-nowarn", "-classpath", os.pathsep.join([str(c) for c in classpath]),
          "-d", str(out)] + [str(f) for f in files],
         START + BUILD_LIMIT_S, stdout=sys.stderr)
    log(f"compiled in {time.time() - t0:.1f} s")


def build(jars):
    """Compile engine and benchmark unless the build is up to date, then
    build etl_daily's base warehouse with it. Returns whether it built."""
    files = sources()
    want = stamp(files, jars)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == want:
        return False
    (STATE / "tmp").mkdir(parents=True, exist_ok=True)
    # untraced latencies of an older build are no base for this one's
    # trace.overhead_ratio
    shutil.rmtree(STATE / "untraced", ignore_errors=True)
    scalac(files, CLASSES, jars)
    t0 = time.time()
    call(java_cmd(jars, [str(CLASSES)]) + ["perfbench.Main", "--mode", "prepare-etl",
                                           "--state", str(STATE)],
         START + BUILD_LIMIT_S, stdout=sys.stderr)
    log(f"etl_daily base warehouse built in {time.time() - t0:.1f} s")
    stamp_file.write_text(want)
    return True


def run_jvm(jars, args, trace, deadline, untraced_cpu_p50=None, echo=sys.stdout):
    cmd = java_cmd(jars, [str(CLASSES)]) + [
        "perfbench.Main", "--state", str(STATE), "--data", str(DATA), "--goldens", str(GOLDENS),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace)]
    if untraced_cpu_p50 is not None:
        cmd += ["--untraced-cpu-p50", repr(untraced_cpu_p50)]
    out = call(cmd, deadline, stdout=subprocess.PIPE)
    lines = out.strip().splitlines()
    result = json.loads(lines[-1])
    print("\n".join(lines), file=echo, flush=True)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jars = spark_jars()
    deadline = START + (BUILD_LIMIT_S if build(jars) else RUN_LIMIT_S)
    history = STATE / "untraced" / f"{args.workload}.json"
    history.parent.mkdir(parents=True, exist_ok=True)
    past = json.loads(history.read_text()) if history.exists() else []
    if args.trace == 1 and not past:
        # trace.overhead_ratio compares with this checkout's untraced
        # runs; with none yet, make one first, reported on stderr
        log("no untraced run of this build yet: running one as the base of trace.overhead_ratio")
        past.append(run_jvm(jars, args, 0, deadline, echo=sys.stderr)
                    ["metrics"]["cpu_p50_s"]["value"])
        history.write_text(json.dumps(past))
    if args.trace == 0:
        result = run_jvm(jars, args, 0, deadline)
        past.append(result["metrics"]["cpu_p50_s"]["value"])
        history.write_text(json.dumps(past))
    else:
        run_jvm(jars, args, 1, deadline, untraced_cpu_p50=statistics.median(past))


if __name__ == "__main__":
    main()
