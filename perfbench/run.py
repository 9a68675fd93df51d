#!/usr/bin/env python3
"""Benchmark of the RAG ingestion/serving path of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a source checkout. The first run builds the engine and
the benchmark with sbt (perfbench/build.sbt links against the checkout's
sources) and caches the classpath under perfbench/.work; later runs start
the JVM directly. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
holding the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(WORK, "classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Runnable by name, not in BENCHMARK.json (see perfbench/METRICS.md).
EXTRA_WORKLOADS = ["ingest_search_mixed"]

# Spark on JDK 17 needs these outside spark-submit (the list of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to the benchmark "
             "(expected build.sbt and src/main/scala one directory up)")
    if os.path.isfile(CLASSPATH) and \
            os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        # The offline repository setup of the engine's own test command.
        env["SBT_OPTS"] = ("-Xmx2g -Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    cp = None
    for line in out.stdout.splitlines():
        parts = line.strip().split(os.pathsep)
        if parts and all(os.path.isabs(p) for p in parts) and \
                any(p.endswith(".jar") for p in parts):
            cp = line.strip()
    if out.returncode != 0 or cp is None:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed", 3)
    os.makedirs(WORK, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    print(f"# built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_once(cp, args):
    """One benchmark JVM; returns (exit code, stdout lines)."""
    work = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    n = cpus()
    # The CLI's session config with only the master pinned: the engine's
    # default of 32 shuffle partitions stays (see perfbench/METRICS.md).
    env = dict(os.environ, SPARK_MASTER=f"local[{n}]",
               SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    env.pop("SPARK_GRAFT_CPUS", None)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work] + args
    lines = []
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    expired = threading.Event()

    def expire():
        expired.set()
        proc.kill()

    timer = threading.Timer(RUN_TIMEOUT_S, expire)
    timer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            lines.append(line.rstrip("\n"))
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if expired.is_set():
        print("perfbench: run timed out", file=sys.stderr)
        code = 124
    return code, lines


def result_of(lines):
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    return r if isinstance(r, dict) and \
        set(r) == {"correct", "attempted", "failed", "metrics"} else None


def selftest(cp):
    """Tiny-size runs: every named metric printed with its unit, a planted
    wrong answer fails the run, a planted throwing operation is counted.
    The size and the plants are arguments of the JVM alone."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []

    def expect(ok, what):
        print(f"# selftest {'ok  ' if ok else 'FAIL'} {what}")
        if not ok:
            problems.append(what)

    base = ["--size", "tiny", "--seed", "7", "--seconds", "2"]
    listed = [w["name"] for w in spec["workloads"]]
    # Workloads outside BENCHMARK.json may print extra per-layer metrics.
    names = listed + [w for w in EXTRA_WORKLOADS if w not in listed]
    for name in names:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            code, lines = run_once(cp, base + ["--workload", name,
                                               "--trace", trace])
            r = result_of(lines)
            expect(code == 0 and r is not None and r["correct"],
                   f"{name} trace={trace} runs and passes its checks")
            if r is None:
                continue
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            want = {m["name"]: m["unit"] for m in spec[key]}
            missing = {k for k in want if got.get(k) != want[k]}
            extra = set(got) - set(want)
            expect(not missing and (not extra or name not in listed),
                   f"{name} trace={trace} prints every {key} metric with its "
                   f"unit (missing {sorted(missing)}, extra {sorted(extra)})")
    for name in names:
        code, lines = run_once(cp, base + ["--workload", name,
                                           "--trace", "0", "--plant", "wrong"])
        r = result_of(lines)
        expect(code != 0 and (r is None or not r["correct"]),
               f"{name}: a planted wrong answer fails the run")
        code, lines = run_once(cp, base + ["--workload", name,
                                           "--trace", "1", "--plant", "throw"])
        r = result_of(lines)
        expect(r is not None and r["failed"] > 0 and
               r["metrics"]["client.failed_share"]["value"] > 0,
               f"{name}: a planted throwing operation raises failed_share")
    print(f"# selftest: {len(problems)} problem(s)")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    # A terminated benchmark still stops and reaps its JVM (see run_once).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build()
    if a.selftest:
        sys.exit(selftest(cp))
    if not a.workload:
        fail("--workload is required")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace]
    if a.trace == "1":
        # The spans of the last traced run of each workload and seed.
        args += ["--spans", os.path.join(
            WORK, f"spans-{a.workload}-{a.seed}.jsonl")]
    code, lines = run_once(cp, args)
    if code != 0:
        fail(f"benchmark run failed (exit {code})", code or 1)
    if result_of(lines) is None:
        fail("benchmark printed no result", 1)


if __name__ == "__main__":
    main()
