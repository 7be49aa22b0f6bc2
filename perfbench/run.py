#!/usr/bin/env python3
"""Run one workload of the pipeline benchmark.

    python3 perfbench/run.py --workload daily|backfill|registry \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the product and the
harness with sbt (offline) into perfbench/target and reuses the build
while the sources are unchanged. Every file a run writes stays under
.bench_build/ in the current directory and is removed when it ends. The
last line of standard output is the JSON result; the line before it is a
detail record (host facts, per-workload figures, failures).

`setup_s` and `cold_s` are medians over several fresh JVMs of the same
seed (FRESH_JVMS): the extra ones only set up, run the cold ops and check
them; the last one then goes on to the warm ops.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("daily", "backfill", "registry")
# every JVM of a run must end this long after the build check
RUN_TIMEOUT_S = 170
# fresh JVMs per untraced run whose set-up and cold ops are timed: a
# day's cold op is one sample, the registry's a whole pass of cold queries
FRESH_JVMS = {"daily": 2, "backfill": 1, "registry": 1}
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: product sources and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def cpu_ticks():
    """(steal, total) ticks of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, ValueError, IndexError):
        return None


def steal_share(t0, t1):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_ticks() readings: the host's contention, which this run cannot
    control, reported beside the figures it disturbs."""
    if t0 is None or t1 is None or t1[1] <= t0[1]:
        return None
    return (t1[0] - t0[0]) / (t1[1] - t0[1])


def run_killable(cmd, timeout, **kw):
    """subprocess.run in its own process group, killed whole on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def spark_jars_on_path():
    """jars/ of the first Spark install whose bin/ is on the PATH."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = os.path.join(os.path.dirname(os.path.realpath(d)), "jars")
        if os.path.exists(os.path.join(d, "spark-submit")) and os.path.isdir(jars) \
                and any(f.startswith("spark-core_") for f in os.listdir(jars)):
            return jars
    fail("no Spark found: set SPARK_HOME or put a Spark install's bin/ on the PATH")


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no product sources under src/main/scala/graft; run from the repository root")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_JARS_DIR" not in env and "SPARK_HOME" not in env:
        env["SPARK_JARS_DIR"] = spark_jars_on_path()
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    rc, out, _ = run_killable(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                              BUILD_TIMEOUT_S, cwd=HERE, env=env,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {rc})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip(), True


def java_cmd(cp, tmp, main_args, heap="2g"):
    # a ceiling, not a fixed heap: resident memory follows the live heap
    cmd = ["java", f"-Xmx{heap}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main"] + main_args
    return cmd


def jvm_env(tmp):
    # product scratch (shuffle, spills, stream checkpoints) stays in the run dir
    return dict(os.environ, SPARK_GRAFT_EPHEMERAL_ROOT=tmp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t_start = time.time()
    cp, _ = build()
    a.deadline = time.time() + RUN_TIMEOUT_S
    base = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    try:
        fresh = [] if a.trace else [run_jvm(cp, a, os.path.join(base, f"cold{i}"), cold_only=True)
                                    for i in range(FRESH_JVMS[a.workload] - 1)]
        detail, result = run_jvm(cp, a, os.path.join(base, "main"))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(f"perfbench: {time.time() - t_start:.1f}s in all", file=sys.stderr)
    if fresh:
        setups = [r["setup_s"] for _, r in fresh] + [result["metrics"]["setup_s"]["value"]]
        colds = [r["cold_s"] for _, r in fresh] + [result["metrics"]["cold_s"]["value"]]
        for name, xs in (("setup_s", setups), ("cold_s", colds)):
            result["metrics"][name]["value"] = statistics.median(xs)
            detail[name] = statistics.median(xs)
            detail[f"fresh_jvm_{name}"] = xs
        if "daily_cold_s" in detail:
            detail["daily_cold_s"] = detail["cold_s"]
        result["attempted"] += sum(r["attempted"] for _, r in fresh)
        result["failed"] += sum(r["failed"] for _, r in fresh)
        result["correct"] = result["correct"] and result["failed"] == 0
        detail["failures"] += [f for d, _ in fresh for f in d["failures"]]
        detail["fresh_jvm_steal_share"] = [d["host_steal_share"] for d, _ in fresh] \
            + [detail["host_steal_share"]]
    print(json.dumps(detail))
    print(json.dumps(result))


def run_jvm(cp, a, work, cold_only=False):
    """One benchmark JVM in its own work dir; returns (detail, result)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work,
                "--registry", os.path.join(HERE, "registry.tsv"),
                "--data", os.path.join(HERE, "data", "sf0.01"),
                "--cold-only", "1" if cold_only else "0"]
        t_jvm, ticks = time.time(), cpu_ticks()
        args += ["--launched", repr(t_jvm)]
        try:
            rc, out, _ = run_killable(java_cmd(cp, tmp, args), max(1, a.deadline - time.time()),
                                      env=jvm_env(tmp), stdout=subprocess.PIPE, text=True)
        except subprocess.TimeoutExpired:
            fail("benchmark JVM timed out")
        print(f"perfbench: jvm {time.time() - t_jvm:.1f}s{' (cold only)' if cold_only else ''}",
              file=sys.stderr)
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if rc != 0 or len(lines) < 2:
            sys.stderr.write(out[-4000:])
            fail(f"benchmark JVM failed (exit {rc})")
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        detail["host_steal_share"] = steal_share(ticks, cpu_ticks())
        if not cold_only:
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
        return detail, result
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
