"""graft's benchmark: one seeded closed-loop workload per run.

    python3 perfbench/run.py --workload tsdb_dashboard --seed 1 --seconds 12 --trace 0

Builds graft and the benchmark from source (perfbench/build.py), runs the
workload in one JVM with every scratch file under .bench_build/ in the
checkout, deletes that scratch space, and prints each metric with its unit.
The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 reports the end-to-end
metrics; --trace 1 reports the per-layer metrics and writes the span JSONL
under .bench_build/traces/. See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("tsdb_dashboard", "analytics")
EXPECTED = os.path.join(build.BENCH_DIR, "expected", "analytics.tsv")
# A run must end within 180 s once the program is built. The first run in
# a checkout compiles first (build.py, bounded by its own timeouts), so the
# JVM's deadline starts after the build.
DEADLINE_S = 170

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(classes, args, work, timeout_s):
    """Run graftbench.Main; return its exit code. The JVM's own output
    goes to stderr so stdout carries only the report."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", *JDK17_OPENS,
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
           "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties"),
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
           "graftbench.Main", *args]
    env = dict(os.environ, SPARK_SCALA_VERSION="2.13")
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] timed out after {timeout_s:.0f} s", file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def remove_stale_work():
    """Delete work directories left by runs that were killed."""
    for d in glob.glob(os.path.join(build.BUILD_ROOT, "work-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except (ProcessLookupError, ValueError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def default_seconds():
    """run_seconds from BENCHMARK.json at the root of the checkout."""
    with open(os.path.join(build.REPO, "BENCHMARK.json")) as f:
        return int(json.load(f)["run_seconds"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    help="length of the timed loop (default: run_seconds in BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the analytics workload's result fingerprints")
    a = ap.parse_args()
    if not a.workload and not a.record:
        ap.error("--workload is required")
    try:
        seconds = a.seconds or default_seconds()
        classes = build.build()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    t0 = time.monotonic()
    remove_stale_work()
    work = os.path.join(build.BUILD_ROOT, f"work-{os.getpid()}")
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    traces = os.path.join(build.BUILD_ROOT, "traces")
    args = ["--workload", "analytics" if a.record else a.workload,
            "--seed", str(a.seed), "--seconds", str(seconds),
            "--trace", str(a.trace), "--work", work, "--out", out,
            "--expected", EXPECTED, "--mode", "record" if a.record else "run"]
    if a.trace:
        os.makedirs(traces, exist_ok=True)
        args += ["--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]
    try:
        rc = jvm(classes, args, work, DEADLINE_S - (time.monotonic() - t0))
        if rc != 0 or not os.path.exists(out):
            print(f"[perfbench] benchmark JVM failed (exit {rc})", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
        if a.record:
            import oracle
            bad = oracle.check(os.path.join(work, "oracle"), EXPECTED)
            if bad:
                print(f"[perfbench] oracle mismatch: {', '.join(bad)}", file=sys.stderr)
                return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, v in res["info"].items():
        print(f"# {k} = {v}")
    for name, m in res["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
