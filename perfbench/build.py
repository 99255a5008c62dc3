"""Build file of the benchmark package: compiles graft's library sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
into one class directory, with the Scala compiler that ships in the Spark
distribution (the same jars graft's sbt build compiles against), then runs
the benchmark's self-test (graftbench.SelfTest) before accepting the build.

The output goes to <repo>/.bench_build/classes-<hash>, keyed by a hash of
every source file, so a checkout builds once and an edited source tree
rebuilds. Usage: python3 perfbench/build.py  (prints the class directory).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
BUILD_ROOT = os.path.join(REPO, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory of the spark-submit found on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    main = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"graft library sources not found under {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"),
                              recursive=True))
    return files


def build(log=sys.stderr):
    """Compile if needed; return the class directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD_ROOT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    jars = spark_jars()
    tmp = f"{out}.partial-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(files)} sources -> {out}", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    res = os.path.join(REPO, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    selftest = subprocess.run(
        ["java", "-XX:-UsePerfData", "-cp", os.pathsep.join([tmp, os.path.join(jars, "*")]),
         "graftbench.Main", "--mode", "selftest"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    if selftest.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("self-test failed:\n" + selftest.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(BUILD_ROOT, "classes-*")):
        if ".partial-" not in old:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
