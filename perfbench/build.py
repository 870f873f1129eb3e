"""Build file of the benchmark: compiles the library (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in the
project's Spark distribution, into .bench_build/perfbench.

A build is skipped when the sources' digest matches the last build's.
Run directly (`python3 perfbench/build.py`) to build without running.
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The Spark jars dir: the project's `unmanagedBase`, else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jars (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def scala_sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_into(dest, files, jars, extra_cp=None):
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if extra_cp:
        cmd += ["-cp", extra_cp]
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: compiling {os.path.relpath(dest, ROOT)} failed")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def ensure():
    """Build what is stale; return the run classpath."""
    lib_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(lib_src, "graft")):
        raise SystemExit("perfbench: no library sources under src/main/scala/graft")
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    lib, bench = os.path.join(OUT, "lib"), os.path.join(OUT, "bench")
    with open(os.path.join(OUT, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        lib_files = scala_sources(lib_src)
        bench_files = scala_sources(os.path.join(HERE, "src"))
        want_lib = digest(lib_files)
        want_bench = want_lib + digest(bench_files)
        stamp = os.path.join(OUT, "stamp")
        have = open(stamp).read().split() if os.path.isfile(stamp) else ["", ""]
        if have[0] != want_lib or not os.path.isdir(lib):
            sys.stderr.write("perfbench: compiling the library\n")
            compile_into(lib, lib_files, jars)
            have = [want_lib, ""]
        if have[1] != want_bench or not os.path.isdir(bench):
            sys.stderr.write("perfbench: compiling the benchmark\n")
            compile_into(bench, bench_files, jars, extra_cp=lib)
        with open(stamp, "w") as f:
            f.write(f"{want_lib} {want_bench}\n")
    return os.pathsep.join([bench, lib, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(ensure())
