"""Build file of the benchmark: compiles graft's main sources and the
benchmark's Scala program with the Scala compiler that ships in the Spark
jars (found through SPARK_HOME, else where graft's build.sbt looks).

Run from the repository root: `python3 graftbench/build.py`. Outputs go
to `.bench_build/graftbench/`; a build is skipped when the sources have
not changed since the last one. Exits non-zero when graft's sources are
missing or do not compile.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build/graftbench"
MAIN_SRC = "src/main/scala"
MAIN_RES = "src/main/resources"
BENCH_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")


def _sources(root, ext):
    return sorted(glob.glob(f"{root}/**/*{ext}", recursive=True))


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(dest, sources, classpath):
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", dest, "-cp", classpath] + sources
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def classpath():
    """The runtime classpath: graft, the benchmark program, the Spark jars."""
    return f"{OUT}/main:{OUT}/bench:{spark_jars()}/*"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory graft's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = os.path.exists("build.sbt") and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit("graftbench: no Spark jars found (set SPARK_HOME)")
    return jars


def build():
    """Build under a lock, so runs started together compile once."""
    os.makedirs(OUT, exist_ok=True)
    with open(f"{OUT}/build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        _build()


def _build():
    main = _sources(MAIN_SRC, ".scala")
    if not main:
        raise SystemExit(f"graftbench: no Scala sources under {MAIN_SRC}; run from the repository root")
    resources = _sources(MAIN_RES, "")
    bench = _sources(BENCH_SRC, ".scala")
    stamp = f"{OUT}/stamp"
    key_main = _digest(main + [r for r in resources if os.path.isfile(r)])
    key_all = key_main + _digest(bench)
    if os.path.exists(stamp) and open(stamp).read() == key_all:
        return
    main_stamp = f"{OUT}/main.stamp"
    if not (os.path.exists(main_stamp) and open(main_stamp).read() == key_main):
        _scalac(f"{OUT}/main", main, f"{spark_jars()}/*")
        for r in resources:
            if os.path.isfile(r):
                dst = os.path.join(f"{OUT}/main", os.path.relpath(r, MAIN_RES))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(r, dst)
        with open(main_stamp, "w") as f:
            f.write(key_main)
    _scalac(f"{OUT}/bench", bench, f"{OUT}/main:{spark_jars()}/*")
    with open(stamp, "w") as f:
        f.write(key_all)


if __name__ == "__main__":
    build()
