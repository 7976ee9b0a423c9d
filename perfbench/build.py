"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's harness (`perfbench/src`) with the Scala
compiler that ships in Spark's `jars/` directory, into
`.bench_build/classes-<hash of the sources>/`.

Run from the root of a checkout: `python3 perfbench/build.py`. A second
call with unchanged sources reuses the classes.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def repo_setting(path, pattern):
    """The first group of `pattern` in the repo file `path`, or None."""
    try:
        with open(os.path.join(ROOT, path)) as f:
            m = re.search(pattern, f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the sbt build uses."""
    home = os.environ.get("SPARK_HOME")
    jars = (os.path.join(home, "jars") if home
            else repo_setting("build.sbt", r'unmanagedBase\s*:=\s*file\("([^"]+)"\)'))
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def default_corpus():
    """`$SPARK_GRAFT_SF_DIR`, else the corpus `graft.Bench` defaults to."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or repo_setting(
        os.path.join("src", "main", "scala", "graft", "Bench.scala"),
        r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"')


def sources():
    found = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    if not found:
        raise SystemExit("perfbench: no program sources under src/main/scala — run from a checkout")
    return found + sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))


def build():
    """Return the classes directory, compiling first if needed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
