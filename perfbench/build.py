"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM harness (perfbench/scala) with the Scala compiler
that ships in Spark's jars directory, into a class directory keyed by a
hash of every source file. An unchanged tree reuses its classes.

Usage: python3 perfbench/build.py [build_dir]   (prints the class dir)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler jar in {jars}")
    return jars


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit(f"perfbench: no {SOURCE_DIRS[0]} here; run from the repository root")
    files = sorted(f for d in SOURCE_DIRS for f in glob.glob(f"{d}/**/*.scala", recursive=True))
    if not files:
        raise SystemExit("perfbench: no Scala sources found")
    return files


def build(build_dir):
    """Returns the class directory for the current sources, compiling if needed."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for name in [jars] + sorted(os.listdir(jars)) + files:
        h.update(name.encode() + b"\0")
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.abspath(os.path.join(build_dir, "perfbench", f"classes-{h.hexdigest()[:16]}"))
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
