"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark's JVM harness (perfbench/src) with the Scala compiler that ships
with the Spark jars the repository builds against.

    python3 perfbench/build.py            # build into .bench_build/

Outputs go to $CARGO_TARGET_DIR if set, else .bench_build/, both relative
to the repository root. A stamp of the sources' content skips a rebuild
when nothing changed. Exits non-zero when the program's sources or the
Spark jars are missing.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(REPO, d)


def spark_jars():
    """The jar directory the repository's own build compiles against
    (`unmanagedBase` in build.sbt), else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(REPO, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench build: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def _sources(top):
    out = []
    for dirpath, _, files in os.walk(top):
        out += [os.path.join(dirpath, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, out, files):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"perfbench build: scalac failed for {out}")


def build():
    """Compile when the sources changed; return the run-time classpath."""
    jars = spark_jars()
    program = _sources(os.path.join(REPO, "src", "main", "scala"))
    bench = _sources(os.path.join(REPO, "perfbench", "src"))
    if not program:
        raise SystemExit("perfbench build: no program sources under src/main/scala")
    out = build_dir()
    prog_out, bench_out = os.path.join(out, "program"), os.path.join(out, "bench")
    stamp_file = os.path.join(out, "stamp")
    stamp = _stamp(program + bench)
    current = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if current != stamp:
        jar_cp = os.path.join(jars, "*")
        _scalac(jars, jar_cp, prog_out, program)
        _scalac(jars, prog_out + os.pathsep + jar_cp, bench_out, bench)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([bench_out, prog_out, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build())
