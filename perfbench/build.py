"""Build the program and the benchmark harness from source.

Compiles src/main/scala and then perfbench/src with the Scala compiler that
ships in the Spark distribution the project builds against (the jars
build.sbt names as `unmanagedBase`, or $SPARK_HOME/jars). Output goes to
.bench_build/classes and is reused while no source file changes.

Usage: python3 perfbench/build.py    (prints the run classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME or keep build.sbt's unmanagedBase")


def scala_files(d):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def scalac(jars, files, dest, extra_cp=None):
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx1536m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + OUT, "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
    if extra_cp:
        cmd += ["-classpath", extra_cp]
    r = subprocess.run(cmd + files, cwd=ROOT)
    if r.returncode != 0:
        raise BuildError("scalac failed for " + os.path.relpath(files[0], ROOT))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()


def compiled(dest, stamp, compile_into):
    """Run compile_into(tmp) unless dest already holds a build with this stamp."""
    stamp_file = os.path.join(dest, "STAMP")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    compile_into(tmp)
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def build():
    """Compile what changed; return the run classpath."""
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError("no program sources at src/main/scala: run from a full checkout")
    jars = spark_jars()
    program, harness = scala_files(PROGRAM_SRC), scala_files(HARNESS_SRC)
    main, bench = os.path.join(CLASSES, "main"), os.path.join(CLASSES, "bench")
    main_stamp = digest(program, "\n".join(sorted(os.listdir(jars))))
    compiled(main, main_stamp, lambda d: scalac(jars, program, d))
    compiled(bench, digest(harness, main_stamp), lambda d: scalac(jars, harness, d, main))
    return os.pathsep.join([bench, main, PROGRAM_RES, os.path.join(jars, "*")])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("build: " + str(e), file=sys.stderr)
        sys.exit(2)
