"""Build file of the benchmark: compiles the graft library (src/main/scala)
and the benchmark's own sources (perfbench/src) with the Scala compiler
that ships among the Spark jars, into .bench_build/ of the checkout.

Each part is rebuilt only when the hash of its sources changed. The Spark
jars directory is $SPARK_HOME/jars, else the `unmanagedBase` that the
project's build.sbt names.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

LIB_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
OUT = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt in %s and SPARK_HOME is unset" % root)
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase directory")
    return m.group(1)


def sources(root, rel):
    top = os.path.join(root, rel)
    if not os.path.isdir(top):
        raise BuildError("missing source directory %s" % rel)
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not out:
        raise BuildError("no Scala sources under %s" % rel)
    return sorted(out)


def fingerprint(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_part(root, name, files, classpath, jars, extra=""):
    """Compile `files` into .bench_build/<name> unless already built from the same sources."""
    dest = os.path.join(root, OUT, name)
    stamp = os.path.join(dest, ".fingerprint")
    fp = fingerprint(files, extra + classpath)
    if os.path.isfile(stamp) and open(stamp).read() == fp:
        return dest, False
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compiling %s failed:\n%s" % (name, r.stdout[-4000:]))
    with open(os.path.join(tmp, ".fingerprint"), "w") as fh:
        fh.write(fp)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest, True


def build(root):
    """Returns (runtime classpath, whether anything was compiled)."""
    jars = spark_jars(root)
    jar_cp = os.path.join(jars, "*")
    lib, built_lib = compile_part(root, "graft", sources(root, LIB_SRC), jar_cp, jars)
    bench_cp = os.pathsep.join([lib, jar_cp])
    # the library's fingerprint is folded in so the benchmark rebuilds with it
    lib_fp = open(os.path.join(lib, ".fingerprint")).read()
    bench, built_bench = compile_part(root, "bench", sources(root, BENCH_SRC), bench_cp, jars, lib_fp)
    return os.pathsep.join([bench, lib, jar_cp]), built_lib or built_bench


if __name__ == "__main__":
    try:
        print(build(os.getcwd())[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
