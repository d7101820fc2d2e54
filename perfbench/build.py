"""Build file of the graft benchmark.

Compiles graft (the repository's ``src/main``) and the benchmark's own
Scala sources (``perfbench/src``) with the Scala compiler that ships in
the Spark distribution, into ``.bench_build/`` at the repository root.
Nothing is fetched: the classpath is the Spark jars directory, the one
the repository's ``build.sbt`` compiles against (``$SPARK_HOME/jars``,
or the ``jars`` beside the ``spark-submit`` found on ``PATH``).

Each output directory carries a digest of its inputs and is rebuilt only
when a source file changes, so only the first run in a checkout pays for
the compile.

    python3 perfbench/build.py          # build main classes
    python3 perfbench/build.py --test   # also build the self-tests
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """Jars of the Spark distribution that also ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler found; set SPARK_HOME")


def _sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files]
    return sorted(out)


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(srcs, classpath, dest):
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", ":".join(classpath), "-d", dest, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        raise BuildError(f"scalac failed ({r.returncode}) for {dest}")


def _module(name, src_dirs, res_dir, classpath, salt):
    """Compile one module into OUT/<name>, reusing it when its digest matches."""
    srcs = [f for f in _sources(*src_dirs) if f.endswith((".scala", ".java"))]
    if not srcs:
        raise BuildError(f"no sources for {name} under {src_dirs}")
    res = _sources(res_dir) if res_dir and os.path.isdir(res_dir) else []
    digest = _digest(srcs + res, salt)
    dest = os.path.join(OUT, name)
    stamp = os.path.join(OUT, name + ".digest")
    if os.path.isdir(dest) and os.path.exists(stamp) and open(stamp).read() == digest:
        return dest, digest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _scalac(srcs, classpath, tmp)
    for f in res:
        target = os.path.join(tmp, os.path.relpath(f, res_dir))
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copy(f, target)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return dest, digest


def build(with_tests=False):
    """Returns the runtime classpath (list of entries)."""
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft_src):
        raise BuildError(f"graft sources not found at {graft_src}")
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    graft, gd = _module("graft-classes", [graft_src],
                        os.path.join(ROOT, "src", "main", "resources"), jars, "")
    bench, bd = _module("bench-classes", [os.path.join(BENCH, "src", "main", "scala")],
                        os.path.join(BENCH, "src", "main", "resources"), [graft] + jars, gd)
    cp = [bench, graft]
    if with_tests:
        test, _ = _module("bench-test-classes", [os.path.join(BENCH, "src", "test", "scala")],
                          None, [bench, graft] + jars, bd)
        cp = [test] + cp
    return cp + jars


if __name__ == "__main__":
    try:
        build(with_tests="--test" in sys.argv)
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
