"""Build file of the benchmark harness.

Compiles the engine's main sources (`src/main/scala`) into
`.bench_build/engine`, then the harness (`perfbench/src`) against them
into `.bench_build/harness`, using the Scala compiler that ships among
Spark's jars; the root sbt build is not involved. Spark's jar directory is `$SPARK_HOME/jars`, else the
`unmanagedBase` the root `build.sbt` names.

Each step is skipped when a stamp over its source files' paths and
contents matches its last successful build, so only the first run in a
checkout pays for the engine.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(RuntimeError):
    pass


def spark_jars(root):
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("cannot locate Spark's jars: set SPARK_HOME")
    return m.group(1)


def _compile(srcs, classpath, out, stamp):
    """Compile `srcs` into `out` unless its stamp already matches."""
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    tmp = f"{out}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", classpath, "scala.tools.nsc.Main",
           "-classpath", classpath, "-d", tmp, "-nowarn", "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def _stamp(root, seed, srcs):
    h = hashlib.sha256(seed.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root="."):
    """Compile what changed; return the class path of engine + harness."""
    root = os.path.abspath(root)
    jars = spark_jars(root)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    jar_cp = os.path.join(jars, "*")
    engine_out = os.path.join(root, BUILD_DIR, "engine")
    engine_stamp = _stamp(root, jars, engine)
    _compile(engine, jar_cp, engine_out, engine_stamp)
    harness_out = os.path.join(root, BUILD_DIR, "harness")
    _compile(harness, engine_out + os.pathsep + jar_cp, harness_out,
             _stamp(root, engine_stamp, harness))
    return engine_out + os.pathsep + harness_out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
