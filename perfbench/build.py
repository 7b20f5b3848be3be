#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` + `src/main/resources`) and the
benchmark (`perfbench/src`) from source with the Scala compiler that ships in
Spark's jar directory, into the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build`). Outputs are keyed by a hash of the sources, so an unchanged
tree is not rebuilt. Prints the run classpath.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the first Spark distribution
    whose `bin/spark-submit` is on PATH; it must ship a Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.get_exec_path() if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError(f"no Spark distribution with a Scala compiler among {homes} (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable (set JAVA_HOME or PATH)")
    return exe


def sources(*dirs, ext=".scala"):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def scalac(classpath, out, files):
    os.makedirs(out)
    cmd = [java(), "-Xss8m", "-Xmx1536m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
           "-classpath", classpath, "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compilation failed:\n" + r.stdout[-4000:])


def compiled(name, key, build):
    """Directory `name-key` in the build dir, built by `build(tmp)` if absent."""
    final = os.path.join(build_dir(), f"{name}-{key}")
    if os.path.isdir(final):
        return final
    os.makedirs(build_dir(), exist_ok=True)
    for old in glob.glob(os.path.join(build_dir(), f"{name}-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.rename(tmp, final)
    return final


def ensure():
    """Build what is missing; return (classpath, source hash)."""
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        raise BuildError(f"engine sources not found under {ENGINE_SRC}")
    engine_files = sources(ENGINE_SRC)
    bench_files = sources(BENCH_SRC)
    if not engine_files or not bench_files:
        raise BuildError("no Scala sources to build")
    res_files = sources(ENGINE_RES, ext="") if os.path.isdir(ENGINE_RES) else []
    jars = os.path.join(spark_jars(), "*")
    engine_key = tree_hash(engine_files + res_files)

    def build_engine(tmp):
        scalac(jars, tmp, engine_files)
        if os.path.isdir(ENGINE_RES):
            shutil.copytree(ENGINE_RES, tmp, dirs_exist_ok=True)

    engine = compiled("engine", engine_key, build_engine)
    bench_key = tree_hash(bench_files) + engine_key
    bench = compiled("bench", bench_key,
                     lambda tmp: scalac(os.pathsep.join([engine, jars]), tmp, bench_files))
    return os.pathsep.join([bench, engine, jars]), engine_key


if __name__ == "__main__":
    try:
        print(ensure()[0])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
