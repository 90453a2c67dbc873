"""Build step of the benchmark: compiles the program and the
benchmark's own Scala sources with the Scala compiler shipped in the
Spark distribution, so no build tool or network is needed.

Outputs go to `.bench_build/` (or `$CARGO_TARGET_DIR` when set) at the
checkout root and are reused while the sources hash the same.

    python3 perfbench/build.py        # prints the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars when set, else the
    `unmanagedBase` the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME or build.sbt's "
                         "unmanagedBase")
    return m.group(1)


def _sources(root):
    out = []
    for dirpath, _, files in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in files
                   if f.endswith(".scala"))
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _compiler_jars(jars_dir):
    jars = [glob.glob(os.path.join(jars_dir, f"scala-{n}-2.13*.jar"))
            for n in ("compiler", "library", "reflect")]
    if not all(jars):
        raise BuildError(f"no Scala 2.13 compiler jars in {jars_dir}")
    return [j[0] for j in jars]


def _compile(srcs, classpath, out, jars_dir):
    tmp, jtmp = out + ".tmp", out + ".jtmp"
    for d in (tmp, jtmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={jtmp}",
           "-cp", ":".join(_compiler_jars(jars_dir)), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    shutil.rmtree(jtmp, ignore_errors=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    os.rename(tmp, out)


def build():
    """Compile (or reuse) the program and the benchmark classes and
    return the runtime classpath."""
    main_srcs = _sources(os.path.join(ROOT, "src", "main", "scala"))
    if not main_srcs:
        raise BuildError("no program sources under src/main/scala")
    jars_dir = spark_jars()
    if not os.path.isdir(jars_dir):
        raise BuildError(f"Spark jars not found at {jars_dir}")
    bench_srcs = _sources(os.path.join(BENCH_DIR, "scala"))
    base = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                             ".bench_build"))
    os.makedirs(base, exist_ok=True)
    spark_cp = os.path.join(jars_dir, "*")
    prog = os.path.join(base, "program-" + _digest(main_srcs))
    if not os.path.isdir(prog):
        _compile(main_srcs, spark_cp, prog, jars_dir)
    bench = os.path.join(base, "bench-" + _digest(bench_srcs + main_srcs))
    if not os.path.isdir(bench):
        _compile(bench_srcs, prog + ":" + spark_cp, bench, jars_dir)
    return {"program": prog, "bench": bench, "spark": spark_cp}


if __name__ == "__main__":
    try:
        print(":".join(build().values()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
