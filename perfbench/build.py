"""Builds the engine and the benchmark driver with the Scala compiler that
ships among the Spark jars build.sbt compiles against, so no build tool runs
and nothing is fetched.

The output directory is keyed on the contents of `src/main`, `build.sbt` and
the driver's sources: a changed source tree always gets fresh classes, and an
unchanged one is compiled once.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")
COMPILE_TIMEOUT_S = 840


def spark_jars(root):
    """The Spark jars build.sbt compiles against (its `unmanagedBase`)."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m and m.group(1)
    if not jars or not os.path.isdir(jars):
        raise SystemExit(f"no Spark jar directory from build.sbt's unmanagedBase: {jars}")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def files_under(d, exts=None):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if exts is None or n.endswith(exts)]
    return sorted(out)


def digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(sources, classpath, dest, log):
    os.makedirs(dest, exist_ok=True)
    os.makedirs(dest + ".tmp", exist_ok=True)
    argfile = dest + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={dest}.tmp",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", dest, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=COMPILE_TIMEOUT_S)
    os.remove(argfile)
    shutil.rmtree(dest + ".tmp", ignore_errors=True)
    if r.returncode != 0:
        raise SystemExit(f"compilation failed; see {log.name}")


def cached(out, make):
    """Run `make(tmp)` once per output directory; publish it by rename."""
    if os.path.exists(os.path.join(out, "OK")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(os.path.join(tmp, "build.log"), "w") as log:
        make(tmp, log)
    open(os.path.join(tmp, "OK"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def ensure_built(root):
    """Return the run classpath, compiling the engine (keyed on `src/main`
    and `build.sbt`) and then the driver (keyed on its sources and the
    engine's key) where this tree has no classes yet."""
    main = os.path.join(root, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")) or not os.path.isfile(
            os.path.join(root, "build.sbt")):
        raise SystemExit("run from the repository root: src/main/scala and build.sbt are missing")
    jars = spark_jars(root)
    base = os.path.join(root, ".bench_build")
    engine_key = digest(files_under(main) + [os.path.join(root, "build.sbt")], root)
    bench_srcs = files_under(BENCH_SRC, ".scala")
    bench_key = digest(bench_srcs, root) + "-" + engine_key

    def make_engine(tmp, log):
        sys.stderr.write("building the engine...\n")
        scalac(files_under(os.path.join(main, "scala"), (".scala", ".java")), jars,
               os.path.join(tmp, "classes"), log)

    engine = os.path.join(cached(os.path.join(base, "engine-" + engine_key), make_engine),
                          "classes")

    def make_bench(tmp, log):
        scalac(bench_srcs, [engine] + jars, os.path.join(tmp, "classes"), log)

    bench = os.path.join(cached(os.path.join(base, "driver-" + bench_key), make_bench), "classes")
    return os.pathsep.join([bench, engine, os.path.join(main, "resources")] + jars)


def sbt_java_options(root):
    """build.sbt's javaOptions for forked runs: its --add-opens list and -D
    flags (its -Xmx is replaced by the benchmark's fixed heap)."""
    with open(os.path.join(root, "build.sbt")) as f:
        sbt = f.read()
    opens = re.findall(r'"(java\.base/[\w./]+)"', sbt)
    props = re.findall(r'"(-D[^"$]+)"', sbt)
    return [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + props
