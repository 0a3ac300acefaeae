#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's main sources (src/main/scala) together with the
benchmark's own Scala sources (perfbench/src) with the Scala compiler that
ships among Spark's jars, copies the program's resources, and runs the
benchmark's self-tests. The classes land in .bench_build/perfbench/<hash>/,
keyed by a hash of every input, so a checkout builds once.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT_ROOT = os.path.join(".bench_build", "perfbench")


def spark_jars():
    """The directory of Spark's jars: $SPARK_HOME/jars, else the one next
    to spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: Spark's jars (with the Scala compiler) not found; set SPARK_HOME")
    return jars


def _files(root, pattern):
    return sorted(glob.glob(os.path.join(root, pattern), recursive=True))


def inputs(root):
    main = _files(root, "src/main/scala/**/*.scala")
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala; run from the repository root")
    bench = _files(HERE, "src/**/*.scala")
    resources = [f for f in _files(root, "src/main/resources/**/*") if os.path.isfile(f)]
    return main + bench, resources


def build(root="."):
    """Returns the classes directory, compiling first if needed."""
    jars = spark_jars()
    sources, resources = inputs(root)
    h = hashlib.sha256()
    for f in sources + resources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, OUT_ROOT, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes, jars
    # a stale build of other sources is of no further use
    if os.path.isdir(os.path.join(root, OUT_ROOT)):
        for d in os.listdir(os.path.join(root, OUT_ROOT)):
            if len(d) == 16 and d != os.path.basename(out):
                shutil.rmtree(os.path.join(root, OUT_ROOT, d), ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    print(f"perfbench: compiling {len(sources)} Scala files", file=sys.stderr)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-classpath", cp, "-d", classes, "@" + argfile], check=True)
    res_root = os.path.join(root, "src", "main", "resources")
    for f in resources:
        dst = os.path.join(classes, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    subprocess.run(["java", "-cp", classes + os.pathsep + cp, "graft.perfbench.SelfTest"], check=True)
    open(os.path.join(out, "ok"), "w").close()
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except subprocess.CalledProcessError as e:
        sys.exit(f"perfbench: build step failed: {e}")
