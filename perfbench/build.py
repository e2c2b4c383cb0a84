"""Build file of the benchmark.

Compiles the program under test (src/main/scala) together with the
benchmark harness (perfbench/src) into .bench_build/classes, using the Scala
compiler that ships in Spark's jars directory. A stamp of every source file
skips the compile when nothing changed.

    python3 perfbench/build.py        # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """$SPARK_HOME/jars, else the jars next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise RuntimeError("Spark jars not found (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(root, srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, timeout=800):
    """Return the classes directory, compiling first if sources changed."""
    srcs = sources(root)
    if not any("/src/main/scala/" in p for p in srcs):
        raise RuntimeError("program sources (src/main/scala) not found")
    build_dir = os.path.join(root, BUILD_DIR)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "stamp")
    want = stamp(root, srcs)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile]
    res = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, timeout=timeout)
    if res.returncode != 0:
        raise RuntimeError("compile failed:\n" + res.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except Exception as e:  # noqa: BLE001 - report any build failure
        print(f"error: {e}", file=sys.stderr)
        sys.exit(1)
