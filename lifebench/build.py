"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (lifebench/src) using the Scala compiler that ships in
the Spark distribution's jars, into .bench_build/lifebench/classes under
the repository root. A stamp of the sources' contents makes a rebuild
happen only when a source changed.

    python3 lifebench/build.py      # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The jars of the Spark installation: SPARK_HOME's, else those beside
    the first spark-submit on PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    sys.exit("lifebench: no Spark installation found; set SPARK_HOME")


def sources(root):
    program = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(program):
        sys.exit("lifebench: src/main/scala not found; run from the repository root")
    found = []
    for base in (program, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root):
    """Returns the classes directory, compiling first if it is stale."""
    srcs = sources(root)
    stamp = hashlib.sha256()
    for s in srcs:
        stamp.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            stamp.update(f.read())
    out = os.path.join(root, ".bench_build", "lifebench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp.hexdigest():
        return classes
    jars = spark_jars()
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", fresh, "-classpath", cp, "@" + argfile]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if done.returncode != 0:
        sys.exit(f"lifebench: compile failed ({done.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
