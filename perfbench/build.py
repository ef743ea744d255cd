"""Build file of the benchmark package: compiles graft's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) into
`.bench_build/classes`, with the Scala compiler that ships in Spark's jar
directory. A digest of every source file and of the jar listing is kept
next to the classes; an unchanged tree is not recompiled.

    python3 perfbench/build.py        # from the repository root
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    found = []
    for pattern in ("src/main/scala/**/*.scala", "perfbench/src/**/*.scala"):
        found += glob.glob(os.path.join(root, pattern), recursive=True)
    return sorted(found)


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def classpath(root):
    """Runtime classpath: compiled classes, graft's resources (the
    `couch-changes` DataSourceRegister entry) and Spark's jars."""
    return os.pathsep.join([os.path.join(root, BUILD_DIR, "classes"),
                            os.path.join(root, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def ensure(root, log=sys.stderr):
    """Compile when the sources changed; return (classpath, source digest)."""
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src", "main")) for f in files):
        raise FileNotFoundError(f"no graft sources under {root}/src/main/scala")
    want = digest(root, files)
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == want:
        return classpath(root), want
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"compiling {len(files)} sources", file=log, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files,
                   check=True, stdout=log, stderr=log)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(want)
    return classpath(root), want


if __name__ == "__main__":
    print(ensure(os.getcwd())[1])
