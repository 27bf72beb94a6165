"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) into one class directory with the
Scala compiler that ships in the Spark distribution's jars. No download,
no build tool state outside the output directory.

    python3 perfbench/build.py            # builds into .bench_build/classes

A build is reused while the hash of every source file is unchanged.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

SOURCE_ROOTS = ("src/main/scala", "perfbench/src")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars bundled with the pyspark package
    (the same Spark 4.1 distribution)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        raise RuntimeError("Spark jars not found: set SPARK_HOME to a Spark 4.1 distribution")
    return jars


def sources(root):
    files = []
    for top in SOURCE_ROOTS:
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            raise RuntimeError(f"missing source directory {top}")
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_hash(root):
    h = hashlib.sha256()
    for f in sources(root):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out_dir):
    """Returns (classpath, seconds spent building, source hash)."""
    jars = spark_jars()
    classes = os.path.join(out_dir, "classes")
    stamp = os.path.join(out_dir, "classes.sha256")
    digest = source_hash(root)
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return cp, 0.0, digest
    t0 = time.time()
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources(root)))
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData and the tmpdir keep the compiler's files in out_dir
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, time.time() - t0, digest


if __name__ == "__main__":
    root = os.getcwd()
    cp, secs, digest = build(root, os.path.join(root, ".bench_build"))
    print(f"built {digest[:12]} in {secs:.1f}s", file=sys.stderr)
