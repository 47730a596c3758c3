"""Build file of the benchmark package.

Compiles the program (src/main/scala) together with the benchmark harness
(perfbench/scala) with the Scala compiler that ships in Spark's jars, into
.bench_build/perfbench/classes-<hash of the sources>. A build whose sources
are unchanged is reused.

    python3 perfbench/build.py        # from the root of a checkout
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")
    return jars


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    return program + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(root):
    """Return the classes directory for the current sources, compiling if needed."""
    srcs = sources(root)
    digest = hashlib.sha1()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    base = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(base, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(base, exist_ok=True)
    for old in glob.glob(os.path.join(base, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars), "-d", tmp,
           "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
