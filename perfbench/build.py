"""Build file of the benchmark: compiles graft's main sources and the
benchmark's Scala driver into one class directory with the Scala compiler that
ships with Spark. Rebuilds only when a source file or the toolchain changed.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler among the jars in {jars}")
    return jars


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    found = sorted(glob.glob(os.path.join(graft, "**", "*.scala"), recursive=True))
    if not found:
        raise SystemExit(f"perfbench: no graft sources under {graft}")
    return found + sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build():
    """Compile if needed and return the class directory."""
    jars = spark_jars()
    srcs = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    digest = hashlib.sha256(jars.encode())
    for path in srcs + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        digest.update(path.encode())
        if os.path.isfile(path):
            with open(path, "rb") as f:
                digest.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args = os.path.join(OUT, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(f'"{s}"' for s in srcs))
    # an explicit -classpath: scalac's default "." would read perfbench/ as a package
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", CLASSES, "-nowarn", "-d", CLASSES, "@" + args]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if done.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, CLASSES, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
