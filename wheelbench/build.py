"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`wheelbench/src`) into
one class directory, with the Scala compiler that ships among Spark's jars.
Nothing in the program's own build is touched.

    python3 wheelbench/build.py [out_dir]

The class directory is reused while no source file changes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return os.path.abspath(c)
    raise BuildError("no Spark installation with a Scala compiler found "
                     "(set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable found")
    return exe


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise BuildError(f"no program sources under {os.path.join(root, 'src', 'main', 'scala')}")
    return prog + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(root, out_dir):
    """Returns the class directory, compiling first if any source changed."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(out_dir, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = [java(), "-Xss4m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(".bench_build", "wheelbench")
    try:
        print(build(os.getcwd(), os.path.abspath(out)))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
