"""Build file of the benchmark: compiles the engine (``src/main/scala``)
and the harness (``perfbench/harness``) with the Scala compiler that
ships in the Spark distribution, into ``.bench_build/classes-<key>``.

The key hashes every source file, so a checkout builds once and later
runs reuse the classes. ``python3 perfbench/build.py`` builds and prints
the class directory.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root="."):
    """The Spark jars build.sbt compiles against (its `unmanagedBase`),
    else $SPARK_HOME/jars."""
    jars = None
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else None
    except OSError:
        pass
    if not jars and os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler at {jars}")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a checkout")
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    return main + harness


def build(root="."):
    """Compiles if needed; returns the class directory."""
    srcs = sources(root)
    jars = spark_jars(root)
    key = hashlib.sha256()
    for path in srcs:
        key.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            key.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(root, BUILD_DIR, "classes-" + key.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".sources"
    with open(argfile, "w") as f:
        f.writelines(os.path.abspath(p) + "\n" for p in srcs)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build published first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
