"""Build file of the journey benchmark.

Compiles the engine's main sources (src/main/scala) together with the
harness sources (journeybench/src) in one scalac pass, using the Scala
compiler that ships in Spark's jars directory, into
.bench_build/classes-<source digest>. A build whose digest matches is reused.

    python3 journeybench/build.py        # build, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars") if home else ""
        if jars and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark jars directory with a Scala compiler (set SPARK_HOME)")


def sources(root=ROOT):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"engine sources not found under {os.path.relpath(main, root)}")
    found = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable (set JAVA_HOME or put java on PATH)")
    return exe


def ensure(root=ROOT):
    """Compile if needed; return the runtime classpath entries."""
    srcs = sources(root)
    jars = spark_jars()
    digest = hashlib.sha256()
    digest.update(os.path.basename(glob.glob(os.path.join(jars, "scala-compiler-*.jar"))[0]).encode())
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    build_dir = os.path.join(root, ".bench_build")
    out = os.path.join(build_dir, "classes-" + digest.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, ".complete")):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = [java(), "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
        os.remove(argfile)
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    resources = os.path.join(root, "src", "main", "resources")
    return [out, resources, os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(ensure()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
