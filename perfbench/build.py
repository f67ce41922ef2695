"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, into .bench_build/classes. The build is skipped when a stamp of
every source file and the toolchain matches the last build.

    python3 perfbench/build.py          # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the jars next to the
    first spark-submit on PATH that ships the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.exists(submit):
            jars = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")
            if os.path.exists(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
                return jars
    raise RuntimeError("set SPARK_HOME to a Spark install with scala-compiler-" + SCALA)


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(root, srcs):
    h = hashlib.sha256(SCALA.encode())
    h.update(spark_jars().encode())
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, out_dir):
    """Compile if needed; return (classes dir, source stamp, whether it compiled)."""
    srcs = sources(root)
    if not any(p.endswith("SparkEntry.scala") for p in srcs):
        raise RuntimeError("program sources (src/main/scala) are missing")
    st = stamp(root, srcs)
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == st:
                return classes, st, False
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", os.path.join(jars, "*"), "-nowarn", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(st)
    return classes, st, True


if __name__ == "__main__":
    root = os.getcwd()
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(root, out)[0])
    sys.exit(0)
