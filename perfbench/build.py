"""Build file of the benchmark package.

Compiles the program's main sources together with the benchmark's own
Scala sources (`perfbench/src`) into one class directory, using the
Scala compiler that ships in Spark's jar directory: the same jars the
repository's build.sbt compiles against. Nothing is fetched. The
result is reused while no source file changes.

    python3 perfbench/build.py [OUT_DIR]     # default: .bench_build
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCE_DIRS = [os.path.join(ROOT, "src", "main", "resources")]

# JDK 17 module opens Spark needs outside spark-submit (same list as
# build.sbt's javaOptions).
JVM_OPENS = [
    arg
    for pkg in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    ]
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory of the Spark install (SPARK_HOME, else the
    install that puts spark-submit on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark install found: set SPARK_HOME")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"source directory missing: {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(out_dir):
    """Compiles into OUT_DIR/classes unless it is current; returns the
    run classpath."""
    jars = spark_jars()
    srcs = sources()
    res = [os.path.join(b, f) for d in RESOURCE_DIRS if os.path.isdir(d)
           for b, _, fs in os.walk(d) for f in fs]
    key = fingerprint(srcs + sorted(res))
    classes = os.path.join(out_dir, "classes")
    stamp = os.path.join(out_dir, "classes.stamp")
    classpath = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=850)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    for d in RESOURCE_DIRS:
        if os.path.isdir(d):
            shutil.copytree(d, classes, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(key)
    return classpath


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    try:
        print(build(out))
    except BuildError as e:
        sys.exit(str(e))
