"""Builds the engine and the benchmark's runner from source.

Compiles every Scala file under ``src/main/scala`` together with
``perfbench/src`` into ``<build dir>/classes`` with the Scala compiler
that ships in the Spark distribution the repository builds against (the
``unmanagedBase`` directory named in ``build.sbt``), and copies
``src/main/resources`` alongside. A stamp of the sources' content makes a
second call a no-op.

Usage: python3 perfbench/build.py [build dir]   (default: .bench_build)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HERE = os.path.dirname(os.path.abspath(__file__))


def jvm_opens():
    return [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    """The jar directory ``build.sbt`` points ``unmanagedBase`` at."""
    with open("build.sbt", encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    jars = m.group(1)
    if not os.path.isdir(jars):
        raise RuntimeError(f"Spark jar directory {jars} is missing")
    return jars


def sources():
    out = []
    for root in ("src/main/scala", os.path.join(HERE, "src")):
        for d, _, fs in os.walk(root):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    if not any(p.startswith("src/main/scala") for p in out):
        raise RuntimeError("no engine sources under src/main/scala")
    return sorted(out)


def build(build_dir=".bench_build"):
    """Returns the classpath entry holding the compiled classes."""
    classes = os.path.join(build_dir, "classes")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for d, _, fs in sorted(os.walk("src/main/resources")):
        for f in sorted(fs):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    stamp = os.path.join(build_dir, "stamp")
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError(f"compilation failed (exit {r.returncode})")
    if os.path.isdir("src/main/resources"):
        shutil.copytree("src/main/resources", classes, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


if __name__ == "__main__":
    print(build(*sys.argv[1:]))
