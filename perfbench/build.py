"""Build for the benchmark: compiles the program (`src/main/scala`, with
`src/main/resources`) and the harness (`perfbench/scala`) with the Scala
compiler that ships among the Spark jars the repository builds against,
into `.bench_build/classes-<hash>`.

The output is reused while the sources are unchanged (keyed by a hash of
every source file). Run directly to build: `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_opens():
    out = []
    for p in JAVA_OPENS:
        out += ["--add-opens", p + "=ALL-UNNAMED"]
    return out


def _sources(root):
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"), recursive=True)
                       if os.path.isfile(p))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    return program, resources, harness


def _spark_jars(root):
    """The jar directory the repository's own build compiles against
    (`unmanagedBase` in build.sbt)."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        found = None
    if not found or not os.path.isdir(found.group(1)):
        raise SystemExit("build: build.sbt names no existing unmanagedBase jar directory")
    return found.group(1)


def classpath(root="."):
    """Build if needed; return the runtime classpath string."""
    root = os.path.abspath(root)
    program, resources, harness = _sources(root)
    if not program:
        raise SystemExit("build: no program sources under src/main/scala")
    spark_jars = _spark_jars(root)
    digest = hashlib.sha256()
    for path in program + resources + harness:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    key = digest.hexdigest()[:16]
    build = os.path.join(root, BUILD_DIR)
    classes = os.path.join(build, "classes-" + key)
    jars = os.path.join(spark_jars, "*")
    if not os.path.isfile(os.path.join(classes, ".done")):
        for old in glob.glob(os.path.join(build, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(classes)
        cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main", "-usejavacp",
               "-nowarn", "-d", classes] + program + harness
        print("build: compiling %d program and %d harness sources" % (len(program), len(harness)),
              file=sys.stderr)
        # run inside the output dir: scalac also searches its working
        # directory, where perfbench/scala would shadow the scala package
        res = subprocess.run(cmd, cwd=classes)
        if res.returncode != 0:
            shutil.rmtree(classes, ignore_errors=True)
            raise SystemExit("build: scalac failed")
        for path in resources:
            rel = os.path.relpath(path, os.path.join(root, "src/main/resources"))
            os.makedirs(os.path.dirname(os.path.join(classes, rel)), exist_ok=True)
            shutil.copyfile(path, os.path.join(classes, rel))
        open(os.path.join(classes, ".done"), "w").close()
    return classes + os.pathsep + jars


if __name__ == "__main__":
    print(classpath())
