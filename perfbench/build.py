"""Builds the benchmark from source: the repository's main sources and the
benchmark's own, compiled together with the Scala compiler that ships among
the Spark jars the repository's build uses. Output goes to .bench_build/perfbench
under the repository root and is reused while no source changes."""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The directory named by `unmanagedBase` in the repository's build.sbt,
    else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sys.exit("perfbench: no Spark jars: build.sbt names none and SPARK_HOME is unset")


def sources(tests=False):
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        sys.exit(f"perfbench: no program sources under {ROOT}/src/main/scala")
    own = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    if tests:
        own += sorted(glob.glob(os.path.join(BENCH, "test", "**", "*.scala"), recursive=True))
    return main + own


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def build(tests=False):
    """Returns the directory of compiled classes, compiling when needed."""
    srcs = sources(tests)
    resources = os.path.join(ROOT, "src", "main", "resources")
    digest = hashlib.sha256()
    for path in srcs + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            digest.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                digest.update(f.read())
    classes = os.path.join(OUT, "test-classes" if tests else "classes")
    stamp = os.path.join(OUT, ("test-" if tests else "") + "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-deprecation:false", "-nowarn", "-cp", jars, "-d", classes, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd).returncode != 0:
        sys.exit("perfbench: compilation failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classes
