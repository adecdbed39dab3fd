"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the benchmark's own sources (perfbench/src) into one
class directory, with the Scala compiler that ships in the Spark jars.

The output lands under $CARGO_TARGET_DIR (default .bench_build) in the
checkout, keyed by a hash of every source file, so an unchanged tree is
built once. Nothing is written outside the checkout.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def build_root():
    target = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, target, "perfbench")


def spark_jars():
    """The Spark jars the program builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` the program's build.sbt names."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if os.path.isdir(c) and any(n.startswith("spark-core") for n in os.listdir(c)):
            return c
    raise BuildError("no Spark jars found (set SPARK_HOME or unmanagedBase in build.sbt)")


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise BuildError("no program sources at src/main/scala")
    out = []
    for base in (prog, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Return the class directory, compiling it first if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    root = build_root()
    classes = os.path.join(root, "classes-" + key)
    if os.path.isdir(classes):
        return classes
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    tmp = "%s.tmp-%d" % (classes, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + root, "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed with exit code %d" % r.returncode)
    try:
        os.rename(tmp, classes)
    except OSError:
        # a concurrent build of the same tree got there first
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("perfbench: " + str(e), file=sys.stderr)
        sys.exit(2)
