"""Build file of the cdcbench package.

Compiles the engine's main sources (src/main/scala) together with the
benchmark's own sources (cdcbench/src) with the Scala compiler that ships
in the Spark distribution the project builds against, into
.cdcbench/build/<source hash>/classes at the root of the checkout, and
copies the engine's resources (src/main/resources: the data source
registrations) beside them. A build whose hash matches the current
sources is reused.

Run directly to build: python3 cdcbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".cdcbench")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    project's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("cdcbench: no Spark jars found (set SPARK_HOME)")


def resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    return base, sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                        if os.path.isfile(p))


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        sys.exit("cdcbench: no engine sources under src/main/scala; run from a full checkout")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + own


def ensure_built():
    """Return the classes directory for the current sources, compiling
    them first if no matching build exists."""
    jars = spark_jars()
    srcs = sources()
    res_base, res = resources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()[:20]
    build_root = os.path.join(WORK, "build")
    out = os.path.join(build_root, key, "classes")
    if os.path.exists(os.path.join(build_root, key, "OK")):
        return out, jars
    if os.path.isdir(build_root):
        shutil.rmtree(build_root)
    os.makedirs(out)
    argfile = os.path.join(build_root, key, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    print("cdcbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(build_root, ignore_errors=True)
        sys.exit("cdcbench: compile failed")
    for p in res:
        dst = os.path.join(out, os.path.relpath(p, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(build_root, key, "OK"), "w").close()
    return out, jars


if __name__ == "__main__":
    print(ensure_built()[0])
