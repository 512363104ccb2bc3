"""Build file of the benchmark: compiles the engine (src/main) together
with the benchmark client (perfbench/src) using the Scala compiler that
ships with the Spark distribution. Output goes to perfbench/.build/<digest>/,
keyed by a digest of every source file, so each source tree builds once.

Run directly to build without running: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
ENGINE_RES = os.path.join(REPO, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_DIR = os.path.join(HERE, ".build")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the unmanaged jar
    directory the engine's own build.sbt declares."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(REPO, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("spark-core") for f in os.listdir(c)):
            return c
    raise BuildError("no Spark jar directory found (set SPARK_HOME)")


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            raise BuildError(f"source directory missing: {os.path.relpath(base, REPO)}")
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def tree_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    if os.path.isdir(ENGINE_RES):
        for d, _, fs in sorted(os.walk(ENGINE_RES)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, REPO).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Returns (classes dir, spark jar dir, source digest)."""
    jars = spark_jars()
    files = sources()
    key = tree_digest(files)
    out = os.path.join(BUILD_DIR, key[:16])
    classes = os.path.join(out, "classes")
    if os.path.isfile(os.path.join(out, "ok")):
        return classes, jars, key
    # one build per source digest is kept, so alternating two trees
    # builds each once; a build that did not finish starts over
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", cp, "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    if os.path.isdir(ENGINE_RES):
        shutil.copytree(ENGINE_RES, classes, dirs_exist_ok=True)
    open(os.path.join(out, "ok"), "w").close()
    return classes, jars, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(1)
