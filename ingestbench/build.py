"""Build the program and the benchmark runner from source, offline.

The program's Scala sources (src/main/scala) and the runner's
(ingestbench/src) compile in one scalac run, using the Scala compiler
that ships among the Spark jars the project builds against (SPARK_HOME,
or the `unmanagedBase` that build.sbt names). No sbt, no network, no
write outside ingestbench/out. The classes land in
ingestbench/out/build/<hash of every source>, so an unchanged tree is
built once.

    python3 ingestbench/build.py     # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of Spark jars, which also holds scala-compiler."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(REPO, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for d in candidates:
        if os.path.isdir(d) and any(n.startswith("scala-compiler") for n in os.listdir(d)):
            return d
    raise BuildError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources():
    main = os.path.join(REPO, "src", "main", "scala")
    found = []
    for top in (main, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, n) for n in files if n.endswith(".scala")]
    if not any(p.startswith(main + os.sep) for p in found):
        raise BuildError(f"no program sources under {os.path.relpath(main, REPO)}")
    return sorted(found)


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    root = os.path.join(OUT, "build")
    dest = os.path.join(root, h.hexdigest()[:16])
    if os.path.exists(os.path.join(dest, "DONE")):
        return dest
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):  # earlier trees' classes
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    tmp = dest + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-classpath", tmp, "-nowarn", "-d", tmp, "@" + argfile]
    print(f"[build] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    try:
        r = subprocess.run(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac did not finish in 800 s")
    finally:
        os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    os.rename(tmp, dest)
    open(os.path.join(dest, "DONE"), "w").close()
    return dest


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
