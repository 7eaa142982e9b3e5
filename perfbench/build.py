"""Build file of the benchmark package: compiles the engine's main sources
(`src/main/scala`) and the harness (`perfbench/src`) with scalac against the
Spark jars, into `.bench_build/classes-<digest>` (or `$CARGO_TARGET_DIR`),
once per source digest.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanaged jar
    directory the repository's own build definition names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    build = os.path.join(root, "build.sbt")
    if os.path.isfile(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("cannot find the Spark jars (set SPARK_HOME)")


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(root, jars):
    """Compile the engine's main sources and the harness with scalac into
    the build directory, once per source digest."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        fail("no engine sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    digest = h.hexdigest()[:16]
    bdir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    out = os.path.join(bdir, f"classes-{digest}")
    if os.path.isfile(os.path.join(out, ".ok")):
        return out, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(bdir, f"sources-{digest}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t = time.time()
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
                        "@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    open(os.path.join(out, ".ok"), "w").write(f"{time.time() - t:.1f}\n")
    return out, digest


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, spark_jars(root))[0])
