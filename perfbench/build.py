#!/usr/bin/env python3
"""Build the engine and the benchmark into one class directory.

Compiles the repository's `src/main/scala` together with `perfbench/src`
using the Scala compiler that ships in the Spark jar directory (the
unmanaged classpath the engine's build.sbt names), and copies
`src/main/resources` beside the classes. The result is cached under
`<build dir>/classes`, keyed by a hash of every input file, so only the
first run in a checkout compiles.

    python3 perfbench/build.py            # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCE_DIR = "src/main/resources"


def spark_jars():
    """The engine's jar directory: `unmanagedBase` in its build.sbt (the
    engine has no other dependencies), else $SPARK_HOME/jars."""
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def build_dir():
    """Build outputs live under the checkout (CARGO_TARGET_DIR if set)."""
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def _inputs():
    files = []
    for root in SOURCE_DIRS + [RESOURCE_DIR]:
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if any input changed; return the class directory."""
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: {d} not found; run from the repository root")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at {jars}")
    files = _inputs()
    stamp = _stamp(files)
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    scala = [f for f in files if f.endswith(".scala") and not f.startswith(RESOURCE_DIR)]
    cp = jars + "/*"
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", cp] + scala
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    if os.path.isdir(RESOURCE_DIR):
        shutil.copytree(RESOURCE_DIR, out, dirs_exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


if __name__ == "__main__":
    print(build())
