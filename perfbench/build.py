"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the harness (perfbench/harness) into one class directory.

The Scala compiler and every library come from the jars of the Spark
distribution at `$SPARK_HOME`, or else from the sbt build's `unmanagedBase`:
the same jars the sbt build puts on its classpath. Output goes to `.bench_build/` at the repository
root (or `$CARGO_TARGET_DIR` when set); a build is reused while no source
file changes.

    python3 perfbench/build.py        # prints the class directory
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """`$SPARK_HOME/jars`, or else the sbt build's `unmanagedBase`."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if os.environ.get("SPARK_HOME") and os.path.isdir(jars):
        return jars
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(r, ROOT)}")
    files = []
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(log=sys.stderr):
    """Compile if needed; return the class directory."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(n for n in os.listdir(jars) if n.startswith("scala-"))).encode())
    out = os.path.join(build_dir(), "perfbench-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "done")):
        return classes
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
           "-encoding", "UTF-8", "-nowarn", "-cp", cp, "-d", os.path.join(tmp, "classes")] + files
    print(f"perfbench: compiling {len(files)} Scala files", file=log, flush=True)
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, "done"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
