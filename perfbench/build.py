"""Build file of the benchmark's engine side.

Compiles the engine's main sources (``src/main/scala``) together with
the benchmark's own Scala sources (``perfbench/scala``) with the Scala
compiler that ships in Spark's jar directory, and copies the engine's
resources next to the classes. The output goes to ``.bench_build/classes``
at the checkout root; a stamp over every input file skips the compile
when nothing changed.

Run: python3 perfbench/build.py        (prints the classes directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    """Spark's jar directory: ``$SPARK_HOME/jars``, else the directory the
    repository's build.sbt compiles against (its ``unmanagedBase``)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = None
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m is None:
        raise RuntimeError("set SPARK_HOME: no Spark jar directory in build.sbt")
    return m.group(1)


def driver_mem():
    """The engine JVM's ``-Xmx``: ``$SPARK_DRIVER_MEM``, else the default the
    repository's ``run`` task gives it in build.sbt."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'-Xmx\$\{sys\.env\.getOrElse\("SPARK_DRIVER_MEM",\s*"([^"]+)"\)\}', f.read())
    if m is None:
        raise RuntimeError("set SPARK_DRIVER_MEM: no -Xmx default in build.sbt")
    return m.group(1)


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(d, n))
    return sorted(out)


def build(log=sys.stderr):
    """Compile if needed; return the classes directory. Raises
    RuntimeError when the sources are missing or do not compile."""
    for s in SOURCES:
        if not os.path.isdir(s):
            raise RuntimeError("missing source directory %s" % os.path.relpath(s, ROOT))
    sources = [f for s in SOURCES for f in _files(s, ".scala")]
    resources = _files(RESOURCES) if os.path.isdir(RESOURCES) else []
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise RuntimeError("no Spark jar directory at %s" % jars)
    h = hashlib.sha256()
    for f in sources + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(",".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", tmp, "-nowarn", "@" + args_file]
    print("[build] compiling %d sources" % len(sources), file=log, flush=True)
    p = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        raise RuntimeError("scalac failed:\n" + p.stdout[-4000:])
    for f in resources:
        dest = os.path.join(tmp, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(f, dest)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
