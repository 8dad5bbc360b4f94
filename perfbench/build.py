"""Build file for the benchmark: compiles the program and the harness.

The program's Scala sources (`src/main/scala`) and the harness
(`perfbench/harness`) compile together, with the Scala compiler that
ships among the Spark jars, into `.bench_build/classes`. A stamp of
every source file's content lets later runs skip the build.

The Spark jar directory is `$SPARK_HOME/jars`, else the `unmanagedBase`
that the project's own `build.sbt` names.

Run alone: `python3 perfbench/build.py` (from the repository root).
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"

# What `build.sbt` passes to every forked JVM on JDK 17: Spark needs
# these when it runs outside spark-submit.
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


class BuildError(Exception):
    pass


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME or keep unmanagedBase in build.sbt")


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "**", "*.scala"), recursive=True))
    return main + harness


def _stamp(sources, jars):
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    return h.hexdigest()


def ensure(root="."):
    """Compile if the sources changed; return (classes dir, jar dir)."""
    jars = spark_jars(root)
    sources = _sources(root)
    stamp = _stamp(sources, jars)
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.isfile(stamp_file):
        with open(stamp_file, encoding="utf-8") as f:
            if f.read().strip() == stamp:
                return out, jars
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(root, BUILD_DIR, "scalac.args")
    with open(args_file, "w", encoding="utf-8") as f:
        f.write("\n".join(sources))
    tmp_dir = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp_dir,
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp, "@" + args_file]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    with open(os.path.join(tmp, "STAMP"), "w", encoding="utf-8") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, jars


if __name__ == "__main__":
    try:
        print(ensure(".")[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
