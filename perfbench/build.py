"""Build file of the benchmark: compiles the program's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
one class directory, against the Spark distribution's jars, with the
Scala compiler that ships in them. Run from the root of a checkout:

    python3 perfbench/build.py

The classes land under .perfbench/build/<hash of the sources>/, so an
unchanged tree is compiled once.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

STATE = ".perfbench"
COMPILE_TIMEOUT_S = 600


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark distribution ($SPARK_HOME, else
    the one whose spark-submit is on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars!r}; set SPARK_HOME")
    return jars


def sources():
    program = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    return program + bench


def java_opts():
    """Module opens Spark needs on JDK 17 outside spark-submit."""
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in pkgs] + ["-XX:-UsePerfData"]


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Returns the class directory, compiling first if the sources changed."""
    srcs = sources()
    out = os.path.join(STATE, "build", digest(srcs))
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    shutil.rmtree(os.path.join(STATE, "build"), ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("compile timed out")
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        raise BuildError(f"compile failed with code {r.returncode}")
    open(os.path.join(out, "ok"), "w").close()
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
