"""Build file of the benchmark: compiles the program and the harness.

The program (`src/main/scala`) and the harness (`perfbench/scala`) are
compiled with the Scala compiler that ships among the Spark jars the
root `build.sbt` names as its `unmanagedBase`, straight to class
directories under `.bench_build/`. Each stage is keyed by a hash of its
sources, so a checkout builds once and later runs reuse the classes.

    python3 perfbench/build.py      # prints the run classpath
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory the root build compiles against."""
    build_sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(build_sbt):
        raise BuildError("no build.sbt at the repository root")
    with open(build_sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise BuildError("Spark jar directory not found: %r" % jars)
    return jars


def add_opens():
    """JDK 17 module opens Spark needs outside spark-submit (build.sbt's list)."""
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar"]
    out = []
    for p in pkgs:
        out += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    return out


def _sources(d):
    found = []
    for dirpath, _, files in os.walk(d):
        found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _digest(files, salt):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(name, srcs, classpath, salt):
    if not srcs:
        raise BuildError("no Scala sources for %s" % name)
    key = _digest(srcs, salt)
    out = os.path.join(BUILD_DIR, "%s-%s" % (name, key))
    if os.path.isdir(out):
        return out, key
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = tmp + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", tmp, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    os.remove(args_file)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("%s failed to compile:\n%s" % (name, r.stdout[-4000:]))
    os.rename(tmp, out)
    return out, key


def build():
    """Compile program and harness; return (run classpath, build key)."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise BuildError("no program sources at src/main/scala")
    jars = os.path.join(spark_jars(), "*")
    os.makedirs(BUILD_DIR, exist_ok=True)
    main_out, main_key = _compile("program", _sources(main_src), jars, "")
    bench_cp = os.pathsep.join([main_out, jars])
    bench_out, _ = _compile("harness", _sources(os.path.join(BENCH_DIR, "scala")),
                            bench_cp, main_key)
    return os.pathsep.join([bench_out, main_out, jars]), main_key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
