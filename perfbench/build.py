#!/usr/bin/env python3
"""Build of the benchmark: compiles the library (src/main) together with the
benchmark driver (perfbench/src/main) into one jar, with the Scala compiler
that ships in Spark's jars directory. It needs only `java` and a Spark 4
distribution: no sbt, no dependency cache and nothing outside the checkout
but those two. Run it on its own from the repository root:

    python3 perfbench/build.py

or let run.py call it. Output goes to $CARGO_TARGET_DIR/perfbench
(CARGO_TARGET_DIR defaulting to .bench_build); a rebuild is skipped while
the sources are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIBRARY = os.path.join(ROOT, "src", "main")
SOURCE_ROOTS = [os.path.join(LIBRARY, "scala"), os.path.join(HERE, "src", "main", "scala")]
RESOURCE_ROOTS = [os.path.join(LIBRARY, "resources")]
BUILD_TIMEOUT_S = 600
JAR = "perfbench.jar"
# Files that belong to one build of the jar and go stale with it.
PER_BUILD = ["classes.jsa"]


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if os.path.isfile(exe) else "java"


def spark_home():
    """SPARK_HOME from the environment, else from a login shell (where
    profile scripts usually set it), else the pyspark package's own jars."""
    def valid(d):
        return d if d and os.path.isdir(os.path.join(d, "jars")) else None
    if valid(os.environ.get("SPARK_HOME")):
        return os.environ["SPARK_HOME"]
    try:
        r = subprocess.run(["bash", "-lc", 'printf "\\n%s" "$SPARK_HOME"'], stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=30)
        if valid(r.stdout.splitlines()[-1] if r.stdout else None):
            return r.stdout.splitlines()[-1]
    except (OSError, subprocess.TimeoutExpired):
        pass
    try:
        import pyspark
        return valid(os.path.dirname(pyspark.__file__))
    except ImportError:
        return None


def spark_jars(home):
    return sorted(glob.glob(os.path.join(home, "jars", "*.jar")))


def files_under(roots):
    return [os.path.join(d, f) for top in roots if os.path.isdir(top)
            for d, _, fs in sorted(os.walk(top)) for f in sorted(fs)]


def fingerprint(jars):
    h = hashlib.sha256()
    for p in files_under(SOURCE_ROOTS + RESOURCE_ROOTS) + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build(out, home):
    """Returns the jar's path, compiling first unless the last build used
    identical sources."""
    jars = spark_jars(home)
    jar = os.path.join(out, JAR)
    stamp = os.path.join(out, "source.sha256")
    want = fingerprint(jars)
    if os.path.isfile(jar) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == want:
                return jar
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError(f"no Scala compiler among {home}/jars")
    for stale in [stamp, jar] + [os.path.join(out, p) for p in PER_BUILD]:
        if os.path.exists(stale):
            os.remove(stale)
    classes, tmp = os.path.join(out, "classes"), os.path.join(out, "tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    sources = [p for p in files_under(SOURCE_ROOTS) if p.endswith(".scala")]
    args = os.path.join(tmp, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-classpath", os.pathsep.join(jars), "-d", classes] + sources) + "\n")
    print(f"perfbench: compiling {len(sources)} Scala sources", file=sys.stderr)
    try:
        r = subprocess.run([java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                            "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + args],
                           stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise BuildError(f"compiler did not finish: {e}")
    if r.returncode != 0:
        raise BuildError(f"compiler exited {r.returncode}")
    part = jar + ".part"
    with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as z:
        for top in [classes] + RESOURCE_ROOTS:
            for p in files_under([top]):
                z.write(p, os.path.relpath(p, top))
    os.replace(part, jar)
    shutil.rmtree(classes)
    with open(stamp, "w") as f:
        f.write(want + "\n")
    return jar


def main():
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    home = spark_home()
    if not home:
        sys.exit("perfbench: no Spark 4 distribution found (set SPARK_HOME)")
    os.makedirs(out, exist_ok=True)
    try:
        print(build(out, home))
    except BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")


if __name__ == "__main__":
    main()
