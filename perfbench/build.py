"""Build file of the benchmark: compiles the program's sources and the
benchmark's own Scala harness with the Scala compiler that ships among
the Spark jars (the directory the root build.sbt names as
`unmanagedBase`), into .bench_build/ at the checkout root. A build is
redone only when a source file changed.

This is a second build of the program beside sbt's, so that a run needs
neither sbt nor its caches outside the checkout. It yields the same
bytecode only while the root build is plain: same Scala version, no
compiler options or plugins, no Java sources or resources. `check_root_build`
refuses to build when the root build says otherwise.

    python3 perfbench/build.py      # prints the classpath to run with
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def root_build():
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            return fh.read()
    except OSError:
        sys.exit("build: no build.sbt at the checkout root")


def jars():
    """The Spark jars the root build compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', root_build())
    if not m:
        sys.exit("build: build.sbt has no unmanagedBase := file(...) line")
    found = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not found:
        sys.exit(f"build: no jars under {m.group(1)}")
    return found


def check_root_build():
    """Exits unless compiling src/main/scala with the jars' scalac and
    no options is what the root build does too."""
    sbt = root_build()
    m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    compilers = [os.path.basename(j) for j in jars()
                 if re.fullmatch(r"scala-compiler-[0-9.]+\.jar", os.path.basename(j))]
    if not m or compilers != [f"scala-compiler-{m.group(1)}.jar"]:
        sys.exit(f"build: build.sbt's scalaVersion ({m and m.group(1)}) is not the "
                 f"compiler among the jars ({compilers})")
    settings = sbt + "".join(open(f).read()
                             for f in glob.glob(os.path.join(ROOT, "project", "*.sbt")))
    for word in ("scalacOptions", "javacOptions", "addCompilerPlugin", "enablePlugins",
                 "Compile /"):
        if word in settings:
            sys.exit(f"build: the root build sets {word!r}; perfbench/build.py does not "
                     "follow it and would build other bytecode")
    for extra in ("java", "resources", "scala-2.13"):
        if os.path.isdir(os.path.join(ROOT, "src", "main", extra)):
            sys.exit(f"build: src/main/{extra} exists; perfbench/build.py compiles "
                     "src/main/scala only")


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, files, classpath, depends=""):
    """scalac `files` into .bench_build/<name>, unless the stamp says
    the same sources (and `depends`) were compiled there already."""
    dest = os.path.join(OUT, name)
    stamp = os.path.join(OUT, name + ".stamp")
    key = digest(files) + depends + ":" + ":".join(classpath)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(jars()),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", ":".join(classpath)]
    cmd += files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"build: compiling {name} failed")
    with open(stamp, "w") as fh:
        fh.write(key)
    return dest


def build():
    """Returns the runtime classpath (harness, program, Spark jars)."""
    program = sources(PROGRAM_SRC)
    if not program:
        sys.exit(f"build: no Scala sources under {PROGRAM_SRC}; "
                 "run from the root of a checkout of the repository")
    check_root_build()
    os.makedirs(OUT, exist_ok=True)
    spark = jars()
    classes = compile_tree("classes", program, spark)
    bench = compile_tree("bench-classes", sources(BENCH_SRC), [classes] + spark,
                         depends=digest(program))
    return [bench, classes] + spark


if __name__ == "__main__":
    print(":".join(build()))
