"""Build file of the benchmark package.

Compiles the repository's Scala sources (src/main/scala) together with the
benchmark's own (perfbench/src) using the Scala compiler that ships with the
Spark distribution the repository builds against (build.sbt's
`unmanagedBase`), so a run needs neither sbt nor a network. The classes land
in .bench_build/classes-<hash of the sources>; an unchanged tree is never
compiled twice.

    python3 perfbench/build.py    # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")
BUILD = ".bench_build"


def jar(prefix):
    found = sorted(glob.glob(os.path.join(SPARK_JARS, f"{prefix}-2.13*.jar")))
    if not found:
        sys.exit(f"perfbench: no {prefix} jar under {SPARK_JARS}")
    return found[-1]


def sources(root):
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        sys.exit("perfbench: no program sources under src/main/scala; "
                 "run from the root of a repository checkout")
    return srcs + sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))


def runtime_classpath(classes):
    return f"{classes}{os.pathsep}{os.path.join(SPARK_JARS, '*')}"


def build(root="."):
    srcs = sources(root)
    digest = hashlib.sha256(jar("scala-compiler").encode())
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(root, BUILD, f"classes-{digest.hexdigest()[:16]}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler_cp = os.pathsep.join(jar(j) for j in ("scala-compiler", "scala-library", "scala-reflect"))
    lib_cp = os.pathsep.join(sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))
    print(f"perfbench: compiling {len(srcs)} Scala files into {out}", file=sys.stderr)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", tmp, "-cp", lib_cp, *srcs], check=True,
                   stdout=sys.stderr)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(root, BUILD, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
            # run.py's untraced-run history of that build
            shutil.rmtree(os.path.join(root, BUILD, "results", os.path.basename(old)),
                          ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
