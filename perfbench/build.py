"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`, plus its resources) and
the harness (`perfbench/scala`) with the Scala compiler that ships in the
Spark distribution, into `.bench_build/classes`. The build is skipped when
a hash of every input file matches the last successful build.

    python3 perfbench/build.py        # build if needed, print the class dir
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    res_root = os.path.join(root, "src/main/resources")
    res = sorted(p for p in glob.glob(os.path.join(res_root, "**/*"), recursive=True)
                 if os.path.isfile(p))
    return main, bench, res_root, res


def classpath(classes):
    return f"{classes}{os.pathsep}{SPARK_JARS}/*"


def build(root=ROOT, build_dir=None):
    """Returns the class directory, compiling first if any input changed."""
    build_dir = build_dir or os.path.join(root, ".bench_build")
    main, bench, res_root, res = sources(root)
    if not main:
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    h = hashlib.sha256()
    for p in main + bench + res:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(main + bench))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    # run from the build dir: scalac's default class path is the working dir
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       cwd=build_dir)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    for p in res:
        dst = os.path.join(classes, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp, "w") as f:
        f.write(key)
    return classes


if __name__ == "__main__":
    print(build())
