"""Build file of the benchmark harness.

Compiles the program (`src/main/scala`) and the harness (`perfbench/src`)
with the Scala compiler that ships in Spark's jar directory (the one
build.sbt compiles against), once per source tree: the class directories
are keyed by a hash of the sources, so a second run on the same tree
reuses them. No sbt, no network.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root):
    """The jar directory the sbt build compiles against: build.sbt's
    `unmanagedBase`."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources(root, rel):
    return sorted(glob.glob(os.path.join(root, rel, "**", "*.scala"),
                            recursive=True))


def digest(files, seed=""):
    h = hashlib.sha256(seed.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_to(root, dest, files, classpath, jars):
    if os.path.isdir(dest):
        return
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + files
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"compilation of {len(files)} files failed")
    os.rename(tmp, dest)


def build(root):
    """Compile what is missing; return the runtime classpath."""
    main = sources(root, "src/main/scala")
    bench = sources(root, "perfbench/src")
    if not main or not bench:
        raise SystemExit("no program sources under src/main/scala: "
                         "run from the repository root")
    out = os.path.join(root, BUILD_DIR)
    jars = os.path.join(spark_jars(root), "*")
    main_dir = os.path.join(out, "main-" + digest(main))
    compile_to(root, main_dir, main, jars, jars)
    bench_dir = os.path.join(out, "bench-" + digest(bench, main_dir))
    compile_to(root, bench_dir, bench, os.pathsep.join([main_dir, jars]), jars)
    return os.pathsep.join([bench_dir, main_dir, jars])


if __name__ == "__main__":
    print(build(os.getcwd()))
