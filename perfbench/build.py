"""Build file of the benchmark package.

Compiles graft's sources (src/main of the checkout) together with the
benchmark's own Scala sources (perfbench/src) into
.bench_build/classes-<source hash>, using the Scala compiler that ships
with the Spark distribution under $SPARK_HOME/jars.  A build whose
sources are unchanged is reused.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark distribution")
    return os.path.join(home, "jars")


def sources(root):
    graft = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    if not graft:
        raise SystemExit(f"perfbench: no graft sources under {root}/src/main/scala")
    bench = sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    return graft + bench


def build(root):
    srcs = sources(root)
    res = f"{root}/src/main/resources"
    h = hashlib.sha256()
    for f in srcs + sorted(glob.glob(f"{res}/**/*", recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    out = f"{root}/.bench_build/classes-{h.hexdigest()[:16]}"
    if os.path.exists(f"{out}/.ok"):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(f"{tmp}.args", "w") as fh:
        fh.write("\n".join(srcs))
    jars = spark_jars() + "/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, f"@{tmp}.args"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(f"{tmp}.args")
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    open(f"{tmp}/.ok", "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
