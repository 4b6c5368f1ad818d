"""Builds the engine and the benchmark's JVM side from source, offline.

Compiles every `src/main/scala` source of the checkout together with
`perfbench/src` using the Scala compiler that ships in the Spark jars
(`$SPARK_HOME/jars`, default /opt/spark/jars), into
`.bench_build/classes-<digest>`. The digest covers every input, so a
second run on unchanged sources reuses the classes.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    scala = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True))
    scala += sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    res = sorted(p for p in glob.glob(f"{ROOT}/src/main/resources/**", recursive=True)
                 if os.path.isfile(p))
    return scala, res


def build():
    scala, res = sources()
    if not any(p.startswith(f"{ROOT}/src/main/") for p in scala):
        raise SystemExit(f"build: no engine sources under {ROOT}/src/main/scala")
    if not glob.glob(f"{JARS}/scala-compiler-*.jar"):
        raise SystemExit(f"build: no Scala compiler in {JARS}")
    h = hashlib.sha256()
    for p in scala + res + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out_root = os.path.join(ROOT, ".bench_build")
    dest = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(dest, ".complete")):
        return dest
    os.makedirs(out_root, exist_ok=True)
    for old in glob.glob(f"{out_root}/classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = f"{dest}.tmp{os.getpid()}"
    os.makedirs(tmp)
    try:
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{JARS}/*",
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + scala
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"build: scalac exited {r.returncode}")
        for p in res:
            rel = os.path.relpath(p, f"{ROOT}/src/main/resources")
            os.makedirs(os.path.dirname(os.path.join(tmp, rel)), exist_ok=True)
            shutil.copyfile(p, os.path.join(tmp, rel))
        open(os.path.join(tmp, ".complete"), "w").close()
        os.rename(tmp, dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dest


if __name__ == "__main__":
    print(build())
