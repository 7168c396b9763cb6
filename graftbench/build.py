"""Build file of the benchmark: compiles graft (src/main/scala of the
checkout) and the benchmark's JVM side (graftbench/scala) with the Scala
compiler that ships in the Spark distribution, into graftbench/.build.
A build is skipped when the sources are unchanged.

    python3 graftbench/build.py      # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    import pyspark  # the pip distribution carries the same jars
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources(root: str) -> list:
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"),
                            recursive=True))


def _digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name: str, srcs: list, classpath: str, jars: str,
             dep_key: str = "") -> tuple:
    """Returns (output dir, build key); the key covers the dependencies'
    keys, so a changed graft source rebuilds the benchmark too."""
    dest = os.path.join(OUT, name)
    stamp = os.path.join(OUT, f"{name}.stamp")
    key = hashlib.sha256((_digest(srcs) + jars + dep_key).encode()).hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == key:
        return dest, key
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", dest] + (["-classpath", classpath] if classpath else []) + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise RuntimeError(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    with open(stamp, "w") as f:
        f.write(key)
    return dest, key


def build() -> str:
    """Compiles what changed and returns the JVM classpath."""
    main_srcs = sources(MAIN_SRC)
    if not main_srcs:
        raise RuntimeError(f"no graft sources under {MAIN_SRC}")
    jars = spark_jars()
    main, main_key = _compile("main", main_srcs, "", jars)
    bench, _ = _compile("bench", sources(BENCH_SRC), main, jars, main_key)
    return os.pathsep.join([bench, main, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build())
