"""Build file of the benchmark package: compiles the engine sources
(src/main/scala) together with the benchmark's own sources (cdcbench/src)
into one class directory with the Scala compiler that ships in Spark's
jars. The output is keyed by a hash of every input, so an unchanged
checkout builds once.

    python3 cdcbench/build.py          # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "cdcbench")


def spark_jars():
    """Directory of the Spark distribution's jars (scalac included)."""
    cands = [os.path.join(os.environ["SPARK_HOME"], "jars")] \
        if "SPARK_HOME" in os.environ else []
    try:
        import pyspark  # noqa: F401 -- only to locate its bundled jars
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if os.path.isdir(c) and any(n.startswith("scala-compiler-2.13")
                                    for n in os.listdir(c)):
            return c
    sys.exit("cdcbench: no Spark jars with a Scala 2.13 compiler found "
             "(set SPARK_HOME)")


def sources(top):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; returns the class directory."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"cdcbench: engine sources missing under {ENGINE_SRC}")
    srcs = sources(ENGINE_SRC) + sources(BENCH_SRC)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(build_dir(), "classes-" + key)
    if os.path.isfile(os.path.join(out, ".built")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"cdcbench: compilation failed ({r.returncode})")
    if os.path.isdir(ENGINE_RES):
        shutil.copytree(ENGINE_RES, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".built"), "w").close()
    # drop class dirs of earlier source states
    for old in os.listdir(build_dir()):
        if old.startswith("classes-") and \
                old not in (os.path.basename(out), os.path.basename(tmp)):
            shutil.rmtree(os.path.join(build_dir(), old), ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
