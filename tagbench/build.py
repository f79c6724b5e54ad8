"""Compiles the engine and the harness from the checked-out tree.

The engine classes are built from `src/main/scala` of the checkout the
benchmark runs in, never taken from a build output of another commit.
Output goes to `.bench_build/tagbench/classes-<hash>`, where the hash
covers every source and resource file compiled in, so a changed tree
always gets a fresh build. The Scala compiler is the one Spark ships
(`scala-compiler` in the Spark jars directory), so no build tool runs.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

def spark_jars():
    """The Spark jars (Spark, Scala library and compiler): $SPARK_HOME/jars,
    else the ones the pyspark package bundles."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        import pyspark
    except ImportError:
        raise SystemExit("Spark not found: set SPARK_HOME")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def classpath(*dirs):
    return os.pathsep.join(list(dirs) + [os.path.join(spark_jars(), "*")])


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "tagbench/src/**/*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"), recursive=True)
                       if os.path.isfile(p))
    return engine, harness, resources


def tree_hash(root):
    h = hashlib.sha256()
    engine, harness, resources = sources(root)
    for p in engine + harness + resources:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_built(root, build_dir):
    """Returns (classes dir, source hash); compiles when that tree has no
    complete build yet."""
    engine, harness, _ = sources(root)
    if not engine:
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    digest = tree_hash(root)
    out = os.path.join(build_dir, "classes-" + digest[:16])
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out, digest
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath()] + engine + harness
    print(f"compiling {len(engine)} engine + {len(harness)} harness sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"scalac failed with exit code {r.returncode}")
    # resources (ImageIO SPI registration, fixtures) next to the classes
    res_root = os.path.join(root, "src/main/resources")
    if os.path.isdir(res_root):
        shutil.copytree(res_root, out, dirs_exist_ok=True)
    open(os.path.join(out, "BUILD_OK"), "w").close()
    return out, digest
