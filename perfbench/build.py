"""Build file of the benchmark: compiles graft and the benchmark harness.

graft's sources (`src/main/scala`, plus `src/main/resources`) are
compiled with the Scala compiler that ships in Spark's own jar
directory, then the harness (`perfbench/src`) against them. Outputs go
under the build directory given to `ensure`; a build is reused while
no source file changed.

    python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the jars of the
    installed pyspark package (the same distribution)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
    except ImportError:
        raise BuildError("no Spark: set SPARK_HOME or install pyspark")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def _sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    res = sorted(p for p in glob.glob(
        os.path.join(root, "src/main/resources/**/*"), recursive=True)
        if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "src/**/*.scala"),
        recursive=True))
    return prog, res, bench


def _scalac(jars, classpath, out, srcs, log):
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + srcs, stdout=log, stderr=subprocess.STDOUT,
                       timeout=840)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")


def ensure(root, build_dir):
    """Return the classpath of graft + harness classes, building first
    if any source changed since the last build."""
    prog, res, bench = _sources(root)
    if not prog or not bench:
        raise BuildError(f"no graft sources under {root}/src/main/scala")
    h = hashlib.sha256()
    for p in prog + res + bench:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(os.path.abspath(build_dir), "classes-" + key)
    main_cls, bench_cls = os.path.join(out, "main"), os.path.join(out, "bench")
    if not os.path.exists(os.path.join(out, "OK")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        jars = spark_jars()
        with open(os.path.join(out, "build.log"), "w") as log:
            _scalac(jars, None, main_cls, prog, log)
            base = os.path.join(root, "src/main/resources")
            for p in res:
                dst = os.path.join(main_cls, os.path.relpath(p, base))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(p, dst)
            _scalac(jars, main_cls, bench_cls, bench, log)
        with open(os.path.join(out, "OK"), "w") as f:
            f.write(key + "\n")
        # drop builds of older sources
        for old in glob.glob(os.path.join(os.path.abspath(build_dir),
                                          "classes-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    return os.pathsep.join([main_cls, bench_cls,
                            os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd(), sys.argv[1] if len(sys.argv) > 1
                     else os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
