#!/usr/bin/env python3
"""Build of the graft benchmark: compiles graft's `src/main` together with
the harness in `perfbench/src` with the Scala compiler that ships in the
Spark jars (no sbt, so nothing is written outside the checkout) into
`.bench_build/classes`. run.py calls `build()` before every run; it
recompiles only when a source or resource changed.

  python3 perfbench/build.py     # build now
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def die(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one holding
    spark-submit on PATH, else the jars of the pyspark package."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    die("no Spark jars found (set SPARK_HOME)")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    files = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile src/main plus the harness into .bench_build/classes."""
    srcs = sources(root)
    res = os.path.join(root, "src", "main", "resources")
    res_files = sorted(os.path.join(d, f) for d, _, fs in os.walk(res) for f in fs)
    stamp = tree_hash(srcs + res_files)
    b = os.path.join(root, BUILD)
    classes = os.path.join(b, "classes")
    stamp_file = os.path.join(b, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log("building graft + harness (%d sources)..." % len(srcs))
    t0 = time.time()
    tmp = classes + ".new"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(b, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("scalac failed")
    shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.1f s" % (time.time() - t0))
    return classes


def module_map(root):
    """File name -> repo module (graft/<module>/File.scala)."""
    path = os.path.join(root, BUILD, "modules.tsv")
    base = os.path.join(root, "src", "main", "scala", "graft")
    with open(path, "w") as f:
        for d, _, fs in os.walk(base):
            rel = os.path.relpath(d, base)
            mod = "root" if rel == "." else rel.split(os.sep)[0]
            for name in fs:
                f.write("%s\t%s\n" % (name, mod))
        for d, _, fs in os.walk(os.path.join(HERE, "src")):
            for name in fs:
                f.write("%s\tbench\n" % name)
    return path


if __name__ == "__main__":
    build(os.getcwd())
