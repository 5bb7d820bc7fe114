"""Compiles the engine and the benchmark runner from source.

The engine (src/main/scala, with src/main/resources) and the runner
(perfbench/src) are compiled with the Scala 2.13 compiler that ships in
Spark's jar directory, against those jars, into .bench_build/. A stamp of the
sources' contents skips the compile when nothing changed.
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
    """Spark's jar directory: $SPARK_HOME/jars, else the jars bundled with
    the pyspark package."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in candidates:
        if glob.glob(os.path.join(d, "scala-compiler-2.13*.jar")):
            return d
    raise BuildError("no Spark jar directory with a Scala 2.13 compiler "
                     "(set SPARK_HOME)")


def _files(top, suffix):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def _stamp(paths, extra):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(sources, out_dir, classpath, jars, log):
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(classpath), "@" + argfile]
    proc = subprocess.run(cmd, stdout=log, stderr=log)
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed for %s" % out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def ensure_built(root, build_dir, log=sys.stderr):
    """Classpath entries (runner, engine, Spark jars), compiling what is
    stale."""
    engine_src = os.path.join(root, "src", "main", "scala")
    resources = os.path.join(root, "src", "main", "resources")
    runner_src = os.path.join(root, "perfbench", "src")
    engine_files = _files(engine_src, ".scala")
    if not engine_files:
        raise BuildError("no engine sources under %s" % engine_src)
    jars = spark_jars()
    jar_list = ",".join(sorted(os.listdir(jars)))
    res_files = _files(resources, "")
    runner_files = _files(runner_src, ".scala")

    engine_out = os.path.join(build_dir, "engine")
    runner_out = os.path.join(build_dir, "runner")
    engine_stamp = _stamp(engine_files + res_files, jar_list)
    runner_stamp = _stamp(runner_files, engine_stamp)
    for out, stamp, sources, cp in (
            (engine_out, engine_stamp, engine_files, [os.path.join(jars, "*")]),
            (runner_out, runner_stamp, runner_files,
             [engine_out, os.path.join(jars, "*")])):
        stamp_file = out + ".stamp"
        if os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    continue
        os.makedirs(build_dir, exist_ok=True)
        _compile(sources, out, cp, jars, log)
        if out == engine_out:
            for p in res_files:
                dst = os.path.join(out, os.path.relpath(p, resources))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(p, dst)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return [runner_out, engine_out, os.path.join(jars, "*")]
