#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the harness under perfbench/src into .bench_build/classes-<stamp>/perfbench.jar,
with the Scala compiler that ships among the Spark jars. It then runs the
harness once on a convert input and keeps, as a class-data-sharing archive,
the classes that run loaded, so every benchmark JVM maps them instead of
loading them from the jars. A build whose sources are unchanged is reused.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """The Spark jars graft builds against: $SPARK_HOME/jars, else the
    directory build.sbt names as its unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(graft, "graft")):
        raise SystemExit(f"graft sources not found under {graft}")
    found = glob.glob(os.path.join(graft, "**", "*.scala"), recursive=True)
    found += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(found)


def harness(app, tmp, *jvm_opts):
    """The java command that runs perfbench.Harness from the build in `app`;
    the caller appends the harness's arguments."""
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    jars = os.path.join(spark_jars(), "*")
    return (["java"] + opens + list(jvm_opts) +
            ["-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
             "-cp", f"{os.path.join(app, 'perfbench.jar')}{os.pathsep}{jars}", "perfbench.Harness"])


def _fail(what, r):
    sys.stderr.write(r.stdout[-8000:])
    raise SystemExit(f"{what} failed (exit {r.returncode})")


def _train(app):
    """Write app/classes.jsa: one untimed convert run, dumping the classes it
    loaded at exit. The archive names the jar by path, so this runs on the
    build's final directory."""
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    gen.generate("convert", 0, os.path.join(work, "in"))
    out = os.path.join(work, "out")
    os.makedirs(os.path.join(out, "tmp"))
    cmd = harness(app, os.path.join(out, "tmp"), "-XX:ArchiveClassesAtExit=" + os.path.join(app, "classes.jsa"))
    cmd += ["--workload", "convert", "--in", os.path.join(work, "in"), "--out", out,
            "--seconds", "0", "--trace", "0", "--launch-ms", str(int(time.time() * 1000))]
    # a hung JVM is killed rather than left to stall the build
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=out,
                       timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        _fail("class-data-sharing training run", r)


def build():
    """Return the build directory, compiling first if the sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    # this file too: a change in how the build is made invalidates it
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    # builds of other sources, and an unfinished one of these, are stale
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", os.path.join(out, "perfbench.jar"),
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        _fail("compile", r)
    _train(out)
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
