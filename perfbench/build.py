#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala at the
repository root) and the benchmark's own code (perfbench/src) with the Scala
2.13 compiler that ships among the Spark jars (the jars build.sbt compiles
against), and packs each into a jar. Outputs go to .bench_build/perfbench;
a build is skipped when its sources are unchanged.

The program is compiled as it is, with one exception: `SparkEntry` puts the
lanes' work directories under a fixed `/tmp/graft`. In the compiled copy that
root is read from the system property `perfbench.graftRoot` (default
`/tmp/graft`), so a run writes only inside its checkout while every lane is
still `SparkEntry.queries`' own body.

    python3 perfbench/build.py        # prints the run classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA = "2.13.17"
GRAFT_ROOT_PROP = "perfbench.graftRoot"
# the work-root literal in SparkEntry.workDir, interpolated or not
GRAFT_ROOT_LITERAL = re.compile(r's?"/tmp/graft/')


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names as its
    unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read()) if os.path.isfile(sbt) else None
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    need = [f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar",
            f"scala-reflect-{SCALA}.jar"]
    if not all(os.path.isfile(os.path.join(jars, j)) for j in need):
        raise BuildError(f"no Spark jars with Scala {SCALA} under {jars}")
    return jars


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def pack(classes, jar):
    """Store the compiled classes in a jar (the JVM's class-data sharing
    archive accepts jars on the class path, not directories)."""
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                if n.endswith(".class"):
                    p = os.path.join(d, n)
                    z.write(p, os.path.relpath(p, classes))
    os.replace(tmp, jar)


def scalac(jars, classpath, files, jar, key):
    """Compile `files` into `jar` unless `jar` was built from the same key."""
    mark = jar + ".stamp"
    if os.path.isfile(jar) and os.path.isfile(mark) and open(mark).read() == key:
        return
    out = jar[:-len(".jar")] + "-classes"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    comp = os.pathsep.join(os.path.join(jars, f"scala-{n}-{SCALA}.jar")
                           for n in ("compiler", "library", "reflect"))
    argfile = os.path.join(out, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", comp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    pack(out, jar)
    shutil.rmtree(out)
    with open(mark, "w") as fh:
        fh.write(key)


def relocate(files):
    """The program's sources with SparkEntry's /tmp/graft work root read
    from GRAFT_ROOT_PROP; a file without that literal is used as it is."""
    out = []
    for f in files:
        src = open(f, encoding="utf-8").read()
        moved, n = GRAFT_ROOT_LITERAL.subn(
            's"${sys.props.getOrElse("%s", "/tmp/graft")}/' % GRAFT_ROOT_PROP, src)
        if n == 0:
            out.append(f)
            continue
        copy = os.path.join(BUILD, "relocated", os.path.relpath(f, ROOT))
        os.makedirs(os.path.dirname(copy), exist_ok=True)
        with open(copy, "w", encoding="utf-8") as fh:
            fh.write(moved)
        out.append(copy)
    return out


def build():
    """Build both parts; return the classpath that runs perfbench.Main."""
    main_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not main_src:
        raise BuildError(f"no program sources under {ROOT}/src/main/scala")
    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    os.makedirs(BUILD, exist_ok=True)
    main_out = os.path.join(BUILD, "graft.jar")
    bench_out = os.path.join(BUILD, "perfbench.jar")
    main_key = stamp(main_src, SCALA + GRAFT_ROOT_LITERAL.pattern + GRAFT_ROOT_PROP)
    shutil.rmtree(os.path.join(BUILD, "relocated"), ignore_errors=True)
    scalac(jars, spark_cp, relocate(main_src), main_out, main_key)
    bench_src = sources(os.path.join(HERE, "src"))
    scalac(jars, os.pathsep.join([main_out, spark_cp]), bench_src, bench_out,
           stamp(bench_src, main_key))
    return os.pathsep.join([bench_out, main_out, spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
