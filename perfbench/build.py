"""Build the engine and the benchmark harness from source with scalac.

The engine's sources (`src/main/scala`) and the harness
(`perfbench/src`) compile together against the Spark jars of the local
Spark install (`$SPARK_HOME/jars`, default `/opt/spark/jars`), which also
carry the Scala compiler. Output goes to `<build>/classes-<hash>`, keyed by
the sources, so an unchanged tree is not rebuilt.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    d = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {d}")
    return jars


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not engine:
        raise BuildError("engine sources (src/main/scala) not found")
    if not harness:
        raise BuildError("harness sources (perfbench/src) not found")
    return engine + harness


def java_opts():
    return [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def build(root, build_dir):
    """Compile if needed; returns the class directory."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update(",".join(os.path.basename(j) for j in jars).encode())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "BUILT")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(build_dir, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
           "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise BuildError("scalac failed")
    twins = os.path.join(tmp, "sql_twins.json")
    r = subprocess.run(["java"] + java_opts() + ["-cp", tmp + ":" + ":".join(jars),
                        "graftbench.Main", "--dump-sql", twins],
                       capture_output=True, text=True, timeout=120)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise BuildError("dumping the engine's SQL twins failed")
    with open(os.path.join(tmp, "BUILT"), "w") as f:
        f.write("ok\n")
    os.rename(tmp, out)
    return out
