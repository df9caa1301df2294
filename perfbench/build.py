"""Builds the library and the benchmark harness from source with the Scala
compiler that ships among Spark's jars. The build tool is not used: it
would write caches outside the checkout, and the harness only needs
compiled classes. A stamp over every source skips an up-to-date build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# repository's build definition passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one pyspark ships."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def jvm_flags(tmp):
    flags = ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return main, harness


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, tmp, out, classpath, sources):
    os.makedirs(out, exist_ok=True)
    argfile = os.path.join(tmp, "scalac-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = (["java", "-Xss8m", "-Xmx2g"] + jvm_flags(tmp) +
           ["-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
            "-d", out, "-classpath", classpath, "@" + argfile])
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"build failed: scalac exited {r.returncode}")


def build(root, build_dir):
    """Compile if any source changed. Returns the harness classpath."""
    jars = spark_jars()
    main, harness = _sources(root)
    if not main:
        raise SystemExit("build failed: no src/main/scala sources in the checkout")
    classes = os.path.join(build_dir, "classes")
    hclasses = os.path.join(build_dir, "harness")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jar_cp = os.path.join(jars, "*")
    # the library and the harness have their own stamps: a harness change
    # does not rebuild the library
    for out, srcs, cp in ((classes, main, jar_cp),
                          (hclasses, harness, os.pathsep.join([classes, jar_cp]))):
        stamp_file = out + ".stamp"
        stamp = _stamp(srcs + ([classes + ".stamp"] if out == hclasses else []))
        old = open(stamp_file).read() if os.path.exists(stamp_file) else ""
        if old != stamp or not os.path.isdir(out):
            shutil.rmtree(out, ignore_errors=True)
            _scalac(jars, tmp, out, cp, srcs)
            with open(stamp_file, "w") as f:
                f.write(stamp)
    return os.pathsep.join([hclasses, classes, os.path.join(jars, "*")])
