"""Build file of the benchmark: compiles graft's sources (`src/main/scala`)
and the harness (`perfbench/src`) with the Scala compiler that ships in
Spark's jar directory, into `.bench_build/classes`. The build is skipped
when a digest of every source matches the last one.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to `spark-submit` on PATH, else pyspark's bundled jars."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jar directory found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java found (set JAVA_HOME)")
    return exe


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"perfbench: no graft sources under {os.path.join(root, 'src', 'main', 'scala')}")
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"), recursive=True))
    return main + bench


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Compile if needed; return (classes dir, jars dir, source digest)."""
    files = sources(root)
    jars = spark_jars()
    stamp = digest(files)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, "SOURCE_DIGEST")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac.args")
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", cp] + files) + "\n")
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run([java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
                        "-Djava.io.tmpdir=" + build_dir, "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(os.path.join(tmp, "SOURCE_DIGEST"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes, jars, stamp
