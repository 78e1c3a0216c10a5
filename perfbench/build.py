"""Build file of the benchmark: compiles the engine and the benchmark.

The engine (`src/main/scala` of the checkout) and the benchmark's own
Scala package (`perfbench/scala`) are compiled with the Scala compiler
that ships in the Spark distribution's jar directory: `$SPARK_HOME/jars`,
else the jar set the repo's sbt build compiles against (`unmanagedBase`
in `build.sbt`).  No dependency
is resolved and nothing is written outside the checkout.

Outputs are content-keyed under `<build root>/classes/<digest>/`, so an
unchanged tree is compiled once per checkout.  The build root is
`$CARGO_TARGET_DIR` when set, else `.bench_build` in the checkout root.

    python3 perfbench/build.py        # build (or reuse) and print the classpath
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD_ROOT = os.path.join(REPO, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def _spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory build.sbt compiles
    against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(REPO, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    return m.group(1) if m else ""


SPARK_JARS = _spark_jars()

# the JDK 17 module opens Spark needs outside spark-submit (build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TMP = os.path.join(BUILD_ROOT, "tmp")
# every JVM the benchmark starts keeps its scratch files in the checkout
JAVA = (["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={TMP}", f"-Dspark.local.dir={TMP}",
         "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")])


def _sources(root, ext=".scala"):
    out = []
    for dp, _, fs in os.walk(root):
        out += [os.path.join(dp, f) for f in fs if f.endswith(ext)]
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _compile(srcs, out, classpath, resources=None, res=()):
    if os.path.exists(os.path.join(out, "_DONE")):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError(f"scalac failed for {out}")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure():
    """Compile what changed; return (runtime classpath, java command)."""
    os.makedirs(TMP, exist_ok=True)
    main = os.path.join(REPO, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        raise RuntimeError("no engine sources at src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        raise RuntimeError(f"no Spark jars at {SPARK_JARS}")
    engine_srcs = _sources(os.path.join(main, "scala"))
    resources = os.path.join(main, "resources")
    res = [p for p in _sources(resources, "") if os.path.isfile(p)] if os.path.isdir(resources) else []
    engine = os.path.join(BUILD_ROOT, "classes", "engine-" + _digest(engine_srcs + res))
    _compile(engine_srcs, engine, None, resources, res)
    bench_srcs = _sources(os.path.join(HERE, "scala"))
    bench = os.path.join(BUILD_ROOT, "classes",
                         "bench-" + _digest(engine_srcs + res + bench_srcs))
    _compile(bench_srcs, bench, engine)
    return os.pathsep.join([bench, engine, os.path.join(SPARK_JARS, "*")]), JAVA


if __name__ == "__main__":
    print(ensure()[0])
