"""Builds the program and the benchmark JVM from source with sbt, once
per source state, and gives the command that runs the benchmark JVM."""
import glob
import hashlib
import os
import subprocess


class BuildError(Exception):
    pass


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def _sources(root, here):
    files = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(here, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(here, "build.sbt"), os.path.join(here, "project", "build.properties")]
    return files


def spark_home():
    """The Spark installation whose jars the build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must name a Spark installation with a jars/ directory")
    return home


def ensure(root, here, state):
    """Compile if the sources changed since the last build; return the classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise BuildError("program sources (src/main/scala/graft) not found under " + root)
    h = hashlib.sha256()
    for f in _sources(root, here):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(state, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp_path, cp_path = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                with open(cp_path) as g:
                    return g.read()
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(bdir, "sbt.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"], cwd=here, env=env,
                               stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
        except (OSError, subprocess.TimeoutExpired) as e:
            raise BuildError("sbt failed to run: %s" % e)
    if p.returncode != 0:
        raise BuildError("build failed (see %s):\n%s" % (log_path, p.stdout[-2000:]))
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ".jar" in l]
    if not lines:
        raise BuildError("build printed no classpath (see %s)" % log_path)
    cp = lines[-1].strip()
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return cp


def java_command(classpath, work):
    heap = "2g"
    opens = []
    for p in JDK_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: the resident set then moves with native
    # memory (RocksDB, metaspace, threads), not with when the heap grew
    return ["java", "-Xms" + heap, "-Xmx" + heap, "-XX:+AlwaysPreTouch"] + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dderby.system.home=" + os.path.join(work, "derby-home"),
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "-Dspark.ui.enabled=false",
        "-cp", classpath]
