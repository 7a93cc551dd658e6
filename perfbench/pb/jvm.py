"""Building the harness and talking to it.

The harness (perfbench/jvm) is an sbt build that depends on the
repository's own build as source, so building it compiles the program under
test from the same checkout. The classpath is cached under `.bench_build/`
keyed by a hash of every source and build file; a changed source rebuilds.
"""
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
JVM_DIR = os.path.join(HERE, "jvm")
BUILD_DIR = os.path.join(ROOT, ".bench_build")

# Spark on JDK 17 outside spark-submit needs these (as the root build's
# javaOptions; org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


HEAP_MB = 3072


class BuildError(RuntimeError):
    pass


def _sources():
    """The build's inputs: the program's main sources and build files, and
    the harness's; build outputs (`target`, `project/project`) excluded."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), JVM_DIR):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target" and
                             not (x == "project" and d != JVM_DIR))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def source_hash():
    """sha256 over the program's and the harness's sources and build files."""
    h = hashlib.sha256()
    for f in _sources():
        if not os.path.isfile(f):
            raise BuildError(f"missing source file {os.path.relpath(f, ROOT)}")
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The harness classpath, building first when the sources changed."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "split", "SplitJob.scala")):
        raise BuildError("the program's sources are not in this checkout")
    digest = source_hash()
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("hash") == digest:
            return cached["classpath"], digest
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=JVM_DIR, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=850)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise BuildError(f"sbt failed with code {proc.returncode}")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": cp, "build_s": time.time() - t0}, fh)
    sys.stderr.write(f"[perfbench] built harness in {time.time() - t0:.1f}s\n")
    return cp, digest


class Harness:
    """One harness JVM: a SparkSession at local[cores] that runs commands."""

    def __init__(self, cp, cores, trace, work, log_path):
        tmp = os.path.join(work, "jvmtmp")
        os.makedirs(tmp, exist_ok=True)
        # a fixed-size heap: no resizing pauses while the timed iterations run
        cmd = (["java", f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Harness", str(cores), "1" if trace else "0",
                  os.path.join(work, "warehouse"), os.path.join(work, "sparklocal")])
        self.log = open(log_path, "a")
        self.proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log,
                                     text=True, bufsize=1)
        self.info = self._read()
        if not self.info.get("ready"):
            raise RuntimeError(f"harness failed to start: {self.info}")

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("@@PB "):
                return json.loads(line[5:])
        raise RuntimeError(f"harness exited (code {self.proc.wait()}); see {self.log.name}")

    def call(self, *fields):
        assert all("\t" not in str(f) and "\n" not in str(f) for f in fields)
        self.proc.stdin.write("\t".join(str(f) for f in fields) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        for f in (self.proc.stdin, self.proc.stdout, self.log):
            try:
                f.close()
            except OSError:
                pass
