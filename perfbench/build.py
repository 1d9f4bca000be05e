"""Build file of the benchmark: compiles the engine and the benchmark.

The engine's sources (src/main/scala) and the benchmark's own
(perfbench/src) are compiled together, with the Scala compiler that
ships in Spark's jars, into one jar under .bench_build/. Then one
untimed JVM sets every workload up and warms it up, recording the
classes they load into a class-data archive (.bench_build/perfbench.jsa)
that every timed run maps instead of loading and verifying ~10k Spark
classes again, which halves JVM start-up and warm-up. The build is
skipped when a stamp of every source file still matches, so only the
first run in a checkout pays for it.

    python3 perfbench/build.py            # build (or confirm up to date)
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
STAMP = os.path.join(BUILD, "perfbench.stamp")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")

CORES = 4
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {d}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_main(jar, workload, seed, seconds, trace, root, out, trace_file,
             timeout, archive_run=False):
    """Runs perfbench.Main for one workload in the private directory
    `root` and waits for it. A timed run maps the class-data archive; an
    archive run only sets the (comma-separated) workloads up and warms
    them up, and records the archive at exit. Returns (exit code or None
    on timeout, the JVM's output)."""
    tmp = os.path.join(root, "tmp")
    local = os.path.join(root, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    cds = ("-XX:ArchiveClassesAtExit=" if archive_run
           else "-XX:SharedArchiveFile=") + ARCHIVE
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [cds, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{jar}{os.pathsep}{os.path.join(spark_jars(), '*')}",
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(CORES), "--root", root, "--out", out,
            "--trace-file", trace_file] +
           (["--warmup-only", "1"] if archive_run else []))
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=os.path.join(root, "artifacts"),
               SPARK_LOCAL_DIRS=local)
    log = os.path.join(root, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                             cwd=root)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    with open(log) as fh:
        return code, fh.read()


def make_archive(jar):
    """One untimed set-up and warm-up of every workload records the
    class-data archive."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        workloads = ",".join(w["name"] for w in json.load(fh)["workloads"])
    root = os.path.join(BUILD, "runs", "archive")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        code, log = run_main(
            jar, workloads, 0, 1, 0, root, os.path.join(root, "result.json"),
            os.path.join(root, "trace.json"), timeout=600, archive_run=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if code != 0 or not os.path.exists(ARCHIVE):
        sys.stderr.write(log[-6000:])
        raise SystemExit(f"perfbench: archive run failed (exit {code})")


def build():
    """Return (jar path, source digest), compiling when stale."""
    files = sources()
    digest = source_digest(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
        return JAR, digest
    jars = spark_jars()
    for f in [STAMP, JAR, ARCHIVE]:
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for base, _, names in os.walk(CLASSES):
            for n in sorted(names):
                f = os.path.join(base, n)
                z.write(f, os.path.relpath(f, CLASSES))
    shutil.rmtree(CLASSES)
    make_archive(JAR)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return JAR, digest


if __name__ == "__main__":
    print(build()[0])
