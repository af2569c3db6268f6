#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the benchmark's own
Scala sources with plain scalac (no sbt) into one jar, and records a
class-data-sharing archive of a short catalog run so each benchmark JVM
loads Spark's classes from the archive instead of from 280 jars.

The engine pins its state directory to an absolute path inside the
original checkout (ROADMAP item 4). The benchmark must keep every
byte it writes inside the checkout it runs from, so this build compiles a
copy of the engine sources in which that literal prefix reads the
`perfbench.work` system property instead. Nothing else in the engine
changes; relative `work/...` paths follow the JVM's working directory,
which the runner points at the benchmark's own state directory.

Usage: python3 perfbench/build.py   (from the checkout root)
Output: .bench_build/perfbench.jar and .bench_build/perfbench.jsa, reused
while the sources are unchanged.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "scala")
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
if not os.path.isabs(OUT):
    OUT = os.path.join(ROOT, OUT)
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "perfbench.jsa")


def declared(path, pattern):
    """The first group of `pattern` in the repo file `path`, or None."""
    try:
        with open(os.path.join(ROOT, path), encoding="utf-8") as fh:
            m = re.search(pattern, fh.read())
    except OSError:
        return None
    return m.group(1) if m else None


# The jar directory build.sbt compiles against, and the repo's read-only
# test data: the parent of the scale directories TESTDATA.md lists.
SPARK_JARS = declared("build.sbt", r'unmanagedBase := file\("([^"]+)"\)')
TESTDATA = declared("TESTDATA.md", r"`([^`]+)/sf0\.1/?`")
HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# The engine's plain and interpolated state-path literals (an absolute
# prefix ending in a `work` component) both become an interpolated string
# whose prefix is read at run time.
STATE_LITERAL = re.compile(r's?"(?:/[\w.-]+)+?/work(?=[/"])')
STATE_REPLACEMENT = 's"${sys.props("perfbench.work")}'


def files_under(root, suffix=""):
    found = []
    for d, _, names in os.walk(root):
        found += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(found)


def relocate(text):
    return STATE_LITERAL.sub(lambda _: STATE_REPLACEMENT, text)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(state, args, archive_flag=None):
    """The benchmark JVM: working directory, temp, Spark local and engine
    state paths all inside `state`; WARN-level logging from the
    benchmark's own log config."""
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if archive_flag is None and os.path.exists(ARCHIVE):
        archive_flag = f"-XX:SharedArchiveFile={ARCHIVE}"
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
            + ([archive_flag] if archive_flag else []) + opens + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        f"-Dperfbench.work={os.path.join(state, 'work')}",
        f"-Dderby.system.home={tmp}",
        "-cp", f"{JAR}{os.pathsep}{SPARK_JARS}/*",
        "perfbench.PerfBench"] + args)


# The class archive's run: a catalog query and the star build at sf0.001.
ARCHIVE_QUERIES = ["q05_epoch_millis", "q13_star_pipeline_counts"]


def record_archive(log):
    """Run the archive queries once at the smallest scale and dump the
    loaded classes into the archive. Best effort: without it the runs
    are slower to start, not wrong."""
    state = os.path.join(OUT, "archive_state")
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(state)
    args = ["--workload", "catalog", "--data", os.path.join(TESTDATA, "sf0.001"),
            "--seconds", "0", "--seed", "0", "--min-ops", "0",
            "--out", os.path.join(state, "record.json"),
            "--verify-dir", os.path.join(state, "verify"),
            "--queries", ",".join(ARCHIVE_QUERIES)]
    r = subprocess.run(java_cmd(state, args, f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
                       cwd=state, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    shutil.rmtree(state, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        print(f"[perfbench] class archive not recorded (exit {r.returncode}):\n"
              + r.stderr[-2000:], file=log)
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)


def build(log=sys.stderr):
    """Compile if the sources changed since the last build. Raises on a
    missing engine or a compile error."""
    engine = files_under(ENGINE_SRC, ".scala")
    bench = files_under(BENCH_SRC, ".scala")
    resources = files_under(ENGINE_RESOURCES)
    if not engine or not bench:
        raise RuntimeError(f"no engine sources under {ENGINE_SRC}")
    if not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        raise RuntimeError(f"Spark jars not found at {SPARK_JARS} (build.sbt's unmanagedBase)")
    if not TESTDATA:
        raise RuntimeError("no test data directory listed in TESTDATA.md")
    stamp = fingerprint(engine + bench + resources)
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    src_copy = os.path.join(OUT, "src")
    for f in (stamp_file, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    for d in (src_copy, CLASSES):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    sources = []
    for f in engine:
        dst = os.path.join(src_copy, os.path.relpath(f, ENGINE_SRC))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        with open(f, encoding="utf-8") as fh:
            text = relocate(fh.read())
        with open(dst, "w", encoding="utf-8") as fh:
            fh.write(text)
        sources.append(dst)
    sources += bench
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    print(f"[perfbench] compiling {len(sources)} Scala files", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", f"{SPARK_JARS}/*", "@" + args_file]
    r = subprocess.run(cmd, cwd=OUT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    for f in resources:   # service registrations (the graft-series source)
        dst = os.path.join(CLASSES, os.path.relpath(f, ENGINE_RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    # class-data sharing archives classes from jars only
    subprocess.run(["jar", "cf", JAR, "-C", CLASSES, "."], check=True)
    print("[perfbench] recording the class archive", file=log, flush=True)
    record_archive(log)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    try:
        build()
        print(JAR)
    except RuntimeError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
