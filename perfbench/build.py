#!/usr/bin/env python3
"""Builds the program and the benchmark harness from source.

Compiles `src/main/scala` (the program) and then `perfbench/src` (the
harness, against the program) with the Scala compiler that ships in
Spark's jar directory ($SPARK_HOME/jars), into jars under
`.bench_build/classes/` of the checkout. Each output is named after a
hash of its sources, so an unchanged tree is not rebuilt.

It then records a class-data-sharing archive of the classes a short
Spark session loads. Runs must map it (-Xshare:on): it halves JVM and
Spark start-up on a machine where class loading from Spark's ~250 jars
is slow, so a run without it would read as a setup_s regression. The
measured code is the same with or without it.

Last it generates the workloads' FITS corpus under `.bench_build/corpus`
if it is missing or incomplete, so that no run's set-up includes it.

Usage, from the checkout root:  python3 perfbench/build.py
Prints the run command up to the main class's arguments.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD = ".bench_build"
CORES = 2


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sys.exit("SPARK_HOME is not set; it must name a Spark 4 install")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        sys.exit(f"no scala-compiler jar under {home}/jars")
    return jars


def sources(root, pattern):
    return sorted(glob.glob(os.path.join(root, pattern), recursive=True))


def digest(root, files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def compile_to(out, srcs, classpath, jars, log, resources=None):
    """Compiles into a temporary directory (plus a copy of `resources`),
    packs it as the jar `out`, and renames that into place, so an
    interrupted build never leaves a half-filled output."""
    if os.path.isfile(out):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(classpath)] + srcs
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"compile failed ({log})")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with zipfile.ZipFile(out + ".part", "w", zipfile.ZIP_STORED) as jar:
        for d, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                path = os.path.join(d, f)
                jar.write(path, os.path.relpath(path, tmp))
    shutil.rmtree(tmp)
    os.replace(out + ".part", out)


def java_opts():
    """JVM options every benchmark JVM uses: the module openings Spark's
    launcher adds on JDK 17, a fixed heap, and a fixed processor count.
    The JVM then sees CORES processors whatever the host has: Spark runs
    local[CORES] and the garbage collector and JIT size their thread
    pools to it. Spark's generated classes keep the JIT compiling about
    a core's worth in steady state; with fewer task threads than cores
    that work does not preempt the tasks, so a run measures the program
    rather than the scheduler."""
    return ["-Xmx4g", "-XX:+UseG1GC", f"-XX:ActiveProcessorCount={CORES}"] + [
        f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
            "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar")]


def cds_archive(root, cp):
    """Records the class-data-sharing archive for this classpath once;
    returns its path. Exits when the JVM could not write one."""
    jsa = os.path.join(root, BUILD, "classes",
                       "cds-" + hashlib.sha256(os.pathsep.join(cp).encode()).hexdigest()[:16] + ".jsa")
    if not os.path.isfile(jsa):
        scratch = os.path.join(root, BUILD, "scratch", "cds")
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch)
        with open(os.path.join(root, BUILD, "cds.log"), "w") as log:
            subprocess.run(["java"] + java_opts() + [
                f"-XX:ArchiveClassesAtExit={jsa}.part", f"-Djava.io.tmpdir={scratch}",
                "-cp", os.pathsep.join(cp), "perfbench.Main",
                "--cds-train", scratch], stdout=log, stderr=subprocess.STDOUT)
        shutil.rmtree(scratch, ignore_errors=True)
        if not os.path.isfile(jsa + ".part"):
            sys.exit(f"no class-data-sharing archive written; see {BUILD}/cds.log")
        os.replace(jsa + ".part", jsa)
    return jsa


def java_cmd(cp, jsa, opts=()):
    """The command that starts a benchmark JVM with the extra JVM options
    `opts`, up to the main class's arguments; it fails rather than run
    without the archive."""
    return ["java"] + java_opts() + list(opts) + [
        "-Xshare:on", f"-XX:SharedArchiveFile={jsa}",
        "-cp", os.pathsep.join(cp), "perfbench.Main"]


def ensure_corpus(root, cp, jsa):
    """Generates the corpus if it is missing or incomplete."""
    tmp = os.path.join(root, BUILD, "scratch", "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(root, BUILD, "corpus.log"), "w") as log:
        rc = subprocess.run(java_cmd(cp, jsa, [f"-Djava.io.tmpdir={tmp}"]) +
                            ["--ensure-corpus", root], stdout=log,
                            stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.exit(f"corpus generation failed ({rc}); see {BUILD}/corpus.log")


def prepare(root):
    """Builds what is missing and generates the corpus; returns the run
    classpath and its class-data-sharing archive."""
    cp = ensure(root)
    jsa = cds_archive(root, cp)
    ensure_corpus(root, cp, jsa)
    return cp, jsa


def ensure(root):
    """Builds what is missing; returns the run classpath."""
    program = sources(root, "src/main/scala/**/*.scala")
    resources = os.path.join(root, "src/main/resources")
    harness = sources(root, "perfbench/src/**/*.scala")
    if not program:
        sys.exit("no program sources under src/main/scala")
    if not harness:
        sys.exit("no harness sources under perfbench/src")
    jars = spark_jars()
    classes = os.path.join(root, BUILD, "classes")
    os.makedirs(classes, exist_ok=True)
    prog_id = digest(root, program + sources(root, "src/main/resources/**/*.*"))
    prog_out = os.path.join(classes, "program-" + prog_id + ".jar")
    compile_to(prog_out, program, jars, jars,
               os.path.join(root, BUILD, "program-build.log"), resources)
    bench_out = os.path.join(classes, "bench-" + digest(root, harness, prog_id) + ".jar")
    compile_to(bench_out, harness, [prog_out] + jars, jars,
               os.path.join(root, BUILD, "bench-build.log"))
    return [bench_out, prog_out] + jars


if __name__ == "__main__":
    print(" ".join(java_cmd(*prepare(os.getcwd()))))
