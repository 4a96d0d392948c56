"""Builds the program and the benchmark harness from source with scalac.

The program's main sources (`src/main/scala`, plus `src/main/resources`)
compile into `.bench_build/program`, the harness (`perfbench/src`) into
`.bench_build/harness`, both against Spark's jars (`$SPARK_HOME/jars`). The
Scala compiler is the one Spark ships. A build is skipped when a stamp of
every source's content still matches.
"""
import hashlib
import os
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        sys.exit("build: Spark's jars not found; set SPARK_HOME")
    return jars


def _sources(root):
    out = []
    for dirpath, _, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(srcs, out, classpath):
    jars = [os.path.join(spark_jars(), f"scala-{j}-{SCALA}.jar")
            for j in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.exists(j)]
    if missing:
        sys.exit(f"build: Scala {SCALA} compiler jars not found: {missing}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out, "-classpath", classpath] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit(f"build: scalac failed for {out}")


def _build(name, srcs, extra, out, classpath):
    stamp = _stamp(srcs + extra)
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    print(f"build: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    _scalac([s for s in srcs if s.endswith(".scala")], out, classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build(root, harness_src):
    """Returns the run-time classpath: harness, program, Spark's jars."""
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        sys.exit(f"build: no program sources at {main_src}")
    out = os.path.join(root, ".bench_build")
    program = os.path.join(out, "program")
    harness = os.path.join(out, "harness")
    spark = os.path.join(spark_jars(), "*")
    resources = os.path.join(root, "src", "main", "resources")
    res_files = _sources(resources) if os.path.isdir(resources) else []
    _build("program", _sources(main_src), res_files, program, spark)
    for f in res_files:
        dst = os.path.join(program, os.path.relpath(f, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    # the harness links against the program, so its stamp covers both
    _build("harness", _sources(harness_src), _sources(main_src) + res_files,
           harness, f"{program}:{spark}")
    return f"{harness}:{program}:{spark}"
