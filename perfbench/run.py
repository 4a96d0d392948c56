#!/usr/bin/env python3
"""The repo benchmark: Avro key/venn diff workloads plus a registry sweep.

Run from the root of a checkout:

    python3 perfbench/run.py --workload keydiff_flat --seed 1 --seconds 10 --trace 0

builds the program and the harness from source (see build.py), runs one
workload on `local[4]` and prints, as its last stdout line, one JSON
object: `correct`, `attempted`, `failed` and `metrics`. With `--trace 0`
the metrics are BENCHMARK.json's `end_to_end` list; with `--trace 1` its
`per_layer` list, a span file under `.perfbench/<workload>/` and a
tracing-overhead line. `--workload all` runs every workload untraced and
prints a table of the end-to-end metrics. `--self-test` checks the
generators' manifests against an independent recount, and that a
corrupted manifest makes every workload's check fail.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def load_json(path):
    with open(path) as f:
        return json.load(f)


def java_cmd(classpath, spec, work, main, args):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = spec["session"]["heap"]
    # a fixed heap and young generation: resizing them made operation
    # times drift within a run
    return (["java"] + opens +
            [f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g", "-XX:ReservedCodeCacheSize=1g",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", classpath, main] + args)


def child_env():
    # runs inherit neither the program's SPARK_GRAFT_* knobs nor Spark's
    # SPARK_LOCAL_DIRS, which would move Spark's scratch out of the checkout
    return {k: v for k, v in os.environ.items()
            if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL", "SPARK_CONF"))}


def harness_args(spec, name, seed, seconds, trace, work, corrupt=None):
    w = spec["workloads"][name]
    conf = dict(spec["session"]["conf"])
    conf["spark.local.dir"] = os.path.join(work, "spark-local")
    args = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
            "work": work,
            "conf": ";".join(f"{k}={v}" for k, v in conf.items()),
            "oracle": f"{sys.executable} {os.path.join(HERE, 'oracle_counts.py')}"}
    for k, v in w["args"].items():
        args[k] = (os.path.join(ROOT, v) if k == "data" else
                   ",".join(v) if isinstance(v, list) else v)
    if corrupt:
        args["corrupt_manifest"] = w["corrupt"]
    return [str(x) for k, v in args.items() for x in (f"--{k}", v)]


def harness(classpath, spec, name, seed, seconds, trace, corrupt=False):
    """Runs the harness for one workload; returns its result line as parsed."""
    work = os.path.join(ROOT, ".perfbench", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = java_cmd(classpath, spec, work, "perfbench.Main",
                   harness_args(spec, name, seed, seconds, trace, work, corrupt))
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, env=child_env(),
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"run: {name} did not finish within {RUN_TIMEOUT_S} s")
    lines = p.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if p.returncode != 0 or not lines:
        sys.exit(f"run: harness for {name} exited with {p.returncode}")
    return json.loads(lines[-1])


def run_one(classpath, spec, bench, name, seed, seconds, trace):
    """Runs one workload; returns the result object, metrics with units."""
    raw = harness(classpath, spec, name, seed, seconds, trace)
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    metrics, absent = {}, []
    for m in wanted:
        if m["name"] in raw["metrics"]:
            value = raw["metrics"][m["name"]]
        elif not raw["metrics"]:
            sys.exit(f"run: {name}: no operation passed its check "
                     f"({raw['failed']} of {raw['attempted']} failed)")
        elif trace:
            # a layer this workload never calls
            value = 0.0
            absent.append(m["name"])
        else:
            sys.exit(f"run: harness did not report {m['name']}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    if absent:
        print(f"# {name} layers not run by this workload (reported as 0): {' '.join(absent)}")
    return {"correct": raw["correct"], "attempted": raw["attempted"],
            "failed": raw["failed"], "metrics": metrics}


def self_test(classpath, spec):
    work = os.path.join(ROOT, ".perfbench", "self-test")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ok = subprocess.run(java_cmd(classpath, spec, work, "perfbench.SelfTest", [work]),
                        env=child_env()).returncode == 0
    for name in spec["workloads"]:
        r = harness(classpath, spec, name, 1, 1, 0, corrupt=True)
        caught = not r["correct"] and r["failed"] > 0
        print(f"{'PASS' if caught else 'FAIL'} {name}: corrupted manifest "
              f"failed {r['failed']} of {r['attempted']} operations")
        ok = ok and caught
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    spec = load_json(os.path.join(HERE, "workloads.json"))
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    names = list(spec["workloads"])
    if not a.self_test and a.workload not in names + ["all"]:
        ap.error(f"--workload must be one of {names + ['all']}")
    classpath = build.build(ROOT, os.path.join(HERE, "src"))
    if a.self_test:
        sys.exit(0 if self_test(classpath, spec) else 1)
    if a.workload == "all":
        table = []
        for name in names:
            r = run_one(classpath, spec, bench, name, a.seed, a.seconds, a.trace)
            table += [(name, k, m["value"], m["unit"]) for k, m in r["metrics"].items()]
            table.append((name, "failed_frac", r["failed"] / r["attempted"], ""))
        for row in table:
            print("%-16s %-28s %14.6g %s" % row)
        return
    print(json.dumps(run_one(classpath, spec, bench, a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
