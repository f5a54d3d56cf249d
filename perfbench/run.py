#!/usr/bin/env python3
"""Repo benchmark: the Kinesis→Firehose hop and a pass over batch keys.

    python3 perfbench/run.py --workload hop_bulk --seed 1 --seconds 12 --trace 0

Run it from the repository root. Workloads, metrics and bounds are in
BENCHMARK.json; cores, heap, JVM flags, warm-up passes, the key list and
its expected counts are in perfbench/config.json.

The first run compiles src/main/scala and perfbench/src with the Scala
compiler that ships among Spark's jars into .bench_build/, keyed by a hash
of the sources; later runs reuse that classpath, so set-up never includes
a build. Each run gets a fresh directory under .bench_run/ that holds
java.io.tmpdir, Spark's local dir, the staged inputs, checkpoints and
sink output, and is deleted when the run ends. With --trace 0 the result
carries the end-to-end metrics, with --trace 1 the per-layer ones. The
last line of stdout is the result JSON.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# A run must end within 180 s; this leaves room to clean up after a hang.
JVM_TIMEOUT_S = 165


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def build(jars):
    """Compiles the engine and the harness once per source tree."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not sources:
        die(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    sources += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    digest = hashlib.sha256()
    for path in sources + sorted(glob.glob(os.path.join(jars, "*.jar"))):
        digest.update(os.path.relpath(path, ROOT).encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                digest.update(f.read())
    builds = os.path.join(ROOT, ".bench_build", "perfbench")
    out = os.path.join(builds, digest.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    if os.path.isdir(builds):  # builds of other source trees
        for old in os.listdir(builds):
            shutil.rmtree(os.path.join(builds, old), ignore_errors=True)
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    print(f"[perfbench] compiling {len(sources)} sources", file=sys.stderr)
    try:
        done = subprocess.run(
            ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xss8m", "-Xmx2g",
             "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
             *sources], timeout=850)
        if done.returncode != 0:
            die("compilation failed")
        os.makedirs(out, exist_ok=True)
        os.rename(tmp, classes)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"[perfbench] compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def settings(args, cfg, run_dir, launch_ms):
    wl = cfg["workloads"][args.workload]
    props = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cfg["cores"],
        "shuffle_partitions": cfg["shuffle_partitions"],
        "data_dir": os.path.expanduser(os.environ.get("PERFBENCH_DATA", cfg["data_dir"])),
        "run_dir": run_dir, "result_path": os.path.join(run_dir, "result.json"),
        "launch_ms": launch_ms,
    }
    for k, v in wl.items():
        if k == "keys":
            props[k] = ",".join(v)
        elif k == "expected":
            props.update({f"expected.{q}": n for q, n in v.items()})
        else:
            props[k] = v
    return "".join(f"{k}={v}\n" for k, v in props.items())


def run_jvm(args, cfg, classes, jars, run_dir):
    data = os.path.expanduser(os.environ.get("PERFBENCH_DATA", cfg["data_dir"]))
    if not os.path.isfile(os.path.join(data, "events.parquet")):
        die(f"no events.parquet under {data}; set PERFBENCH_DATA")
    for d in ("tmp", "spark-local", "stage", "work"):
        os.makedirs(os.path.join(run_dir, d))
    props = os.path.join(run_dir, "run.properties")
    launch_ms = int(time.time() * 1000)
    with open(props, "w") as f:
        f.write(settings(args, cfg, run_dir, launch_ms))
    cmd = ["java", *cfg["jvm"],
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
           "perfbench.Main", props]
    # The engine reads SPARK_GRAFT_* settings (cores, aggregation fallback)
    # and the repo's launchers SPARK_DRIVER_MEM from the environment; every
    # run measures the configuration above instead.
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_DRIVER_MEM"}
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True,
                            env=env, start_new_session=True)

    def forward():
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
    pump = threading.Thread(target=forward, daemon=True)
    pump.start()
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
        print("perfbench: run timed out", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        pump.join(timeout=5)
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.isfile(result):
        die(f"benchmark JVM exited with {code} and no result")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        die(f"unknown workload {args.workload}")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    jars = spark_jars()
    classes = build(jars)

    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        res = run_jvm(args, cfg, classes, jars, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    got = res["metrics"]
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            value = got[m["name"]]
        elif args.trace:
            value = 0.0  # a layer this workload does not exercise
        else:
            die(f"run reported no {m['name']}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
