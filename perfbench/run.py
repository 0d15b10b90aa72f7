#!/usr/bin/env python3
"""Curation benchmark: one run of one workload, in one local Spark process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all      # every workload in turn

Run from the root of a checkout. The program and the benchmark are
compiled from source into $CARGO_TARGET_DIR (default .bench_build); the
inputs are derived from the sf0.1 test tables ($PERFBENCH_TESTDATA,
default the sf0.1 directory TESTDATA.md names) with the seed. The last line of standard
output is one JSON object: correct, attempted, failed and the metrics —
the end-to-end ones with --trace 0, the per-layer ones with --trace 1.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = list(gen.WORKLOAD_TABLES)

# A run must end within this many seconds; the JVM gets what is left.
RUN_LIMIT_S = 170

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def sf01_dir(root):
    """The sf0.1 test-table directory, as the repo's TESTDATA.md names it."""
    try:
        with open(os.path.join(root, "TESTDATA.md")) as f:
            m = re.search(r"^\| 0\.1 \| `([^`]+)`", f.read(), re.M)
    except OSError:
        m = None
    return m.group(1).rstrip("/") if m else ""


def declared_units(root):
    """Metric name -> unit for each section of BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {sec: {m["name"]: m["unit"] for m in spec[sec]} for sec in ("end_to_end", "per_layer")}


def run_jvm(classes, work, args, input_rows, deadline):
    cores = len(os.sched_getaffinity(0))
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed heap: young-generation pages are all touched early, so the
    # peak resident set moves with retained data, not with heap resizing
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-cp", f"{classes}:{build.spark_jars()}", "perfbench.Main",
            "--workload", args.workload, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cores", str(cores),
            "--input-rows", str(input_rows)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0:
        kept = os.path.join(os.path.dirname(work), "failed-run.log")
        shutil.copy(log_path, kept)
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:] + f"\n(whole log: {kept})\n")
        raise SystemExit("benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"))
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def one_run(args, units, build_dir, classes, testdata, started):
    work = tempfile.mkdtemp(prefix="run-", dir=build_dir)
    try:
        t0 = time.monotonic()
        rows = gen.generate(testdata, os.path.join(work, "in"), gen.WORKLOAD_TABLES[args.workload],
                            args.seed)
        if args.trace:
            gen.generate(testdata, os.path.join(work, "kernel_in"), gen.KERNEL_TABLES, args.seed)
        gen_s = time.monotonic() - t0
        res = run_jvm(classes, work, args, sum(rows.values()), started + RUN_LIMIT_S)
        res["phase_s"]["generate"] = gen_s
        t0 = time.monotonic()
        made, failures = check.run_checks(os.path.join(work, "in"), res["checks"])
        res["phase_s"]["checks"] = time.monotonic() - t0
        failures += res["problems"]
        if args.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    section = "per_layer" if args.trace else "end_to_end"
    if set(res[section]) != set(units[section]):
        raise SystemExit(f"{section} metrics differ from BENCHMARK.json: "
                         f"{sorted(set(res[section]) ^ set(units[section]))}")
    metrics = {k: {"value": v, "unit": units[section][k]} for k, v in sorted(res[section].items())}
    for e in res["errors"]:
        sys.stderr.write(f"failed operation: {e}\n")
    for f in failures:
        sys.stderr.write(f"check failed: {f}\n")
    recalls = {op["op"]: c["measured"] for op in res["checks"] for c in op["checks"]
               if "measured" in c}
    print(f"== {args.workload} seed {args.seed}: {res['passes']} passes, pass_s "
          f"{[round(p, 3) for p in res['pass_s']]}, input rows {rows}, "
          f"{made} checks, recall {recalls}")
    print(f"check s {({op['op']: [round(c['seconds'], 2) for c in op['checks']] for op in res['checks']})}")
    print(f"phases {({k: round(v, 2) for k, v in res['phase_s'].items()})}")
    print(f"operation s {({k: [round(x, 2) for x in v] for k, v in res['op_s'].items()})}")
    for sec in ("end_to_end", "per_layer"):
        for k, v in sorted(res[sec].items()):
            print(f"{args.workload} {k} = {v:.6g} {units[sec].get(k, '')}")
    print(f"{args.workload} operations attempted {res['attempted']}, failed {res['failed']}")
    return {"correct": not failures, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": metrics}


def main():
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    testdata = os.environ.get("PERFBENCH_TESTDATA") or sf01_dir(root)
    if not os.path.isdir(testdata):
        raise SystemExit(f"no sf0.1 test tables at {testdata!r}: set PERFBENCH_TESTDATA, "
                         "or run from a checkout whose TESTDATA.md names them")
    units = declared_units(root)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build.build(root, build_dir)
    if args.workload != "all":
        # the measured window starts after the build, which only a first run pays
        print(json.dumps(one_run(args, units, build_dir, classes, testdata, time.monotonic())))
        return
    for w in WORKLOADS:
        print(json.dumps(one_run(argparse.Namespace(**{**vars(args), "workload": w}),
                                 units, build_dir, classes, testdata, time.monotonic())))


if __name__ == "__main__":
    main()
