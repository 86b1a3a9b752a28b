"""Run one benchmark workload from a seed and print its metrics.

    python3 perfbench/run.py --workload qan_monitor --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout.  The command builds the program
from source (perfbench/build.py), generates the workload's inputs for
the seed (perfbench/gen.py, cached per seed), runs the workload in one
JVM (graft.perfbench.Main), checks the outputs, prints every metric by
name with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics.  The exit code is 0 only when
every check passed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing into the benchmark's own directory

import build  # noqa: E402
import gen  # noqa: E402

# Spark on JDK 17 needs these outside spark-submit (the list graft's
# own build passes to its forked JVMs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "2g"
RUN_TIMEOUT_S = 170


def load_spec(root):
    with open(f"{root}/BENCHMARK.json") as fh:
        bench = json.load(fh)
    with open(f"{HERE}/workloads.json") as fh:
        detail = json.load(fh)
    return bench, detail


def run_jvm(classes, args, inputs, work, out, deadline):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=256m",
           "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dlog4j2.level=error", *ADD_OPENS,
           "-cp", f"{classes}:{build.spark_jars()}/*", "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--inputs", inputs, "--work", work, "--out", out,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(args.cores)]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: the run exceeded its time limit")
    if p.returncode != 0 or not os.path.exists(out):
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: the benchmark JVM exited with {p.returncode}")


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="also write every metric of the run to this JSON file")
    args = ap.parse_args()
    args.cores = len(os.sched_getaffinity(0))
    root = os.getcwd()
    bench, spec = load_spec(root)
    if args.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    detail = spec["workloads"][args.workload]
    t_build = time.time()
    classes = build.build(root)
    # the first run in a checkout also builds; the limit is for the run
    t_start += time.time() - t_build
    cache = f"{root}/.bench_build/inputs/{args.workload}-{gen.version()}/seed-{args.seed}"
    manifest = gen.generate(args.workload, args.seed, cache)
    work = f"{root}/.bench_build/work/{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = f"{work}/result.json"
    try:
        run_jvm(classes, args, cache, work, out, t_start + RUN_TIMEOUT_S)
        with open(out) as fh:
            res = json.load(fh)
        if args.workload == "qan_monitor":
            import oracle
            n, fails = oracle.compare(f"{cache}/events/events.parquet", out + ".canon",
                                      f"{cache}/oracle")
            res["attempted"] += n
            res["failed"] += len(fails)
            res["failures"] += fails
            res["notes"]["oracle"] = f"{n} dashboard queries compared with DuckDB, {len(fails)} differ"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = res["metrics"]
    metrics["error_rate"] = {"value": res["failed"] / max(res["attempted"], 1), "unit": "ratio"}
    metrics["bench.gen_s"] = {"value": manifest["gen_s"], "unit": "s"}
    for f in res["failures"]:
        print(f"FAIL {f}")
    print(f"# {args.workload} seed={args.seed} inputs sha256={manifest['sha256'][:16]} "
          f"trace={args.trace} cores={args.cores} wall={time.time() - t_start:.1f}s")
    for name, m in metrics.items():
        note = res["notes"].get(name, "")
        print(f"{name:42s} {m['value'] if m['value'] is not None else 'nan':>24} {m['unit']:8s} {note}")
    for name, note in res["notes"].items():
        if name not in metrics:
            print(f"# {name}: {note}")
    if args.report:
        with open(args.report, "w") as fh:
            json.dump({"metrics": metrics, "notes": res["notes"], "failed": res["failed"],
                       "ops": res["ops"]}, fh)
    key = "per_layer" if args.trace else "end_to_end"
    bypassed = tuple(detail["bypasses"])
    final = {}
    for m in bench[key]:
        name = m["name"]
        if name in metrics and metrics[name]["value"] is not None:
            final[name] = {"value": metrics[name]["value"], "unit": m["unit"]}
        elif name.startswith(bypassed):
            final[name] = {"value": 0, "unit": m["unit"]}
        else:
            res["failed"] += 1
            print(f"FAIL metric {name} was not measured")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": final}))
    sys.exit(0 if res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
