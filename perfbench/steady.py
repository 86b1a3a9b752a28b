"""Steadiness tool: run one workload N times and summarize each metric.

    python3 perfbench/steady.py run --workload qan_monitor --runs 10 \
        --seed0 100 --out runs-a.json
    python3 perfbench/steady.py compare runs-a.json runs-b.json

`run` calls run.py once per seed (seed0, seed0+1, ...) and prints, for
every end-to-end metric, the median, the quartiles and the spread
(q3 - q1) / median against the metric's bound.  The bounds of the
gated metrics are in BENCHMARK.json; the workload-specific metrics carry
theirs in perfbench/workloads.json.  `compare` checks that the second
set's median is not worse than the first's by more than the bound.
Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def specs():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    with open(f"{HERE}/workloads.json") as fh:
        detail = json.load(fh)
    out = {m["name"]: m for m in bench["end_to_end"]}
    for m in detail.get("metrics", []):
        out.setdefault(m["name"], m)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def summarize(runs, spec):
    names = [n for n in spec if any(n in r["metrics"] for r in runs)]
    print(f"{'metric':28s} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    ok = True
    for n in names:
        xs = [r["metrics"][n]["value"] for r in runs
              if n in r["metrics"] and r["metrics"][n]["value"] is not None]
        if not xs:
            continue
        q1, med, q3 = quartiles(xs)
        spread = (q3 - q1) / med if med else (0.0 if q3 == q1 else float("inf"))
        bound = spec[n]["bound"]
        verdict = "ok" if spread <= bound / 3 else ("wide" if spread <= bound else "OVER")
        if spread > bound:
            ok = False
        print(f"{n:28s} {len(xs):3d} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} {bound:6.2f} {verdict}")
    return ok


def cmd_run(a):
    runs = []
    for i in range(a.runs):
        seed = a.seed0 + i
        rep = f".bench_build/steady-{a.workload}-{seed}.json"
        p = subprocess.run([sys.executable, f"{HERE}/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds),
                            "--trace", "0", "--report", rep],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if not os.path.exists(rep):
            sys.stdout.write(p.stdout[-3000:])
            raise SystemExit(f"run with seed {seed} produced no result ({p.returncode})")
        with open(rep) as fh:
            runs.append(json.load(fh))
        os.remove(rep)
        if p.returncode != 0:  # a failed check: keep the run, show why
            print("\n".join(l for l in p.stdout.splitlines() if l.startswith("FAIL")))
        print(f"seed {seed}: exit {p.returncode}, " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in runs[-1]["metrics"].items()
            if k in specs() and v["value"] is not None), flush=True)
    with open(a.out, "w") as fh:
        json.dump(runs, fh, indent=1)
    sys.exit(0 if summarize(runs, specs()) else 1)


def cmd_compare(a):
    spec = specs()
    with open(a.first) as fh:
        first = json.load(fh)
    with open(a.second) as fh:
        second = json.load(fh)
    ok = True
    print(f"{'metric':28s} {'median 1':>12} {'median 2':>12} {'worse by':>9} {'bound':>6}")
    for n, m in spec.items():
        xs = [r["metrics"][n]["value"] for r in first if n in r["metrics"]]
        ys = [r["metrics"][n]["value"] for r in second if n in r["metrics"]]
        xs, ys = [x for x in xs if x is not None], [y for y in ys if y is not None]
        if not xs or not ys:
            continue
        a1, a2 = statistics.median(xs), statistics.median(ys)
        diff = a2 - a1 if m["better"] == "lower" else a1 - a2
        worse = diff / a1 if a1 else (0.0 if diff <= 0 else float("inf"))
        verdict = "ok" if worse <= m["bound"] else "WORSE"
        ok &= verdict == "ok"
        print(f"{n:28s} {a1:12.5g} {a2:12.5g} {worse:9.3f} {m['bound']:6.2f} {verdict}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1)
    r.add_argument("--seconds", type=float, default=None)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()
    if a.cmd == "run":
        if a.seconds is None:
            with open("BENCHMARK.json") as fh:
                a.seconds = json.load(fh)["run_seconds"]
        cmd_run(a)
    else:
        cmd_compare(a)


if __name__ == "__main__":
    main()
