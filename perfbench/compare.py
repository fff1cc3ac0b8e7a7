#!/usr/bin/env python3
"""Collect sets of benchmark runs and compare two of them.

  python3 perfbench/compare.py collect --out A.jsonl --workload etl_daily \
      --seeds 1-10 [--trace 0|1]
      Runs the benchmark once per seed and appends one line per run:
      {"workload", "seed", "trace", "elapsed_s", "result"}.

  python3 perfbench/compare.py A.jsonl [B.jsonl]
      With one set: per workload and metric, the median, the quartiles and
      the spread (interquartile range as a share of the median).
      With two sets (A = parent, B = change): also B's median and
      quartiles, the pairs B wins (runs paired by workload, trace and seed;
      ties count for neither), and for each end-to-end metric a verdict:
        improved    B wins at least 9 of 10 pairs and the medians differ by
                    more than A's interquartile range, in B's favour;
        regressed   B's median is worse than A's by more than the bound;
        unresolved  A's spread is wider than the bound and not every run of
                    B beats every run of A;
        no worse    otherwise.
      Per-layer metrics have no bound and get no verdict. For each set, the
      tracing overhead is the median traced wall_s minus the median
      untraced wall_s of the same workload.

Bounds and directions come from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def collect(args):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    for s in seeds(args.seeds):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", args.workload, "--seed", str(s),
                            "--seconds", str(seconds), "--trace", str(args.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.stderr.write("\n".join(p.stderr.splitlines()[-20:]) + "\n")
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": s,
                                "trace": args.trace,
                                "elapsed_s": round(time.monotonic() - t0, 3),
                                "result": result}) + "\n")
        print(f"{args.workload} seed {s}: exit {p.returncode}, "
              f"{time.monotonic() - t0:.1f} s", file=sys.stderr)


def load(path):
    """{(workload, trace): {seed: result}} of the runs that produced one."""
    runs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r["result"] is not None:
                runs.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = r["result"]
    return runs


def quartiles(values):
    if len(values) < 2:
        return values[0], statistics.median(values), values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def fmt(v):
    return f"{v:.4g}"


def compare(args):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    a = load(args.a)
    b = load(args.b) if args.b else {}
    for key in sorted(set(a) | set(b)):
        ra, rb = a.get(key, {}), b.get(key, {})
        workload, trace = key
        bad = [s for s, r in list(ra.items()) + list(rb.items()) if not r["correct"]]
        print(f"== {workload} (trace {trace}): A {len(ra)} runs, B {len(rb)} runs"
              + (f"; incorrect runs at seeds {sorted(set(bad))}" if bad else ""))
        names = [m["name"] for m in (spec["per_layer"] if trace else spec["end_to_end"])]
        for name in names:
            m = meta[name]
            va = [r["metrics"][name]["value"] for r in ra.values() if name in r["metrics"]]
            vb = [r["metrics"][name]["value"] for r in rb.values() if name in r["metrics"]]
            if not va and not vb:
                continue
            row = f"  {name:48s} {m['unit']:>7s}"
            if va:
                q1, q2, q3 = quartiles(va)
                spread = (q3 - q1) / q2 if q2 else float("nan")
                row += f"  A {fmt(q2)} [{fmt(q1)}, {fmt(q3)}] spread {spread:.3f}"
            if vb:
                p1, p2, p3 = quartiles(vb)
                row += f"  B {fmt(p2)} [{fmt(p1)}, {fmt(p3)}]"
            if va and vb:
                sign = -1 if m["better"] == "lower" else 1
                pairs = [(ra[s]["metrics"][name]["value"], rb[s]["metrics"][name]["value"])
                         for s in ra if s in rb and name in ra[s]["metrics"]
                         and name in rb[s]["metrics"]]
                wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
                row += f"  B wins {wins}/{len(pairs)}"
                if "bound" in m:
                    worse = sign * (q2 - p2) / q2 if q2 else 0.0
                    if pairs and wins >= 0.9 * len(pairs) and sign * (p2 - q2) > (q3 - q1):
                        verdict = "improved"
                    elif worse > m["bound"]:
                        verdict = "regressed"
                    elif spread > m["bound"] and not all(
                            sign * (y - x) > 0 for x in va for y in vb):
                        verdict = "unresolved"
                    else:
                        verdict = "no worse"
                    row += f"  -> {verdict}"
            print(row)
    for label, runs in (("A", a), ("B", b)):
        for (workload, trace), rs in sorted(runs.items()):
            if not trace or (workload, 0) not in runs:
                continue
            traced = [r["metrics"]["trace.wall_s"]["value"] for r in rs.values()]
            plain = [r["metrics"]["wall_s"]["value"] for r in runs[(workload, 0)].values()]
            print(f"tracing overhead {label} {workload}: "
                  f"{statistics.median(traced) - statistics.median(plain):+.3f} s "
                  f"on a median untraced wall_s of {statistics.median(plain):.3f} s")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "collect":
        ap = argparse.ArgumentParser(prog="compare.py collect")
        ap.add_argument("--out", required=True)
        ap.add_argument("--workload", required=True)
        ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
        ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
        collect(ap.parse_args(sys.argv[2:]))
    else:
        ap = argparse.ArgumentParser(prog="compare.py")
        ap.add_argument("a")
        ap.add_argument("b", nargs="?")
        compare(ap.parse_args())


if __name__ == "__main__":
    main()
