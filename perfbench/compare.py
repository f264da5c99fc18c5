#!/usr/bin/env python3
"""Compare the benchmark results of a parent and a change.

Run both sides on every workload of BENCHMARK.json, interleaved (the
order alternates each round, and round i uses seed FIRST_SEED + i on
both sides), then compare:

    python3 perfbench/compare.py run --parent <checkout> --change <checkout> \
        --out <dir> [--runs 10]
    python3 perfbench/compare.py report <dir>

`run` writes <dir>/parent.jsonl and <dir>/change.jsonl, one record per
run: {"workload", "seed", "result"}, where result is the run's last
output line. `report` prints one row per workload and end-to-end metric
of BENCHMARK.json: each side's median and quartiles, the change's
win-rate over the pairs (ties count for neither side), each side's
failed executions summed over the runs, and a verdict:

  improved    the change wins >= 9/10 of the pairs AND the medians differ
              by more than the parent's interquartile spread AND the
              change has no more failed executions than the parent
  regressed   the change's median is worse than the parent's by more
              than the metric's bound
  unresolved  the parent's own spread is wider than the bound, unless
              every change run is better than every parent run
  unchanged   otherwise
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
FIRST_SEED = 101


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def one_run(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{checkout}: {workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def cmd_run(a):
    spec = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    os.makedirs(a.out, exist_ok=True)
    sides = {"parent": a.parent, "change": a.change}
    files = {s: open(os.path.join(a.out, f"{s}.jsonl"), "a") for s in sides}
    for i in range(a.runs):
        seed = FIRST_SEED + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for w in workloads:
            for side in order:
                res = one_run(sides[side], w, seed, spec["run_seconds"])
                files[side].write(json.dumps({"workload": w, "seed": seed, "result": res}) + "\n")
                files[side].flush()
                print(f"round {i + 1}/{a.runs} {w} {side} done", file=sys.stderr)
    for f in files.values():
        f.close()
    report(a.out, spec)


def load(path):
    return [json.loads(line) for line in open(path) if line.strip()]


def report(out_dir, spec=None):
    spec = spec or json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    runs = {s: load(os.path.join(out_dir, f"{s}.jsonl")) for s in ("parent", "change")}
    print(f"{'workload':16s} {'metric':14s} {'parent med [q1,q3]':>28s} "
          f"{'change med [q1,q3]':>28s} {'wins':>6s} {'failed p/c':>10s}  verdict")
    for w in sorted({r["workload"] for r in runs["parent"]}):
        by_seed = {s: {r["seed"]: r["result"] for r in runs[s] if r["workload"] == w}
                   for s in runs}
        seeds = sorted(set(by_seed["parent"]) & set(by_seed["change"]))
        if not seeds:
            continue
        # a run whose queries failed may lack metrics; its failures count
        failed = {s: sum(by_seed[s][x]["failed"] for x in seeds) for s in runs}
        more_failures = failed["change"] > failed["parent"]
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            pairs = [(by_seed["parent"][s]["metrics"][name]["value"],
                      by_seed["change"][s]["metrics"][name]["value"]) for s in seeds
                     if all(name in by_seed[x][s]["metrics"] for x in runs)]
            if not pairs:
                print(f"{w:16s} {name:14s} {'':>28s} {'':>28s} {'':>6s} "
                      f"{failed['parent']:>4d}/{failed['change']:<5d}  no complete pair")
                continue
            p, c = [x for x, _ in pairs], [y for _, y in pairs]
            pq, cq = quartiles(p), quartiles(c)
            better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
            wins = sum(better(cv, pv) for pv, cv in zip(p, c))
            gap = pq[1] - cq[1] if lower else cq[1] - pq[1]
            spread = pq[2] - pq[0]
            worse_by = -gap / abs(pq[1]) if pq[1] else 0.0
            if wins >= 0.9 * len(pairs) and gap > spread and not more_failures:
                verdict = "improved"
            elif worse_by > m["bound"]:
                verdict = "regressed"
            elif pq[1] and spread / abs(pq[1]) > m["bound"] and not all(
                    better(cv, pv) for cv in c for pv in p):
                verdict = "unresolved"
            else:
                verdict = "unchanged"
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g},{q[2]:.4g}]"
            print(f"{w:16s} {name:14s} {fmt(pq):>28s} {fmt(cq):>28s} "
                  f"{wins:>3d}/{len(pairs):<2d} {failed['parent']:>4d}/{failed['change']:<5d}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--runs", type=int, default=10)
    p = sub.add_parser("report")
    p.add_argument("out")
    a = ap.parse_args()
    if a.cmd == "run":
        cmd_run(a)
    else:
        report(a.out)


if __name__ == "__main__":
    main()
