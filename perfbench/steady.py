"""Steadiness and A/B runner for the benchmark.

Steadiness: runs one workload with several seeds and reports, per
end-to-end metric, the median, the quartiles and the spread (IQR as a
share of the median) next to the metric's bound in BENCHMARK.json; the
bounds are set from these numbers.

    python3 perfbench/steady.py spread --workload lake_read --runs 10

Repeatability: runs one seed twice traced and reports the per-layer
counts, byte sizes and size ratios, and the op counts, that differ.
Counts must agree exactly; bytes agree unless the data carries
wall-clock stamps (the enriched rows' `ingest_ts`).

    python3 perfbench/steady.py repeat --workload lake_read --seed 3

A/B: alternates runs of a parent and a changed checkout (which side
goes first alternates too), the same seed for both sides of a pair,
and reports each side's median and quartiles, the pairs the change
won, and whether the medians differ by more than the parent's own
spread.

    python3 perfbench/steady.py ab --parent ../parent --change . \\
        --workload lake_read --pairs 10
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(checkout, workload, seed, trace=0):
    """One benchmark run in `checkout` at BENCHMARK.json's run_seconds;
    returns its result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(bench()["run_seconds"]),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise SystemExit(f"run failed ({checkout}, seed {seed}):\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    rec = json.loads(lines[-1])
    extra = {}
    for l in lines[:-1]:
        m = json.loads(l)
        extra[m["metric"]] = m["value"]
    rec["lines"] = extra
    return rec


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def bench():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def spread(a):
    b = bench()
    rows = [run(ROOT, a.workload, s) for s in range(1, a.runs + 1)]
    bad = [r for r in rows if not r["correct"]]
    print(f"{a.workload}: {len(rows)} runs, {len(bad)} incorrect")
    for m in b["end_to_end"]:
        xs = [r["metrics"][m["name"]]["value"] for r in rows]
        q1, med, q3 = quartiles(xs)
        sp = (q3 - q1) / med
        flag = "ok" if m["name"] == "setup_s" or sp < m["bound"] / 3 else "WIDE"
        print(f"  {m['name']:<18} median {med:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} "
              f"spread {sp:6.3f} bound {m['bound']:.2f} {flag}")
        print(f"  {'':<18} values {[round(x, 3) for x in xs]}")


def repeat(a):
    b = bench()
    first = run(ROOT, a.workload, a.seed, trace=1)
    keep = ROOT / first["lines"]["records"]
    ops1 = [json.loads(l) for l in (keep / "ops.jsonl").read_text().splitlines()]
    second = run(ROOT, a.workload, a.seed, trace=1)
    ops2 = [json.loads(l) for l in (keep / "ops.jsonl").read_text().splitlines()]
    counts = [m["name"] for m in b["per_layer"] if m["unit"] in ("count", "MB", "ratio")
              and m["name"] != "storage.export_growth"]
    diff = [(k, first["metrics"][k]["value"], second["metrics"][k]["value"])
            for k in counts if first["metrics"][k]["value"] != second["metrics"][k]["value"]]
    count_keys = ("exec.jobs", "exec.tasks", "queries.eager_jobs", "scan.input_rows",
                  "scan.files_read")

    def per_op(ops):
        out = {}
        for o in ops:
            if o["traced"]:
                out.setdefault(o["op"], set()).add(tuple(o["stats"].get(k) for k in count_keys))
        return out
    p1, p2 = per_op(ops1), per_op(ops2)
    name_diff = [(n, p1[n], p2[n]) for n in sorted(set(p1) | set(p2)) if p1.get(n) != p2.get(n)]
    print(f"{a.workload} seed {a.seed}: count metrics differing: {diff or 'none'}")
    print(f"  per-op counts differing ({count_keys}): {name_diff or 'none'}")


def ab(a):
    b = bench()
    sides = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = 1 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            sides[side].append(run(getattr(a, side), a.workload, seed))
    for m in b["end_to_end"]:
        p = [r["metrics"][m["name"]]["value"] for r in sides["parent"]]
        c = [r["metrics"][m["name"]]["value"] for r in sides["change"]]
        better = (lambda x, y: x > y) if m["better"] == "higher" else (lambda x, y: x < y)
        wins = sum(better(y, x) for x, y in zip(p, c))
        pq, cq = quartiles(p), quartiles(c)
        own = pq[2] - pq[0]
        print(f"{m['name']:<18} parent {pq[1]:.4f} [{pq[0]:.4f}, {pq[2]:.4f}] "
              f"change {cq[1]:.4f} [{cq[0]:.4f}, {cq[2]:.4f}] "
              f"change wins {wins}/{len(p)} "
              f"medians differ by more than parent IQR: {abs(cq[1] - pq[1]) > own}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread")
    s.add_argument("--workload", required=True)
    s.add_argument("--runs", type=int, default=10)
    r = sub.add_parser("repeat")
    r.add_argument("--workload", required=True)
    r.add_argument("--seed", type=int, default=1)
    x = sub.add_parser("ab")
    x.add_argument("--parent", required=True)
    x.add_argument("--change", required=True)
    x.add_argument("--workload", required=True)
    x.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    {"spread": spread, "repeat": repeat, "ab": ab}[a.cmd](a)


if __name__ == "__main__":
    main()
