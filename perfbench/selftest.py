"""Self-tests of the benchmark, on tiny inputs (--smoke).

1. Every workload, untraced and traced, prints every metric that
   BENCHMARK.json names, with its unit, and ends with a correct result.
2. A corrupted expected answer makes the run report failed ops
   (failed_frac > 0, correct false).

    python3 perfbench/selftest.py
"""
import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run as bench_run  # noqa: E402

ROOT = bench_run.ROOT


def smoke(workload, trace, corrupt=False):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-2000:]}"
    lines = [json.loads(l) for l in p.stdout.strip().splitlines()]
    printed = {l["metric"]: l for l in lines[:-1]}
    return printed, lines[-1]


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []
    for workload in sorted(bench_run.WORKLOADS):
        for trace, names in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            printed, result = smoke(workload, trace)
            for m in names:
                line = printed.get(m["name"])
                if line is None or line["unit"] != m["unit"] or line["workload"] != workload:
                    failures.append(f"{workload} trace={trace}: {m['name']} not printed with unit {m['unit']}")
                if m["name"] not in result["metrics"]:
                    failures.append(f"{workload} trace={trace}: {m['name']} missing from the result line")
            if not result["correct"] or result["failed"] != 0:
                failures.append(f"{workload} trace={trace}: result not correct: {result}")
            print(f"ok   {workload} trace={trace}: {len(names)} metrics")
        printed, result = smoke(workload, 0, corrupt=True)
        if not (printed["failed_frac"]["value"] > 0 and result["failed"] > 0 and not result["correct"]):
            failures.append(f"{workload}: corrupted expected answer not reported as failed")
        print(f"ok   {workload} corrupted answer: failed_frac {printed['failed_frac']['value']}")
    for f in failures:
        print(f"FAIL {f}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
