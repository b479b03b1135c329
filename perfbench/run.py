"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and harness from source (perfbench/build.py),
generates the inputs from the seed (perfbench/gen.py), runs the
workload in one JVM with Spark local[nproc] and one client, checks the
warm-up answers against DuckDB (perfbench/oracle.py), and prints one
short JSON line per metric followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the result line carries the end-to-end metrics of
BENCHMARK.json; with --trace 1 (half untraced, half traced) it carries
the per-layer metrics. Per-op records, spans and the JVM log are kept
under .bench_build/results/. Workloads and metrics: perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT

# sf: scale of the generated tables (None: the workload generates its
# own rows); setups: set-up repetitions per run, reported as a median;
# warm_cycles: untimed cycles (commits for ingest) after the warm-up
# pass; cycles / batch_rows: commits per ingest round and order rows
# per commit.
WORKLOADS = {
    "lake_read": {"sf": 0.001, "setups": 2, "warm_cycles": 2, "heap": "3g"},
    "ingest_pipeline": {"sf": None, "setups": 2, "warm_cycles": 1, "cycles": 5,
                        "batch_rows": 2000, "heap": "3g"},
    "batch_compute": {"sf": 0.02, "setups": 3, "warm_cycles": 0, "heap": "4g"},
}
SMOKE = {"sf": 0.001, "setups": 2, "warm_cycles": 1, "cycles": 3, "batch_rows": 200}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def run_jvm(cmd, work, data, timeout_s):
    """Runs the harness; answers its oracle request. Returns the oracle
    verdicts ({} when the workload has no oracle)."""
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, stderr=log, text=True)
    timer = threading.Timer(timeout_s, proc.kill)
    timer.start()
    verdict = {}
    try:
        for line in proc.stdout:
            if line.strip() == "PERFBENCH_ORACLE_READY":
                answers = work / "answers"
                verdict = oracle.verdicts(str(data), str(answers))
                (answers / "oracle_verdict.json").write_text(
                    json.dumps({k: v[0] for k, v in verdict.items()}))
                proc.stdin.write("go\n")
                proc.stdin.flush()
        rc = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        fail(f"harness exited with {rc}\n{tail}")
    return verdict


def measure(workload, seed, seconds, trace, cfg, corrupt=False):
    """One run; returns (result dict, oracle verdicts, results dir)."""
    classes = build.build()
    out = build.build_dir()
    work = out / "runs" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        data = work / "data"
        if cfg["sf"] is not None:
            gen.write(str(data), cfg["sf"], seed)
        jars = build.spark_jars()
        cmd = (["java", f"-Xmx{cfg['heap']}", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
               + ADD_OPENS
               + ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Harness",
                  "--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", "1" if trace else "0",
                  "--data", str(data), "--work", str(work),
                  "--setups", str(cfg["setups"]),
                  "--warm-cycles", str(cfg["warm_cycles"]),
                  "--cycles", str(cfg.get("cycles", 0)),
                  "--batch-rows", str(cfg.get("batch_rows", 0)),
                  "--corrupt", "1" if corrupt else "0"])
        verdict = run_jvm(cmd, work, data, timeout_s=seconds + 150)
        result = json.loads((work / "result.json").read_text())
        keep = out / "results" / f"{workload}-seed{seed}-trace{int(trace)}"
        shutil.rmtree(keep, ignore_errors=True)
        keep.mkdir(parents=True)
        for f in ("result.json", "ops.jsonl", "spans.jsonl", "jvm.log"):
            if (work / f).exists():
                shutil.copy(work / f, keep / f)
        return result, verdict, keep
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and minimal cycles (self-test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one expected answer (self-test)")
    a = ap.parse_args()
    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        fail(f"{bench_file} not found")
    bench = json.loads(bench_file.read_text())
    cfg = dict(WORKLOADS[a.workload], **(SMOKE if a.smoke else {}))
    if a.smoke and WORKLOADS[a.workload]["sf"] is None:
        cfg["sf"] = None

    result, verdict, keep = measure(a.workload, a.seed, a.seconds, bool(a.trace),
                                    cfg, corrupt=a.corrupt)
    metrics = result["metrics"]
    for name, m in sorted(verdict.items()):
        if not m[0]:
            sys.stderr.write(f"perfbench: oracle mismatch {name}: {m[1]}\n")
    for name, m in metrics.items():
        print(json.dumps({"workload": a.workload, "metric": name,
                          "value": m["value"], "unit": m["unit"]}))
    print(json.dumps({"workload": a.workload, "metric": "records",
                      "value": str(keep.relative_to(ROOT)), "unit": "path"}))
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    chosen = {}
    for w in wanted:
        m = metrics.get(w["name"])
        if m is None or m["value"] is None:
            fail(f"metric {w['name']} missing from the harness result")
        if m["unit"] != w["unit"]:
            fail(f"metric {w['name']} has unit {m['unit']}, BENCHMARK.json says {w['unit']}")
        chosen[w["name"]] = {"value": m["value"], "unit": m["unit"]}
    correct = result["failed"] == 0 and all(v[0] for v in verdict.values())
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": chosen}, separators=(",", ":")))


if __name__ == "__main__":
    main()
