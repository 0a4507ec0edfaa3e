"""Smoke test of the benchmark at tiny sizes (a few minutes on 4 cores).

    python3 perfbench/smoke.py

Checks that

- every workload prints every end-to-end metric of BENCHMARK.json, with
  its unit, and passes the oracle gate;
- the traced run prints every per-layer metric and records at least one
  span for each layer the workload reaches;
- the oracle gate fails on a tampered copy of a replayed table.

Exits non-zero on the first failed check group.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run as R  # noqa: E402

# span layers each workload must reach
REACHES = {
    "uniform_cow": {
        "runner.replay", "merge.prepare_batch", "merge.apply_prepared",
        "lake.read_for_merge", "lake.scan_written_footers",
        "lake.build_file_blooms", "lake.commit", "lake.read",
    },
    "mor_feed": {
        "runner.replay", "merge.prepare_batch", "merge.apply_prepared",
        "lake.scan_written_footers", "lake.build_file_blooms", "lake.commit",
        "maintain.compact", "changelog.read_changelog", "lake.read",
        "lake.lookup",
    },
}
REACHES["skewed_sparse"] = REACHES["uniform_cow"]


def run_cli(trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
           "--seed", "5", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                       timeout=900)
    print("\n".join(p.stdout.splitlines()[:-1]))  # the report; JSON parsed below
    if p.returncode != 0:
        raise SystemExit(f"run.py --trace {trace} exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, spec: list[dict], trace: int) -> list[str]:
    problems = []
    for w in R.WORKLOADS:
        for m in spec:
            got = result["metrics"].get(f"{w}/{m['name']}")
            if got is None or got["value"] is None:
                problems.append(f"{w}: {m['name']} missing")
            elif got["unit"] != m["unit"]:
                problems.append(f"{w}: {m['name']} unit {got['unit']} != {m['unit']}")
        if trace:
            for layer in sorted(REACHES[w]):
                if not result["metrics"].get(f"{w}/{layer}.calls", {}).get("value"):
                    problems.append(f"{w}: no span for {layer}")
    return problems


def check_tamper() -> list[str]:
    from perfbench import oracle
    from perfbench import workloads as wl

    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    work = os.path.join(ROOT, ".perfbench_work", f"smoke-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        spark = R.start_spark(work, cores, None)
        spec = wl.smoke_spec(wl.SPECS["uniform_cow"])
        out = R.run_workload(spark, "uniform_cow", 5, False, 0.0, work, spec)
        root, logs = out["res"]["table"].root, out["fx"]["logs"]
        problems = []
        if not oracle.gate(root, logs)["ok"]:
            problems.append("gate failed on the untouched table")
        copy = root + "_tampered"
        shutil.copytree(root, copy)
        print(f"tampered {oracle.tamper(copy)}")
        if oracle.gate(copy, logs)["ok"]:
            problems.append("gate passed on a tampered table")
        return problems
    finally:
        if spark is not None:
            R.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = check_metrics(run_cli(0), bench["end_to_end"], 0)
    problems += check_metrics(run_cli(1), bench["per_layer"], 1)
    problems += check_tamper()
    for p in problems:
        print(f"FAIL {p}")
    print("smoke: ok" if not problems else f"smoke: {len(problems)} failure(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
