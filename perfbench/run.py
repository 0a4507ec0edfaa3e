"""CDC ingest benchmark for the etl_spark engine.

    python3 perfbench/run.py --workload uniform_cow --seed 1 --seconds 20 --trace 0

Runs one workload (or ``all`` three in one process) at ``local[N]`` with
N = min(4, nproc) and a 2 GB driver heap. The seed makes the inputs.
The timed work is fixed per workload, sized to take about 20 s on a
4-core host; ``--seconds`` is part of the benchmark's command line but
does not change it, so that a seed always does the same work.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's entry points in spans, tags the Spark jobs they start, folds
the Spark event log into the spans and prints the per-layer metrics.

Every run ends with an independent DuckDB oracle over the generated logs
(``oracle.py``). The last line of stdout is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the exit
code is non-zero when the final table differs from the oracle. All
files live under ``.perfbench_work/`` in the checkout and are removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

WORKLOADS = ("uniform_cow", "skewed_sparse", "mor_feed")
HEAP = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise ValueError(f"no VmHWM for pid {pid}")


def start_spark(work: str, cores: int, event_dir: str | None):
    from etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    conf = {
        "spark.local.dir": os.path.join(work, "spark_local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(spark, name: str, seed: int, trace: bool, jvm_s: float,
                 work: str, spec=None) -> dict:
    from perfbench import trace as tr
    from perfbench import workloads as wl

    spec = spec or wl.SPECS[name]
    sc = spark.sparkContext

    # set-up: JVM start (``jvm_s``), fixture, fresh table and warm-up; the
    # timed work continues on the warmed table
    run = wl.Run(spark, spec, seed, tr.Recorder())
    t = time.perf_counter()
    with tr.install(run.rec, full=trace):
        fx, table, warm = run.set_up(os.path.join(work, name))
    setup_s = jvm_s + time.perf_counter() - t
    log(f"{name}: set-up took {setup_s - jvm_s:.2f} s after the JVM start")

    run.rec = tr.Recorder(sc, spark_tags=trace)
    t_from = time.time() * 1e3
    with tr.install(run.rec, full=trace):
        res = run.timed(table, fx)
    t_to = time.time() * 1e3
    log(f"{name}: timed work took {(t_to - t_from) / 1e3:.2f} s")
    return {"run": run, "fx": fx, "res": res, "warm": warm,
            "setup_s": setup_s, "window": (t_from, t_to), "spec": spec}


def finish(out: dict, name: str, seed: int, trace: bool, events: list | None,
           peak_rss_mb: float, host: dict) -> dict:
    from perfbench import oracle
    from perfbench import trace as tr
    from perfbench import workloads as wl

    run, fx, res = out["run"], out["fx"], out["res"]
    g = oracle.gate(res["table"].root, fx["logs"])
    scan_ok = {(g["actual"]["n"])} == {n for n, _ in res["scan_results"]}
    correct = g["ok"] and scan_ok and run.failed == 0
    extra = wl.unbounded(run, res, peak_rss_mb)
    if trace:
        spark_wide = tr.fold_event_log(run.rec, events, *out["window"])
        metrics = {k: (v, _unit(k)) for k, v in
                   {**tr.layer_metrics(run.rec), **spark_wide}.items()}
        metrics.update({k: v[:2] for k, v in extra.items()})
    else:
        metrics = wl.end_to_end(run, fx, res, out["setup_s"], out["warm"])
    context = {
        "workload": name, "seed": seed, "trace": int(trace), **host,
        "spec": out["spec"].__dict__,
        "oracle": g, "spark_scan_count_matches": scan_ok,
        "feed_rows": run.feed_rows,
        "tail_percentiles": {k: v[2] for k, v in extra.items() if v[2]},
    }
    return {"correct": correct, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics, "context": context,
            "unbounded": {} if trace else {k: v[:2] for k, v in extra.items()}}


def _unit(name: str) -> str:
    if name.endswith((".calls", ".files_rewritten", ".rows", ".empty_reads",
                      ".rows_out")):
        return "count"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("meta_bytes", "bytes_reported")):
        return "bytes"
    return "ratio"


def report(result: dict) -> None:
    ctx = result["context"]
    print(f"== {ctx['workload']} seed={ctx['seed']} trace={ctx['trace']} "
          f"cores={ctx['cores']}/{ctx['nproc']} heap={ctx['driver_heap']} "
          f"oracle={'ok' if ctx['oracle']['ok'] else 'MISMATCH'}")
    rows = list(result["metrics"].items())
    if result["unbounded"]:
        rows += [("(no bound; in the traced per-layer set)", (None, ""))]
        rows += list(result["unbounded"].items())
    for k, (v, unit) in rows:
        note = ctx["tail_percentiles"].get(k, "")
        print(f"  {k:44s} {v:14.6g} {unit:9s} {note}" if v is not None else f"  {k}")
    print(json.dumps({"context": ctx}, default=str))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20,
                    help="accepted, but the timed work is fixed per workload")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes for the smoke test; not a measurement")
    args = ap.parse_args(argv)

    import etl_spark.cdc.runner  # noqa: F401  (fails fast outside a checkout)

    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work, cores, event_dir)
        jvm_s = time.perf_counter() - t
        log(f"JVM started in {jvm_s:.2f} s")
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        from perfbench import workloads as wl

        outs = [run_workload(spark, n, args.seed, bool(args.trace), jvm_s, work,
                             wl.smoke_spec(wl.SPECS[n]) if args.smoke else None)
                for n in names]
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        stop_spark(spark)
        spark = None
        from perfbench import trace as tr

        events = tr.read_event_log(event_dir) if event_dir else None
        host = {"nproc": len(os.sched_getaffinity(0)), "cores": cores,
                "driver_heap": HEAP, "jvm_start_s": jvm_s,
                "work_dir_bytes": wl.dir_bytes(work)}
        results = [finish(o, n, args.seed, bool(args.trace), events, rss, host)
                   for o, n in zip(outs, names)]
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for r in results:
        report(r)
    if len(results) == 1:
        final = results[0]
        metrics = final["metrics"]
    else:
        final = {"correct": all(r["correct"] for r in results),
                 "attempted": sum(r["attempted"] for r in results),
                 "failed": sum(r["failed"] for r in results)}
        metrics = {f"{r['context']['workload']}/{k}": v
                   for r in results for k, v in r["metrics"].items()}
    print(json.dumps({
        "correct": final["correct"], "attempted": final["attempted"],
        "failed": final["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
