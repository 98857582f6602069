"""Benchmark entry point: one closed-loop workload per process.

    python3 perfbench/run.py --workload warehouse_sql --seed 1 --seconds 8 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
a fresh run directory under ``.perfbench_runs/``, which also holds the
Spark local dirs, the scratch root, the managed-table warehouse and the
stream checkpoints; it is removed on exit. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). End-to-end times are CPU seconds of this process and
the processes under it (README.md says why). The line before the last,
starting ``# host``, records the host's state around the run;
``--trace 1`` also writes spans and per-op records to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# name -> (unit, better); BENCHMARK.json lists the same
END_TO_END = {"setup_s": ("s", "lower"), "op_cpu_p50_s": ("s", "lower")}
_S, _N, _B = ("s", "lower"), ("count", "lower"), ("bytes", "lower")
PER_LAYER = {
    "session.start_s": _S, "catalog.load_s": _S, "setup.warmup_s": _S,
    "driver.build_s": _S, "driver.eager_jobs": _N, "catalyst.plan_s": _S,
    "exec.s": _S, "exec.jobs": _N, "exec.stages": _N, "exec.tasks": _N,
    "exec.shuffle_read_bytes": _B, "exec.shuffle_write_bytes": _B, "exec.spill_bytes": _B,
    "exec.executor_cpu_s": _S, "exec.executor_run_s": _S, "exec.gc_s": _S,
    "exec.task_max_over_p50": ("ratio", "lower"),
    **{f"operators.{q}.s": _S for q in workloads.WarehouseSql.MIX},
    "plans.read_s": _S, "plans.transform_s": _S, "plans.append_s": _S,
    "streaming.tick_s": _S, "streaming.batch_rows": ("count", "higher"),
    "streaming.add_batch_ms": ("ms", "lower"), "streaming.wal_commit_ms": ("ms", "lower"),
    "sources.files_written": _N, "sources.bytes_written": _B,
    "llm_ops.dedup.increment_s": _S, "llm_ops.dedup.delete_s": _S,
    "llm_ops.clusters.cc_s": _S, "llm_ops.clusters.cc_jobs": _N,
    "llm_ops.similarity.ann_s": _S,
    "llm_ops.dedup.verified_per_candidate": ("ratio", "higher"),
    "cache.persisted_frames": _N, "cache.memory_bytes": _B,
    "driver.heap_peak_bytes": _B, "proc.rss_peak_bytes": _B, "trace.overhead_s": _S,
}


def cpu_probe() -> float:
    """Pure-CPU loop (bench.py's ``_microbench`` at a quarter of its
    length): a slow reading means a busy or throttled host."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i
    return time.perf_counter() - t0


def host_record() -> dict:
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) * 1024
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_bytes": mem,
            "loadavg": os.getloadavg()}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine: the share of time
    the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every live
    descendant (the JVM and its Python workers), with the time of the
    descendants they have reaped."""
    me = os.getpid()
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def configure(run_dir: str) -> None:
    """Host-sized session settings through the program's own overrides,
    and every piece of state it keeps pointed into ``run_dir``."""
    cpus = len(os.sched_getaffinity(0))
    heap_gib = max(1, min(4, host_record()["mem_total_bytes"] // 2**30 // 4))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gib}g"
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark_local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark_local")
    for d in ("scratch", "spark_local"):
        os.makedirs(os.path.join(run_dir, d))
    os.chdir(run_dir)  # the managed-table warehouse is ./spark-warehouse


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_rss_peak(spark) -> int:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, AttributeError):
        pass
    return 0


def timed_ops(wl, seconds: float) -> int:
    """The timed phase is a fixed number of ops: as many as fill
    ``seconds`` at the workload's nominal op time. A count, not a
    deadline, so that a run on a slowed host does the same ops as any
    other, at the same places in the JVM's warm-up."""
    return max(1, round(seconds / wl.op_seconds))


def run(args, run_dir: str) -> dict:
    from spans import Tracer, heap_peak_bytes

    wl = workloads.WORKLOADS[args.workload](run_dir, args.seed, workloads.SIZES[args.size])
    inputs = wl.generate()

    configure(run_dir)
    t0 = time.perf_counter()
    c0 = tree_cpu_s()
    from coursera_etl_pipeline_spark.session import get_spark

    spark = get_spark(f"perfbench_{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    traced = Tracer(spark if args.trace else None)
    try:
        wl.setup(spark, traced)
        setup_wall = time.perf_counter() - t0
        setup_cpu = tree_cpu_s() - c0
        errors: list[str] = []

        def one_op(i: int) -> tuple[float, float, dict, bool]:
            """Run op ``i``; returns (wall s, CPU s, trace record, ok)."""
            inp = wl.prepare(i)
            traced.begin_op(f"op{i}")
            cs = tree_cpu_s()
            ts = time.perf_counter()
            try:
                out = wl.op(inp, traced)
            except Exception:
                errors.append(f"op {i} raised: {traceback.format_exc()}")
                traced.end_op()
                return time.perf_counter() - ts, tree_cpu_s() - cs, {}, False
            lat = time.perf_counter() - ts
            cpu = tree_cpu_s() - cs
            rec = traced.end_op(verify_filter=getattr(wl, "VERIFY_FILTER", None))
            try:
                err = wl.check_op(inp, out)
            except Exception:
                err = traceback.format_exc()
            if err:
                errors.append(f"op {i} check: {err}")
            return lat, cpu, rec, not err

        # a traced run warms up at least once, so that its per-layer
        # figures come from warm ops
        n_warm = max(wl.warmup_ops, args.trace)
        warm = [one_op(i) for i in range(n_warm)]
        warmup_s = sum(w[0] for w in warm)
        # set-up: session start, workload set-up and warm-up ops, without
        # the warm-up ops' checks
        setup_cpu += sum(w[1] for w in warm)
        warm_ok = all(w[3] for w in warm)

        timed, ok, recs = [], [], []  # [(wall s, CPU s)], [ok], [trace record]
        for i in range(n_warm, n_warm + timed_ops(wl, args.seconds)):
            lat, cpu, rec, good = one_op(i)
            timed.append((lat, cpu))
            ok.append(good)
            if rec:
                recs.append(rec)
        attempted = len(ok)
        failed = ok.count(False) if warm_ok else attempted
        correct = failed == 0
        for e in errors:
            print(e, file=sys.stderr)
        print(f"# ops: warm-up wall {[round(w[0], 3) for w in warm]} "
              f"cpu {[round(w[1], 2) for w in warm]}; "
              f"timed wall {[round(w, 3) for w, _ in timed]} cpu {[round(c, 2) for _, c in timed]}; "
              f"set-up wall {setup_wall + warmup_s:.2f} cpu {setup_cpu:.2f}",
              file=sys.stderr)

        if args.trace:
            metrics = {k: statistics.median(r.get(k, 0) for r in recs) for k in PER_LAYER}
            metrics.update({
                "session.start_s": session_s, "setup.warmup_s": warmup_s,
                "catalog.load_s": sum(s["end"] - s["start"] for s in traced.spans
                                      if s["name"] == "catalog.load_s"),
                "driver.heap_peak_bytes": heap_peak_bytes(spark),
                "proc.rss_peak_bytes": jvm_rss_peak(spark)
                + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024,
            })
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            traced.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                        {"inputs": inputs, "metrics": metrics})
        else:
            metrics = {"setup_s": setup_cpu,
                       "op_cpu_p50_s": statistics.median(c for _, c in timed)}
        return {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": metrics, "inputs": inputs}
    finally:
        stop_spark(spark)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(workloads.SIZES), default="full")
    args = p.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the JVM and
    # remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    # find_spec, not import: session.py reads its settings at import time,
    # so it must first be imported after configure()
    if importlib.util.find_spec("coursera_etl_pipeline_spark") is None:
        print("program not found next to the benchmark", file=sys.stderr)
        return 2

    host = host_record()
    host["cpu_probe_before_s"] = cpu_probe()
    steal0, total0 = cpu_ticks()
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        res = run(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    host["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    host["cpu_probe_after_s"] = cpu_probe()
    host["loadavg_after"] = os.getloadavg()
    host["inputs"] = res.pop("inputs")
    print("# host " + json.dumps(host))
    table = PER_LAYER if args.trace else END_TO_END
    res["metrics"] = {k: {"value": res["metrics"][k], "unit": table[k][0]} for k in table}
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
