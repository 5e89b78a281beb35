"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload mart_query --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. The run starts Spark in-process at
``local[k]`` with the workload's ``CORES`` as k (2 for ``mart_query``, 1
for ``pipeline``: fewer task slots than the 4 cores it was tuned on, so the
Spark driver, py4j and the host keep cores), sets the workload up (inputs,
memo builds, warm-up ops), runs whole cycles until ``--seconds``
have passed, checks outputs, stops Spark and the JVM, and prints one
JSON line. One process per run: memos are keyed by application, so no
run inherits another's state.

Noise controls: every write root (inputs, tables, checkpoints, drop
directory, ``SPARK_LOCAL_DIRS``, the warehouse, Java and Python temp
files) lives under ``.perfbench/`` in the checkout and is deleted at the
end; the program's own fsync calls are left as they are.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layers' public functions (see ``layers.py``) and reports per-layer
metrics instead, plus an op-kind x metric table written to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

RESULT_DIR = os.path.join(".perfbench", "results")


def process_start() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, as tools/quiet_bench.py."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def rss_mb() -> float:
    with open("/proc/self/status") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("VmRSS"))
    return kb / 1024


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Point every temp and Spark write root into ``work``."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    time.tzset()


def start_spark(work: str, cores: int):
    from stock_market_data_pipeline_v2_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def heap_after_gc_mb(spark) -> float:
    """Driver heap used after ``System.gc()``.

    A collection lets Spark's ContextCleaner drop the broadcast and
    shuffle state of plans no longer referenced, which frees more heap
    only at the next collection, so collect until the figure settles."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = float("inf")
    for _ in range(5):
        jvm.java.lang.System.gc()
        used = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if heap - used < 1.0:
            heap = min(heap, used)
            break
        heap = used
        time.sleep(0.2)
    return heap


def gc_seconds(spark) -> float:
    """Total driver JVM garbage-collection time so far (MXBean counters)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1e3


def child_pids(pid: int) -> list[int]:
    """All live descendants of ``pid``."""
    parents: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            parents.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM, and wait for every process they started."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    kids = child_pids(os.getpid())
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, t_start: float, root: str, work: str) -> dict:
    import workloads

    workload = workloads.WORKLOADS[args.workload]()
    spark = start_spark(work, workload.CORES)
    try:
        return measure(args, t_start, root, work, spark, workload)
    finally:
        stop_spark(spark)


def measure(args, t_start: float, root: str, work: str, spark, workload) -> dict:
    """Set up, time, check and summarize one run on a started session."""
    import workloads
    from layers import METRICS, Tracer, wrap_layers

    spark_s = time.time() - t_start

    bench = workloads.Bench(spark, args.seed)
    workload.prepare(bench, os.path.join(work, "run"))

    setup_s = time.time() - t_start
    tracer = Tracer(spark, workload.CORES) if args.trace else None
    if tracer is not None:
        bench.tracer = tracer
        wrap_layers(tracer)
        tracer.flush_jobs()
        tracer.active = True
        gc0 = gc_seconds(spark)
    steal0, total0 = cpu_jiffies()
    bench.timing = True
    t0 = time.perf_counter()
    cycles = 0
    while cycles == 0 or time.perf_counter() - t0 < args.seconds:
        workload.cycle(cycles)
        cycles += 1
    wall = time.perf_counter() - t0
    bench.timing = False
    steal1, total1 = cpu_jiffies()
    if tracer is not None:
        tracer.flush_jobs()
        tracer.active = False
        gc_s = gc_seconds(spark) - gc0
        tracer.close()
    heap_mb = heap_after_gc_mb(spark)
    py_mb = rss_mb()

    t_check = time.perf_counter()
    ok = workload.check()
    t_check = time.perf_counter() - t_check
    # op_p50_s and ops_per_s time the workload's own op kinds; every
    # timed op (the pipeline's reads too) counts as attempted, and an op
    # whose kind failed its output check counts as failed.
    lat = [x for kind in workload.KINDS for x in bench.latencies[kind]]
    kinds = set(bench.latencies) | set(bench.raised)
    attempted = sum(len(bench.latencies[k]) + bench.raised[k] for k in kinds)
    failed = sum(
        bench.raised[k] + (0 if ok.get(k, True) else len(bench.latencies[k]))
        for k in kinds
    )
    host = {
        "host.steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "host.loadavg1": os.getloadavg()[0],
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cycles": cycles, "ops": len(lat),
        "spark_start_s": spark_s, "setup_s": setup_s,
        "timed_wall_s": wall, "checks": ok, "check_s": t_check,
        "latencies": dict(bench.latencies), "warmup": dict(bench.warmup),
        "heap_mb": heap_mb, "rss_mb": py_mb,
        **host,
    }
    if tracer is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "ops_per_s": (len(lat) / wall, "op/s"),
            "retained_mb": (heap_mb + py_mb, "MB"),
        }
    else:
        per_op, table = tracer.summary(workload.KINDS)
        per_op.update(host)
        per_op.update({
            "proc.jvm_heap_mb": heap_mb, "proc.jvm_gc_s": gc_s,
            "proc.py_rss_mb": py_mb, "trace.op_p50_s": statistics.median(lat),
        })
        metrics = {k: (per_op[k], METRICS[k]) for k in METRICS}
        record["op_kinds"] = table
    record["metrics"] = {k: v for k, (v, _u) in metrics.items()}
    os.makedirs(os.path.join(root, RESULT_DIR), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(root, RESULT_DIR, name), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(json.dumps(record, sort_keys=True), file=sys.stderr)
    return {
        "correct": failed == 0 and all(ok.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str]) -> int:
    t_start = process_start()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "__spark_entry__.py")):
        print("perfbench: run from the root of a checkout of the program "
              "(no __spark_entry__.py here)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    isolate(work)
    sys.path[1:1] = [root, os.path.join(root, "tools")]
    try:
        result = run(args, t_start, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
