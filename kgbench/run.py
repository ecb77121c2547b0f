"""Benchmark harness: one workload, one seed, one JSON result line.

    python3 kgbench/run.py --workload triples_fixture --seed 1 \\
        --seconds 10 --trace 0

Load is one driver process on ``local[<nproc / 2>]`` with as many shuffle
partitions, run closed-loop: each operation starts when the previous one
has finished. Session start, input generation and write (repeated
``SETUP_REPEATS`` times; the median counts) and warm-up make up
``setup_s``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the same schedule with the event log on and spans around the
program's public calls, and reports the per-layer metrics instead.

Every run prints its pinned environment, a report of every metric with
its unit (timings as median, the highest percentile with at least ten
samples beyond it, and the sample count), then the result as the last
line of standard output. Outputs are checked against the spec oracle
(``tests/oracle.py``) and, for the pipeline, against pinned table hashes;
``failed`` counts failed operations and checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench_work")
SETUP_REPEATS = 3
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "pages_per_s": "pages/s",
    "triples_per_s": "triples/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def _nproc() -> int:
    # what `nproc` prints: the CPUs this process may run on
    return len(os.sched_getaffinity(0))


def _cores(nproc: int) -> int:
    """Spark task slots: half the CPUs. The JVM's own threads, the driver
    and the Python workers run beside the tasks, so ``local[<nproc>]``
    keeps more runnable than there are CPUs, and on a shared host its
    times follow the other tenants' load rather than the program."""
    return max(1, nproc // 2)


def _mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _steal_s() -> float:
    """Hypervisor steal of the whole machine so far (``/proc/stat``)."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> dict:
    """Settings every run uses, set before the JVM starts."""
    nproc = _nproc()
    cores = _cores(nproc)
    # an eighth of RAM, within [1, 2] GB: the session default (24g)
    # exceeds small hosts, these inputs need little heap, and a heap the
    # run fills keeps the peak-RSS metric steady
    mem_mb = max(1024, min(2048, _mem_total_mb() // 8))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_SUBMIT_OPTS": " ".join(
            p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                        f"-Djava.io.tmpdir={tmp}") if p
        ),
        # the load gate only records contention: a wait would spend the
        # run budget, and the previous run's own load is still in loadavg
        "SPARK_GRAFT_BENCH_MAX_LOAD": str(nproc),
        "SPARK_GRAFT_BENCH_LOAD_WAIT": "0",
    }
    os.environ.update(env)
    return {"nproc": nproc, "cores": cores,
            "mem_total_mb": _mem_total_mb(), **env}


def _tree_pids(root: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", "rb") as f:
                    stat = f.read().decode("ascii", "replace")
            except OSError:
                continue
            # comm may hold spaces and parentheses: fields follow the last ")"
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(p for p, pp in parent.items() if pp == pid)
    return out


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree (driver, JVM, Python workers) of
    each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def summarize(samples: list[float]) -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it (none below eleven samples), and the sample count."""
    s = sorted(samples)
    out = {"median": statistics.median(s), "n": len(s)}
    if len(s) >= 11:
        out[f"p{100 * (len(s) - 10) // len(s)}"] = s[len(s) - 11]
    return out


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import bench
        from kgbench import workloads
        from kgbench.eventlog import reduce_event_log
        from kgbench.tracer import Tracer
        from clip_retrieval_spark.procstat import tree_cpu_seconds
        from clip_retrieval_spark.session import get_spark
    except ImportError as e:
        print(f"kgbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    gate = bench._wait_for_idle()
    env_start = {"loadavg": bench._loadavg(), "steal_s": _steal_s()}
    print("kgbench env " + json.dumps(
        {"workload": args.workload, "seed": args.seed,
         "seconds": args.seconds, "trace": args.trace, **env,
         "load_gate": gate}), flush=True)

    cores = env["cores"]
    conf = {"spark.ui.showConsoleProgress": "false"}
    event_dir = os.path.join(work, "events")
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + event_dir}
    t0 = time.monotonic()
    spark = get_spark(master=f"local[{cores}]", app_name="kgbench",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.monotonic() - t0

    failed = attempted = 0
    try:
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, work)
        setup_runs = []
        for _ in range(SETUP_REPEATS):
            t = time.monotonic()
            wl.setup_inputs()
            setup_runs.append(time.monotonic() - t)
        t = time.monotonic()
        for _ in range(wl.warm_up_ops):
            wl.operate()
        warm_s = time.monotonic() - t
        setup_s = start_s + statistics.median(setup_runs) + warm_s

        tracer = None
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            wl.instrument(tracer)
            spark.sparkContext.setLocalProperty(workloads.PHASE, "measure")
        walls, cpus, results = [], [], []
        t_measure = time.monotonic()
        while True:
            attempted += 1
            t = time.monotonic()
            c = tree_cpu_seconds()
            try:
                results.append(wl.operate(tracer))
            except Exception:
                failed += 1
                traceback.print_exc()
            else:
                walls.append(time.monotonic() - t)
                cpus.append(tree_cpu_seconds() - c)
            if wl.one_shot or time.monotonic() - t_measure >= args.seconds:
                break
        if tracer is not None:
            spark.sparkContext.setLocalProperty(workloads.PHASE, None)
            tracer.close()
        if not walls:
            print("kgbench: every operation failed", file=sys.stderr)
            return 1

        checks = wl.checks()
        attempted += len(checks)
        failed += sum(not ok for _name, ok, _detail in checks)
        peak_rss = tree_peak_rss_mb()
    finally:
        _stop_spark(spark)
    env_end = {"loadavg": bench._loadavg(), "steal_s": _steal_s()}

    wall = statistics.median(walls)
    pages = results[0]["pages"]
    triples = statistics.median(r["triples"] for r in results)
    report = {
        "setup_s": summarize([setup_s]) | {"setup_inputs_s": setup_runs,
                                          "session_start_s": start_s,
                                          "warm_up_s": warm_s},
        "wall_s": summarize(walls),
        "pages_per_s": {"median": pages / wall, "pages": pages},
        "triples_per_s": {"median": triples / wall, "triples": triples},
        "cpu_s": summarize(cpus),
        "peak_rss_mb": {"value": peak_rss},
        "error_rate": {"value": failed / attempted, "failed": failed,
                       "attempted": attempted},
    }
    metrics = {
        "setup_s": setup_s, "wall_s": wall, "pages_per_s": pages / wall,
        "triples_per_s": triples / wall, "cpu_s": statistics.median(cpus),
        "peak_rss_mb": peak_rss,
    }
    units = dict(END_TO_END)
    if args.trace:
        def group_of(props: dict) -> str | None:
            if props.get(workloads.PHASE) != "measure":
                return None
            return props.get("spark.job.description") or ""

        groups = reduce_event_log(event_dir, group_of, workloads.score_node)
        layers = wl.layers(tracer, groups, len(walls))
        layers |= {"session.start_s": start_s, "trace.wall_s": wall}
        names = workloads.per_layer_metrics()
        metrics = {n: float(layers.get(n, 0.0)) for n in names}
        units = {n: u for n, (u, _better) in names.items()}

    for c in checks:
        print(f"kgbench check {'ok  ' if c[1] else 'FAIL'} {c[0]}: {c[2]}")
    if getattr(wl, "hashes", None):
        print("kgbench table hashes " + json.dumps(
            {str(args.seed): wl.hashes}))
    print("kgbench env_start " + json.dumps(env_start)
          + " env_end " + json.dumps(env_end))
    for name, rec in report.items():
        unit = END_TO_END.get(name, "ratio")
        print(f"kgbench {args.workload} {name} [{unit}] " + json.dumps(rec))
    if args.trace:
        for name, v in metrics.items():
            print(f"kgbench {args.workload} {name} [{units[name]}] {v}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]}
                    for n, v in metrics.items()},
    }), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
