"""Repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {pipeline,query_mix} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds a Spark session sized to the machine
(``local[nproc]``, nproc shuffle partitions) through the package's own
``session.get_spark``, prepares seeded inputs, runs the workload's closed
loop for ``--seconds`` and checks every output. Human-readable lines go
to stderr; the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The traced run
also writes its spans to ``.perfbench_work/traces/``. All scratch files
stay under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The program under test, from this checkout (never an installed copy).
REQUIRED = ("commercepulse_data_pipeline_spark/__init__.py", "__spark_entry__.py",
            "tools/generate_events.py", "tools/parity.py")
if __name__ == "__main__":
    _missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if _missing:
        print(f"perfbench: not a checkout of the package: missing {', '.join(_missing)}", file=sys.stderr)
        sys.exit(2)
    sys.path[0] = ROOT  # not perfbench/, whose trace.py would shadow the stdlib module

from perfbench import trace, workloads  # noqa: E402
from perfbench.stats import summarize  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "etl.sources.readers.load_live_s": "s",
    "etl.cli.transform_s": "s",
    "etl.plans.quality.report_s": "s",
    "etl.plans.dimensions.dims_s": "s",
    "etl.plans.silver.normalize_s": "s",
    "etl.plans.gold.fact_daily_s": "s",
    **{f"etl.{cmd}.{k}": u for cmd in ("transform", "report") for k, u in (
        ("jobs", "count"), ("stages", "count"), ("executor_busy_s", "s"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("read_amplification", "ratio"))},
    "etl.transform.output_mb": "MB",
    "etl.transform.output_files": "count",
    "gold.batch_p50_s": "s",
    "gold.streaming.ingest.source_s": "s",
    "gold.streaming.gold_upsert.add_batch_s": "s",
    "gold.commit_s": "s",
    "gold.query_planning_s": "s",
    "gold.source_reads_per_event": "ratio",
    "gold.jobs_per_batch": "count",
    "gold.shuffle_write_mb_per_batch": "MB",
    "gold.write_amplification": "ratio",
    "gold.state_mb": "MB",
    "engine.codegen_compiles": "count",
    "engine.codegen_ms": "ms",
    "engine.peak_rss_mb": "MB",
    **{f"q.{n}{k}": u
       for n in workloads.QUERY_MIX
       for k, u in (("_s", "s"), (".jobs", "count"), (".shuffle_write_mb", "MB"))},
    "trace.throughput_per_s": "1/s",
    "trace.bookkeeping_s": "s",
}


def _session(work: str, nproc: int):
    from commercepulse_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            # 4 GiB of heap leaves most of a 16 GB host to other processes
            "spark.driver.memory": "4g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            # the traced run reads every job and stage back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_processes(spark) -> None:
    """Stop the session, then the JVM this process launched and every
    process below it (Python workers), and wait until each has exited.
    Left alone, the JVM outlives this process by up to a minute."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            # a later session in this process launches a fresh JVM
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits at EOF on its stdin
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        for pid in procs + _descendants(os.getpid()):
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)
        deadline = time.monotonic() + 30
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))  # what `nproc` prints
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # temp files of python (py4j connection files, query scratch dirs) and of
    # every JVM (the launcher's too) stay inside the checkout
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    # a SIGTERM unwinds through the finally below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, nproc)
        session_s = time.perf_counter() - t0
        tracer = trace.Tracer(spark, enabled=bool(args.trace))
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds)
        run.setup_s = session_s
        compiles0, codegen_ms0 = trace.codegen_counters(spark)
        workloads.WORKLOADS[args.workload](run)
        compiles1, codegen_ms1 = trace.codegen_counters(spark)
        rss = trace.peak_rss_mb([os.getpid(), trace.jvm_pid(spark)])
    finally:
        _stop_processes(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = {"setup_s": run.setup_s, "throughput_per_s": statistics.median(run.throughput)}
    if args.trace:
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(run.layer)
        layer["engine.codegen_compiles"] = compiles1 - compiles0
        layer["engine.codegen_ms"] = codegen_ms1 - codegen_ms0
        layer["engine.peak_rss_mb"] = rss
        layer["trace.throughput_per_s"] = e2e["throughput_per_s"]
        layer["trace.bookkeeping_s"] = tracer.bookkeeping_s
        tracer.write(os.path.join(ROOT, ".perfbench_work", "traces", f"{args.workload}-seed{args.seed}.json"))
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    failed = min(run.failed, run.attempted)
    named = {"setup_s": (run.setup_s, "s"), **run.named, "peak_rss_mb": (rss, "MB"),
             "error_rate": (failed / max(run.attempted, 1), f"of {run.attempted} operations")}
    print(f"perfbench {args.workload} seed={args.seed} rounds_s={summarize(run.rounds)}", file=sys.stderr)
    print("  " + ", ".join(f"{k} = {v:.6g} {u}" for k, (v, u) in named.items()), file=sys.stderr)
    for p in run.problems:
        print(f"  FAILED {p}", file=sys.stderr)
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0, "attempted": max(run.attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
