"""The benchmark workloads.

Each is a closed loop with one client in one process: the next round
starts only when the previous one finished. A workload prepares its
inputs from the seed (set-up), runs rounds until ``seconds`` have passed
(at least one), checks every output against an oracle, and records one
wall time and one throughput per round. Rounds:

- ``pipeline``: the paper's pipeline in both its forms over the same
  landing days. The batch form through the CLI: ``load-live`` per day,
  then ``transform``, ``report``, ``dims``. Then the streaming form: one
  drain of the landing backlog through
  ``streaming.gold_upsert.maintain_gold_daily_stream``, one file per
  micro-batch, ``availableNow``.
- ``query_mix``: one sweep of the analyst query mix in a seeded order,
  each result collected to the client. An untimed sweep first takes the
  JIT and code-generation warm-up (set-up); a run then makes at least
  QUERY_SWEEPS timed sweeps.

An operation (what ``attempted``/``failed`` count) is one CLI call, one
micro-batch or one query.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import sys
import time
import traceback

from perfbench import gen, oracle
from perfbench.trace import MB

# The reference generator's 2000 events per day. A round costs a fixed
# part (Spark jobs, cold JIT) plus a part that grows with rows: about
# 1.4 s per 1000 events for the batch form, too little to see for the
# stream up to 8000 events a file. Two days, so that the second day
# touches orders of the first and the stream's second micro-batch reads
# the state the first wrote (perfbench/README.md, "Input size").
DAYS, EVENTS_PER_DAY = 2, 2000
# Copies of the fixed sf0.01 testdata tables, committed beside the code.
QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
QUERY_TABLES = ("events", "documents", "embeddings")
# One query per operator layer the pipeline does not reach (and
# minhash_pairs for the near-duplicate half of operators.dedup, whose
# exact-dedup half the pipeline's silver plans use). ann_ivfpq_topk
# is left out: it caches its index under a fixed /tmp path, outside the
# benchmark's checkout.
QUERY_MIX = (
    "sessionize",  # operators.windows
    "minhash_pairs",  # operators.dedup (MinHash LSH)
    "dup_cluster_size_hist",  # operators.graph
    "ann_lsh_topk",  # operators.similarity
)
# A cold sweep's time depends on which query pays the JIT warm-up, which
# the seeded order decides, so the cold sweep is set-up and the timed
# sweeps are warm; their median is reported.
QUERY_SWEEPS = 3


class Run:
    """State of one benchmark run: session, tracer, scratch dir, the
    operation tally and the samples a workload reports."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float) -> None:
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds = seed, seconds
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.rounds: list[float] = []  # wall time per round, s
        self.throughput: list[float] = []  # events (queries for query_mix) per second, per round
        self.layer: dict[str, float] = {}
        self.setup_s = 0.0
        # the round's figures under the names a user of the workload knows them by
        self.named: dict[str, tuple[float, str]] = {}

    def op(self, name: str, fn) -> None:
        """Run one operation inside a span; an exception counts as failed."""
        self.attempted += 1
        with self.tracer.span(name) as span:
            try:
                fn()
            except Exception:  # noqa: BLE001 — a failed operation is a result, not a crash
                self.fail(f"{name}: {traceback.format_exc(limit=3)}")
                span["failed"] = True

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _landing(run: Run, n_days: int, per_day: int) -> tuple[list[str], list[dict], int, int]:
    """Generate and write the seeded backlog (part of set-up). Returns
    dates, canonical records, lines, bytes."""
    t0 = time.perf_counter()
    days = gen.landing_days(run.seed, n_days, per_day)
    paths = gen.write_landing(run.path("landing"), days)
    canon = [gen.canonical(e) for _, events in days for e in events]
    run.setup_s += time.perf_counter() - t0
    lines = sum(len(events) for _, events in days)
    size = sum(os.path.getsize(p) for p in paths)
    return [d for d, _ in days], canon, lines, size


def _cli(*argv: str) -> None:
    from commercepulse_data_pipeline_spark import cli

    # the CLI prints its results; keep stdout for the benchmark's result line
    with contextlib.redirect_stdout(sys.stderr):
        rc = cli.main(list(argv))
    if rc != 0:
        raise RuntimeError(f"cli {argv[0]} exited {rc}")


def _until(run: Run, start: float) -> bool:
    return time.perf_counter() - start < run.seconds


def _dir_stats(path: str) -> tuple[float, int]:
    """(MB, data files) under a directory."""
    size, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size / MB, files


# ----------------------------------------------------------------- pipeline

def pipeline(run: Run) -> None:
    dates, canon, lines, landing_bytes = _landing(run, DAYS, EVENTS_PER_DAY)
    expected = oracle.PipelineOracle(canon)
    landing = run.path("landing")
    passes, drains = [], []
    start = time.perf_counter()
    while not passes or _until(run, start):
        i = len(passes)
        t0 = time.perf_counter()
        passes.append(_etl_pass(run, landing, dates, i))
        drains.append(_drain(run, landing, len(dates), i))
        wall = time.perf_counter() - t0
        run.rounds.append(wall)
        run.throughput.append(lines / wall)

    med = statistics.median
    run.named["etl_events_per_s"] = (med(lines / p["wall"] for p in passes), "events/s")
    run.named["gold_events_per_s"] = (med(lines / d["wall"] for d in drains), "events/s")
    durations = [b["durationMs"]["triggerExecution"] / 1000.0 for d in drains for b in d["batches"]]
    if durations:
        run.named["gold_batch_p50_s"] = (med(durations), "s")
    for p in passes:
        _check_etl(run, p, expected)
    for d in drains:
        _check(run, "stream gold",
               lambda d=d: oracle.compare_daily(oracle.read_parquet_rows(f"{d['store']}/gold"), expected.daily))
    if run.tracer.enabled:
        _etl_layers(run, passes, expected)
        if all(d["batches"] for d in drains):
            _stream_layers(run, drains, lines, landing_bytes)


def _etl_pass(run: Run, landing: str, dates: list[str], i: int) -> dict:
    """The batch form: ``cli load-live`` per landing day, then
    ``transform``, ``report`` and ``dims``."""
    bronze, wh = run.path(f"bronze{i}"), run.path(f"warehouse{i}")
    spans = {}
    t0 = time.perf_counter()
    with run.tracer.span("etl.pass"):
        spans["load_live"] = []
        for d in dates:
            run.op("cli.load-live", lambda d=d: _cli("load-live", d, "--landing", landing, "--bronze", bronze))
            spans["load_live"].append(run.tracer.spans[-1])
        for cmd, argv in (("transform", ("--bronze", bronze, "--warehouse", wh)),
                          ("report", ("--bronze", bronze, "--out", os.path.join(wh, "report"))),
                          ("dims", ("--bronze", bronze, "--warehouse", wh))):
            run.op(f"cli.{cmd}", lambda cmd=cmd, argv=argv: _cli(cmd, *argv))
            spans[cmd] = run.tracer.spans[-1]
    return {"bronze": bronze, "wh": wh, "spans": spans, "wall": time.perf_counter() - t0}


def _drain(run: Run, landing: str, n_files: int, i: int) -> dict:
    """The streaming form: drain the landing backlog through
    ``streaming.gold_upsert.maintain_gold_daily_stream``, one file per
    micro-batch, ``availableNow``."""
    from commercepulse_data_pipeline_spark.streaming.gold_upsert import maintain_gold_daily_stream
    from commercepulse_data_pipeline_spark.streaming.ingest import read_event_stream

    store, ck = run.path(f"store{i}"), run.path(f"checkpoint{i}")
    pattern = os.path.join(landing, "*", "events.jsonl")
    t0 = time.perf_counter()
    with run.tracer.span("streaming.gold_upsert.drain") as span:
        q = maintain_gold_daily_stream(read_event_stream(run.spark, pattern, max_files_per_trigger=1), store, ck)
        try:
            q.awaitTermination()
        except Exception:  # noqa: BLE001 — a failed micro-batch is a result, not a crash
            run.fail(f"stream: {traceback.format_exc(limit=2)}")
    wall = time.perf_counter() - t0
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    # every landing file is one operation, whether its batch ran or not
    run.attempted += n_files
    if len(batches) != n_files:
        run.fail(f"stream: {len(batches)} micro-batches for {n_files} files")
    return {"store": store, "span": span, "batches": batches, "wall": wall}


def _check(run: Run, name: str, check) -> None:
    """Run one output check; a problem it returns, or an output it cannot
    read (a failed call may have written nothing), counts as failed."""
    try:
        problems = check()
    except Exception:  # noqa: BLE001 — a missing or unreadable output is a wrong output
        problems = [traceback.format_exc(limit=2)]
    if problems:
        run.fail(f"{name}: " + "; ".join(problems[:5]))


def _check_etl(run: Run, p: dict, expected: oracle.PipelineOracle) -> None:
    wh = p["wh"]

    def bronze():
        n = oracle.parquet_count(p["bronze"])
        return [f"{n} bronze rows, want {expected.counts['events']} distinct events"] if n != expected.counts["events"] else []

    def facts():
        problems = oracle.compare_daily(oracle.read_parquet_rows(f"{wh}/fact_order_daily.parquet"), expected.daily)
        for table in ("orders", "payments", "refunds", "shipments"):
            n = oracle.parquet_count(f"{wh}/fact_{table}.parquet")
            if n != expected.counts[table]:
                problems.append(f"fact_{table}: {n} rows, want {expected.counts[table]}")
        return problems

    def report():
        path = os.path.join(wh, "report", "quality_report.txt")
        return [] if os.path.exists(path) and os.path.getsize(path) > 0 else ["no quality_report.txt"]

    def dims():
        return [f"{d} is empty" for d in ("dim_date", "dim_customer", "dim_product")
                if oracle.parquet_count(f"{wh}/{d}.parquet") == 0]

    for name, check in (("load-live", bronze), ("transform", facts), ("report", report), ("dims", dims)):
        _check(run, name, check)


def _etl_layers(run: Run, passes: list[dict], expected: oracle.PipelineOracle) -> None:
    from commercepulse_data_pipeline_spark.plans import gold, silver
    from commercepulse_data_pipeline_spark.sources.readers import read_bronze

    L = run.layer
    med = statistics.median
    L["etl.sources.readers.load_live_s"] = med(sum(s["end"] - s["start"] for s in p["spans"]["load_live"]) for p in passes)
    for cmd, name in (("transform", "etl.cli.transform_s"), ("report", "etl.plans.quality.report_s"),
                      ("dims", "etl.plans.dimensions.dims_s")):
        L[name] = med(p["spans"][cmd]["end"] - p["spans"][cmd]["start"] for p in passes)
    last = passes[-1]
    totals = run.tracer.job_totals([last["spans"]["transform"]["id"], last["spans"]["report"]["id"]])
    bronze_rows = expected.counts["events"]
    for cmd in ("transform", "report"):
        t = totals[last["spans"][cmd]["id"]]
        for k in ("jobs", "stages", "executor_busy_s", "shuffle_write_mb", "spill_mb"):
            L[f"etl.{cmd}.{k}"] = t[k]
        L[f"etl.{cmd}.read_amplification"] = t["input_records"] / bronze_rows
    size, files = 0.0, 0
    for table in ("orders", "payments", "refunds", "shipments", "order_daily"):
        mb, n = _dir_stats(f"{last['wh']}/fact_{table}.parquet")
        size, files = size + mb, files + n
    L["etl.transform.output_mb"], L["etl.transform.output_files"] = size, files

    # silver self time and gold time, each materialised to the noop sink
    # on the same bronze; gold reads silver that is already materialised
    spark = run.spark
    events = read_bronze(spark, last["bronze"])
    normalizers = (silver.normalize_orders, silver.normalize_payments,
                   silver.normalize_refunds, silver.normalize_shipments)
    t0 = time.perf_counter()
    for fn in normalizers:
        fn(events).write.format("noop").mode("overwrite").save()
    L["etl.plans.silver.normalize_s"] = time.perf_counter() - t0
    o, p, r = (fn(events).localCheckpoint() for fn in normalizers[:3])
    t0 = time.perf_counter()
    gold.build_fact_order_daily(o, p, r).write.format("noop").mode("overwrite").save()
    L["etl.plans.gold.fact_daily_s"] = time.perf_counter() - t0


def _stream_layers(run: Run, drains: list[dict], lines: int, landing_bytes: int) -> None:
    L = run.layer
    med = statistics.median
    batches = [b for d in drains for b in d["batches"]]

    def ms(*keys):
        return med(sum(b["durationMs"].get(k, 0) for k in keys) / 1000.0 for b in batches)

    L["gold.batch_p50_s"] = ms("triggerExecution")
    L["gold.streaming.ingest.source_s"] = ms("getBatch", "latestOffset")
    L["gold.streaming.gold_upsert.add_batch_s"] = ms("addBatch")
    L["gold.commit_s"] = ms("walCommit", "commitOffsets")
    L["gold.query_planning_s"] = ms("queryPlanning")
    last = drains[-1]
    L["gold.source_reads_per_event"] = sum(b["numInputRows"] for b in last["batches"]) / lines
    t = run.tracer.job_totals([last["span"]["id"]])[last["span"]["id"]]
    n = len(last["batches"])
    L["gold.jobs_per_batch"] = t["jobs"] / n
    L["gold.shuffle_write_mb_per_batch"] = t["shuffle_write_mb"] / n
    L["gold.write_amplification"] = t["output_mb"] * MB / landing_bytes
    L["gold.state_mb"] = _dir_stats(last["store"])[0]


# ---------------------------------------------------------------- query_mix

def _split_copies(run: Run) -> str:
    """Rewrite every testdata table as a directory of part files: rows in
    a seeded order, split into a seeded number of parts."""
    import pyarrow.parquet as pq

    rng = random.Random(run.seed)
    out = run.path("sf")
    for t in QUERY_TABLES:
        table = pq.read_table(os.path.join(QUERY_DATA, f"{t}.parquet"))
        order = list(range(table.num_rows))
        rng.shuffle(order)
        table = table.take(order)
        n = max(1, min(table.num_rows, rng.choice((4, 6, 8))))
        step = -(-table.num_rows // n)
        tdir = os.path.join(out, f"{t}.parquet")
        os.makedirs(tdir, exist_ok=True)
        for i in range(n):
            chunk = table.slice(i * step, step)
            if chunk.num_rows:
                pq.write_table(chunk, os.path.join(tdir, f"part-{i:05d}.parquet"))
    return out


def query_mix(run: Run) -> None:
    import __spark_entry__ as entry

    t0 = time.perf_counter()
    data = _split_copies(run)
    run.setup_s += time.perf_counter() - t0
    qs = entry.queries()
    names = list(QUERY_MIX)
    rng = random.Random(run.seed)

    per_query: dict[str, list[dict]] = {n: [] for n in names}
    results: dict = {}  # the last result of each query, checked after the sweeps

    def collect(name: str) -> None:
        results[name] = qs[name](run.spark, data).toPandas()

    def sweep() -> list[dict]:
        rng.shuffle(names)
        for name in names:
            run.op(f"q.{name}", lambda name=name: collect(name))
        return run.tracer.spans[-len(names):]

    t0 = time.perf_counter()
    sweep()
    run.setup_s += time.perf_counter() - t0
    start = time.perf_counter()
    while len(run.rounds) < QUERY_SWEEPS or _until(run, start):
        t0 = time.perf_counter()
        spans = sweep()
        wall = time.perf_counter() - t0
        for name, span in zip(names, spans):
            per_query[name].append(span)
        run.rounds.append(wall)
        run.throughput.append(len(names) / wall)

    run.named["query_sweep_s"] = (statistics.median(run.rounds), "s")
    _check_queries(run, results, entry.oracle_sql())
    if run.tracer.enabled:
        L = run.layer
        last = {n: spans[-1]["id"] for n, spans in per_query.items()}
        totals = run.tracer.job_totals(list(last.values()))
        for n, spans in per_query.items():
            L[f"q.{n}_s"] = statistics.median(s["end"] - s["start"] for s in spans)
            L[f"q.{n}.jobs"] = totals[last[n]]["jobs"]
            L[f"q.{n}.shuffle_write_mb"] = totals[last[n]]["shuffle_write_mb"]


def _check_queries(run: Run, results: dict, oracles: dict) -> None:
    """Each query's collected result against its ``oracle_sql()`` twin,
    untimed, with the normalisation ``tools/parity.py`` uses. Spark read
    the seeded split copies; DuckDB reads the committed single-file
    tables. A query whose timed run failed is already counted."""
    import duckdb

    from tools.parity import _normalize

    con = duckdb.connect()
    for t in QUERY_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{QUERY_DATA}/{t}.parquet'")
    for name, df in results.items():
        try:
            got = _normalize(df)
            want = _normalize(con.sql(oracles[name]).df())
        except Exception:  # noqa: BLE001
            run.fail(f"q.{name} check: {traceback.format_exc(limit=3)}")
            continue
        if got != want:
            run.fail(f"q.{name}: output differs from its oracle ({len(got[0])} vs {len(want[0])} rows)")
    con.close()


WORKLOADS = {"pipeline": pipeline, "query_mix": query_mix}
