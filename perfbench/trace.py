"""Spans and Spark-side counters for the traced run.

Everything here runs in the benchmark's own process, around calls into
the package; the package itself is not instrumented. A span wraps one
call into a layer (a CLI subcommand, a stream drain, a query) and, when
tracing is on, tags every Spark job the call starts with the span's job
tag. After the measured phase ``job_totals`` reads Spark's status store
(which works with the UI disabled) and sums each span's stage metrics.

With tracing off a span only takes wall time, so the untraced run pays
no tagging and no status-store reads.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

MB = 1e6


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        """Time a layer call; record name, start, end and parent span."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._open[-1] if self._open else None}
        self.spans.append(rec)
        tag = f"perfbench-span-{sid}"
        if self.enabled:
            self.sc.addJobTag(tag)
        self._open.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if self.enabled:
                self.sc.removeJobTag(tag)

    def job_totals(self, span_ids: list[int]) -> dict[int, dict]:
        """Per span: jobs, completed stages and summed stage metrics of
        the jobs carrying the span's tag (nested spans count in their
        parents too)."""
        t0 = time.perf_counter()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        jobs = store.jobsList(jvm.java.util.ArrayList())
        tag_jobs: dict[str, list] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            tags = j.jobTags()
            stage_ids = j.stageIds()
            ids = [stage_ids.apply(k) for k in range(stage_ids.size())]
            for k in range(tags.size()):
                tag_jobs.setdefault(tags.apply(k), []).append(ids)
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        by_stage: dict[int, dict] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.status().toString() != "COMPLETE":
                continue
            m = by_stage.setdefault(s.stageId(), dict.fromkeys(_STAGE_FIELDS, 0))
            m["executor_busy_s"] += s.executorRunTime() / 1000.0
            m["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            m["spill_mb"] += s.diskBytesSpilled() / MB
            m["input_records"] += s.inputRecords()
            m["output_mb"] += s.outputBytes() / MB
        out = {}
        for sid in span_ids:
            job_stages = tag_jobs.get(f"perfbench-span-{sid}", [])
            ids = {x for ids in job_stages for x in ids if x in by_stage}
            tot = {"jobs": len(job_stages), "stages": len(ids)}
            for f in _STAGE_FIELDS:
                tot[f] = sum(by_stage[x][f] for x in ids)
            out[sid] = tot
        self.bookkeeping_s += time.perf_counter() - t0
        return out

    def write(self, path: str) -> None:
        """Write every span once, at the end of the run."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


_STAGE_FIELDS = ("executor_busy_s", "shuffle_write_mb", "spill_mb", "input_records", "output_mb")


def codegen_counters(spark) -> tuple[int, float]:
    """(generated classes compiled, estimated compile ms) since JVM start,
    from Spark's ``CodegenMetrics``. The ms figure is count x the
    histogram's reservoir mean, an estimate once compiles exceed the
    reservoir size."""
    h = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = h.getCount()
    return n, n * h.getSnapshot().getMean()


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each process, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
