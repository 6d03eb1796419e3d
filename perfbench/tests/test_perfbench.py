"""Self-tests of the benchmark: determinism of its inputs and outputs,
the oracle's power to reject a wrong row, and the statistics helper.

    python3 -m pytest perfbench/tests -q

The output-digest test starts a local Spark session (about a minute).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, run, stats, workloads  # noqa: E402


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, names in sorted(os.walk(root)):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _canon(seed: int, days: int = 2, per_day: int = 400) -> list[dict]:
    return [gen.canonical(e) for _, evs in gen.landing_days(seed, days, per_day) for e in evs]


# ------------------------------------------------------------ determinism

def test_same_seed_gives_byte_identical_landing_files(tmp_path):
    a = gen.write_landing(str(tmp_path / "a"), gen.landing_days(5, 3, 300))
    b = gen.write_landing(str(tmp_path / "b"), gen.landing_days(5, 3, 300))
    c = gen.write_landing(str(tmp_path / "c"), gen.landing_days(6, 3, 300))
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert [os.path.relpath(p, tmp_path / "a") for p in a] == [os.path.relpath(p, tmp_path / "b") for p in b]
    assert len(c) == 3


def test_set_backed_pool_matches_plain_list_pool():
    fast = gen.landing_days(9, 2, 500)
    slow = gen.landing_days(9, 2, 500, pool=[])
    assert json.dumps(fast) == json.dumps(slow)


def test_days_share_one_order_pool():
    days = gen.landing_days(3, 2, 500)
    ids = [{gen.canonical(e)["order_id"] for e in evs} for _, evs in days]
    assert ids[0] & ids[1], "later days should touch orders from earlier days"


def test_generator_noise_rates():
    (_, events), = gen.landing_days(4, 1, 2000)
    assert len(events) == 2000 + int(2000 * gen.DUP_RATE)
    assert len({e["event_id"] for e in events}) == 2000


def test_same_seed_gives_identical_oracle():
    a, b = oracle.PipelineOracle(_canon(7)), oracle.PipelineOracle(_canon(7))
    assert a.daily == b.daily and a.counts == b.counts
    assert a.daily != oracle.PipelineOracle(_canon(8)).daily


def test_same_seed_gives_byte_identical_split_copies(tmp_path):
    def split(dirname: str, seed: int) -> str:
        r = workloads.Run(None, None, str(tmp_path / dirname), seed, 0)
        return _tree_digest(workloads._split_copies(r))

    assert split("a", 3) == split("b", 3)
    assert split("a", 3) != split("c", 4)


@pytest.mark.skipif(not os.path.exists(os.path.join(ROOT, "commercepulse_data_pipeline_spark")),
                    reason="needs the package checkout")
def test_same_seed_gives_identical_pipeline_output_digest(tmp_path):
    from perfbench import trace

    spark = run._session(str(tmp_path / "work"), 2)
    try:
        digests = []
        for i in range(2):
            r = workloads.Run(spark, trace.Tracer(spark, enabled=False), str(tmp_path / f"w{i}"), 21, 0)
            dates, canon, _, _ = workloads._landing(r, 1, 300)
            bronze, wh = r.path("bronze"), r.path("wh")
            workloads._cli("load-live", dates[0], "--landing", r.path("landing"), "--bronze", bronze)
            workloads._cli("transform", "--bronze", bronze, "--warehouse", wh)
            got = oracle.read_parquet_rows(f"{wh}/fact_order_daily.parquet")
            assert oracle.compare_daily(got, oracle.PipelineOracle(canon).daily) == []
            rows = sorted(json.dumps(rec, sort_keys=True, default=str) for rec in got.to_dict("records"))
            digests.append(hashlib.sha256("\n".join(rows).encode()).hexdigest())
        assert digests[0] == digests[1]
    finally:
        spark.stop()


# ------------------------------------------------------------ program faults

def test_missing_etl_outputs_count_as_failures(tmp_path):
    r = workloads.Run(None, None, str(tmp_path), 1, 0)
    missing = str(tmp_path / "missing")
    workloads._check_etl(r, {"bronze": missing, "wh": missing}, oracle.PipelineOracle(_canon(11)))
    assert r.failed == 4  # load-live, transform, report, dims


@pytest.mark.skipif(not os.path.exists(os.path.join(ROOT, "commercepulse_data_pipeline_spark")),
                    reason="needs the package checkout")
def test_failed_stream_is_counted_and_the_result_line_still_printed(tmp_path, monkeypatch, capsys):
    write = gen.write_landing

    def write_with_unreadable_line(root, days):
        paths = write(root, days)
        bad = dict(days[0][1][0], event_id="bad-event", event_time="not a time")
        with open(paths[0], "a") as f:
            f.write(json.dumps(bad) + "\n")
        return paths

    monkeypatch.setattr(gen, "write_landing", write_with_unreadable_line)
    monkeypatch.setattr(workloads, "EVENTS_PER_DAY", 200)
    for var in ("TMPDIR", "JAVA_TOOL_OPTIONS"):  # run.main sets both
        monkeypatch.setenv(var, os.environ.get(var, ""))
    assert run.main(["--workload", "pipeline", "--seed", "1", "--seconds", "0", "--trace", "0"]) == 0
    out, err = capsys.readouterr()
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"] is False
    assert "FAILED stream: Traceback" in err  # the query's exception, caught
    # load-live per day, transform, report, dims; one micro-batch per day
    assert 1 <= result["failed"] <= result["attempted"] == 2 * workloads.DAYS + 3
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert run._descendants(os.getpid()) == []  # the JVM and its workers have exited


# ------------------------------------------------------------------ oracle

def _as_frame(expected: dict) -> "oracle.pd.DataFrame":
    recs = [{"order_date": k[0], "vendor": k[1], **v} for k, v in expected.items()]
    return oracle.pd.DataFrame.from_records(recs)


def test_oracle_accepts_its_own_rows():
    exp = oracle.PipelineOracle(_canon(11)).daily
    assert exp and oracle.compare_daily(_as_frame(exp), exp) == []


@pytest.mark.parametrize("column,delta", [("gross_revenue", 1.0), ("order_count", 1), ("refund_rate", 0.001)])
def test_oracle_rejects_one_wrong_value(column, delta):
    exp = oracle.PipelineOracle(_canon(11)).daily
    df = _as_frame(exp)
    row = df.index[df[column].notna()][0]
    df.loc[row, column] += delta
    problems = oracle.compare_daily(df, exp)
    assert len(problems) == 1 and column in problems[0]


def test_oracle_rejects_missing_extra_and_duplicate_rows():
    exp = oracle.PipelineOracle(_canon(11)).daily
    df = _as_frame(exp)
    assert oracle.compare_daily(df.iloc[1:], exp)
    extra = df.iloc[:1].assign(vendor="vendor_z")
    assert oracle.compare_daily(oracle.pd.concat([df, extra]), exp)
    assert oracle.compare_daily(oracle.pd.concat([df, df.iloc[:1]]), exp)


def test_oracle_tolerates_float_summation_order():
    exp = oracle.PipelineOracle(_canon(11)).daily
    df = _as_frame(exp)
    df["gross_revenue"] += 0.01  # a half-cent rounding flip
    df["net_revenue"] += 0.01
    assert oracle.compare_daily(df, exp) == []


def test_oracle_counts_match_canonical_records():
    canon = _canon(12)
    c = oracle.PipelineOracle(canon).counts
    assert c["events"] == len({r["event_id"] for r in canon})
    assert c["orders"] == len({r["order_id"] for r in canon if r["event_type"].startswith("order")})


# ------------------------------------------------------------------- stats

def test_percentile_interpolates():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile([1.0, 2.0], 25) == pytest.approx(1.25)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_summarize_reports_count_and_median():
    assert stats.summarize([3.0, 1.0, 2.0]) == {"n": 3, "median": 2.0}
    assert stats.summarize([4.0, 1.0, 3.0, 2.0]) == {"n": 4, "median": 2.5}
    assert stats.summarize([7.0]) == {"n": 1, "median": 7.0}


# ------------------------------------------------------------- definition

def test_benchmark_json_matches_the_metrics_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
