"""Correctness oracles, recomputed in DuckDB.

``fact_order_daily`` rebuilds the daily gold fact from the generator's
canonical records (``gen.canonical``), never from the pipeline's silver
tables: orders last-writer-wins by (time, event_id), payments and refunds
keep-first by (time, event_id), then the per-order pre-aggregation and
(order_date, vendor) rollup that ``plans.gold.build_fact_order_daily``
documents. ``compare_daily`` checks a table the pipeline wrote against it.
"""

from __future__ import annotations

import duckdb
import pandas as pd

DAILY_KEY = ("order_date", "vendor")
DAILY_COLS = (
    "gross_revenue", "total_refunds", "net_revenue", "order_count",
    "paid_count", "payment_success_rate", "refund_rate",
)
# Absolute tolerance per column. Money columns are sums of doubles rounded
# to cents: two engines adding in different orders can land a sum on
# either side of a half-cent, so one cent of slack. Rates are rounded to
# 4 places. Counts are exact.
_TOL = {"gross_revenue": 0.0101, "total_refunds": 0.0101, "net_revenue": 0.0201,
        "payment_success_rate": 1.01e-4, "refund_rate": 1.01e-4}

_FACT_SQL = """
WITH o AS (
  SELECT order_id, vendor, CAST(ts AS DATE) AS order_date FROM (
    SELECT *, row_number() OVER (PARTITION BY order_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM canon WHERE event_type IN ('order_created', 'order_updated')) WHERE rn = 1),
p AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY payment_id ORDER BY ts, event_id) AS rn
    FROM canon WHERE event_type = 'payment_succeeded') WHERE rn = 1),
r AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY refund_id ORDER BY ts, event_id) AS rn
    FROM canon WHERE event_type = 'refund_issued') WHERE rn = 1),
pp AS (SELECT order_id, sum(amount) AS pay_all,
              sum(CASE WHEN status = 'success' THEN 1 ELSE 0 END) AS n_success
       FROM p GROUP BY order_id),
rr AS (SELECT order_id, sum(amount) AS refund_amount FROM r GROUP BY order_id),
d AS (
  SELECT o.order_date, o.vendor,
         round(coalesce(sum(pp.pay_all), 0), 2) AS gross_revenue,
         round(coalesce(sum(rr.refund_amount), 0), 2) AS total_refunds,
         count(*) AS order_count,
         sum(CASE WHEN pp.n_success > 0 THEN 1 ELSE 0 END) AS paid_count
  FROM o LEFT JOIN pp USING (order_id) LEFT JOIN rr USING (order_id)
  GROUP BY o.order_date, o.vendor)
SELECT order_date, vendor, gross_revenue, total_refunds,
       round(gross_revenue - total_refunds, 2) AS net_revenue, order_count, paid_count,
       CASE WHEN order_count > 0 THEN round(paid_count / order_count, 4) END AS payment_success_rate,
       CASE WHEN gross_revenue > 0 THEN round(total_refunds / gross_revenue, 4) END AS refund_rate
FROM d
"""

_COUNTS_SQL = """
SELECT
  (SELECT count(DISTINCT order_id) FROM canon WHERE event_type IN ('order_created', 'order_updated')) AS orders,
  (SELECT count(DISTINCT payment_id) FROM canon WHERE event_type = 'payment_succeeded') AS payments,
  (SELECT count(DISTINCT refund_id) FROM canon WHERE event_type = 'refund_issued') AS refunds,
  (SELECT count(DISTINCT tracking_id) FROM canon WHERE event_type = 'shipment_updated') AS shipments,
  (SELECT count(DISTINCT event_id) FROM canon) AS events
"""


class PipelineOracle:
    """Expected gold rows and fact-table row counts for one input."""

    def __init__(self, canonical_records: list[dict]) -> None:
        con = duckdb.connect()
        con.register("canon", pd.DataFrame.from_records(canonical_records))
        self.daily = _rows(con.sql(_FACT_SQL).df())
        self.counts = con.sql(_COUNTS_SQL).df().iloc[0].to_dict()
        con.close()


def _rows(df: pd.DataFrame) -> dict[tuple, dict]:
    out = {}
    for rec in df.to_dict("records"):
        key = (str(rec["order_date"])[:10], rec["vendor"])
        out[key] = {c: (None if pd.isna(rec[c]) else float(rec[c])) for c in DAILY_COLS}
    return out


def read_parquet_rows(path: str) -> pd.DataFrame:
    """A parquet directory Spark wrote, read by DuckDB."""
    con = duckdb.connect()
    try:
        return con.sql(f"SELECT * FROM read_parquet('{path}/**/*.parquet')").df()
    finally:
        con.close()


def parquet_count(path: str) -> int:
    con = duckdb.connect()
    try:
        return con.sql(f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')").fetchone()[0]
    finally:
        con.close()


def compare_daily(actual: pd.DataFrame, expected: dict[tuple, dict]) -> list[str]:
    """Mismatches between a written daily fact and the oracle's rows
    (empty when they agree)."""
    got = _rows(actual)
    problems = []
    if len(actual) != len(got):
        problems.append(f"duplicate (order_date, vendor) keys: {len(actual)} rows, {len(got)} keys")
    for key in sorted(set(got) | set(expected)):
        if key not in got or key not in expected:
            problems.append(f"{key}: {'missing' if key not in got else 'unexpected'} row")
            continue
        for c in DAILY_COLS:
            a, e = got[key][c], expected[key][c]
            if (a is None) != (e is None) or (a is not None and abs(a - e) > _TOL.get(c, 0.0)):
                problems.append(f"{key} {c}: got {a}, want {e}")
    return problems
