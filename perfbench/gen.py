"""Seeded landing-day generator for the benchmark.

Events come from ``tools/generate_events.make_event`` so the vendor
dialects live in one place; this module only drives it over several days
with ONE shared order pool (later days touch earlier orders) and adds the
duplicate replay the tool's ``main`` applies per day.

``make_event`` tests ``order_id not in order_pool`` on every call. On a
plain list that scan makes generation quadratic in the pool size;
``OrderPool`` keeps a shadow set so the test is O(1) while ``rng.choice``
still indexes the same list, so the events are byte-identical.

Next to the envelopes it returns the canonical (un-drifted) record of
every event, decoded with the generator's own dialect table rather than
the pipeline's key-priority lists, for the oracle in ``oracle.py``.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta, timezone

from tools.generate_events import _iso, make_event

FIRST_DAY = datetime(2026, 2, 1, tzinfo=timezone.utc)
# reference generator defaults (tools/generate_events.py --help)
DUP_RATE, LATE_RATE, DRIFT_RATE = 0.05, 0.10, 0.15
_TS = "%Y-%m-%dT%H:%M:%SZ"


class OrderPool(list):
    """A list of order ids whose membership test is a set lookup."""

    def __init__(self) -> None:
        super().__init__()
        self._members: set[str] = set()

    def __contains__(self, order_id: object) -> bool:
        return order_id in self._members

    def append(self, order_id: str) -> None:
        self._members.add(order_id)
        super().append(order_id)


def landing_days(seed: int, n_days: int, events_per_day: int, pool: list | None = None) -> list[tuple[str, list[dict]]]:
    """``n_days`` landing days of ``events_per_day`` events plus
    ``DUP_RATE`` exact re-ingested duplicates each, shuffled per day.
    Returns ``[(YYYY-MM-DD, [envelope, ...]), ...]``."""
    rng = random.Random(seed)
    pool = OrderPool() if pool is None else pool
    days = []
    for i in range(n_days):
        day = FIRST_DAY + timedelta(days=i)
        events = [make_event(rng, day, pool, DRIFT_RATE, LATE_RATE) for _ in range(events_per_day)]
        for e in rng.sample(events, int(len(events) * DUP_RATE)):
            dup = dict(e)
            dup["ingested_at"] = _iso(datetime.strptime(e["ingested_at"], _TS) + timedelta(minutes=5))
            events.append(dup)
        rng.shuffle(events)
        days.append((day.strftime("%Y-%m-%d"), events))
    return days


def write_landing(root: str, days: list[tuple[str, list[dict]]]) -> list[str]:
    """Write ``root/<date>/events.jsonl`` per day (the layout
    ``cli load-live`` and ``streaming.ingest.read_event_stream`` read)."""
    paths = []
    for date, events in days:
        d = os.path.join(root, date)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "events.jsonl")
        with open(path, "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")
        paths.append(path)
    return paths


def _utc(s: str) -> datetime:
    return datetime.strptime(s, _TS).replace(tzinfo=timezone.utc)


def canonical(e: dict) -> dict:
    """The un-drifted facts of one envelope, decoded per the generator's
    dialects: vendor_a ``orderRef/total|total_amount/created`` (slash
    date), vendor_b ``order_id/totalAmount|amount/created_at``, vendor_c
    nested ``order.id`` + epoch ``ts``; payments ``transaction_id|
    payment_id|paymentId`` and ``amountPaid|amount``; refunds
    ``refundAmount|amount``."""
    p = json.loads(e["payload"])
    etype, vendor = e["event_type"], e["vendor"]
    rec = {"event_id": e["event_id"], "event_type": etype, "vendor": vendor}
    if etype.startswith("order"):
        if vendor == "vendor_a":
            ts = datetime.strptime(p["created"], "%Y/%m/%d %H:%M:%S").replace(tzinfo=timezone.utc)
            rec.update(order_id=p["orderRef"], amount=p.get("total", p.get("total_amount")), status=p["status"])
        elif vendor == "vendor_b":
            ts = _utc(p["created_at"])
            rec.update(order_id=p["order_id"], amount=p.get("totalAmount", p.get("amount")), status=p["state"])
        else:
            ts = datetime.fromtimestamp(p["ts"], tz=timezone.utc)
            rec.update(order_id=p["order"]["id"], amount=p["amount"], status=p["state"])
    elif etype == "payment_succeeded":
        pid = next(p[k] for k in ("transaction_id", "payment_id", "paymentId") if k in p)
        ts = _utc(p["paid_at"])
        raw = p["payment_status"].lower()
        status = "success" if raw in ("success", "successful", "completed") else "failed"
        rec.update(payment_id=pid, order_id=p["order_id"], amount=p.get("amountPaid", p.get("amount")), status=status)
    elif etype == "refund_issued":
        ts = _utc(p["refunded_at"])
        rec.update(refund_id=p["refund_id"], order_id=p["order_id"], amount=p.get("refundAmount", p.get("amount")))
    else:
        ts = _utc(e["event_time"])
        rec.update(tracking_id=p["tracking_id"], order_id=p["order_id"], status=p["status"])
    rec["ts"] = ts.replace(tzinfo=None)
    return rec
