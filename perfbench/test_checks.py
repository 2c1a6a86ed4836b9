"""Tests of the benchmark's own input generators and output checks.

    python3 -m pytest perfbench/test_checks.py -q

The fast tests need no Spark.  ``test_corrupted_run_fails`` runs the
benchmark end to end with one output deliberately changed and expects
a non-zero exit; it takes about two minutes per workload.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import orders_gen  # noqa: E402
from checks import check_verification, compare_frames, compare_table, fingerprint  # noqa: E402


def _order(oid, upd, total="10.00", customer=None, items=None):
    return {
        "id": oid,
        "created_at": "2025-03-01T00:00:00+00:00",
        "updated_at": upd,
        "processed_at": "2025-03-01T00:00:00+00:00",
        "total_price": total,
        "customer": customer,
        "shipping_address": None,
        "line_items": items or [],
    }


def test_generator_is_seeded_and_follows_the_watermark():
    a, b = orders_gen.OrderStream(5, 200), orders_gen.OrderStream(5, 200)
    assert [a.next_batch() for _ in range(3)] == [b.next_batch() for _ in range(3)]
    for h, rows in enumerate(a.batches):
        lo = orders_gen.START + h * orders_gen.HOUR
        assert all(lo < dt.datetime.fromisoformat(r["updated_at"]) < lo + orders_gen.HOUR for r in rows)
    ids = [r["id"] for r in a.batches[1]]
    assert len(ids) > len(set(ids))  # intra-batch duplicates
    assert set(ids) & {r["id"] for r in a.batches[0]}  # re-deliveries of the previous hour


def test_expected_state_keeps_first_in_batch_and_latest_batch():
    b0 = [
        _order(1, "2025-03-01T00:10:00+00:00", "1.00"),
        _order(1, "2025-03-01T00:20:00+00:00", "2.00"),  # later duplicate: dropped
    ]
    b1 = [_order(1, "2025-03-01T01:05:00+00:00", "3.00",
                 items=[{"product_id": None, "variant_id": 7, "price": "1.5", "quantity": None}])]
    state = orders_gen.expected_state([b0])
    assert state["orders"][("1",)]["total_price"] == 1.0
    state = orders_gen.expected_state([b0, b1])
    assert state["orders"][("1",)]["total_price"] == 3.0
    item = state["line_items"][("1", "None", "7")]
    assert item["quantity"] == 0 and item["vendor"] == ""


def test_compare_table_catches_changed_missing_and_extra_rows():
    expected = orders_gen.expected_state([[_order(1, "2025-03-01T00:10:00+00:00"),
                                           _order(2, "2025-03-01T00:11:00+00:00")]])["orders"]
    rows = [dict(r) for r in expected.values()]
    assert compare_table("orders", rows, expected) == []
    changed = [dict(rows[0], total_price=99.0), rows[1]]
    assert compare_table("orders", changed, expected)
    assert compare_table("orders", rows[:1], expected)
    assert compare_table("orders", rows + [dict(rows[0], order_id="3")], expected)
    assert compare_table("orders", rows + rows[:1], expected)


def test_verification_report_must_be_clean():
    ok = {"uniqueness": {t: {"is_unique": True} for t in orders_gen.UNIQUE_KEYS},
          "foreign_keys": {"line_items->orders": 0}}
    assert check_verification(ok) == []
    bad = json.loads(json.dumps(ok))
    bad["foreign_keys"]["line_items->orders"] = 2
    assert check_verification(bad)
    bad = json.loads(json.dumps(ok))
    bad["uniqueness"]["orders"]["is_unique"] = False
    assert check_verification(bad)


def test_frame_checks_catch_a_changed_value():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25], "s": ["x", "y"]})
    assert compare_frames("q", a.iloc[::-1], a) == []
    assert compare_frames("q", a.assign(v=[0.5, 1.5]), a)
    assert compare_frames("q", a.iloc[:1], a)
    assert fingerprint(a) == fingerprint(a.iloc[::-1])
    assert fingerprint(a) != fingerprint(a.assign(s=["x", "z"]))


@pytest.mark.parametrize("workload", ["hourly_sync", "reads"])
def test_corrupted_run_fails(workload):
    root = os.path.dirname(HERE)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "0", "--corrupt"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode != 0
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] >= 1
    assert "CHECK FAILED" in proc.stderr
