"""Tests of the benchmark's own generators and output checks (no Spark).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

WATERMARK_S = 12 * 3600  # ingest_to_silver's default watermark


def _digests(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_tables_are_byte_identical_for_a_seed(tmp_path):
    names = ("events", "documents", "embeddings", "orders")
    gen.write_tables(7, tmp_path / "a", names)
    gen.write_tables(7, tmp_path / "b", names)
    gen.write_tables(8, tmp_path / "c", names)
    a, b, c = (_digests(tmp_path / x) for x in "abc")
    assert a == b
    assert all(a[f] != c[f] for f in a)


def test_a_table_does_not_depend_on_which_others_are_written(tmp_path):
    gen.write_tables(3, tmp_path / "a", ("events",))
    gen.write_tables(3, tmp_path / "b", ("documents", "events"))
    assert _digests(tmp_path / "a")["events.parquet"] == _digests(tmp_path / "b")["events.parquet"]


def test_events_are_in_time_order_inside_january():
    import numpy as np

    t = gen.events_table(np.random.default_rng(1), 5000)
    ts = t.column("ts").to_pylist()
    assert ts == sorted(ts)
    assert dt.datetime(2024, 1, 1) <= ts[0] and ts[-1] < dt.datetime(2024, 1, 31)


def test_bronze_pages_are_byte_identical_for_a_seed():
    a, ids_a = gen.bronze_pages(5, 6, 50)
    b, ids_b = gen.bronze_pages(5, 6, 50)
    c, _ = gen.bronze_pages(6, 6, 50)
    assert a == b and ids_a == ids_b
    assert a != c


def test_bronze_backlog_stays_inside_the_ingest_watermark():
    """The watermark dedup drops rows older than (max event time seen -
    12 h); the backlog must never produce one, or silver silently loses
    rows. Fresh comments are in time order, page after page."""
    pages, ids = gen.bronze_pages(11, 20, 100)
    newest = None
    seen = set()
    n_rows = 0
    for raw in pages:
        children = json.loads(raw)["data"]["children"]
        fresh = [c["data"] for c in children if c["data"]["id"] not in seen]
        stamps = [d["created_utc"] for d in fresh]
        assert stamps == sorted(stamps)
        if newest is not None:
            assert min(stamps) >= newest  # pages advance
        for c in children:
            d = c["data"]
            n_rows += 1
            if newest is not None:
                assert newest - d["created_utc"] < WATERMARK_S
            seen.add(d["id"])
        newest = max(stamps)
    assert seen == ids
    assert n_rows == 20 * 100
    assert len(ids) < n_rows  # the backlog does carry cross-page duplicates


def test_dash_schedule_is_seeded_and_inside_january():
    a = gen.dash_schedule(3, 200)
    assert a == gen.dash_schedule(3, 200)
    assert a != gen.dash_schedule(4, 200)
    for k in range(0, 196, 14):  # each block of 14 serves every route once
        assert sorted((r, p or "") for r, p, _, _ in a[k:k + 14]) == sorted(
            (r, p or "") for r, p in gen.DASH_ROUTES
        )
    for _, _, start, end in a:
        s, e = dt.date.fromisoformat(start), dt.date.fromisoformat(end)
        assert 1 <= (e - s).days <= 20
        assert dt.date(2024, 1, 1) <= s and e <= dt.date(2024, 1, 31)


def test_output_check_counts_a_corrupted_result_as_failed():
    assert checks.self_test()


def test_digest_is_order_insensitive_and_value_sensitive():
    cols = ["b", "a"]
    rows = [(i, f"x{i}") for i in range(100)]
    assert checks.digest(cols, rows) == checks.digest(cols, rows[::-1])
    assert checks.digest(cols, rows) != checks.digest(cols, rows[:-1] + [(99, "x98")])
    # column order does not matter, only names
    assert checks.digest(["a", "b"], [(r[1], r[0]) for r in rows]) == checks.digest(cols, rows)


def test_benchmark_json_names_the_metrics_run_prints():
    import importlib.util

    here = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(here, "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.E2E_KEYS)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.LAYER_KEYS)


def test_percentile_is_nearest_rank():
    import workloads

    assert workloads.percentile([1, 2, 3, 4], 0.75) == 3
    assert workloads.percentile([4, 1, 3, 2], 0.5) == 2
    assert workloads.percentile([5], 0.95) == 5
    assert workloads.percentile(list(range(1, 21)), 0.95) == 19
