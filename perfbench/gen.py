"""Seeded input generators for the benchmark.

Everything the engine reads in a benchmark run comes from here and
depends only on the seed: the sf0.1-shaped parquet tables, the
dashboard request schedule and the bronze backlog of Reddit listing
pages. The same seed gives byte-identical files
(`perfbench/test_gen.py` checks it).

The tables follow the shape of the engine's sf0.1 test data (a
TPC-H-like star schema plus `events`, `documents` and `embeddings`)
with the same row counts, key ranges and value distributions, so every
registered query sees the inputs it was written for.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
JAN_2024 = dt.datetime(2024, 1, 1)
JAN_DAYS = 30  # events span 2024-01-01 .. 2024-01-30, as in the sf0.1 data
VOCAB = (
    "query row stream the batch sort value hash filter big data part column "
    "order scan a slow agg key window table merge vector join spark line "
    "small fast group customer"
).split()
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.5, 0.125, 0.125, 0.125, 0.125)
PART_ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")


def _us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    span = (hi - lo).days
    return _ts(_us(lo) + rng.integers(0, span + 1, n) * 86_400_000_000)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.array(np.asarray(choices, dtype=object)[idx], type=pa.string())


def _table(name: str, rng: np.random.Generator) -> pa.Table:
    n = SF01_ROWS[name]
    i64 = np.arange(n, dtype=np.int64)
    if name == "region":
        names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        return pa.table({"r_regionkey": pa.array(range(n), pa.int32()), "r_name": names})
    if name == "nation":
        return pa.table(
            {
                "n_nationkey": pa.array(range(n), pa.int32()),
                "n_name": [f"NATION_{k}" for k in range(n)],
                "n_regionkey": pa.array([k % 5 for k in range(n)], pa.int32()),
            }
        )
    if name == "customer":
        return pa.table(
            {
                "c_custkey": i64,
                "c_name": [f"Customer#{k:09d}" for k in range(n)],
                "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
                "c_acctbal": _money(rng, n, -999.99, 9999.99),
                "c_mktsegment": _pick(
                    rng, ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"), n
                ),
            }
        )
    if name == "supplier":
        return pa.table(
            {
                "s_suppkey": i64,
                "s_name": [f"Supplier#{k:09d}" for k in range(n)],
                "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
                "s_acctbal": _money(rng, n, -999.99, 9999.99),
            }
        )
    if name == "part":
        adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n)]
        noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n)]
        return pa.table(
            {
                "p_partkey": i64,
                "p_name": pa.array(adj + " " + noun, pa.string()),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)], pa.string()),
                "p_type": _pick(rng, ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"), n),
                "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
                "p_retailprice": np.round(900.0 + (i64 % 1000) / 10.0, 2),
            }
        )
    if name == "orders":
        return pa.table(
            {
                "o_orderkey": i64,
                "o_custkey": rng.integers(0, SF01_ROWS["customer"], n).astype(np.int64),
                "o_orderstatus": _pick(rng, ("O", "P", "F"), n),
                "o_totalprice": _money(rng, n, 1000.0, 500000.0),
                "o_orderdate": _days(rng, n, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
                "o_orderpriority": _pick(
                    rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n
                ),
            }
        )
    if name == "lineitem":
        return pa.table(
            {
                "l_orderkey": rng.integers(0, SF01_ROWS["orders"], n).astype(np.int64),
                "l_partkey": rng.integers(0, SF01_ROWS["part"], n).astype(np.int64),
                "l_suppkey": rng.integers(0, SF01_ROWS["supplier"], n).astype(np.int64),
                "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(rng, n, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n),
                "l_linestatus": _pick(rng, ("F", "O"), n),
                "l_shipdate": _days(rng, n, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
            }
        )
    if name == "events":
        return events_table(rng, n)
    if name == "documents":
        return documents_table(rng, n)
    if name == "embeddings":
        centroids = rng.normal(0.0, 1.0, (10, 64))
        label = rng.integers(0, 10, n)
        v = centroids[label] * 0.6 + rng.normal(0.0, 1.0, (n, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return pa.table(
            {
                "vec_id": i64,
                "embedding": pa.array(list(v), pa.list_(pa.float32())),
                "label": pa.array(label.astype(np.int32)),
            }
        )
    raise ValueError(f"unknown table {name!r}")


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """The comment/event stream: ids in time order, January 2024,
    exponential `value` (mean 50), 1500 users, `{"k": N}` props."""
    span_us = JAN_DAYS * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + _us(JAN_2024)
    props = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, 1500, n).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in props], pa.string()),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Short bag-of-vocabulary documents; 5% are near-duplicates (an
    earlier document plus a trailing ` dup` token) and a few are exact
    copies, so the dedup and similarity miners have work to find."""
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for k in range(n):
        r = rng.random()
        if k > 50 and r < 0.05:
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        elif k > 50 and r < 0.052:
            texts.append(texts[int(rng.integers(0, k))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(seed: int, out_dir: str, names) -> dict[str, int]:
    """Write each named table as `<out_dir>/<name>.parquet`; every
    table draws from its own stream of the seed, so the set of tables
    written does not change any one table's bytes. Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in names:
        stream = sorted(SF01_ROWS).index(name)
        rng = np.random.default_rng([seed, stream])
        t = _table(name, rng)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


# ----------------------------------------------------------- dashboard

DASH_ROUTES = (
    ("politics_comments", None),
    *(("platform_count", p) for p in ("reddit", "chan", "youtube", "politics")),
    *(("sentiment_distribution", p) for p in ("reddit", "chan", "youtube", "politics")),
    *(("hate_distribution", p) for p in ("reddit", "chan", "youtube", "politics")),
    ("daily_counts", "politics"),
)


def dash_schedule(seed: int, n: int) -> list[tuple[str, str | None, str, str]]:
    """n dashboard requests: (route, platform, start, end). Every block of
    14 consecutive requests serves each route once, in a seeded order, so
    the route mix of a run does not depend on the seed; each request has
    a seeded 1-20 day window inside January 2024."""
    rng = random.Random(f"dash:{seed}")
    routes: list = []
    while len(routes) < n:
        routes.extend(rng.sample(DASH_ROUTES, len(DASH_ROUTES)))
    out = []
    for route, platform in routes[:n]:
        days = rng.randint(1, 20)
        first = rng.randint(1, 31 - days)
        start = dt.date(2024, 1, first)
        out.append((route, platform, start.isoformat(), (start + dt.timedelta(days=days)).isoformat()))
    return out


# ------------------------------------------------------- bronze backlog

SUBREDDITS = ("economy", "jobs", "markets", "politics", "personalfinance", "news")
PAGE_SECONDS = 600  # each page covers ten minutes of comment time
DUP_SHARE = 0.1  # share of a page's comments re-listed from earlier pages
DUP_LOOKBACK = 3  # duplicates come from at most three pages back


def bronze_pages(seed: int, pages: int, per_page: int) -> tuple[list[bytes], set[str]]:
    """A backlog of Reddit listing pages (REDDIT_LISTING_SCHEMA shape),
    one newline-terminated JSON document per page.

    Within a page, comment times are increasing; page k covers
    [k*PAGE_SECONDS, (k+1)*PAGE_SECONDS) after 2024-01-01. A DUP_SHARE
    of each later page re-lists comments, bit-identical, from the last
    DUP_LOOKBACK pages, so every late row is at most 40 minutes behind
    the newest one: inside the ingest's 12-hour watermark. Returns the
    page bytes and the set of distinct comment ids."""
    rng = random.Random(f"bronze:{seed}")
    base = int((JAN_2024 - dt.datetime(1970, 1, 1)).total_seconds())
    history: list[list[dict]] = []
    ids: set[str] = set()
    out = []
    next_id = 0
    for k in range(pages):
        n_dup = int(per_page * DUP_SHARE) if k else 0
        fresh_ts = sorted(rng.randrange(PAGE_SECONDS) for _ in range(per_page - n_dup))
        children = []
        for off in fresh_ts:
            cid = f"c{next_id}"
            next_id += 1
            ids.add(cid)
            children.append(
                {
                    "kind": "t1",
                    "data": {
                        "subreddit": SUBREDDITS[rng.randrange(len(SUBREDDITS))],
                        "link_id": f"t3_p{rng.randrange(500)}",
                        "body": " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 30))),
                        "score": rng.randint(-5, 200) if rng.random() > 0.05 else None,
                        "created_utc": base + k * PAGE_SECONDS + off,
                        "id": cid,
                    },
                }
            )
        recent = [c for page in history[-DUP_LOOKBACK:] for c in page]
        dups = [recent[rng.randrange(len(recent))] for _ in range(n_dup)] if recent else []
        history.append(children)
        page = {"kind": "Listing", "data": {"after": f"t1_{k}", "children": dups + children}}
        out.append((json.dumps(page, separators=(",", ":")) + "\n").encode())
    return out, ids


def write_bronze(seed: int, out_dir: str, pages: int, per_page: int) -> tuple[set[str], int, int]:
    """Land the backlog as `page_00000.json`, ...; returns the distinct
    ids, the total comment rows and the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    payloads, ids = bronze_pages(seed, pages, per_page)
    for k, b in enumerate(payloads):
        with open(os.path.join(out_dir, f"page_{k:05d}.json"), "wb") as f:
            f.write(b)
    return ids, pages * per_page, sum(len(b) for b in payloads)
