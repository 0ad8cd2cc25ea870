"""Streaming semantics that need MULTIPLE micro-batches: cross-batch
dedup idempotency, late-row handling, windowed counts (SURVEY §2.9,
FIXTURES.md §B.6)."""

from __future__ import annotations

import json
import os
import pathlib
import re
import shutil
import tempfile

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from social_media_data_pipeline_recession_political_sentiment_spark.sources.rest_json import (
    REDDIT_LISTING_FIXTURE,
)
from social_media_data_pipeline_recession_political_sentiment_spark import streaming
from social_media_data_pipeline_recession_political_sentiment_spark.streaming.queries import (
    drain,
    drain_to_table,
)
from social_media_data_pipeline_recession_political_sentiment_spark.streaming.ingest import (
    ingest_to_silver,
)


def _page(comments):
    return json.dumps(
        {
            "kind": "Listing",
            "data": {
                "after": None,
                "children": [
                    {
                        "kind": "t1",
                        "data": {
                            "subreddit": sub,
                            "link_id": "t3_x",
                            "body": body,
                            "score": score,
                            "created_utc": epoch,
                            "id": cid,
                        },
                    }
                    for (sub, body, score, epoch, cid) in comments
                ],
            },
        }
    )


def test_ingest_end_to_end_dedups_fixture(spark):
    work = tempfile.mkdtemp(prefix="smdp_stream_")
    bronze, silver, ckpt = (os.path.join(work, d) for d in ("bronze", "silver", "ckpt"))
    os.makedirs(bronze)
    shutil.copy(REDDIT_LISTING_FIXTURE, os.path.join(bronze, "p0.json"))
    ingest_to_silver(spark, bronze, silver, ckpt).awaitTermination()
    out = spark.read.parquet(silver)
    assert out.count() == 6  # 7 raw rows, 1 cross-page duplicate
    assert out.select("comment_id").distinct().count() == 6


def test_ingest_rerun_is_idempotent(spark):
    """Second run over NEW bronze files carrying already-seen keys
    must not duplicate silver rows (the reference's existence-probe
    guarantee, Reddit.py:75-80, as a batch-level anti-join)."""
    work = tempfile.mkdtemp(prefix="smdp_stream_")
    bronze, silver, ckpt = (os.path.join(work, d) for d in ("bronze", "silver", "ckpt"))
    os.makedirs(bronze)
    with open(os.path.join(bronze, "p0.json"), "w") as f:
        f.write(_page([("econ", "b1", 1, 1704103200, "k1"), ("econ", "b2", 2, 1704103260, "k2")]))
    ingest_to_silver(spark, bronze, silver, ckpt).awaitTermination()
    # new file: one repeat key (k2, different body), one new key
    with open(os.path.join(bronze, "p1.json"), "w") as f:
        f.write(_page([("econ", "b2x", 9, 1704103320, "k2"), ("econ", "b3", 3, 1704103380, "k3")]))
    ingest_to_silver(spark, bronze, silver, os.path.join(work, "ckpt2")).awaitTermination()
    out = spark.read.parquet(silver)
    assert out.count() == 3
    k2 = out.filter("comment_id = 'k2'").collect()
    assert len(k2) == 1 and k2[0].body == "b2"  # first-seen wins, like the reference


def test_watermark_finalized_window_not_reemitted(spark):
    """The watermark guarantee that matters for the recency-filter
    semantics: once append mode finalizes+emits a window, a row
    arriving later for that window is DROPPED — the window is never
    re-emitted and the late row never counts. (Observed Spark 4.1
    behavior: late rows for never-finalized windows are still
    admitted; only finalized windows filter input.)"""
    import datetime as dt
    import time

    work = tempfile.mkdtemp(prefix="smdp_late_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    schema = "id long, ts timestamp"
    batches = [
        # b0: window [10:00, 11:00) gets 2 rows
        [(1, "2024-01-02 10:00:00"), (2, "2024-01-02 10:30:00")],
        # b1: pushes the eviction watermark to 12:00 > 11:00
        [(4, "2024-01-02 13:00:00")],
        # b2: watermark 12:00 finalizes+emits the 10:00 window (cnt=2)
        [(9, "2024-01-02 13:30:00")],
        # b3: 10:50 is now behind the late-events watermark (12:00,
        # which lags eviction by one batch in Spark 4) => dropped
        [(5, "2024-01-02 10:50:00")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            [(rid, dt.datetime.fromisoformat(t)) for rid, t in rows], schema
        ).coalesce(1).write.parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)  # distinct mtimes => deterministic batch order

    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "b*"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_sink")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        (p["stateOperators"][0]["numRowsDroppedByWatermark"] if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    emitted = [
        (r.w.start.isoformat(), r.cnt)
        for r in spark.table("late_sink").collect()
        if r.w.start == dt.datetime(2024, 1, 2, 10, 0)
    ]
    assert emitted == [("2024-01-02T10:00:00", 2)]  # one emission, late id 5 excluded
    assert dropped == 1  # id 5 was dropped by the watermark


def test_stateful_count_state_persists_across_batches(spark):
    """applyInPandasWithState keyed state must carry across
    micro-batches: a user appearing in every batch emits strictly
    increasing running counts, one update per batch."""
    import uuid

    from pyspark.sql.streaming.state import GroupStateTimeout
    import pandas as pd

    work = tempfile.mkdtemp(prefix="smdp_state_")
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    # three files = three micro-batches; user 7 appears in all three
    batches = [[(1, 7), (2, 8)], [(3, 7)], [(4, 7), (5, 8)]]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "event_id long, user_id long").coalesce(1).write.parquet(
            os.path.join(src_dir, f"b{i}")
        )
    src = (
        spark.readStream.schema("event_id bigint, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src_dir, "b*"))
    )

    def running_count(key, pdfs, state):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt]})

    updates = src.groupBy("user_id").applyInPandasWithState(
        running_count,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="cnt bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"state_{uuid.uuid4().hex[:8]}"
    q = (
        updates.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    u7 = sorted(
        r.n_events for r in spark.table(name).filter(F.col("user_id") == 7).collect()
    )
    assert u7 == [1, 2, 3]  # one update per batch, state accumulated


def test_stream_join_static_matches_batch_join(spark):
    """Stream-static enrichment drains to exactly the batch join: same
    cardinality as the fact side, every type's max flagged extreme."""
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries
    from tests.conftest import SF_SMOKE

    out = queries()["stream_join_static"](spark, SF_SMOKE)
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    assert out.count() == events.count()  # inner join on a total dim
    # per type, at least one row (the max itself) must be extreme
    types_with_extreme = {
        r.event_type for r in out.filter("is_extreme").select("event_type").distinct().collect()
    }
    all_types = {r.event_type for r in events.select("event_type").distinct().collect()}
    assert types_with_extreme == all_types


def test_tumbling_count_equals_batch_daily_counts(spark):
    """SURVEY §2.9 ≡ §2.4 equivalence claim, asserted: the drained
    streaming tumbling daily count must reproduce the batch
    `agg_daily_counts` result exactly over the same fixture — same
    days, same counts, nothing extra on either side."""
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries
    from tests.conftest import SF_SMOKE

    batch = {
        r.day: r.cnt
        for r in queries()["agg_daily_counts"](spark, SF_SMOKE).collect()
    }
    stream = {
        r.day: r.cnt
        for r in queries()["stream_tumbling_count"](spark, SF_SMOKE).collect()
    }
    assert stream == batch


def test_stream_stream_join_equals_batch_interval_join(spark):
    """stream_join_stream drains to exactly the batch interval join:
    same (view, click) pairs, same microsecond gaps, all within the
    attribution window."""
    from tests.conftest import SF_SMOKE
    from social_media_data_pipeline_recession_political_sentiment_spark.streaming.queries import (
        ATTRIB_WINDOW_S,
        stream_join_stream,
    )

    rows = stream_join_stream(spark, SF_SMOKE).collect()
    assert rows
    got = {(r.view_id, r.click_id): r.gap_us for r in rows}
    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    v = [(r.event_id, r.user_id, r.ts) for r in e.filter(F.col("event_type") == "view").collect()]
    c = [(r.event_id, r.user_id, r.ts) for r in e.filter(F.col("event_type") == "click").collect()]

    def us(ts):
        import datetime as dt

        return int(ts.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000 + ts.microsecond

    expect = {}
    for vid, vu, vt in v:
        for cid, cu, ct in c:
            if vu == cu and 0 <= us(ct) - us(vt) <= ATTRIB_WINDOW_S * 1_000_000:
                expect[(vid, cid)] = us(ct) - us(vt)
    assert got == expect


def test_stream_stream_join_buffers_state_across_batches(spark):
    """A click arriving BATCHES AFTER its view must still join: the
    stream-stream join's state store buffers the unmatched view
    until the window closes. Views land in batch 0, matching clicks
    in batches 1-2; a click outside the 1h window never joins."""
    import time
    import uuid

    import datetime as dt

    work = tempfile.mkdtemp(prefix="smdp_ssj_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    schema = "event_id long, user_id long, event_type string, ts timestamp"

    def t(s):
        return dt.datetime.fromisoformat(s)

    batches = [
        # batch 0: two views, no clicks yet
        [
            (1, 100, "view", t("2024-01-02 10:00:00")),
            (2, 200, "view", t("2024-01-02 10:05:00")),
        ],
        # batch 1: click for user 100 inside the window
        [(3, 100, "click", t("2024-01-02 10:20:00"))],
        # batch 2: click for user 200 inside the window, plus one for
        # user 100 OUTSIDE the 1h window (must not join)
        [
            (4, 200, "click", t("2024-01-02 10:59:00")),
            (5, 100, "click", t("2024-01-02 11:30:00")),
        ],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, f"b{i}")
        )
        time.sleep(1.1)  # distinct mtimes => deterministic batch order

    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "b*"))
    )
    views = (
        raw.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    clicks = (
        raw.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 3600 SECONDS")),
    ).select("view_id", "click_id")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.view_id, r.click_id) for r in spark.table(name).collect()}
    # cross-batch matches joined; the out-of-window click did not
    assert got == {(1, 3), (2, 4)}


def test_upsert_keyed_newest_wins_across_batches(spark):
    """foreachBatch upsert across REAL micro-batches
    (maxFilesPerTrigger=1): when a key's newest version arrives in an
    EARLIER micro-batch than a stale version (out-of-order delivery),
    the newest (ts, event_id) version must still win, and keys seen
    only once pass through."""
    import datetime as dt

    from social_media_data_pipeline_recession_political_sentiment_spark.streaming.queries import (
        drain_keyed_upsert,
    )

    work = tempfile.mkdtemp(prefix="smdp_upsert_")
    t0 = dt.datetime(2021, 1, 1, 12, 0, 0)

    def row(eid, ts_off, uid, et, v):
        return (eid, t0 + dt.timedelta(seconds=ts_off), uid, et, v, "{}")

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    # two files = two micro-batches; the NEWEST version of user 1
    # (ts+100) sits in the FIRST batch, the stale one arrives later
    b0 = [row(10, 100, 1, "new", 9.0), row(11, 0, 2, "only", 1.0)]
    b1 = [row(12, 50, 1, "stale", 5.0), row(13, 10, 3, "only", 2.0)]
    for i, rows in enumerate([b0, b1]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(work, f"b{i}")
        )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(work, "b*"))
    )
    out = {r.user_id: r for r in drain_keyed_upsert(spark, src).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].event_id == 10 and out[1].event_type == "new"
    assert out[2].event_id == 11 and out[3].event_id == 13


def test_sliding_count_double_counts_each_event(spark):
    """stream_sliding_count: with 2-day windows sliding 1 day, every
    event lands in EXACTLY two windows (Σcnt = 2·|events|), each
    day's event mass appears in its own and the previous day's
    window, and the drained result matches the batch explode."""
    from tests.conftest import SF_SMOKE
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries
    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import load

    out = queries()["stream_sliding_count"](spark, SF_SMOKE).collect()
    n_events = load(spark, SF_SMOKE, "events").count()
    assert sum(r.cnt for r in out) == 2 * n_events
    import datetime as dt
    by_ws = {(r.window_start, r.event_type): r.cnt for r in out}
    # spot-check one interior window: cnt(window d) = events(d) + events(d+1)
    days = sorted({ws for ws, _ in by_ws})
    mid = days[len(days) // 2]
    nxt = mid + dt.timedelta(days=1)
    ev = load(spark, SF_SMOKE, "events")
    import pyspark.sql.functions as F
    per_day = {
        (r.d, r.event_type): r.c
        for r in ev.groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    for et in {t for _, t in by_ws}:
        expect = per_day.get((mid, et), 0) + per_day.get((nxt, et), 0)
        assert by_ws.get((mid, et), 0) == expect


def test_incremental_dedup_chain_merges_across_batches(spark):
    """drain_incremental_dedup across REAL micro-batches
    (maxFilesPerTrigger=1, 3 files): the (fingerprint -> min doc_id)
    index must be batch-order independent — a doc whose DUPLICATE
    arrives in an EARLIER batch is still flagged by doc_id order
    (first-copy-wins), dup_of_base comes from the static base set,
    and a doc unseen anywhere is is_new."""
    from social_media_data_pipeline_recession_political_sentiment_spark.streaming.queries import (
        drain_incremental_dedup,
    )

    work = tempfile.mkdtemp(prefix="smdp_incrchain_")
    schema = "doc_id long, h string"
    # batch 0 carries doc 20 (a LATER copy of content B); batch 1
    # carries doc 10 (the EARLIEST copy of B) — arrival order is the
    # reverse of doc_id order. Batch 2 repeats content B again (30),
    # carries base-duplicated content A (40) and fresh content C (50).
    b0 = [(20, "B")]
    b1 = [(10, "B"), (11, None)]  # NULL text -> NULL fingerprint
    b2 = [(30, "B"), (40, "A"), (50, "C")]
    for i, rows in enumerate([b0, b1, b2]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(work, f"b{i}")
        )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(work, "b*"))
    )
    base = spark.createDataFrame([("A",)], "h string")
    out = {r.doc_id: r for r in drain_incremental_dedup(spark, src, base).collect()}
    assert set(out) == {10, 11, 20, 30, 40, 50}
    # doc 10 is the min-doc_id copy of B despite arriving in batch 1
    assert not out[10].dup_in_increment and out[10].is_new
    assert out[20].dup_in_increment and not out[20].is_new
    assert out[30].dup_in_increment and not out[30].is_new
    # base hit: flagged dup_of_base, not dup_in_increment (unique in incr)
    assert out[40].dup_of_base and not out[40].dup_in_increment
    assert out[50].is_new and not out[50].dup_of_base
    # NULL fingerprint never matches anything (SQL NULL-key semantics)
    assert out[11].is_new and not out[11].dup_of_base and not out[11].dup_in_increment


def test_datacard_incremental_multibatch(spark):
    """drain_datacard across REAL micro-batches (maxFilesPerTrigger=1,
    3 files): the per-(source, lang) card must be batch-order
    independent — counts and token sums merge by +, first/last doc
    ids by min/max — and equal the one-shot batch GROUP BY over the
    union of all batches. NULL text contributes NULL to the token sum
    (skipped), an all-NULL cell reads 0 via the final coalesce."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from social_media_data_pipeline_recession_political_sentiment_spark.streaming.queries import (
        drain_datacard,
    )

    work = tempfile.mkdtemp(prefix="smdp_dcinc_")
    schema = "doc_id long, source string, lang string, text string"
    # arrival order deliberately scrambles doc_id order per cell
    b0 = [(20, "s1", "en", "a b c"), (30, "s2", "en", None)]
    b1 = [(10, "s1", "en", "x"), (40, "s2", "en", None)]
    b2 = [(50, "s1", "de", "p q"), (60, "s1", "en", "m n o p")]
    rows = b0 + b1 + b2
    for i, batch in enumerate([b0, b1, b2]):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            os.path.join(work, f"b{i}")
        )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(work, "b*"))
    )
    out = {
        (r.source, r.lang): r for r in drain_datacard(spark, src).collect()
    }
    # one-shot batch reference over the same rows
    ref = {
        (r.source, r.lang): r
        for r in spark.createDataFrame(rows, schema)
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum(F.size(F.split("text", " "))), F.lit(0)).alias(
                "n_tokens"
            ),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .collect()
    }
    assert set(out) == set(ref) == {("s1", "en"), ("s2", "en"), ("s1", "de")}
    for k in ref:
        for c in ("n_docs", "n_tokens", "first_doc", "last_doc"):
            assert getattr(out[k], c) == getattr(ref[k], c), (k, c)
    # the cross-batch cell: docs 10,20,60 -> 3 docs, 1+3+4 tokens,
    # first 10 (arrived in batch 1), last 60
    r = out[("s1", "en")]
    assert (r.n_docs, r.n_tokens, r.first_doc, r.last_doc) == (3, 8, 10, 60)
    # all-NULL-text cell: token sum coalesces to 0
    assert out[("s2", "en")].n_tokens == 0


def test_embcos_incremental_chain_merges_across_batches(spark):
    """drain_embcos_incremental across REAL micro-batches
    (maxFilesPerTrigger=1, 3 files): flags must be batch-order
    independent — dup_of_base is a per-row probe against the static
    base, dup_in_increment comes from the drain-time id-ordered
    triangle (first-copy-wins by vec_id even when the earlier copy
    ARRIVES later), and a zero-norm vector (NULL cosine) can flag
    nothing and nothing flags against it — is_new, the padding/
    failed-encode contract of `ext_dedup_embcos_incremental`."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.streaming.queries import (
        drain_embcos_incremental,
    )

    work = tempfile.mkdtemp(prefix="smdp_embchain_")
    schema = "vec_id long, dv array<double>, nrm double"
    B = [1.0, 0.0, 0.0]
    A = [0.0, 1.0, 0.0]
    C = [0.0, 0.0, 1.0]
    Z = [0.0, 0.0, 0.0]
    # batch 0 carries vec 20 (a LATER copy of content B); batch 1
    # carries vec 10 (the EARLIEST copy of B) — arrival order is the
    # reverse of vec_id order — plus the zero vector 11. Batch 2
    # repeats B (30), duplicates base content A (40), and adds C (50).
    b0 = [(20, B, 1.0)]
    b1 = [(10, B, 1.0), (11, Z, 0.0)]
    b2 = [(30, B, 1.0), (40, A, 1.0), (50, C, 1.0)]
    for i, rows in enumerate([b0, b1, b2]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(work, f"b{i}")
        )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(work, "b*"))
    )
    base = spark.createDataFrame(
        [(100, A, 1.0)], "b_id long, bdv array<double>, bn double"
    )
    out = {
        r.vec_id: r
        for r in drain_embcos_incremental(spark, src, base).collect()
    }
    assert set(out) == {10, 11, 20, 30, 40, 50}
    # vec 10 is the min-vec_id copy of B despite arriving in batch 1
    assert not out[10].dup_in_increment and out[10].is_new
    assert out[20].dup_in_increment and not out[20].is_new
    assert out[30].dup_in_increment and not out[30].is_new
    # base hit: flagged dup_of_base, not dup_in_increment (unique in incr)
    assert out[40].dup_of_base and not out[40].dup_in_increment
    assert out[50].is_new and not out[50].dup_of_base
    # zero norm -> NULL cosine fails every >= t cut on both sides
    assert out[11].is_new and not out[11].dup_of_base and not out[11].dup_in_increment


def _id_stream(spark, ids):
    """File-source stream over one parquet file holding `ids`."""
    src = tempfile.mkdtemp(prefix="smdp_drain_")
    spark.createDataFrame([(i,) for i in ids], "id long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    return spark.readStream.schema("id long").parquet(src)


def test_drain_to_table_leaves_no_sink_views(spark):
    """Repeated memory-sink drains in one long-lived session must not
    grow the catalog: each `drain_to_table` drops its sink view, and
    the frame it returns still holds the drained rows."""
    outs = [
        drain_to_table(_id_stream(spark, range(10 * k, 10 * k + k + 1)), "append")
        for k in range(5)
    ]
    left = [
        t.name
        for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("sink_")
    ]
    assert left == []
    for k, out in enumerate(outs):
        assert sorted(r.id for r in out.collect()) == list(range(10 * k, 10 * k + k + 1))


def test_drain_failure_propagates_and_restores_shuffle_partitions(spark):
    """A foreachBatch drain whose batch function raises must surface the
    error to the caller, and the state-partition pin that was active
    during the batch must be undone afterwards."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    pin = int(before) + 3
    seen = []

    def boom(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get(key))
        raise RuntimeError("batch function failed")

    writer = _id_stream(spark, [1, 2]).writeStream.foreachBatch(boom)
    with pytest.raises(StreamingQueryException, match="batch function failed"):
        drain(spark, writer, pin)
    assert seen == [str(pin)]
    assert spark.conf.get(key) == before


def test_streaming_has_one_available_now_trigger():
    """Every availableNow drain under streaming/ goes through
    `streaming.queries.drain`: the trigger is spelled exactly once, so a
    hand-written copy of the drain lifecycle cannot creep back in."""
    pkg = pathlib.Path(streaming.__file__).parent
    hits = [
        (src.name, m.group(0))
        for src in sorted(pkg.glob("*.py"))
        for m in re.finditer(r"availableNow[\"']?\s*[=:]\s*True", src.read_text())
    ]
    assert len(hits) == 1, hits
