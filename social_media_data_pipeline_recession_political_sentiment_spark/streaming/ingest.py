"""Streaming ingestion pipeline — the engine form of the reference's
collector loops (SURVEY §2.9 `stream_microbatch`, `stream_dedup`,
`stream_rate_limit`; §3.1 trace).

Reference behavior: `schedule.every(...)` polling loops fetch JSON,
flatten, and insert row-by-row with a per-row existence probe
(`Data Collection/Reddit.py:166-173,72-96`). Engine mapping:

    bronze dir (landed JSON payloads, written by a thin fetcher)
      └─ readStream.json(schema)           # micro-batch file source
         └─ flatten_reddit_listing(...)    # typed explode/project
            └─ withWatermark + dropDuplicates(comment_id)
               └─ foreachBatch: anti-join against the silver sink
                  then append parquet      # idempotent, batch-level

Two dedup layers on purpose: watermarked dropDuplicates handles
duplicates *within* the stream's state horizon cheaply; the
foreachBatch anti-join against the sink is the durable cross-restart
guarantee (the scalable form of the reference's probe — one join per
micro-batch, not 2 round-trips per row).

Rate limiting (`Reddit.py:23-24,37-59`) maps to source-side
`maxFilesPerTrigger=1` — the engine's token bucket is one file per
micro-batch; HTTP-level backoff stays in the fetcher outside the
engine.

Both drains here (the silver ingest and `stream_rate_limit`) run
through `streaming.queries.drain`, the package's one availableNow
lifecycle; only the polling `processingTime` trigger of
`ingest_to_silver` starts a query of its own.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import prune_stale_workdirs, scoped_shuffle_partitions
from ..sources.rest_json import (
    REDDIT_LISTING_FIXTURE,
    REDDIT_LISTING_SCHEMA,
    flatten_reddit_listing,
)
from .queries import drain

SILVER_COMMENT_COLS = ["subreddit", "post_id", "body", "score", "created_utc", "comment_id"]


def read_bronze_stream(spark: SparkSession, bronze_dir: str) -> DataFrame:
    """Micro-batch file source over landed payloads, one file per
    micro-batch: the ingest rate limit (SURVEY §2.9 `stream_rate_limit`)."""
    return (
        spark.readStream.schema(REDDIT_LISTING_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(bronze_dir)
    )


def ingest_to_silver(
    spark: SparkSession,
    bronze_dir: str,
    silver_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Run the collector pipeline: flatten → 12-hour watermark dedup →
    foreachBatch anti-join append. Returns the StreamingQuery.
    available_now=True is the Airflow-DAG batch run
    (`Airflow.py:10,95-102`), returned already drained; the
    processingTime trigger gives the reference's poll cadences."""
    flat = flatten_reddit_listing(read_bronze_stream(spark, bronze_dir))
    deduped = flat.withWatermark("created_utc", "12 hours").dropDuplicates(["comment_id"])

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        # anti-join against sink keys: idempotent across restarts
        batch = batch.dropDuplicates(["comment_id"])
        if os.path.isdir(silver_dir) and any(
            f.endswith(".parquet") for f in os.listdir(silver_dir)
        ):
            existing = batch.sparkSession.read.parquet(silver_dir).select("comment_id")
            batch = batch.join(F.broadcast(existing), "comment_id", "left_anti")
        batch.select(*SILVER_COMMENT_COLS).write.mode("append").parquet(silver_dir)

    writer = deduped.writeStream.foreachBatch(upsert).option("checkpointLocation", checkpoint_dir)
    if available_now:
        return drain(spark, writer, 4)
    # dedup state partitions bind to shuffle.partitions when the first
    # micro-batch is planned (start() is async), so a polling run holds
    # the pin until the query reports progress
    with scoped_shuffle_partitions(spark, 4):
        q = writer.trigger(processingTime="1 seconds").start()
        deadline = time.monotonic() + 30
        while not q.recentProgress and time.monotonic() < deadline:
            time.sleep(0.1)
    return q


@register(
    "stream_rate_limit",
    oracle=(
        "WITH one AS (SELECT count(*) AS n FROM ("
        "SELECT unnest(data.children) AS c "
        f"FROM read_json('{REDDIT_LISTING_FIXTURE}', format='newline_delimited', "
        "columns={'kind': 'VARCHAR', 'data': 'STRUCT(after VARCHAR, children "
        "STRUCT(kind VARCHAR, data STRUCT(subreddit VARCHAR, link_id VARCHAR, "
        "body VARCHAR, score BIGINT, created_utc BIGINT, id VARCHAR))[])'}))) "
        "SELECT CAST(3 AS BIGINT) AS n_batches, CAST(3 * n AS BIGINT) AS n_rows FROM one"
    ),
)
def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-side ingest rate limiting (SURVEY §2.9 — the engine
    analog of the reference's 100-req/min token bucket,
    `Reddit.py:23-24,37-59`): `maxFilesPerTrigger=1` caps each
    micro-batch at one landed payload file. Three landed files =>
    exactly three micro-batches, counted via foreachBatch. The
    HTTP-level backoff itself stays in the fetcher, outside engine
    semantics."""
    import shutil
    import uuid

    prune_stale_workdirs("/tmp/smdp_ratelimit")
    work = f"/tmp/smdp_ratelimit/{uuid.uuid4().hex[:8]}"
    bronze = os.path.join(work, "bronze")
    os.makedirs(bronze)
    for i in range(3):
        shutil.copy(REDDIT_LISTING_FIXTURE, os.path.join(bronze, f"page_{i}.json"))

    batches: list[int] = []
    flat = flatten_reddit_listing(read_bronze_stream(spark, bronze))
    writer = flat.writeStream.foreachBatch(lambda b, _e: batches.append(b.count())).option(
        "checkpointLocation", os.path.join(work, "ckpt")
    )
    drain(spark, writer, 4)
    return spark.createDataFrame(
        [(len(batches), sum(batches))], "n_batches bigint, n_rows bigint"
    )


@register(
    "stream_microbatch",
    # the fixture's duplicate rows are bit-identical, so DISTINCT over
    # the flattened pages equals the streaming dedup result
    oracle=(
        "WITH pages AS (SELECT unnest(data.children) AS c "
        f"FROM read_json('{REDDIT_LISTING_FIXTURE}', format='newline_delimited', "
        "columns={'kind': 'VARCHAR', 'data': 'STRUCT(after VARCHAR, children "
        "STRUCT(kind VARCHAR, data STRUCT(subreddit VARCHAR, link_id VARCHAR, "
        "body VARCHAR, score BIGINT, created_utc BIGINT, id VARCHAR))[])'}) ) "
        "SELECT DISTINCT c.data.id AS comment_id, c.data.subreddit AS subreddit, "
        "coalesce(c.data.score, 0) AS score, "
        "(to_timestamp(c.data.created_utc) AT TIME ZONE 'UTC') AS created_utc FROM pages"
    ),
)
def stream_microbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole collector path end-to-end on the landed fixture:
    bronze → flatten → watermark dedup → anti-join silver append,
    drained with availableNow; returns the silver table (6 unique
    comments — the fixture's cross-page duplicate is dropped).
    Re-runs are idempotent: the anti-join keeps the silver table
    stable (asserted in tests/test_streaming.py)."""
    import shutil
    import uuid

    prune_stale_workdirs("/tmp/smdp_ingest")
    work = f"/tmp/smdp_ingest/{uuid.uuid4().hex[:8]}"
    bronze, silver, ckpt = (os.path.join(work, d) for d in ("bronze", "silver", "ckpt"))
    os.makedirs(bronze)
    shutil.copy(REDDIT_LISTING_FIXTURE, os.path.join(bronze, "page_0.json"))
    ingest_to_silver(spark, bronze, silver, ckpt)
    return (
        spark.read.parquet(silver)
        .select("comment_id", "subreddit", "score", "created_utc")
        .orderBy("comment_id")
    )
