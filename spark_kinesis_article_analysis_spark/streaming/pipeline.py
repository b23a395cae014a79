"""Structured Streaming layer: the reference pipeline under
readStream/writeStream, plus the streaming-only operators.

This is the streaming counterpart of ``operators/article.py`` — the
transform code is literally shared (batch/stream unification, SIGMOD'18
Structured Streaming paper); only the source/sink bindings differ:

reference (``process_articles.py``)      this module
------------------------------------     --------------------------------
readStream.format("kinesis") (:53-61)    payload_stream() file source /
                                         kinesis.reader() when deployed
withWatermark 10 s (:79)                 article_stream() watermark arg
window 5 min / 1 min x author (:80)      shared windowed_avg_word_count
outputMode("append") (:87)               start_parquet_sink / memory sink
parquet + checkpoint (:88-90)            start_parquet_sink
awaitAnyTermination (:93)                await_all()

Scale notes: state (window x key aggregates, dedup keys) is bounded by
the watermark. Under ``session.get_spark`` a new stateful stream starts
with one state partition, so each micro-batch commits one state store
whatever the core count; the count is recorded in the checkpoint at
first start. A stream whose state outgrows one store sets
``spark.sql.shuffle.partitions`` before its first start (at 100 TB/day
also the RocksDB state store provider). Reads scale with the source:
partition it so shard count >= executor cores. The parquet sink commits
exactly-once via the manifest + checkpoint WAL, identical to the
reference's sink semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from spark_kinesis_article_analysis_spark.operators.article import (
    article_pipeline,
    parse_articles,
    with_word_count,
)

#: Wire schema of the payload stream: one JSON string per record —
#: exactly the reference's Kinesis record shape after the :62 cast.
PAYLOAD_SCHEMA = T.StructType([T.StructField("data", T.StringType(), True)])


def payload_stream(spark: SparkSession, dir_path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """Bounded-replay stand-in for the Kinesis source: a file-source
    readStream over parquet payload files (one ``data`` string column).

    ``maxFilesPerTrigger=1`` makes micro-batch boundaries deterministic,
    which is what lets the watermark/append-mode tests assert exact
    emission sets (SURVEY.md §5)."""
    return (
        spark.readStream.schema(PAYLOAD_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dir_path)
    )


def article_stream(
    payload: DataFrame,
    watermark: str = "10 seconds",
    slide: str | None = "1 minute",
) -> DataFrame:
    """The reference pipeline (watermark + sliding window avg) on a
    streaming payload DataFrame — same transform objects as batch."""
    return article_pipeline(payload, slide=slide, watermark=watermark)


def article_stream_parsed(payload: DataFrame) -> DataFrame:
    """Stateless parse stage only (P1-P6): payload JSON -> typed article
    rows with word_count. The per-record shape foreachBatch sinks see."""
    return with_word_count(parse_articles(payload))


def article_session_stream(
    payload: DataFrame, gap: str = "5 minutes", watermark: str = "10 seconds"
) -> DataFrame:
    """Per-author session windows over the article stream: events closer
    than ``gap`` merge into one session; a session is emitted (append
    mode) once the watermark passes its end. State per open session, so
    the watermark bounds it exactly like the sliding-window agg."""
    parsed = with_word_count(parse_articles(payload))
    return (
        parsed.withWatermark("publish_date", watermark)
        .groupBy(F.session_window("publish_date", gap), F.col("author"))
        .agg(F.count("*").alias("n_articles"), F.avg("word_count").alias("average_word_count"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "author",
            "n_articles",
            "average_word_count",
        )
    )


def article_dedup_stream(payload: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact-dedup: dropDuplicatesWithinWatermark on article_id.

    State holds one key per article_id seen within the watermark horizon —
    the streaming sibling of dedup_exact."""
    parsed = with_word_count(parse_articles(payload))
    return parsed.withWatermark("publish_date", watermark).dropDuplicatesWithinWatermark(
        ["article_id"]
    )


#: Wire schema of a document ingest stream (the corpus-prep analog of
#: PAYLOAD_SCHEMA): id + raw text + ingest event time.
DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("ingest_ts", T.TimestampType(), True),
    ]
)


def document_stream(spark: SparkSession, dir_path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source readStream of document batches (DOC_SCHEMA parquet) —
    the corpus-ingest counterpart of payload_stream."""
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dir_path)
    )


def corpus_ingest_stream(docs: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Continuous training-data ingest: the streaming composition of the
    batch corpus-prep operators — Gopher repetition gate
    (``functions.quality.repetition_stats``, pure map-side so it drops
    into a streaming plan unchanged) then content-hash dedup bounded by
    the watermark (``dropDuplicatesWithinWatermark``, the streaming form
    of ``dedup_incremental_batch``: state holds one md5 key per novel
    document within the horizon).

    At 100 TB/day: the gate is stateless and scales with source
    parallelism; dedup state is bounded by (novel docs within watermark)
    — use the RocksDB provider. Docs deduped against history OLDER than
    the watermark are the batch ``dedup_incremental_batch`` anti-join's
    job, run periodically over the sink output.

    The gate filter runs AFTER dedup, not before: identical texts have
    identical stats, so the two commute on output, and filtering
    directly on the stats projection re-inlines the repetition fold
    (higher-order functions are CodegenFallback — no common-
    subexpression elimination; measured 10x slower in the batch form).
    The dedup state operator is the barrier that makes the stats
    evaluate once. Cost: state also holds hashes of docs the gate will
    drop — bounded by the same watermark horizon."""
    from spark_kinesis_article_analysis_spark.functions.quality import repetition_stats

    deduped = (
        repetition_stats(docs)
        .withColumn("text_hash", F.md5("text"))
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )
    return deduped.filter(F.col("passes_gate")).select(
        "doc_id", "ingest_ts", "text_hash", "n_tokens", "dup_token_frac", "top_bigram_frac"
    )


def stream_static_enrich(stream: DataFrame, dim: DataFrame, on: str, how: str = "inner") -> DataFrame:
    """Stream-static join: enrich a stream against a (broadcastable)
    static dimension — stateless, the dim is re-read per micro-batch."""
    return stream.join(F.broadcast(dim), on, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    left_time: str,
    right_time: str,
    right_key: str | None = None,
    interval: str = "10 minutes",
    left_watermark: str = "10 seconds",
    right_watermark: str = "10 seconds",
) -> DataFrame:
    """Stream-stream inner join on ``left_key = right_key`` (the key
    columns may be named differently per side — ``right_key`` defaults
    to ``left_key``) with an event-time interval bound: right row within
    [left_time - interval, left_time].

    Both sides carry watermarks, so each side's join state is evicted
    once the other side's watermark passes the interval bound — the
    state-bounding recipe from the Structured Streaming paper. At
    100 TB/day the state footprint is rate x interval per key, never
    unbounded."""
    right_key = right_key or left_key
    lw = left.withWatermark(left_time, left_watermark)
    rw = right.withWatermark(right_time, right_watermark)
    cond = (
        (lw[left_key] == rw[right_key])
        & (rw[right_time] >= lw[left_time] - F.expr(f"INTERVAL {interval}"))
        & (rw[right_time] <= lw[left_time])
    )
    return lw.join(rw, cond, "inner")


def streaming_asof_enrich(events: DataFrame) -> DataFrame:
    """Streaming form of the as-of join (``operators/temporal.asof_join``):
    per-user state carries the latest click's (ts, value); each purchase
    is emitted enriched with the most recent click at-or-before it.

    Inside a micro-batch the group is resolved with ``pd.merge_asof``
    (clicks sorted by (ts, value) so the max-value row wins duplicate
    timestamps — the batch operator's tie-break); the carried state is
    prepended as a synthetic earlier click, then state advances to the
    batch's newest click. Exactness across batches requires micro-batch
    boundaries to respect per-key event-time order (true for ordered
    replays/logs, e.g. a Kinesis shard's sequence order); the
    batch operator is the out-of-order-tolerant form. State per key is
    ONE (ts, value) pair — bounded regardless of history length, unlike
    the stream-stream interval join whose state is rate x interval.
    Batch/stream parity: tests/test_streaming.py::TestStreamingAsofEnrich.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True)
        # normalize to ns-resolution so carried-state rows concat/merge
        # cleanly whatever resolution Arrow handed us
        rows["ts"] = rows["ts"].astype("datetime64[ns]")
        # NULL-matches-nothing, as in the batch operator: NaT-ts clicks
        # can never satisfy the bound (and merge_asof raises on NaT
        # merge keys); NaT-ts purchases are emitted unenriched below.
        clicks = rows[(rows["event_type"] == "click") & rows["ts"].notna()][
            ["ts", "value"]
        ]
        if state.exists:
            ts_us, v = state.get
            carried = pd.DataFrame(
                {"ts": [pd.Timestamp(ts_us * 1_000)], "value": [v]}
            )
            carried["ts"] = carried["ts"].astype("datetime64[ns]")
            clicks = pd.concat([carried, clicks], ignore_index=True)
        # (ts, value) ascending with NaN values FIRST: merge_asof takes
        # the LAST row per ts, i.e. the max real value — the batch
        # operator's dup tie-break, where a NULL payload sorts first too.
        clicks = clicks.sort_values(
            ["ts", "value"], kind="stable", na_position="first"
        )
        purchases = rows[rows["event_type"] == "purchase"][
            ["event_id", "ts", "value"]
        ].sort_values("ts", kind="stable")
        if len(clicks):
            latest = clicks.iloc[-1]
            state.update((int(latest["ts"].value // 1_000), float(latest["value"])))
        if len(purchases):
            purchases = purchases.rename(columns={"value": "purchase_value"})
            nat = purchases[purchases["ts"].isna()].assign(
                click_ts=pd.NaT, click_value=float("nan")
            )
            purchases = purchases[purchases["ts"].notna()]
            if len(clicks) and len(purchases):
                out = pd.merge_asof(
                    purchases,
                    clicks.rename(columns={"ts": "click_ts", "value": "click_value"}),
                    left_on="ts",
                    right_on="click_ts",
                    direction="backward",
                    allow_exact_matches=True,
                )
            else:
                out = purchases.assign(
                    click_ts=pd.NaT, click_value=float("nan")
                )
            out = pd.concat([out, nat], ignore_index=True)
            out["user_id"] = key[0]
            yield out.rename(columns={"ts": "purchase_ts"})[
                [
                    "event_id",
                    "user_id",
                    "purchase_ts",
                    "purchase_value",
                    "click_ts",
                    "click_value",
                ]
            ]

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "event_id long, user_id long, purchase_ts timestamp, "
            "purchase_value double, click_ts timestamp, click_value double"
        ),
        stateStructType="ts_us long, v double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_running_distinct(events: DataFrame) -> DataFrame:
    """Streaming form of ``window_cumulative_distinct`` (functions/
    scale_ops): per-event_type state carries the set of user_ids seen so
    far; every event is emitted with the running distinct-user count.

    The state IS the distinct set — the information-theoretic minimum
    for an exact running distinct (per key it is bounded by that key's
    distinct-user cardinality, not by event volume; the approximate
    alternative at 100 TB is the HLL sketch of agg_hll_partial_merge,
    whose state is O(1) per key). NULL user_id counts as one distinct
    member (grouping semantics, matching the batch rewrite), carried as
    a separate flag since the array state can't hold NULL. Within a
    micro-batch events apply in (ts NULLS FIRST, event_id) order — the
    batch operator's exact order; cross-batch exactness needs batch
    boundaries to respect event-time order, as with
    streaming_asof_enrich (true for ordered replays/logs).
    Batch/stream parity: tests/test_streaming.py::TestStreamingRunningDistinct.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows["ts"] = rows["ts"].astype("datetime64[ns]")
        seen: set[int] = set()
        has_null = False
        if state.exists:
            users, has_null = state.get
            seen = set(users or [])
            has_null = bool(has_null)
        rows = rows.sort_values(["ts", "event_id"], kind="stable", na_position="first")
        counts = []
        for uid in rows["user_id"]:
            if pd.isna(uid):
                has_null = True
            else:
                seen.add(int(uid))
            counts.append(len(seen) + (1 if has_null else 0))
        state.update((sorted(seen), has_null))
        out = rows.assign(distinct_users_so_far=counts)
        out["event_type"] = key[0]
        yield out[["event_id", "event_type", "ts", "distinct_users_so_far"]]

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_id long, event_type string, ts timestamp, distinct_users_so_far long"
        ),
        stateStructType="users array<long>, has_null boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_author_stats(parsed_with_wc: DataFrame) -> DataFrame:
    """Arbitrary stateful operator (``applyInPandasWithState``): per-author
    running article count and running mean word count, maintained as
    explicit ``(n, total)`` state across micro-batches.

    This is the escape hatch for semantics the declarative operators
    can't express (nothing in the v0 surface needs it — see SURVEY.md §2
    'Arbitrary stateful ops' — but the capability is part of a complete
    engine). State is per-key and Arrow-batched; at scale the RocksDB
    state store holds it off-heap."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        (author,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            # avg() semantics: NULL word counts (malformed payloads) are
            # excluded from BOTH numerator and denominator, matching the
            # declarative F.avg the rest of the package uses.
            n += int(pdf["word_count"].notna().sum())
            total += float(pdf["word_count"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "author": [author],
                "n_articles": [n],
                "mean_word_count": [total / n if n else 0.0],
            }
        )

    return parsed_with_wc.groupBy("author").applyInPandasWithState(
        update,
        outputStructType="author string, n_articles long, mean_word_count double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_memory_sink(df: DataFrame, name: str, output_mode: str = "append") -> StreamingQuery:
    """Memory sink for semantic tests: processAllAvailable() then
    ``spark.sql(f"select * from {name}")``."""
    return df.writeStream.outputMode(output_mode).format("memory").queryName(name).start()


def start_parquet_sink(
    df: DataFrame, path: str, checkpoint: str, output_mode: str = "append"
) -> StreamingQuery:
    """The reference's sink (``process_articles.py:85-91``): append-mode
    parquet with a checkpoint location — exactly-once via manifest+WAL."""
    return (
        df.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def start_foreach_batch_sink(
    df: DataFrame,
    checkpoint: str,
    handler,
    output_mode: str = "append",
    available_now: bool = False,
) -> StreamingQuery:
    """foreachBatch sink: ``handler(batch_df, batch_id)`` per micro-batch.

    The general-purpose escape hatch for sinks Spark lacks natively
    (JDBC upsert, idempotent external writes keyed on ``batch_id``). On
    restart, a replayed batch arrives with the SAME batch_id, so a
    handler that records processed ids gets exactly-once effects on top
    of the at-least-once replay. ``available_now=True`` uses
    Trigger.AvailableNow: drain everything currently in the source in
    rate-limited batches, then stop — the batch-job-over-streaming-
    checkpoint operating mode (backfill at 100 TB without an always-on
    cluster)."""
    w = df.writeStream.outputMode(output_mode).option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.foreachBatch(handler).start()


def await_all(spark: SparkSession) -> None:
    """``spark.streams.awaitAnyTermination()`` (``process_articles.py:93``)."""
    spark.streams.awaitAnyTermination()
