"""The reference pipeline, re-expressed as a shared batch/stream transform.

Reference semantics (``reference/app/process_articles.py:53-91``):
JSON article payload -> ``from_json`` with a declared schema (P2) ->
struct flatten (P3) -> ``to_timestamp`` (P4) -> whitespace tokenize +
``size`` word count (P5/P6) -> watermark 10 s (G1) -> sliding window
5 min / 1 min by author (G2/G3) -> ``avg(word_count)`` (G4) -> project
``window.start, window.end, author, average_word_count`` (P7).

Structured Streaming's batch/stream unification means the exact same
transform functions below run under ``spark.read`` (for the DuckDB
oracle) and ``spark.readStream`` (``streaming/pipeline.py``) — only the
source/sink differ, the logical plan is shared.

Batch fixture: the ``documents`` table stands in for the Kinesis
article stream. :func:`documents_as_article_payload` serializes each
document row to the reference's wire format (one JSON string per
record, ``populate_stream.py:96-99``) with a deterministic, derivable
event time, so the full parse path is exercised and the oracle can
compute the expected result straight from the ``documents`` columns
(``from_json(to_json(x)) == x``).

Scale notes (100 TB): the pipeline is a single shuffle — the hash
exchange on ``(window, author)`` feeding the partial+final
HashAggregate. Everything upstream (JSON parse, tokenize, count) is a
narrow projection chain that whole-stage-codegen fuses into the scan;
nothing is cached or collected. Sliding windows replicate each row
``window/slide`` times (5x here) *before* the partial aggregate, but
the map-side combine collapses them to one state row per (window, key)
per partition, so shuffle volume is bounded by group cardinality, not
input rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_kinesis_article_analysis_spark import catalog
from spark_kinesis_article_analysis_spark.functions.text import tokens_col
from spark_kinesis_article_analysis_spark.registry import register

#: Declared domain schema — mirrors ``process_articles.py:29-35`` (all
#: string, all nullable; ``publish_date`` upgraded to timestamp after parse).
ARTICLE_SCHEMA = T.StructType(
    [
        T.StructField("article_id", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("author", T.StringType(), True),
        T.StructField("publish_date", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)

#: Base epoch for the deterministic synthetic event time (2024-01-01 UTC).
_EPOCH_2024 = 1_704_067_200


def documents_as_article_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` -> the reference's wire format: one JSON string per
    record in a single ``data`` column (``populate_stream.py:96-99``).

    Event time is ``2024-01-01 + (doc_id*137 mod 86400) seconds`` —
    deterministic, reproducible in ANSI SQL, and *out of order* with
    respect to arrival (doc_id) order, which is what makes the
    watermark meaningful (see FIXTURES.md §A on the reference's
    out-of-order ``publish_date``).
    """
    docs = catalog.load(spark, sf_dir, "documents")
    publish_ts = F.timestamp_seconds(F.lit(_EPOCH_2024) + (F.col("doc_id") * 137) % 86400)
    return docs.select(
        F.to_json(
            F.struct(
                F.col("doc_id").cast("string").alias("article_id"),
                F.col("source").alias("title"),
                F.col("lang").alias("author"),
                F.date_format(publish_ts, "yyyy-MM-dd HH:mm:ss").alias("publish_date"),
                F.col("text").alias("content"),
            )
        ).alias("data")
    )


def parse_articles(payload: DataFrame) -> DataFrame:
    """P1-P4: payload column -> typed article columns.

    ``from_json`` with the declared schema (PERMISSIVE: malformed ->
    nulls), struct flatten, ISO-8601 ``to_timestamp``. Mirrors
    ``process_articles.py:62-68``.
    """
    return (
        payload.select(F.from_json(F.col("data").cast("string"), ARTICLE_SCHEMA).alias("article"))
        .select("article.*")
        .withColumn("publish_date", F.to_timestamp(F.col("publish_date")))
    )


def with_word_count(articles: DataFrame, text_col: str = "content") -> DataFrame:
    """P5/P6: whitespace-run tokenize + array length
    (``process_articles.py:74-75``), tokenized by
    ``functions/text.tokens_col``."""
    return articles.withColumn("words", tokens_col(text_col)).withColumn(
        "word_count", F.size(F.col("words"))
    )


def windowed_avg_word_count(
    articles: DataFrame,
    width: str = "5 minutes",
    slide: str | None = "1 minute",
    watermark: str | None = None,
    time_col: str = "publish_date",
    key_col: str = "author",
) -> DataFrame:
    """G1-G4 + P7: (watermark ->) window x key -> avg(word_count) ->
    flatten window struct. ``slide=None`` gives a tumbling window.

    In batch mode the watermark is a no-op (Spark ignores it), so the
    same function body serves the streaming pipeline and the oracle-
    checked batch query.
    """
    if watermark is not None:
        articles = articles.withWatermark(time_col, watermark)
    win = (
        F.window(F.col(time_col), width, slide) if slide else F.window(F.col(time_col), width)
    )
    return (
        articles.groupBy(win, F.col(key_col))
        .agg(F.avg("word_count").alias("average_word_count"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            F.col(key_col),
            F.col("average_word_count"),
        )
    )


def article_pipeline(payload: DataFrame, slide: str | None = "1 minute", watermark: str | None = None) -> DataFrame:
    """The complete reference pipeline over a payload DataFrame —
    shared verbatim by the batch queries below and by
    ``streaming/pipeline.py`` (readStream/writeStream wrapper)."""
    return windowed_avg_word_count(
        with_word_count(parse_articles(payload)), width="5 minutes", slide=slide, watermark=watermark
    )


# --- DuckDB oracle scaffolding -------------------------------------------
# The oracle computes the same result directly from `documents`:
# publish_date is re-derived, word_count = len(string_split_regex(text)),
# and the 5-min/1-min sliding window is expanded with a per-row
# generate_series over the window starts that contain the event time
# (epoch-aligned, exactly Spark's window() assignment rule).

# NB: must stay timezone-independent — DuckDB's to_timestamp() yields
# TIMESTAMPTZ whose cast to naive TIMESTAMP depends on the host TimeZone
# setting; make_timestamp(micros) is always naive-UTC arithmetic.
_ORACLE_BASE = f"""
WITH articles AS (
    SELECT
        lang AS author,
        make_timestamp(({_EPOCH_2024} + (doc_id * 137) % 86400) * 1000000) AS publish_date,
        len(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS word_count
    FROM documents
)
"""

_ORACLE_SLIDING = (
    _ORACLE_BASE
    + """
, exploded AS (
    SELECT author, word_count, ws AS window_start
    FROM articles,
         LATERAL unnest(generate_series(
             make_timestamp((epoch_us(publish_date) // 60000000) * 60000000) - INTERVAL 4 MINUTE,
             make_timestamp((epoch_us(publish_date) // 60000000) * 60000000),
             INTERVAL 1 MINUTE)) AS t(ws)
)
SELECT window_start,
       window_start + INTERVAL 5 MINUTE AS window_end,
       author,
       avg(word_count) AS average_word_count
FROM exploded
GROUP BY window_start, author
"""
)

_ORACLE_TUMBLING = (
    _ORACLE_BASE
    + """
SELECT make_timestamp((epoch_us(publish_date) // 300000000) * 300000000) AS window_start,
       make_timestamp((epoch_us(publish_date) // 300000000) * 300000000) + INTERVAL 5 MINUTE AS window_end,
       author,
       avg(word_count) AS average_word_count
FROM articles
GROUP BY window_start, window_end, author
"""
)


@register(
    "article_pipeline_sliding",
    oracle=_ORACLE_SLIDING,
    tags=("reference", "P1", "P2", "P3", "P4", "P5", "P6", "P7", "G2", "G3", "G4"),
    doc="Flagship: full reference pipeline, 5 min windows sliding 1 min by author.",
)
def article_pipeline_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return article_pipeline(documents_as_article_payload(spark, sf_dir), slide="1 minute")


@register(
    "article_pipeline_tumbling",
    oracle=_ORACLE_TUMBLING,
    tags=("reference", "G2-tumbling"),
    doc="Reference pipeline with a 5-minute tumbling window (slide omitted).",
)
def article_pipeline_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return article_pipeline(documents_as_article_payload(spark, sf_dir), slide=None)


@register(
    "article_enriched_rows",
    oracle=None,  # uuid()/current_timestamp() are nondeterministic -> rows-only
    tags=("reference", "P8"),
    doc=(
        "The reference's declared-but-unfinished intent (process_articles.py:69-70, "
        "commented out): per-record uuid + processing timestamp on the parsed, "
        "word-counted articles."
    ),
)
def article_enriched_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = with_word_count(parse_articles(documents_as_article_payload(spark, sf_dir)))
    return parsed.select(
        "article_id",
        "author",
        "publish_date",
        "word_count",
        F.expr("uuid()").alias("unique_id"),
        F.current_timestamp().alias("processing_timestamp"),
    )
