"""URL canonicalization and canonical-URL dedup — the first stage of
every crawl-curation pipeline.

Crawls reach the same page through many spellings: scheme/host case,
explicit default ports, tracking parameters (``utm_*``), parameter
order, fragments. Exact-hash dedup (``dedup_exact``) misses all of
them; URL canonicalization folds the spellings into one key *before*
any content-based stage, which is both the cheapest dedup signal
(map-only, no text processing) and the join key for recrawl/refresh
bookkeeping.

The documents table carries no URL column, so the specs first derive a
raw URL per document from its keys — the same JVM-expression-shared-
with-the-oracle discipline as the codec params
(``multimodal_codec.codec_params``): Python never invents a value the
oracle can't restate, and the derivation deliberately sprays the
equivalence classes (case, port, param order, tracking params,
fragments) so normalization has real work to do. The OPERATOR under
test is the normalizer itself, which works on the raw URL STRING with
regex/array expressions — exactly what it would do on a real crawl
column:

1. scheme and host lowercase,
2. default port stripped (``:80`` for http, ``:443`` for https; other
   ports kept),
3. fragment dropped,
4. query split on ``&``, ``utm_*`` keys dropped, survivors sorted and
   rejoined (``?`` dropped when nothing survives),
5. trailing ``/`` stripped from a non-root path.

Everything is built-in string/array expressions (regexp_extract,
filter, array_sort) — map-only, whole-stage-codegen, zero Python. The
dedup spec adds the corpus-grain first-occurrence fold: ONE shuffle on
the canonical key (the ``dedup_exact`` plan shape) at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.registry import register

#: Raw-URL synthesis (SQL shared verbatim with the oracle). Each piece
#: varies with a different small modulus so the cross product spreads
#: documents over collision classes that only canonicalization folds:
#: ~40 path slugs x 20 id params collapse 500 docs into duplicate
#: groups whose members differ in case, port spelling, tracking params,
#: param order, and fragments. abs() guards hostile negative doc_ids
#: (both engines keep the dividend's sign in %).
def _raw_url_sql(str_t: str) -> str:
    """``str_t`` is the engine's string cast type — 'STRING' for Spark,
    'VARCHAR' for DuckDB (the one divergence in otherwise-shared SQL)."""
    return f"""
CASE WHEN abs(doc_id % 3) = 0 THEN 'HTTP' WHEN abs(doc_id % 3) = 1 THEN 'https' ELSE 'Http' END
|| '://'
|| CASE WHEN abs(doc_id % 2) = 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END
|| CASE WHEN abs(doc_id % 5) = 0 THEN ':80'
        WHEN abs(doc_id % 5) = 1 THEN ':443'
        WHEN abs(doc_id % 5) = 2 THEN ':8080' ELSE '' END
|| '/articles/' || CAST(abs(doc_id % 40) AS {str_t})
|| CASE WHEN abs(doc_id % 7) = 0 THEN '/' ELSE '' END
|| CASE WHEN abs(doc_id % 4) = 0 THEN '?utm_source=feed&id=' || CAST(abs(doc_id % 20) AS {str_t}) || '&b=2'
        WHEN abs(doc_id % 4) = 1 THEN '?b=2&id=' || CAST(abs(doc_id % 20) AS {str_t})
        WHEN abs(doc_id % 4) = 2 THEN '?id=' || CAST(abs(doc_id % 20) AS {str_t}) || '&b=2&utm_campaign=x'
        ELSE '' END
|| CASE WHEN abs(doc_id % 6) = 0 THEN '#section-' || CAST(abs(doc_id % 3) AS {str_t}) ELSE '' END
"""


_RAW_URL = _raw_url_sql("VARCHAR")  # oracle form
_RAW_URL_SPARK = _raw_url_sql("STRING")

#: DuckDB canonicalization over a ``raw`` column — mirrors
#: :func:`canonical_url_col` step for step. DuckDB's regexp_extract
#: returns NULL on no-match where Spark returns '' — every extraction
#: that can miss (port, query) coalesces to '' to keep the engines on
#: the same value.
_CANON_SQL = r"""
lower(regexp_extract(raw, '^([^:/?#]+)://', 1))
|| '://'
|| lower(regexp_extract(raw, '^[^:/?#]+://([^/?#:]*)', 1))
|| CASE
     WHEN coalesce(regexp_extract(raw, '^[^:/?#]+://[^/?#:]*:([0-9]+)', 1), '') = '' THEN ''
     WHEN lower(regexp_extract(raw, '^([^:/?#]+)://', 1)) = 'http'
          AND regexp_extract(raw, '^[^:/?#]+://[^/?#:]*:([0-9]+)', 1) = '80' THEN ''
     WHEN lower(regexp_extract(raw, '^([^:/?#]+)://', 1)) = 'https'
          AND regexp_extract(raw, '^[^:/?#]+://[^/?#:]*:([0-9]+)', 1) = '443' THEN ''
     ELSE ':' || regexp_extract(raw, '^[^:/?#]+://[^/?#:]*:([0-9]+)', 1)
   END
|| CASE
     WHEN coalesce(regexp_extract(raw, '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '') IN ('', '/') THEN '/'
     ELSE regexp_replace(regexp_extract(raw, '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '/$', '')
   END
|| CASE
     WHEN coalesce(array_to_string(
            list_sort(list_filter(string_split(coalesce(regexp_extract(raw, '\?([^#]*)', 1), ''), '&'),
                                  p -> p <> '' AND NOT starts_with(p, 'utm_'))),
            '&'), '') = '' THEN ''
     ELSE '?' || array_to_string(
            list_sort(list_filter(string_split(coalesce(regexp_extract(raw, '\?([^#]*)', 1), ''), '&'),
                                  p -> p <> '' AND NOT starts_with(p, 'utm_'))),
            '&')
   END
"""


def raw_url_col():
    """The synthesized raw-URL column (JVM expression, shared SQL)."""
    return F.expr(_RAW_URL_SPARK)


def canonical_url_col(raw: str = "raw"):
    """Canonical form of URL column ``raw`` — built-in expressions only.

    Spark twin of ``_CANON_SQL``; regexes are shared strings, the array
    pipeline is filter -> array_sort -> array_join.
    """
    scheme = F.lower(F.regexp_extract(raw, r"^([^:/?#]+)://", 1))
    host = F.lower(F.regexp_extract(raw, r"^[^:/?#]+://([^/?#:]*)", 1))
    port = F.regexp_extract(raw, r"^[^:/?#]+://[^/?#:]*:([0-9]+)", 1)
    path = F.regexp_extract(raw, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(raw, r"\?([^#]*)", 1)
    port_part = (
        F.when(port == "", "")
        .when((scheme == "http") & (port == "80"), "")
        .when((scheme == "https") & (port == "443"), "")
        .otherwise(F.concat(F.lit(":"), port))
    )
    path_part = F.when(path.isin("", "/"), "/").otherwise(
        F.regexp_replace(path, r"/$", "")
    )
    kept_params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != "") & ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    query_part = F.when(kept_params == "", "").otherwise(
        F.concat(F.lit("?"), kept_params)
    )
    return F.concat(scheme, F.lit("://"), host, port_part, path_part, query_part)


@register(
    "url_normalize",
    oracle=f"""
WITH u AS (
    SELECT doc_id, {_RAW_URL} AS raw FROM documents WHERE doc_id IS NOT NULL
)
SELECT doc_id, raw AS raw_url, {_CANON_SQL} AS canonical_url FROM u
""",
    tags=("url", "canonicalize", "curation", "north-star"),
    doc=(
        "URL canonicalization: lowercase scheme+host, strip default ports "
        "(http:80 / https:443, others kept), drop the fragment, drop utm_* "
        "tracking params, sort surviving query params, strip a trailing "
        "slash from non-root paths. Pure regexp/array expressions over the "
        "raw URL string — map-only, scan-fused, zero shuffles at any scale."
    ),
)
def url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    u = d.select("doc_id", raw_url_col().alias("raw"))
    return u.select(
        "doc_id",
        F.col("raw").alias("raw_url"),
        canonical_url_col().alias("canonical_url"),
    )


@register(
    "dedup_url_canonical",
    oracle=f"""
WITH u AS (
    SELECT doc_id, {_RAW_URL} AS raw FROM documents WHERE doc_id IS NOT NULL
),
c AS (SELECT doc_id, {_CANON_SQL} AS canonical_url FROM u),
g AS (
    SELECT canonical_url,
           min(doc_id)              AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM c GROUP BY canonical_url
)
SELECT c.doc_id, c.canonical_url, g.n_dups,
       c.doc_id = g.keeper_id AS kept
FROM c JOIN g USING (canonical_url)
""",
    tags=("url", "dedup", "curation", "north-star"),
    doc=(
        "Canonical-URL dedup: canonicalize (map-only), fold to one keeper "
        "per canonical form (min doc_id — deterministic first occurrence), "
        "and annotate every document with its group size and keep flag. "
        "ONE shuffle on the canonical key (dedup_exact's plan shape); the "
        "group fold is a hash aggregate with map-side partials, and the "
        "annotate join is the same shuffle's key — no second corpus pass."
    ),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    c = d.select("doc_id", raw_url_col().alias("raw")).select(
        "doc_id", canonical_url_col().alias("canonical_url")
    )
    g = c.groupBy("canonical_url").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count("*").alias("n_dups"),
    )
    return c.join(g, "canonical_url").select(
        "doc_id",
        "canonical_url",
        "n_dups",
        (F.col("doc_id") == F.col("keeper_id")).alias("kept"),
    )
