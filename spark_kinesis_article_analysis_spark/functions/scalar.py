"""Scalar expression families: string, date/time, math, JSON, array
(incl. higher-order), map.

The reference touches exactly four scalar functions (``from_json``,
``to_timestamp``, ``split``, ``size`` — SURVEY.md §2 A.2); these queries
cover the families a complete engine needs. All are pure Catalyst
expressions — JVM-side, whole-stage-codegen'd, no Python boundary — so
per-row cost is branch-free vectorized code at any scale.

Cross-engine semantics pinned here:
- ``substring`` is 1-based in both Spark and DuckDB.
- Spark ``log`` = natural log = DuckDB ``ln``.
- Spark ``dayofweek`` is 1=Sunday..7; DuckDB ``dayofweek`` 0=Sunday..6
  (oracle adds 1).
- Array indexing: Spark ``element_at`` and DuckDB list indexing are both
  1-based.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.functions.text import tokens_col
from spark_kinesis_article_analysis_spark.registry import register


@register(
    "scalar_string_functions",
    oracle="""
SELECT c_custkey,
       lower(c_name)                                   AS name_lower,
       upper(c_mktsegment)                             AS seg_upper,
       -- || not concat(): Spark's concat is NULL if ANY arg is NULL,
       -- DuckDB's concat skips NULLs; || propagates NULL like Spark
       trim(' ' || c_name || ' ', ' ')                 AS name_trim,
       length(c_name)                                  AS name_len,
       substring(c_name, 1, 8)                         AS name_prefix,
       concat_ws('/', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation,
       regexp_extract(c_name, '([0-9]+)', 1)           AS name_digits,
       regexp_replace(c_name, '[0-9]', '#', 'g')       AS name_masked,
       levenshtein(c_mktsegment, 'BUILDING')           AS seg_dist
FROM customer
""",
    tags=("scalar", "string"),
    doc="lower/upper/trim/length/substring/concat_ws/regexp_extract/regexp_replace/levenshtein.",
)
def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("name_lower"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" "))).alias("name_trim"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("/", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias("seg_nation"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("name_digits"),
        F.regexp_replace("c_name", r"[0-9]", "#").alias("name_masked"),
        F.levenshtein(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_dist"),
    )


@register(
    "scalar_date_functions",
    oracle="""
SELECT o_orderkey,
       date_trunc('month', o_orderdate)                 AS order_month,
       year(o_orderdate)                                AS order_year,
       month(o_orderdate)                               AS order_mon,
       dayofmonth(o_orderdate)                          AS order_day,
       hour(o_orderdate)                                AS order_hour,
       dayofweek(o_orderdate) + 1                       AS order_dow,
       -- Spark unix_timestamp() = floorDiv(micros, 1e6). epoch()::BIGINT
       -- ROUNDS (off by one at sub-second tails, fuzz find #15) and
       -- integer // truncates toward zero (wrong pre-1970, kill #11):
       -- exact floor via subtract-positive-mod, then exact division.
       (epoch_us(o_orderdate)
        - ((epoch_us(o_orderdate) % 1000000) + 1000000) % 1000000)
           // 1000000                                    AS order_epoch,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_to_98
FROM orders
""",
    tags=("scalar", "datetime"),
    doc="date_trunc/year/month/day/hour/dayofweek/unix_timestamp/datediff.",
)
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_mon"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.hour("o_orderdate").alias("order_hour"),
        F.dayofweek("o_orderdate").alias("order_dow"),
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
        F.datediff(F.lit("1998-01-01").cast("date"), F.col("o_orderdate")).alias("days_to_98"),
    )


@register(
    "scalar_math_functions",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice, 1)                    AS price_round,
       abs(l_discount - 0.05)                       AS disc_centered,
       -- Spark: sqrt(neg) = NaN, ln(nonpos) = NULL; DuckDB THROWS on
       -- both — guard to mirror the engine
       round(CASE WHEN l_quantity < 0 THEN 'NaN'::DOUBLE
                  ELSE sqrt(l_quantity) END, 6)      AS qty_sqrt,
       CASE WHEN l_extendedprice > 0
            THEN round(ln(l_extendedprice), 6) END   AS price_ln,
       round(pow(l_quantity, 2), 4)                 AS qty_sq,
       CAST(ceil(l_discount * 100) AS BIGINT)       AS disc_pct_ceil,
       CAST(floor(l_tax * 100) AS BIGINT)           AS tax_pct_floor,
       CAST(l_orderkey % 7 AS BIGINT)               AS key_mod7,
       CAST(sign(l_discount - 0.04) AS DOUBLE)      AS disc_sign
FROM lineitem
""",
    tags=("scalar", "math"),
    doc="round/abs/sqrt/ln/pow/ceil/floor/mod/sign arithmetic.",
)
def scalar_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_round"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_centered"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.pow("l_quantity", 2), 4).alias("qty_sq"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.floor(F.col("l_tax") * 100).alias("tax_pct_floor"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.signum(F.col("l_discount") - 0.04).alias("disc_sign"),
    )


@register(
    "scalar_json_functions",
    oracle="""
SELECT event_id,
       CASE WHEN json_valid(props)
            THEN json_extract_string(props, '$.k') END          AS k_str,
       CASE WHEN json_valid(props)
             AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
            THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k_int,
       CASE WHEN json_valid(props)
             AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
            THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 END AS k_doubled
FROM events
""",
    tags=("scalar", "json", "P2"),
    doc=(
        "get_json_object + from_json typed extraction over events.props. "
        "Oracle guards with json_valid/TRY_CAST because Spark's "
        "get_json_object and PERMISSIVE from_json return NULL on "
        "malformed/empty/NULL payloads while DuckDB's json_extract_string "
        "throws; the typed path additionally requires a JSON *integer* "
        "(json_type BIGINT/UBIGINT — DuckDB labels every non-negative int "
        "UBIGINT) because from_json('k BIGINT') does NOT coerce quoted "
        "numbers, floats, or booleans, and TRY_CAST absorbs the >int64 "
        "overflow Spark also nulls. Known limitation, shared by every "
        "json_valid-guarded oracle here: Spark's Jackson parser is "
        "PREFIX-LENIENT ('{\"k\": 1}garbage' extracts 1), which DuckDB "
        "cannot express, and both engines RE-RENDER extracted JSON "
        "numbers (Java prints the double's exact decimal expansion, "
        "DuckDB the shortest round-trip — fuzz-found on 2^-24) — those "
        "two payload classes are the ones the oracles do not mirror "
        "(tests/test_degenerate_events.py + test_differential_fuzz.py "
        "cover the rest)."
    ),
)
def scalar_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k BIGINT")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        parsed["k"].alias("k_int"),
        (parsed["k"] * 2).alias("k_doubled"),
    )


@register(
    "scalar_array_functions",
    oracle="""
WITH toks AS (
    SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS tokens FROM documents
)
SELECT doc_id,
       len(tokens)                                            AS n_tokens,
       len(list_distinct(tokens))                             AS n_distinct,
       tokens[1]                                              AS first_token,
       tokens[len(tokens)]                                    AS last_token,
       array_to_string(list_sort(list_distinct(tokens))[1:5], ' ') AS first5_sorted,
       len(list_filter(tokens, t -> len(t) > 5))              AS n_long,
       list_sum(list_transform(tokens, t -> len(t)))::BIGINT  AS total_chars
FROM toks
""",
    tags=("scalar", "array", "higher-order"),
    doc=(
        "Array family incl. higher-order functions: size/array_distinct/element_at/"
        "slice/sort_array + filter() + transform()+aggregate() (token-length sum) — "
        "the JVM-side building blocks the similarity ops reuse."
    ),
)
def scalar_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens_col()
    t = d.select("doc_id", toks.alias("tokens"))
    return t.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).alias("n_distinct"),
        F.element_at("tokens", 1).alias("first_token"),
        F.element_at("tokens", F.size("tokens")).alias("last_token"),
        F.array_join(F.slice(F.sort_array(F.array_distinct("tokens")), 1, 5), " ").alias(
            "first5_sorted"
        ),
        F.size(F.filter("tokens", lambda x: F.length(x) > 5)).alias("n_long"),
        F.aggregate(
            F.transform("tokens", lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
    )


@register(
    "scalar_map_functions",
    oracle="""
SELECT doc_id,
       2                                   AS n_keys,
       'chars|tokens'                      AS keys_sorted,
       n_chars                             AS chars_val,
       len(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'))::BIGINT AS tokens_val
FROM documents
""",
    tags=("scalar", "map"),
    doc=(
        "Map construction + access (map_from_arrays/element_at/map_keys); the oracle "
        "checks the scalars extracted back out of the map, which is the portable form."
    ),
)
def scalar_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    m = F.map_from_arrays(
        F.array(F.lit("chars"), F.lit("tokens")),
        F.array(F.col("n_chars"), F.size(tokens_col()).cast("long")),
    )
    return d.select(
        "doc_id",
        F.size(m).alias("n_keys"),
        F.array_join(F.sort_array(F.map_keys(m)), "|").alias("keys_sorted"),
        F.element_at(m, "chars").alias("chars_val"),
        F.element_at(m, "tokens").alias("tokens_val"),
    )


@register(
    "scalar_null_functions",
    oracle="""
SELECT o_orderkey,
       coalesce(nullif(o_orderstatus, 'P'), 'PENDING')           AS status_norm,
       (nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM 'F')     AS is_f_nullsafe,
       (nullif(o_orderstatus, 'P') IS NULL)                      AS was_pending,
       ifnull(nullif(o_orderpriority, '1-URGENT'), 'urgent!')    AS prio_norm
FROM orders
""",
    tags=("scalar", "null"),
    doc="coalesce/nullif/ifnull + null-safe equality (<=> / IS NOT DISTINCT FROM).",
)
def scalar_null_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    status_nn = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return o.select(
        "o_orderkey",
        F.coalesce(status_nn, F.lit("PENDING")).alias("status_norm"),
        status_nn.eqNullSafe(F.lit("F")).alias("is_f_nullsafe"),
        status_nn.isNull().alias("was_pending"),
        F.ifnull(F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")), F.lit("urgent!")).alias(
            "prio_norm"
        ),
    )


@register(
    "scalar_conditional",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity >= 40 THEN 'bulk'
            WHEN l_quantity >= 10 THEN 'mid'
            ELSE 'small' END                           AS qty_band,
       CASE l_returnflag WHEN 'A' THEN 'accepted'
                         WHEN 'R' THEN 'returned'
                         ELSE 'none' END               AS flag_name,
       greatest(l_discount, l_tax)                     AS max_rate,
       least(l_discount, l_tax)                        AS min_rate,
       if(l_discount > 0.05, 'discounted', 'full')     AS price_kind
FROM lineitem
""",
    tags=("scalar", "conditional"),
    doc="CASE WHEN (searched + simple), if(), greatest/least.",
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") >= 40, "bulk")
        .when(F.col("l_quantity") >= 10, "mid")
        .otherwise("small")
        .alias("qty_band"),
        F.when(F.col("l_returnflag") == "A", "accepted")
        .when(F.col("l_returnflag") == "R", "returned")
        .otherwise("none")
        .alias("flag_name"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        F.when(F.col("l_discount") > 0.05, "discounted").otherwise("full").alias("price_kind"),
    )


@register(
    "scalar_hash_encode",
    oracle="""
SELECT c_custkey,
       md5(c_name)                       AS name_md5,
       sha256(c_name)                    AS name_sha256,
       -- encode(), NOT ::BLOB: DuckDB's VARCHAR->BLOB cast interprets
       -- backslash escapes ('\\x41'::BLOB is ONE byte 0x41; a lone
       -- backslash THROWS), silently hashing different bytes than Spark
       -- for any text containing a backslash (fuzz find #18). encode()
       -- is the faithful UTF-8-bytes conversion.
       -- MIME chunking (fuzz find #21): Spark's base64() is Java's
       -- MIME encoder — a CRLF every 76 output chars, no trailing
       -- separator, no conf to disable in Spark 4 (probed). Inputs
       -- >= 57 UTF-8 bytes cross the wrap; mirror by inserting CRLF
       -- per 76 chars then stripping the trailing one (RE2 has no
       -- lookahead; base64 text never ends in CR/LF otherwise).
       rtrim(regexp_replace(to_base64(encode(c_name)),
                            '(.{76})', '\\1' || chr(13) || chr(10), 'g'),
             chr(13) || chr(10))          AS name_b64,
       hex(encode(c_name))               AS name_hex
FROM customer
""",
    tags=("scalar", "hash", "encode"),
    doc="md5 / sha2-256 / base64 / hex — content-hash utilities the dedup ops build on.",
)
def scalar_hash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2(F.col("c_name"), 256).alias("name_sha256"),
        F.base64(F.encode("c_name", "utf-8")).alias("name_b64"),
        F.hex(F.col("c_name")).alias("name_hex"),
    )


@register(
    "scalar_months_between",
    oracle="""
SELECT o_orderkey,
       round((1998 - year(o_orderdate)) * 12 + (1 - month(o_orderdate))
             + CASE WHEN dayofmonth(o_orderdate) = 1 THEN 0.0
                    -- Spark's 31-day-month fraction INCLUDES time of
                    -- day: (dayDiff*86400 - secondsIntoDay2)/(31*86400).
                    -- seconds-into-day via epoch arithmetic so
                    -- sub-second components mirror too (second()
                    -- truncates them).
                    ELSE ((1 - dayofmonth(o_orderdate)) * 86400.0
                          - (epoch_us(o_orderdate)
                             - epoch_us(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP))) / 1e6)
                         / (31.0 * 86400.0)
               END, 8) AS months_to_98
FROM orders
""",
    tags=("scalar", "datetime", "months-between"),
    doc=(
        "months_between against 1998-01-01. Spark's rule: same day-of-month "
        "(or both last-of-month) -> integer months, time ignored; otherwise "
        "the fraction is (dayDiff*86400 - secondsIntoDay)/(31*86400). With "
        "target day 1 (never a last day) that collapses to the day2=1 branch "
        "plus the time-aware fraction — spelled in full in the oracle so "
        "timestamps WITH time components mirror (the previous closed formula "
        "assumed midnight orderdates; fuzz-hardened round 5)."
    ),
)
def scalar_months_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.months_between(F.lit("1998-01-01").cast("timestamp"), F.col("o_orderdate")).alias(
            "months_to_98"
        ),
    )


@register(
    "scalar_posexplode",
    oracle="""
SELECT doc_id, i - 1 AS pos, t[i] AS token
FROM (SELECT doc_id, string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
     LATERAL unnest(generate_series(1, len(t))) AS u(i)
WHERE doc_id < 50
""",
    tags=("scalar", "array", "posexplode"),
    doc="posexplode: token stream with 0-based positions (bounded to 50 docs).",
)
def scalar_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id", F.posexplode(tokens_col()).alias("pos", "token")
    )


@register(
    "scalar_array_setops",
    # The b-side derivation is an ASCII-only translate, NOT upper():
    # fuzz find #25 (r8 4x hunt) — Spark/Java upper() applies FULL
    # Unicode case mapping (ß -> SS, ᾚ -> ἪΙ, one codepoint becoming
    # two) while DuckDB/utf8proc applies simple 1:1 mapping (ß -> ẞ,
    # ᾚ -> ᾚ), so an upper()-derived token set disagrees between the
    # engines on any corpus containing special-casing codepoints —
    # German text hits ß immediately. translate() is per-codepoint on
    # both engines, making the whole set-op contract verifiable on ANY
    # input (this spec exists to exercise the array set-ops, not case
    # semantics).
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_distinct(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+')) AS a,
           list_distinct(string_split_regex(
               translate(text, 'abcdefghijklmnopqrstuvwxyz',
                               'ABCDEFGHIJKLMNOPQRSTUVWXYZ'),
               '[ \\t\\n\\x0b\\f\\r]+')) AS b
    FROM documents
)
SELECT doc_id,
       len(list_distinct(a || b))                                   AS n_union,
       len(list_filter(a, x -> list_contains(b, x)))                AS n_intersect,
       len(list_filter(a, x -> NOT list_contains(b, x)))            AS n_except,
       array_to_string(list_sort(list_transform(generate_series(1, 3), i -> i * 10)), ',')
           AS seq_str
FROM t
""",
    tags=("scalar", "array", "setops"),
    doc=(
        "array_union/array_intersect/array_except cardinalities + sequence "
        "generation; the compared token variant uses an ASCII translate "
        "(portable across engines) rather than upper() (full-vs-simple "
        "Unicode case mapping diverges between JVM and utf8proc)."
    ),
)
def scalar_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    a = F.array_distinct(tokens_col())
    b = F.array_distinct(
        tokens_col(
            F.translate(
                "text",
                "abcdefghijklmnopqrstuvwxyz",
                "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
            )
        )
    )
    return d.select(
        "doc_id",
        F.size(F.array_union(a, b)).alias("n_union"),
        F.size(F.array_intersect(a, b)).alias("n_intersect"),
        F.size(F.array_except(a, b)).alias("n_except"),
        F.array_join(
            F.sort_array(F.transform(F.sequence(F.lit(1), F.lit(3)), lambda i: i * 10)), ","
        ).alias("seq_str"),
    )


@register(
    "scalar_string_extended",
    oracle="""
SELECT c_custkey,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0')       AS key_padded,
       repeat(c_mktsegment[1:1], 3)                   AS initial_x3,
       replace(c_name, '#', '-')                      AS name_dashed,
       CASE WHEN len(c_name) = 0 THEN c_name
            ELSE upper(c_name[1:1]) || lower(c_name[2:]) END AS name_initcap_ish,
       -- DuckDB's split_part(NULL, ...) yields '' — Spark propagates NULL
       CASE WHEN c_name IS NULL THEN NULL
            ELSE split_part(c_name, '#', 1) END       AS name_head,
       reverse(c_mktsegment)                          AS seg_rev,
       starts_with(c_mktsegment, 'BU')                AS is_bu,
       contains(c_name, '1')                          AS has_one
FROM customer
""",
    tags=("scalar", "string", "extended"),
    doc="lpad/repeat/replace/split_part/reverse/startswith/contains (+ a portable initcap form).",
)
def scalar_string_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.repeat(F.substring("c_mktsegment", 1, 1), 3).alias("initial_x3"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.when(F.length("c_name") == 0, F.col("c_name"))
        .otherwise(
            F.concat(
                F.upper(F.substring("c_name", 1, 1)),
                F.lower(F.expr("substring(c_name, 2)")),
            )
        )
        .alias("name_initcap_ish"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("name_head"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.startswith(F.col("c_mktsegment"), F.lit("BU")).alias("is_bu"),
        F.contains(F.col("c_name"), F.lit("1")).alias("has_one"),
    )


@register(
    "scalar_date_arithmetic",
    oracle="""
SELECT o_orderkey,
       CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP)               AS due_date,
       CAST(CAST(o_orderdate AS DATE) - 7 AS TIMESTAMP)                AS week_before,
       CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS TIMESTAMP) AS quarter_later,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)          AS month_end,
       date_trunc('quarter', o_orderdate)                              AS quarter_start,
       quarter(o_orderdate)                                            AS q,
       weekofyear(o_orderdate)                                         AS woy
FROM orders
""",
    tags=("scalar", "datetime", "arithmetic"),
    doc="date_add/date_sub/add_months/last_day/quarter/weekofyear arithmetic.",
)
def scalar_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    # DATE results are cast back to timestamp: a DATE column collects as
    # python date objects, which hash/compare differently from the
    # oracle's datetime64 values even when equal
    return o.select(
        "o_orderkey",
        F.date_add(d, 30).cast("timestamp").alias("due_date"),
        F.date_sub(d, 7).cast("timestamp").alias("week_before"),
        F.add_months(d, 3).cast("timestamp").alias("quarter_later"),
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.date_trunc("quarter", "o_orderdate").alias("quarter_start"),
        F.quarter("o_orderdate").alias("q"),
        F.weekofyear("o_orderdate").alias("woy"),
    )


@register(
    "scalar_bitwise",
    oracle="""
SELECT o_orderkey,
       o_orderkey & 255                      AS low_byte,
       o_orderkey | 15                       AS or15,
       xor(o_orderkey, 255)                  AS xor255,
       o_orderkey << 2                       AS shl2,
       o_orderkey >> 3                       AS shr3,
       bit_count(CAST(o_orderkey AS BIGINT)) AS popcount,
       ~o_orderkey                           AS inverted
FROM orders
""",
    tags=("scalar", "bitwise"),
    doc="Bitwise family: and/or/xor/shifts/popcount/not — sketch and bucketing building blocks.",
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(255).alias("low_byte"),
        k.bitwiseOR(15).alias("or15"),
        k.bitwiseXOR(255).alias("xor255"),
        F.shiftleft(k, 2).alias("shl2"),
        F.shiftright(k, 3).alias("shr3"),
        F.bit_count(k.cast("bigint")).alias("popcount"),
        F.bitwise_not(k).alias("inverted"),
    )


@register(
    "agg_histogram_width_bucket",
    oracle="""
-- DuckDB has no width_bucket; this is its exact definition for
-- (lo=0, hi=600000, n=12): bucket width 600000/12 = 50000.0 exactly,
-- so the double arithmetic matches Spark's WidthBucket bit-for-bit.
SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                 WHEN o_totalprice >= 600000 THEN 13
                 ELSE floor(o_totalprice / 50000.0) + 1 END AS INT) AS bucket,
       count(*)                            AS n,
       round(min(o_totalprice), 4)         AS lo,
       round(max(o_totalprice), 4)         AS hi
FROM orders
GROUP BY bucket
""",
    tags=("agg", "histogram"),
    doc=(
        "Equi-width numeric histogram via width_bucket + count — the "
        "profiling pass shape. Partial aggregation makes it one small "
        "shuffle of at most n_buckets rows per task at any scale."
    ),
)
def agg_histogram_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.select(F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12)).cast("int").alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
    )


@register(
    "scalar_json_extended",
    oracle="""
SELECT event_id,
       CASE WHEN json_valid(props)
            THEN json_extract_string(props, '$.k') END AS k_tuple,
       CASE WHEN props IS NULL
              OR trim(props, ' ' || chr(9) || chr(10) || chr(13)) = '' THEN NULL
            WHEN NOT json_valid(props) THEN '{}'
            WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                 AND TRY_CAST(props::JSON ->> 'k' AS BIGINT) IS NOT NULL
                 THEN '{"k":' || TRY_CAST(props::JSON ->> 'k' AS BIGINT) || '}'
            ELSE '{}' END AS canonical_json,
       'STRUCT<k: BIGINT>'                                  AS schema_str,
       'a,b'                                                AS map_keys_str
FROM events
""",
    tags=("scalar", "json", "map"),
    doc=(
        "json_tuple multi-field extraction, from_json->to_json canonical "
        "round-trip, schema_of_json inference (pinned textually), and "
        "str_to_map parsing. Completes the JSON family beyond "
        "get_json_object/from_json. Oracle mirrors Spark's degenerate "
        "behavior exactly — and it is the OPPOSITE of the intuitive rule: "
        "PERMISSIVE from_json turns a MALFORMED payload into an all-null "
        "row (to_json -> '{}'), while an empty/NULL payload yields a NULL "
        "row (to_json -> NULL); valid JSON with a missing or non-integer k "
        "also prints '{}' because to_json drops null fields."
    ),
)
def scalar_json_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.json_tuple("props", "k").alias("k_tuple"),
        F.to_json(F.from_json("props", "k bigint")).alias("canonical_json"),
        F.schema_of_json(F.lit('{"k": 87}')).alias("schema_str"),
        F.array_join(
            F.map_keys(F.str_to_map(F.lit("a:1,b:2"), F.lit(","), F.lit(":"))), ","
        ).alias("map_keys_str"),
    )


@register(
    "scalar_regexp_misc",
    oracle="""
SELECT c_custkey,
       len(regexp_extract_all(c_name, '[0-9]'))                 AS n_digits,
       -- empty match list: Spark array_join -> '', DuckDB -> NULL;
       -- NULL input: both NULL
       CASE WHEN c_name IS NULL THEN NULL
            ELSE coalesce(array_to_string(regexp_extract_all(c_name, '[0-9]'), ''), '')
       END                                                      AS digits_cat,
       translate(c_mktsegment, 'AEIOU', 'aeiou')                AS seg_vowel_lower,
       c_name[1:9] || '<<' || c_name[12:]                       AS name_overlaid
FROM customer
""",
    tags=("scalar", "string", "regexp"),
    doc=(
        "regexp_extract_all (all matches, not just first), translate "
        "(char-map), overlay (splice) — the remaining string builtins."
    ),
)
def scalar_regexp_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    # Spark's regexp_extract_all extracts group 1 by default -> wrap the
    # class in a group (DuckDB's extracts the full match, same thing here)
    digits = F.regexp_extract_all(F.col("c_name"), F.lit("([0-9])"))
    return c.select(
        "c_custkey",
        F.size(digits).alias("n_digits"),
        F.array_join(digits, "").alias("digits_cat"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_vowel_lower"),
        F.overlay("c_name", F.lit("<<"), 10, 2).alias("name_overlaid"),
    )


@register(
    "scalar_explode_outer",
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> len(x) > 18) AS rare
    FROM documents
)
SELECT doc_id,
       CASE WHEN len(rare) = 0 THEN NULL ELSE u.tok END AS rare_token
FROM t LEFT JOIN LATERAL unnest(CASE WHEN len(rare) = 0 THEN [NULL] ELSE rare END) AS u(tok) ON TRUE
""",
    tags=("scalar", "array", "explode"),
    doc=(
        "explode_outer: docs with no qualifying element keep one null row "
        "instead of vanishing — the outer form of the 1-to-N expansion."
    ),
)
def scalar_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    rare = F.filter(tokens_col(), lambda x: F.length(x) > 18)
    return d.select("doc_id", F.explode_outer(rare).alias("rare_token"))


@register(
    "scalar_try_functions",
    oracle="""
SELECT l_orderkey, l_linenumber,
       TRY_CAST(o_orderpriority AS BIGINT) AS priority_as_int,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS priority_digit,
       -- trunc() first: Spark's double->BIGINT cast truncates toward
       -- zero, DuckDB's CAST rounds half away (23.5 -> 24) — fuzz-found
       CASE WHEN CAST(trunc(l_quantity) AS BIGINT) - 1 = 0 THEN NULL
            ELSE l_extendedprice / (CAST(trunc(l_quantity) AS BIGINT) - 1) END
           AS price_per_extra_unit,
       CASE WHEN len(string_split_regex(o_orderpriority, '-')) >= 3
            THEN string_split_regex(o_orderpriority, '-')[3] ELSE NULL END
           AS priority_part3
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
""",
    tags=("scalar", "ansi", "try"),
    doc=(
        "ANSI-safe error handling (Spark 4 runs ansi=true): try_cast yields "
        "null on bad casts ('1-URGENT' is not a BIGINT; its leading digit is), "
        "try_divide on zero denominators (quantity=1 rows), try_element_at "
        "past array bounds — instead of failing the 100-TB job on one bad "
        "row. Oracle spells out the same null semantics with CASE."
    ),
)
def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # Order-grain scalars evaluate BELOW the join — once per order, not
    # once per lineitem (4x). This matters doubly for the always-failing
    # try_cast: a failed ANSI cast costs an exception construction per
    # row, ~10x a normal cast (measured 6.1s vs 0.8s at lineitem grain) —
    # a cost Catalyst won't move for you, since projections don't push
    # through joins.
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("try_cast(o_orderpriority AS BIGINT)").alias("priority_as_int"),
        F.expr("try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)").alias(
            "priority_digit"
        ),
        F.try_element_at(F.split("o_orderpriority", "-"), F.lit(3)).alias(
            "priority_part3"
        ),
    )
    qty_minus_1 = F.col("l_quantity").cast("bigint") - 1
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        "priority_as_int",
        "priority_digit",
        # raw IEEE division: bit-identical across engines (round() is NOT —
        # Spark rounds half-up, DuckDB half-even, and /16-style quotients
        # hit exact .5 ties)
        F.try_divide("l_extendedprice", qty_minus_1).alias("price_per_extra_unit"),
        "priority_part3",
    )


@register(
    "scalar_xml_functions",
    oracle=r"""
SELECT o_orderkey,
       o_orderkey   AS xml_id,
       -- Both XML paths newline-normalize element text (\r\n and bare
       -- \r become \n — XML 1.0 §2.11, probed on tab/LF/CR corpora);
       -- from_xml (StaxXML, ignoreSurroundingSpaces) additionally TRIMS
       -- the surrounding whitespace class (Java trim: space/tab/LF/CR)
       -- — '  sp  aces ' parses as 'sp  aces' (inner runs and NBSP
       -- survive). After normalization no \r remains, so the trim
       -- class is [\t\n ]. The xpath_* path only normalizes.
       regexp_replace(regexp_replace(o_orderpriority, '\r\n|\r', chr(10), 'g'),
                      '^[\t\n ]+|[\t\n ]+$', '', 'g') AS xml_priority,
       regexp_replace(o_orderstatus, '\r\n|\r', chr(10), 'g') AS xml_status
FROM orders WHERE o_orderkey % 7 = 0
""",
    tags=("scalar", "xml"),
    doc=(
        "XML surface (Spark 4 built-ins): rows serialized to an XML string "
        "(entity-escaped, so markup characters in the data survive), then "
        "re-extracted via xpath_long on an attribute, xpath_string on "
        "elements, and a from_xml struct field. The oracle is the round-trip "
        "identity — Spark must actually parse the XML to reproduce it — "
        "except that both parse paths newline-normalize (\\r(\\n) -> \\n) "
        "and the from_xml column also trims surrounding whitespace "
        "(StaxXML's ignoreSurroundingSpaces default = Java trim over "
        "space/tab/LF/CR), mirrored with regexp_replace. Domain: tab/LF/CR "
        "are LEGAL XML 1.0 chars (fuzzed); the other controls (< 0x20) are "
        "illegal even escaped and stay out; NULL fields null the whole "
        "serialized row (concat semantics)."
    ),
)
def scalar_xml_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)

    def esc(col: str):
        # Serialize-side XML escaping ('&' FIRST, then the brackets) so
        # text containing markup characters survives the round trip —
        # xpath/from_xml resolve the entities back, keeping the oracle
        # an identity projection modulo the parser's newline
        # normalization + from_xml trim (mirrored in the oracle).
        # Tab/LF/CR are legal XML 1.0 text; the OTHER controls (< 0x20)
        # remain outside the domain — illegal even escaped (probed:
        # \x0b kills the xpath evaluator with a SAXParseException).
        c = F.replace(F.col(col), F.lit("&"), F.lit("&amp;"))
        c = F.replace(c, F.lit("<"), F.lit("&lt;"))
        return F.replace(c, F.lit(">"), F.lit("&gt;"))

    xml = F.concat(
        F.lit('<order id="'),
        F.col("o_orderkey").cast("string"),
        F.lit('"><priority>'),
        esc("o_orderpriority"),
        F.lit("</priority><status>"),
        esc("o_orderstatus"),
        F.lit("</status></order>"),
    )
    w = o.select("o_orderkey", xml.alias("xml"))
    parsed = F.from_xml("xml", "priority STRING, status STRING")
    return w.select(
        "o_orderkey",
        F.xpath_long("xml", F.lit("/order/@id")).alias("xml_id"),
        parsed.getField("priority").alias("xml_priority"),
        F.xpath_string("xml", F.lit("/order/status")).alias("xml_status"),
    )


@register(
    "scalar_variant_json",
    oracle=r"""
SELECT event_id,
       CASE WHEN NOT json_valid(props) THEN NULL
            WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                 THEN TRY_CAST(props::JSON ->> 'k' AS INTEGER)
            WHEN json_type(props, '$.k') = 'VARCHAR'
                 -- Spark's string->int cast accepts only integral strings;
                 -- DuckDB TRY_CAST would also round '12.5' and parse
                 -- '1e2'/'0x10', which Spark nulls. The trim class is
                 -- UTF8String.trimAll's <= 0x20 (probed: '\x0b8', '\x1f8',
                 -- '8\x00' all cast to 8) — NOT regex \s.
                 AND regexp_matches(props::JSON ->> 'k', '^[\x00-\x20]*[+-]?[0-9]+[\x00-\x20]*$')
                 -- ...and DuckDB's own cast trims only C whitespace (not
                 -- \x1f etc.), so strip the full class before casting
                 THEN TRY_CAST(regexp_replace(props::JSON ->> 'k',
                                              '^[\x00-\x20]+|[\x00-\x20]+$', '', 'g')
                               AS INTEGER)
            WHEN json_type(props, '$.k') = 'DOUBLE'
                 THEN TRY_CAST(trunc(TRY_CAST(props::JSON ->> 'k' AS DOUBLE)) AS INTEGER)
            WHEN json_type(props, '$.k') = 'BOOLEAN'
                 THEN CASE WHEN (props::JSON ->> 'k') = 'true' THEN 1 ELSE 0 END
       END                                  AS k_int,
       CAST(NULL AS VARCHAR)                AS k_missing,
       coalesce(NOT json_valid('{' || props), TRUE) AS bad_parse_is_null,
       event_id                             AS strict_roundtrip
FROM events
""",
    tags=("scalar", "variant", "json"),
    doc=(
        "VARIANT type (Spark 4): the props-wide path goes through "
        "try_parse_json + try_variant_get, so malformed/empty/NULL payloads "
        "yield NULL instead of failing the job — the open-schema ingestion "
        "posture an event column requires (strict parse_json on a raw "
        "corpus column is a landmine: ONE bad payload kills the query). "
        "Strict parse_json stays showcased on engine-constructed JSON "
        "(to_json of a struct round-tripped through variant_get), where "
        "well-formedness is guaranteed by construction. Unlike from_json, "
        "try_variant_get applies CAST semantics per value type — quoted "
        "'7' -> 7, 12.5 truncates to 12, true -> 1, >int32 -> NULL — and "
        "the oracle encodes exactly that via a json_type dispatch. "
        "bad_parse_is_null is computed (not a constant): '{' || props is "
        "occasionally VALID ('}' -> '{}'), which the probe that hardened "
        "this family caught. Prefix-lenience caveat as in "
        "scalar_json_functions."
    ),
)
def scalar_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # r12: materialize the parsed VARIANT as a named column so the two
    # getters share ONE try_parse_json per row (inlined, each getter
    # re-parsed props — the verify-skill expression-duplication trap;
    # CollapseProject keeps a non-cheap alias used twice un-inlined).
    parsed = ev.select("event_id", "props", F.try_parse_json("props").alias("v"))
    return parsed.select(
        "event_id",
        F.try_variant_get("v", "$.k", "int").alias("k_int"),
        F.variant_get("v", "$.does_not_exist", "string").alias("k_missing"),
        F.try_parse_json(F.concat(F.lit("{"), F.col("props"))).isNull().alias(
            "bad_parse_is_null"
        ),
        F.variant_get(
            F.parse_json(F.to_json(F.struct(F.col("event_id").alias("e")))),
            "$.e",
            "bigint",
        ).alias("strict_roundtrip"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
SELECT l_returnflag,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM lineitem GROUP BY l_returnflag
""",
    tags=("aggregate", "bitmap", "distinct", "scale"),
    doc=(
        "EXACT distinct counts via mergeable bitmaps (Spark 4 bitmap "
        "aggregates): keys bucket into 32k-bit bitmaps, per-bucket bitmaps "
        "OR-merge, popcounts sum — the partial/merge shape of HLL with zero "
        "error, for when approximate distincts are unacceptable. Two keyed "
        "aggregations; state is ~4 KB per live bucket, not per key."
    ),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag", F.bitmap_bucket_number("l_orderkey").alias("bucket")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("l_orderkey")).alias("bm"))
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("n_orders")
    )
