"""Incremental read + vacuum proofs for the manifest table format —
the remaining lifecycle half of the S2/S3 object-store surface
(reference sink: ``process_articles.py:88-90``).

``s3_snapshot`` proved time travel (read AS OF a manifest) and
compaction invisibility; this module proves the two maintenance/consume
primitives a 100 TB training pipeline actually runs daily:

* **changes-since** (``option("sinceManifest", <key>)``): read only the
  rows appended AFTER a pinned commit — the CDC shape that lets an
  incremental tokenize/dedup/index job process each append exactly once
  instead of rescanning the table. Implemented as an object-set
  difference of two snapshots, so a compaction committed after the pin
  does NOT replay history as changes (the manifest-grain cut would).
* **vacuum** (:func:`sources.s3_objects.vacuum_orphans`): delete data
  objects no manifest references — uploads from task attempts that died
  between PUT and commit. The spec plants a realistic orphan (a real
  parquet object under ``data/``), vacuums, and proves via the identity
  oracle that committed rows are untouched; pytest pins that the orphan
  is gone and pinned snapshot reads still resolve afterwards
  (``tests/test_s3_incremental.py``).
* **schema evolution**: appends may carry different schemas; the read
  adapts every data object to the newest manifest's schema (missing
  columns nulled, dropped pruned, widened cast — objects never
  rewritten). The spec evolves the documents table mid-history and
  proves the adapted read row-for-row.
* **row-level deletes** (:func:`sources.s3_objects.delete_where`):
  DELETE WHERE planned distributed over the ``withRowPosition``
  metadata columns, committed as one positional delete manifest,
  masked at read — merge-on-read, no object rewrites.
* **MERGE INTO** (:func:`sources.s3_objects.merge_into`): upsert =
  delete-matched (semi-join position planning) + append — with
  append/delete/merge the format carries the full DML surface.

The changes-since, snapshot-at-time and vacuum specs reuse
``s3_snapshot._prepared``'s table state (append evens, snapshot, append
odds, compact — once per process), so that lifecycle chain is exercised
against ONE table the way a real one evolves; the DML, zone-map and
schema-evolution specs each build their own table once per process
(``operators/s3_batch.built_once``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spark_kinesis_article_analysis_spark.catalog import load
from spark_kinesis_article_analysis_spark.operators.s3_batch import (
    built_once,
    manifest_append,
    manifest_reader,
    registered,
    s3_options,
)
from spark_kinesis_article_analysis_spark.operators.s3_snapshot import (
    _COLS,
    _prepared,
)
from spark_kinesis_article_analysis_spark.registry import register
from spark_kinesis_article_analysis_spark.sources import s3_objects as _s3o


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents' table columns, on a :func:`registered` session."""
    return load(registered(spark), sf_dir, "documents").select(*_COLS)


@register(
    "s3_manifest_changes_since",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id % 2 <> 0
""",
    tags=("S2", "S3", "object-store", "incremental", "cdc"),
    doc=(
        "Incremental (changes-since) read of the manifest-committed "
        "table: pinned at the manifest of append 1 (even doc_ids), read "
        "after append 2 (odd) and a full compaction landed. Oracle = "
        "the odd half straight off documents: a hash match proves the "
        "object-set-difference semantics — exactly the post-pin appends, "
        "no replay of history through the compaction manifest (which "
        "re-lists every object). At 100 TB this is the incremental-"
        "pipeline primitive: each downstream job consumes (last-pin, "
        "head] once instead of rescanning the table."
    ),
)
def s3_manifest_changes_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _prepared(spark, sf_dir)
    return (
        manifest_reader(spark, st["prefix"])
        .option("sinceManifest", st["snap_key"])
        .load()
        .select(*_COLS)
    )


def _vacuumed(spark: SparkSession, sf_dir: str) -> dict:
    """Plant one realistic orphan (a parquet object under ``data/`` no
    manifest lists — what a task attempt that died before commit leaves
    behind), vacuum it, fail loudly if vacuum missed it. Once per
    (process, sf_dir)."""
    st = _prepared(spark, sf_dir)

    def build(_: str) -> dict:
        opts = s3_options(st["prefix"])
        orphan = f"{st['prefix']}/data/part-deadbeef-aborted-attempt.parquet"
        _s3o._s3(opts).put_object(
            Bucket=opts["bucket"], Key=orphan, Body=b"not committed"
        )
        deleted = _s3o.vacuum_orphans(opts)
        if orphan not in deleted:
            raise AssertionError(
                f"vacuum_orphans missed the planted orphan: deleted={deleted!r}"
            )
        return st

    return built_once(sf_dir, "docsnap-vacuumed", build)


def _deleted_prefix(spark: SparkSession, sf_dir: str) -> str:
    """Build a table and run a row-level DELETE WHERE over it (doc_id
    divisible by 7 — every object is touched), merge-on-read: one
    positional delete manifest, zero object rewrites. Once per
    (process, sf_dir); fails loudly if the delete matched nothing."""

    def build(prefix: str) -> str:
        d = _documents(spark, sf_dir)
        manifest_append(d, prefix)
        key = _s3o.delete_where(spark, s3_options(prefix), "doc_id % 7 = 0")
        # loud-failure guard — but only when there was anything TO match:
        # the degenerate empty-corpus parity drive runs this fixture too
        if not key and d.head(1):
            raise AssertionError("delete_where matched nothing — fixture broken")
        return prefix

    return built_once(sf_dir, "docdel", build)


@register(
    "s3_manifest_row_deletes",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id % 7 <> 0
""",
    tags=("S2", "S3", "object-store", "row-deletes", "merge-on-read"),
    doc=(
        "Row-level DELETE WHERE doc_id % 7 = 0, merge-on-read: the "
        "matching (object, position) pairs are planned DISTRIBUTED "
        "(withRowPosition metadata columns, predicate and position "
        "harvest executor-side), committed as ONE positional delete "
        "manifest, and the read masks each object's vector — no data "
        "object rewritten. Oracle = the surviving rows straight off "
        "documents: a hash match proves the planner matched exactly "
        "the predicate and the mask dropped exactly those positions. "
        "Snapshot-before-delete visibility, vector survival across "
        "compaction, and delete-on-delete composition are pinned in "
        "tests/test_s3_incremental.py."
    ),
)
def s3_manifest_row_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = _deleted_prefix(spark, sf_dir)
    return manifest_reader(spark, prefix).load().select(*_COLS)


@register(
    "s3_manifest_snapshot_at_time",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id % 2 = 0
""",
    tags=("S2", "S3", "object-store", "snapshot", "time-travel"),
    doc=(
        "AS-OF-TIMESTAMP read: option('snapshotAtUs', <epoch micros>) "
        "resolves to the last manifest committed at-or-before that "
        "instant — the timestamp twin of the key-pinned "
        "s3_manifest_snapshot, pinned here at the exact commit time of "
        "append 1 with append 2 and a compaction already in the log. "
        "Oracle = the even half: a hash match proves timestamp "
        "resolution selects the same snapshot the key pin does "
        "(inclusive at the boundary, immune to later commits). "
        "Between-commit and before-first-commit boundary semantics are "
        "pinned in tests/test_s3_incremental.py."
    ),
)
def s3_manifest_snapshot_at_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _prepared(spark, sf_dir)
    opts = s3_options(st["prefix"])
    bodies = dict(_s3o._load_manifests(_s3o._s3(opts), opts["bucket"], opts["prefix"]))
    at_us = bodies[st["snap_key"]]["committed_at_us"]
    return (
        manifest_reader(spark, st["prefix"])
        .option("snapshotAtUs", str(at_us))
        .load()
        .select(*_COLS)
    )


def _stats_prefix(spark: SparkSession, sf_dir: str) -> str:
    """Build a range-chunked table (four appends, one object each, by
    doc_id quartile) so the zone maps are selective. Once per
    (process, sf_dir)."""
    from pyspark.sql import functions as F

    def build(prefix: str) -> str:
        d = _documents(spark, sf_dir)
        [[lo, hi]] = d.agg(F.min("doc_id"), F.max("doc_id")).collect()
        if lo is None:  # empty corpus (degenerate parity drive): one
            manifest_append(d, prefix)  # empty append commits the schema
            return prefix
        step = max((hi - lo + 4) // 4, 1)
        for i in range(4):
            chunk = d.where(
                (d.doc_id >= lo + i * step) & (d.doc_id < lo + (i + 1) * step)
                if i < 3
                else (d.doc_id >= lo + 3 * step)
            )
            manifest_append(chunk.coalesce(1), prefix)
        return prefix

    return built_once(sf_dir, "docstat", build)


@register(
    "s3_manifest_pruned_scan",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents
WHERE doc_id >= 100 AND doc_id < 200
""",
    tags=("S2", "S3", "object-store", "data-skipping", "zone-maps", "pushdown"),
    doc=(
        "Filtered scan over a range-chunked table with manifest zone "
        "maps: writes fold per-object column min/max/null-count stats "
        "into the manifest, the reader's pushFilters (Spark 4.1 Python "
        "DataSource pushdown) saves the planned conjunction, and "
        "partitions() drops every object whose range provably excludes "
        "it — manifest-level parquet-row-group pruning, the layout "
        "payoff of the hilbert/zorder clustering ops. The oracle "
        "proves answer exactness; the PRUNING itself (only the "
        "overlapping chunk objects planned, stats surviving "
        "compaction) is pinned in tests/test_s3_incremental.py. At "
        "100 TB this is the difference between touching one object "
        "per range query and touching them all."
    ),
)
def s3_manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = _stats_prefix(spark, sf_dir)
    df = manifest_reader(spark, prefix).option("dataSkipping", "true").load().select(*_COLS)
    return df.where((df.doc_id >= 100) & (df.doc_id < 200))


def _merged_prefix(spark: SparkSession, sf_dir: str) -> str:
    """Build a table and MERGE a source into it: updates (doc_id % 5 ==
    0 rows with 'v2:'-prefixed text — concat, not upper(): JVM vs
    utf8proc case mapping diverges on exotic code points, the r8 fuzz
    lesson) + inserts (doc_id % 11 == 0 re-keyed +10M). Once per
    (process, sf_dir)."""
    from pyspark.sql import functions as F

    def build(prefix: str) -> str:
        d = _documents(spark, sf_dir)
        manifest_append(d, prefix)
        v2 = F.concat(F.lit("v2:"), F.col("text")).alias("text")
        updates = d.where(d.doc_id % 5 == 0).select("doc_id", v2, "lang", "source", "n_chars")
        inserts = d.where(d.doc_id % 11 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), v2, "lang", "source", "n_chars"
        )
        delete_key = _s3o.merge_into(
            spark, s3_options(prefix), updates.unionByName(inserts), "doc_id"
        )
        # loud-failure guard — skipped on an empty corpus (degenerate
        # parity drive), where a merge legitimately matches nothing
        if not delete_key and d.head(1):
            raise AssertionError("merge_into matched no target rows — fixture broken")
        return prefix

    return built_once(sf_dir, "docmerge", build)


@register(
    "s3_manifest_merge_upsert",
    oracle="""
SELECT doc_id,
       CASE WHEN doc_id % 5 = 0 THEN 'v2:' || text ELSE text END AS text,
       lang, source, n_chars
FROM documents
UNION ALL
SELECT doc_id + 10000000 AS doc_id, 'v2:' || text AS text, lang, source, n_chars
FROM documents WHERE doc_id % 11 = 0
""",
    tags=("S2", "S3", "object-store", "merge", "upsert", "cdc"),
    doc=(
        "MERGE INTO (upsert) on the manifest table, merge-on-read: "
        "source rows replace target rows sharing doc_id (one positional "
        "delete manifest over the matched keys — planned DISTRIBUTED "
        "via the withRowPosition metadata columns and a semi join) and "
        "unmatched source rows append; no data object rewritten. "
        "Oracle recomputes the post-merge relation (every fifth doc "
        "updated, every eleventh re-keyed and inserted): a hash match "
        "proves matched rows were deleted exactly once, replacements "
        "and inserts landed exactly once, and untouched rows survived "
        "byte-identical. With append + delete + merge the format "
        "carries the full DML surface."
    ),
)
def s3_manifest_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = _merged_prefix(spark, sf_dir)
    return manifest_reader(spark, prefix).load().select(*_COLS)


def _evolved_prefix(spark: SparkSession, sf_dir: str) -> str:
    """Build a table whose schema EVOLVED between appends: append 1
    (even doc_ids) writes WITHOUT ``n_chars`` — the pre-evolution
    schema — append 2 (odd) writes the full five columns. Once per
    (process, sf_dir)."""

    def build(prefix: str) -> str:
        d = load(registered(spark), sf_dir, "documents")
        manifest_append(
            d.where(d.doc_id % 2 == 0).select("doc_id", "text", "lang", "source"), prefix
        )
        manifest_append(d.where(d.doc_id % 2 != 0).select(*_COLS), prefix)
        return prefix

    return built_once(sf_dir, "docevo", build)


@register(
    "s3_manifest_schema_evolution",
    oracle="""
SELECT doc_id, text, lang, source,
       CASE WHEN doc_id % 2 = 0 THEN NULL ELSE n_chars END AS n_chars
FROM documents
""",
    tags=("S2", "S3", "object-store", "schema-evolution"),
    doc=(
        "HEAD read across a schema evolution: append 1 wrote four "
        "columns, append 2 added n_chars, and data objects are never "
        "rewritten — the READ adapts each object to the newest "
        "manifest's schema (missing columns nulled, column-at-a-time "
        "Arrow, the Iceberg/Delta read-side model). Oracle nulls "
        "n_chars for exactly the pre-evolution rows: a hash match "
        "proves old objects surface under the new schema with no "
        "rewrite and no row loss. Type-change edges (widening cast, "
        "incompatible raise, dropped-column pruning) are pinned in "
        "tests/test_s3_incremental.py."
    ),
)
def s3_manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = _evolved_prefix(spark, sf_dir)
    return manifest_reader(spark, prefix).load().select(*_COLS)


@register(
    "s3_manifest_vacuumed",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents
""",
    tags=("S2", "S3", "object-store", "vacuum", "maintenance"),
    doc=(
        "HEAD read after vacuum deleted a planted orphan data object "
        "(an upload no manifest references — the leavings of a task "
        "attempt that died before its job committed). Oracle = all "
        "documents: a hash match proves vacuum's referenced-set "
        "judgment deleted ONLY garbage — every committed row, including "
        "rows reachable only through compaction-tombstoned manifests "
        "that pinned snapshots still resolve, survives exactly once. "
        "The spec itself asserts the orphan WAS deleted (loud failure), "
        "so a vacuum that silently no-ops cannot stay green either."
    ),
)
def s3_manifest_vacuumed(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _vacuumed(spark, sf_dir)
    return manifest_reader(spark, st["prefix"]).load().select(*_COLS)
