"""Named-query registry — the single source of truth for the engine's
operator surface.

Every operator from SURVEY.md §2 ships as a :class:`QuerySpec`:

* ``name``     — stable key; ``__spark_entry__.queries()`` exposes it.
* ``build``    — ``(spark, sf_dir) -> DataFrame``; idiomatic DataFrame
  API (Catalyst plans it).
* ``oracle``   — equivalent ANSI SQL runnable by DuckDB over the same
  parquet tables, or ``None`` for ops with no exact SQL expression
  (LSH, approximate aggregates, nondeterministic exprs) — the driver
  then records a rows-only check.
* ``tags``     — coverage bookkeeping against SURVEY.md §2.

Column-name discipline (driver contract): the oracle compare sorts
columns by name before hashing, so the Spark DataFrame and the oracle
SQL must alias every computed column identically.

Float discipline: double aggregates computed in different orders differ
in final ulps between engines. Specs that aggregate doubles round the
final value (both sides, same digits) — see ``fround``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Builder
    oracle: str | None = None
    tags: tuple[str, ...] = ()
    doc: str = ""
    #: file that defines the builder — drives the re-verify-on-change
    #: ordering in :func:`all_specs`
    src_file: str = ""
    #: first line of the builder function — the within-module tiebreak
    #: for :func:`all_specs` (definition order, import-order-independent)
    src_line: int = 0


_REGISTRY: dict[str, QuerySpec] = {}


def _pin_session_conf(spark: SparkSession) -> None:
    """Confs the oracle compare depends on, pinned per-call because the
    driver owns the session and may not have set them:

    - UTC session timezone: TIMESTAMP(_LTZ) values (``timestamp_micros``,
      ``timestamp_seconds``, window bounds) must collect as naive UTC to
      match DuckDB's naive timestamps.
    - ``nanosAsLong``: the events table's TIMESTAMP(NANOS) column is
      unreadable by the Spark parquet reader without it (see catalog.load).
    - Python DataSource filter pushdown: lets the s3_parquet_manifest
      reader's zone-map pruning subclass plan (sources/s3_objects.py);
      purely an IO optimization — with it off the format still reads
      correctly through the base reader.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
) -> Callable[[Builder], Builder]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            _pin_session_conf(spark)
            return fn(spark, sf_dir)

        build.__name__ = fn.__name__
        build.__doc__ = fn.__doc__
        import inspect

        _REGISTRY[name] = QuerySpec(
            name=name,
            build=build,
            oracle=oracle,
            tags=tags,
            doc=doc or (fn.__doc__ or ""),
            src_file=inspect.getsourcefile(fn) or "",
            src_line=getattr(fn, "__code__", None).co_firstlineno if hasattr(fn, "__code__") else 0,
        )
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers queries (idempotent).

    Import order is the verification-priority order: the driver verdicts
    only the FIRST 50 entries of ``queries()`` each round, so modules
    whose queries most need a fresh verdict import first (fixed entries,
    then the north-star LLM-pipeline surface), and ``all_specs`` pushes
    already-driver-verified names to the back (see ``_verified_names``).
    """
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        aggregates,  # fixed r1 harness crash (agg_approx_sketches)
        relational,  # fixed r1 hash mismatch (tpch_q12)
    )
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        dedup,
        similarity,
        # quality imports here (not with the round-3 additions below):
        # its round-4 oracle rewrites (bigram-less LEFT JOIN parity) are
        # genuinely-changed evidence that must stay inside the driver's
        # 50-query window even after this round's new rank-0 specs join
        # the front of the queue; the displaced tail is then pipeline.py's
        # r2-verdicted, locally-parity-green specs.
        quality,
        text,
        pipeline,
        multimodal,
        udfs,
        corpus,
    )
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        article,
        joins,
        subqueries,
        windows_analytic,
        windows_time,
    )
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        scalar,
    )
    # Round-3+ additions import LAST: with the driver's 50-query/round
    # verdict budget, new queries must queue BEHIND the older not-yet-
    # verified entries, not displace them from the current round's window.
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        tpch_extra,
    )
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        temporal,
    )
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        scale_ops,
    )
    # Round-7: real WAV/PPM codecs (new module, so the fresh-verdicted
    # multimodal.py stubs keep their evidence; these two enter as
    # never-verified rank-0 entries at the front of the window).
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        multimodal_codec,
    )
    # Round-7 continued: substring-grain dedup (ExactSubstr stats +
    # boilerplate removal) and the WITH RECURSIVE SQL surface — new
    # modules, rank-0 entries, nothing existing re-staled.
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        substring,
    )
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        recursive,
    )
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        graph,
        dedup_pipeline,
    )
    # Round-8: corpus-curation surface (containment dedup, domain caps) —
    # new module, rank-0 entries, nothing existing re-staled.
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        curation,
    )
    # Round-9: interval algebra, URL canonicalization, BM25/hashed-model
    # ranking, SemDeDup-style semantic dedup, BMP codec + real resize —
    # all new modules (rank-0 entries, nothing existing re-staled).
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        intervals,
    )
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        weburl,
        ranking,
        semantic,
        multimodal_image,
    )
    # Round-9 batch 2: portable count-min sketch, token-budget mixing,
    # regex sequence patterns (new modules); triangle counting joins
    # graph.py (stales only graph_pagerank_portable, which holds local
    # parity and re-verifies inside the window).
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        sketches,
        mixing,
    )
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        sequence,
    )
    # Round-9 batch 3: the consolidated Gopher rule gate and the exact
    # audience-overlap matrix (new modules).
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        gopher,
    )
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        audience,
    )
    # Round-10: the real-wire-protocol Kinesis round trip (moto-served
    # AWS API + the kinesis_api Python DataSource) — new module, rank-0
    # entry, nothing existing re-staled.
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        kinesis_batch,
    )
    # Round-10 batch 2: skew diagnostics and OHLC resampling — new
    # modules, rank-0 entries, nothing re-staled. (NB functions/splits.py
    # deliberately registers nothing — see its docstring; the split
    # queries live in pipeline.py.)
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        diagnostics,
        resample,
    )
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        hash_embed,
    )
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        s3_batch,
    )
    # Round-11: snapshot-read + compaction proofs for the manifest table
    # format, and the exact-regime sketch pins — new modules, rank-0
    # entries, nothing existing re-staled.
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        s3_snapshot,
    )
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        sketch_exact,
    )
    # Round-11 flagship: the reference pipeline streaming on BOTH wire
    # protocols (kinesis_api parallel stream read -> parse -> manifest
    # stream sink) — new module, rank-0 entry.
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        stream_wire,
    )
    # Round-11 batch 2: product quantization (codebooks + ADC search) —
    # the embedding-compression half of the ANN stack. New module.
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        pq,
    )
    # Round-11 batch 3: bigram LM quality scoring + BPE tokenizer
    # training, and curriculum ordering. New modules.
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        lm,
        curriculum,
    )
    # Round-12: the streaming quality gate composed with the manifest
    # wire sink — new module, rank-0 entry.
    from spark_kinesis_article_analysis_spark.streaming import (  # noqa: F401
        gate_stream,
    )
    # Round-12 batch 2: Stupid-Backoff trigram LM (held-out split) and
    # temperature-scaled source mixing — new modules, rank-0 entries.
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        backoff,
        temperature,
    )
    # Round-12 batch 3: graph-based ANN (NSW beam search) — new module.
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        nsw,
    )
    # Round-12 batch 4: the ANN serving path — streaming query vectors
    # against the static IVF index, foreachBatch epoch-fenced commits.
    from spark_kinesis_article_analysis_spark.streaming import (  # noqa: F401
        ann_stream,
    )
    # Round-12 batch 5: Hilbert-curve layout clustering — new module.
    from spark_kinesis_article_analysis_spark.functions import (  # noqa: F401
        hilbert,
    )
    # Round-12 batch 6: incremental (changes-since) reads + vacuum for
    # the manifest table format — new module, rank-0 entries.
    from spark_kinesis_article_analysis_spark.operators import (  # noqa: F401
        s3_incremental,
    )
    # Round-12 batch 7: stream-stream watermarked interval join — the
    # last Structured Streaming operator class — new module, rank-0.
    from spark_kinesis_article_analysis_spark.streaming import (  # noqa: F401
        join_stream,
    )
    # Round-12 batch 8: the manifest table consumed AS A STREAM
    # (commit-log offsets) hopped table-to-table — new module, rank-0.
    from spark_kinesis_article_analysis_spark.streaming import (  # noqa: F401
        table_stream,
    )


#: Canonical module order for :func:`all_specs` ties — MUST mirror the
#: import order of :func:`_load_all` (asserted by tests). Ordering by
#: this list + the builder's source line makes the queue independent of
#: which module happened to be imported first (a test importing
#: ``operators.article`` directly must not reshuffle the verdict
#: window).
_MODULE_ORDER: tuple[str, ...] = (
    "aggregates.py",
    "relational.py",
    "dedup.py",
    "similarity.py",
    "quality.py",
    "text.py",
    "pipeline.py",
    "multimodal.py",
    "udfs.py",
    "corpus.py",
    "article.py",
    "joins.py",
    "subqueries.py",
    "windows_analytic.py",
    "windows_time.py",
    "scalar.py",
    "tpch_extra.py",
    "temporal.py",
    "scale_ops.py",
    "multimodal_codec.py",
    "substring.py",
    "recursive.py",
    "graph.py",
    "dedup_pipeline.py",
    "curation.py",
    "intervals.py",
    "weburl.py",
    "ranking.py",
    "semantic.py",
    "multimodal_image.py",
    "sketches.py",
    "mixing.py",
    "sequence.py",
    "gopher.py",
    "audience.py",
    "kinesis_batch.py",
    "diagnostics.py",
    "resample.py",
    "hash_embed.py",
    "s3_batch.py",
    "s3_snapshot.py",
    "sketch_exact.py",
    "stream_wire.py",
    "pq.py",
    "lm.py",
    "curriculum.py",
    "gate_stream.py",
    "backoff.py",
    "temperature.py",
    "nsw.py",
    "ann_stream.py",
    "hilbert.py",
    "s3_incremental.py",
    "join_stream.py",
    "table_stream.py",
)

#: Specs whose ORACLE semantics were rewritten since their last driver
#: verdict — they jump to the front of the changed-since-verified class
#: so the 50-query verdict budget re-checks the rewritten oracles before
#: anything that merely shares a module with other edits. Self-cleaning:
#: once the driver re-verdicts one and its module is untouched since,
#: the rank function classes it "unchanged" regardless of this set.
#: Round-5 entries (the 15 round-4 names all re-verdicted clean in
#: CORRECTNESS_r04 and self-cleaned out): the cdc_merge_upsert
#: unmatched-target-row fix (ADVICE r4 high — semantics changed on BOTH
#: sides) and the dedup_ngram_jaccard shingle-df cap (oracle mirrors the
#: cap).
_ORACLE_REWRITTEN: frozenset[str] = frozenset(
    {
        "cdc_merge_upsert",
        "dedup_ngram_jaccard",
        # r5 fuzz find: DuckDB arg_min skips NULL args — first-occurrence
        # oracle rewritten as a row_number window
        "dedup_incremental_batch",
        # r5 fuzz find: DuckDB integer // truncates toward zero, so
        # pre-1970 events bucketed UP vs Spark window()'s floor —
        # oracles rewritten with time_bucket
        "time_window_tumbling",
        "time_window_sliding",
        "time_window_json_events",
        # r5 fuzz find #13: NULL-date change records sorted NULLS FIRST
        # in Spark windows vs NULLS LAST in DuckDB, flipping which rows
        # count as SCD2 transitions — both sides now exclude them
        "scd2_history",
        # r5 fuzz find #14: NULL-ts signups surface first in the
        # ts-sorted array form (min(ts) skips them) and NULL users chain
        # stages in-group vs never matching the equi-join cascade —
        # both sides now exclude timestamp-less and unattributed events
        "funnel_user_stages",
        # r5 fuzz find #15: epoch()::BIGINT rounds where unix_timestamp
        # floors — oracle rewritten with exact positive-mod floor div;
        # months_between oracle gains the time-of-day fraction term
        "scalar_date_functions",
        "scalar_months_between",
        # r5 fuzz find #16: DuckDB native ASOF matches NULL-ts build
        # rows; oracle now carves NULL-ts clicks/purchases out explicitly
        "join_asof",
        # r5 fuzz find #18: DuckDB VARCHAR->BLOB cast interprets \xHH
        # escapes (lone '\' throws, '\x41' hashes the wrong byte) —
        # oracle rewritten with encode(), the faithful UTF-8 conversion.
        # r7 fuzz find #21: Spark's base64() is Java's MIME encoder
        # (CRLF every 76 chars, unconditional in Spark 4) — oracle now
        # chunk-mirrors; inputs >= 57 UTF-8 bytes crossed the wrap
        "scalar_hash_encode",
        # r6 fuzz find: from_xml (StaxXML ignoreSurroundingSpaces) trims
        # ASCII spaces around element text where xpath_string preserves
        # them — the from_xml-sourced oracle column now mirrors with
        # trim(); the builder also entity-escapes markup chars.
        # r7 (ADVICE r6 low): domain extended to tab/LF/CR — the oracle
        # now mirrors the parser's \r(\n)->\n normalization on BOTH
        # columns and from_xml's full Java-trim class via regexp_replace
        "scalar_xml_functions",
        # r6 fuzz find: Spark's double->BIGINT cast truncates toward
        # zero, DuckDB's CAST rounds half away (23.5 -> 24) — the
        # price_per_extra_unit denominator now truncs before casting
        "scalar_try_functions",
        # r8: IVF upgraded to multiprobe (queries search their IVF_NPROBE
        # nearest cells) — probe CTE rewritten on BOTH sides
        "sim_ivf_topk",
        # r8 fuzz find #25: upper()-derived token set replaced with an
        # ASCII translate on BOTH sides (JVM full case mapping vs
        # utf8proc simple mapping diverges on ß/ᾚ/... — un-mirrorable)
        "scalar_array_setops",
        # r9 fuzz find #26 (4x hunt): NULL l_suppkey rows survived
        # Spark's NOT-IN anti-join (NULL never equals an exclusion key)
        # but fail SQL NOT IN's NULL evaluation — ghost supplier_cnt=0
        # groups. NULL keys now carved out on BOTH sides.
        "tpch_q16_supplier_part_counts",
        # r12 (ADVICE r11 low): interpolated percentile cutpoints
        # replaced with DISCRETE ones on BOTH sides (percentile_disc /
        # quantile_disc) — cutpoints are exact corpus values, killing
        # the last-ulp interpolation-portability risk at the quartile
        # boundaries.
        "corpus_curriculum_order",
    }
)


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


_GIT_TS_CACHE: dict[str, float | None] = {}


def _git_commit_ts(path: str) -> float | None:
    """Unix time of the last commit touching ``path`` (None if the file
    is untracked/uncommitted or git is unavailable). Cached — ordering
    calls this once per registry module, not per query."""
    if path in _GIT_TS_CACHE:
        return _GIT_TS_CACHE[path]
    import subprocess

    ts: float | None = None
    try:
        out = subprocess.run(
            ["git", "-C", _repo_root(), "log", "-1", "--format=%ct", "--", path],
            capture_output=True,
            text=True,
            timeout=10,
        )
        s = out.stdout.strip()
        ts = float(s) if s else None
    except (OSError, ValueError, subprocess.SubprocessError):
        ts = None
    _GIT_TS_CACHE[path] = ts
    return ts


def _verified_ts() -> dict[str, float]:
    """``{query name: commit time of the newest clean driver verdict}``.

    Reads ``CORRECTNESS_r*.json`` at the repo root (written by the
    driver, one per round). "Clean" = value-hash green, or a rows-only
    record for an oracle-less spec (``err == 'no_oracle'``). Broken
    entries (hash mismatch, harness crash) don't count, so they are
    re-checked after a fix. Names absent from every file have never been
    checked — the driver caps each round at 50 queries.
    """
    import glob
    import json
    import os

    done: dict[str, float] = {}
    for path in sorted(glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        ts = _git_commit_ts(path)
        if ts is None:
            try:
                ts = os.path.getmtime(path)
            except OSError:
                ts = 0.0
        for name, v in data.items():
            if isinstance(v, dict) and (v.get("hash_match") is True or v.get("err") == "no_oracle"):
                done[name] = max(done.get(name, 0.0), ts)
    return done


def all_specs() -> dict[str, QuerySpec]:
    """All registered specs in verification-priority order:

    1. never driver-verified,
    2. verified, but the ORACLE was rewritten since (``_ORACLE_REWRITTEN``),
    3. verified, but the defining module was committed AFTER the verdict
       (the verdict may no longer describe the shipped code),
    4. verified and unchanged since.

    The driver verdicts the first 50 entries per round; this ordering
    rotates the budget onto whatever currently lacks trustworthy
    evidence. Ties break on (canonical module order, builder source
    line) — fully deterministic, independent of which module some test
    happened to import first.

    Timestamp granularity caveat: class 2 vs 1 compares git COMMIT
    times, which relies on the driver's workflow committing the
    CORRECTNESS file in its own verdict commit AFTER the round's work
    commits (observed: "round N: verdict/..." follows "round N:
    end-of-round snapshot"). A builder edited after its verdict but
    committed in the SAME commit as that verdict would be mis-ranked as
    unchanged — impossible under that workflow, noted here in case the
    workflow changes.
    """
    _load_all()
    verified = _verified_ts()

    def rank(name: str) -> int:
        if name not in verified:
            return 0
        src = _REGISTRY[name].src_file
        src_ts = _git_commit_ts(src) if src else None
        if src_ts is not None and src_ts > verified[name]:
            return 1 if name in _ORACLE_REWRITTEN else 2
        return 3

    def module_pos(name: str) -> int:
        import os

        base = os.path.basename(_REGISTRY[name].src_file)
        try:
            return _MODULE_ORDER.index(base)
        except ValueError:
            return len(_MODULE_ORDER)

    def verdict_age(name: str) -> float:
        # Within the changed-since-verified class, the OLDEST evidence
        # re-verifies first: a spec riding an r1 verdict outranks one
        # whose module was merely re-touched after a fresh r4 verdict.
        # (Without this, one correctness fix in an early-_MODULE_ORDER
        # module displaces the long-stale specs the budget was queued
        # for.) Classes 0/1/3 don't need the key: never-verified and
        # rewritten-oracle specs re-verify regardless, and class 3 is
        # outside the window.
        return verified.get(name, 0.0)

    order = sorted(
        _REGISTRY,
        key=lambda n: (rank(n), verdict_age(n), module_pos(n), _REGISTRY[n].src_line),
    )
    return {name: _REGISTRY[name] for name in order}


def queries() -> dict[str, Builder]:
    return {name: spec.build for name, spec in all_specs().items()}


def oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
