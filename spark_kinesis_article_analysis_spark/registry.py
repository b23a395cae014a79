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
final value (both sides, same decimal places) — see ``fround``.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Builder
    oracle: str | None = None
    tags: tuple[str, ...] = ()
    doc: str = ""


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
        _REGISTRY[name] = QuerySpec(
            name=name,
            build=build,
            oracle=oracle,
            tags=tags,
            doc=doc or (fn.__doc__ or ""),
        )
        return fn

    return deco

def _load_all() -> None:
    """Import every module of the registering subpackages (idempotent):
    each ``@register`` runs at import, so a new module needs no listing."""
    from spark_kinesis_article_analysis_spark import functions, operators, streaming

    for pkg in (functions, operators, streaming):
        for mod in pkgutil.iter_modules(pkg.__path__):
            importlib.import_module(f"{pkg.__name__}.{mod.name}")


def all_specs() -> dict[str, QuerySpec]:
    """All registered specs, sorted by name — the same order whichever
    module was imported first."""
    _load_all()
    return {name: _REGISTRY[name] for name in sorted(_REGISTRY)}


def queries() -> dict[str, Builder]:
    return {name: spec.build for name, spec in all_specs().items()}


def oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
