"""The corpus's deterministic md5 split rule — ONE definition.

``bucket = substring(md5(doc_id), 1, 2)`` (256 hex buckets) drives every
content-addressed split in the package: train/valid/test assignment
(``pipeline.split_hash_assign``, ``corpus_prep_end_to_end``) and the
corpus-vs-batch split of the incremental-dedup specs
(``quality.dedup_incremental_batch``, ``quality.dedup_bloom_prefilter``).
The thresholds approximate 80/10/10: 0xcd/0x100 = 80.1%,
(0xe6-0xcd)/0x100 = 9.8%.

This module registers nothing; pipeline.py and quality.py import it.
The oracle SQL fragments are generated from the same constants as the
Column expressions, so retuning the thresholds or hash can never
desynchronize one engine side (the twin-oracle pattern of
dedup/similarity).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: split boundaries over the 2-hex-digit bucket space
TRAIN_MAX = "cd"  # bucket <  'cd' -> train (~80%)
VALID_MAX = "e6"  # bucket <  'e6' -> valid (~10%); else test (~10%)

#: SQL form of the bucket expression (DuckDB)
BUCKET_SQL = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)"


def doc_bucket() -> Column:
    """The Spark form of ``BUCKET_SQL``."""
    return F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
