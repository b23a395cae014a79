"""Streaming incremental MinHash-LSH near-duplicate detection.

The batch near-dup family (``functions/dedup.py``) answers "which pairs
in this corpus are near-duplicates"; an ingestion pipeline needs the
INCREMENTAL form — "which already-ingested documents does this new
arrival collide with" — without rescanning the corpus per micro-batch.
This module is that operator, built from the same public pieces the
reference composes (``applyInPandasWithState`` over a file/Kinesis
stream; the reference's own stream is ``process_articles.py:43-47``).

Dataflow (per micro-batch):

1. **Map-only signatures** — the per-document MinHash signature folds
   over the shingle ARRAY (``array_min(transform(...))``) instead of
   exploding + re-aggregating like the batch form: zero shuffle before
   banding, which also makes the stage usable under streaming's
   no-multiple-aggregation rule. Identical values to the batch
   signature by construction (min over the same distinct-shingle set,
   same ``xxhash64(seed, shingle)`` hash family, asserted in tests).
2. **Band explode** — each doc emits one row per band keyed by
   ``xxhash64`` of its band's signature slice (the batch band key).
3. **Stateful bucket join** — ``applyInPandasWithState`` keyed by
   ``(band, band_key)``: state holds the bucket's resident doc_ids and
   signatures; each NEW doc emits one candidate row per resident, then
   joins the residency. Below the residency cap, the union of emissions
   over any micro-batch slicing equals the batch operator's intra-bucket
   pairs — arrival order only permutes which side is "old" (pairs are
   normalized doc_a < doc_b; parity fuzzed across random splits). Above
   the cap the residency is first-come, so both the emitted pair SET and
   the slicing invariance become arrival-order-dependent — the
   completeness-for-boundedness trade detailed below.

100 TB posture: state per bucket is bounded by ``max_bucket_docs``
(default 64) — the same completeness-for-boundedness trade as
``dedup_embedding_cosine``'s LSH block cap: a boilerplate-heavy bucket
stops ACCEPTING new residents (arrivals beyond the cap emit collisions
against the capped residency but do not join it), so a hot bucket costs
O(cap) state and O(cap) emissions per arrival, never O(arrivals²). The
shuffle per micro-batch is one exchange at (band, band_key) grain —
docs x bands rows, the same key the batch plan shuffles on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.functions.dedup import (
    MINHASH_BANDS,
    MINHASH_HASHES,
)
from spark_kinesis_article_analysis_spark.functions.text import tokens_col

#: State-size bound per (band, band_key) bucket — see module docstring.
MAX_BUCKET_DOCS = 64

_ROWS_PER_BAND = MINHASH_HASHES // MINHASH_BANDS


def minhash_band_rows(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, text) -> (doc_id, band, band_key, sig) with ZERO shuffle.

    Works on batch and streaming frames alike. The shingle set, hash
    family, and band-key derivation replicate ``functions/dedup.py``'s
    batch pipeline exactly (word 3-shingles, ``xxhash64(i, shingle)``,
    band key = ``xxhash64`` of the band's consecutive min-hashes), but
    the signature is a higher-order fold over the shingle array rather
    than an explode + groupBy — map-side, so the only exchange in the
    streaming plan is the stateful operator's own (band, band_key)
    partitioning. Documents with no shingles (NULL/short text) produce
    no rows, mirroring the batch explode."""
    t = docs.select("doc_id", tokens_col().alias("t"))
    sh = F.array_distinct(
        F.filter(
            F.transform(
                "t",
                lambda x, i: F.when(
                    i < F.size(F.col("t")) - (n - 1),
                    F.concat_ws(
                        " ", *[F.element_at(F.col("t"), i + j + 1) for j in range(n)]
                    ),
                ),
            ),
            lambda s: s.isNotNull(),
        )
    )
    shingled = t.select("doc_id", sh.alias("sh")).where(F.size("sh") > 0)

    def _mh(seed: int):
        # One-arg lambda only: a second lambda parameter (even with a
        # bound default) makes pyspark pass the ARRAY INDEX as that
        # argument, silently replacing the seed.
        return F.array_min(F.transform("sh", lambda s: F.xxhash64(F.lit(seed), s)))

    sig = F.array(*[_mh(i) for i in range(MINHASH_HASHES)])
    with_sig = shingled.select("doc_id", sig.alias("sig"))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.element_at("sig", b * _ROWS_PER_BAND + r + 1)
                        for r in range(_ROWS_PER_BAND)
                    ]
                ).alias("band_key"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return with_sig.select(
        "doc_id", F.explode(bands).alias("bk"), "sig"
    ).select("doc_id", "bk.band", "bk.band_key", "sig")


def minhash_lsh_stream(
    docs: DataFrame, max_bucket_docs: int = MAX_BUCKET_DOCS
) -> DataFrame:
    """Streaming candidate-pair emission: one output row per (band,
    collision) the moment the colliding document arrives.

    Output: ``band int, doc_a long, doc_b long, est_jaccard double``
    with ``doc_a < doc_b``; ``est_jaccard`` is the matching fraction of
    the two 16-component signatures (the standard MinHash estimate —
    dyadic-exact, so it is reproducible across arrival orders). The
    same pair can surface in several bands, exactly like the batch
    pipeline before its ``.distinct()`` — downstream consumers dedup at
    whatever grain they verify at.

    Within a micro-batch, rows apply in doc_id order (deterministic
    emissions for any fixed slicing); re-ingested doc_ids are no-ops."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        band = int(key[0])
        if state.exists:
            ids, flat = state.get
            ids = list(ids or [])
            flat = list(flat or [])
        else:
            ids, flat = [], []
        sigs = [
            flat[i * MINHASH_HASHES : (i + 1) * MINHASH_HASHES]
            for i in range(len(ids))
        ]
        out = []
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
        for doc_id, sig in zip(rows["doc_id"], rows["sig"]):
            doc_id, sig = int(doc_id), [int(x) for x in sig]
            if doc_id in ids:
                continue
            for old_id, old_sig in zip(ids, sigs):
                est = sum(a == b for a, b in zip(sig, old_sig)) / MINHASH_HASHES
                out.append(
                    (band, min(doc_id, old_id), max(doc_id, old_id), est)
                )
            # The cap bounds RESIDENCY, not detection: an overflow doc
            # still collides against the capped bucket above, it just
            # never becomes a resident others collide against.
            if len(ids) < max_bucket_docs:
                ids.append(doc_id)
                sigs.append(sig)
        state.update((ids, [x for s in sigs for x in s]))
        yield pd.DataFrame(
            out, columns=["band", "doc_a", "doc_b", "est_jaccard"]
        )

    return minhash_band_rows(docs).groupBy("band", "band_key").applyInPandasWithState(
        update,
        outputStructType="band int, doc_a long, doc_b long, est_jaccard double",
        stateStructType="ids array<long>, flat_sigs array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
