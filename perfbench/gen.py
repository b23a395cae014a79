"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed gives the
same records byte for byte, and the program under test only ever sees
what these functions produce. Each generator also returns the input
properties the program's behaviour depends on (key skew, out-of-order
share, near-duplicate share, language skew, cluster structure, row-group
layout), which the benchmark prints with its result.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np

#: Synthetic vocabulary size. Zipf-distributed word choice over a few
#: thousand words keeps unrelated documents from sharing 3-word shingles,
#: so MinHash candidates come from the planted near-duplicates.
_VOCAB = 6000
_STOPWORDS = ("the", "a", "and", "of", "to", "that", "be", "have")
_LANGS = ("en", "de", "fr", "es", "it", "pt", "nl", "pl")
_LANG_P = (0.62, 0.12, 0.09, 0.07, 0.04, 0.03, 0.02, 0.01)


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=_VOCAB)
    words = {"".join(rng.choice(letters, size=n)) for n in lens}
    words.difference_update(_STOPWORDS)
    return np.array(sorted(words))


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _words(rng: np.random.Generator, vocab: np.ndarray, cdf: np.ndarray, n: int) -> list[str]:
    """n words: Zipf vocabulary draws (``cdf`` is the cumulative Zipf
    distribution) with stop words sprinkled in, the mix a Gopher-style
    gate expects from prose."""
    idx = np.minimum(np.searchsorted(cdf, rng.random(n)), len(vocab) - 1)
    out = vocab[idx].tolist()
    for i in np.flatnonzero(rng.random(n) < 0.12):
        out[i] = _STOPWORDS[int(rng.integers(0, len(_STOPWORDS)))]
    return out


# --- article_stream -----------------------------------------------------

#: Authors in the pool; author choice is Zipf(1.2), so a few authors own
#: most windows' rows (the group-key skew the shuffle sees).
N_AUTHORS = 64
#: Share of events whose event time lags the stream by up to
#: ``LATE_MAX_S`` seconds — always inside the query's 10 s watermark.
OUT_OF_ORDER_SHARE = 0.1
LATE_MAX_S = 8.0
#: Event-time seconds per wall-clock second: 5 min / 1 min sliding
#: windows close twenty times per wall second, so a 10 s run sees about
#: two hundred window closings.
EVENT_SPEEDUP = 1200.0
EVENT_EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z


def article_meta(seed: int, n: int, rate: float) -> dict[str, np.ndarray]:
    """Per-record metadata of the article stream: author index, word
    count and event time (whole epoch seconds). Event time advances
    ``EVENT_SPEEDUP / rate`` seconds per record; an ``OUT_OF_ORDER_SHARE``
    of records lag by up to ``LATE_MAX_S`` event seconds."""
    rng = np.random.default_rng([seed, 1])
    author = rng.choice(N_AUTHORS, size=n, p=_zipf_probs(N_AUTHORS, 1.2))
    word_count = np.clip(rng.normal(450, 90, size=n), 120, 900).astype(np.int64)
    nominal = EVENT_EPOCH_S + np.arange(n) * (EVENT_SPEEDUP / rate)
    late = np.where(rng.random(n) < OUT_OF_ORDER_SHARE, rng.uniform(0, LATE_MAX_S, n), 0.0)
    ts = np.floor(nominal - late).astype(np.int64)
    return {"author": author, "word_count": word_count, "ts": ts}


def author_name(i: int) -> str:
    return f"author-{i:03d}"


def article_payloads(seed: int, n: int, rate: float) -> list[tuple[str, bytes]]:
    """(partition key, JSON payload) per record, in the reference's wire
    shape: UUID ``article_id``, short title, author, ``publish_date``
    string and ~3 KB of whitespace-separated content."""
    import datetime as dt

    meta = article_meta(seed, n, rate)
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(np.random.default_rng([seed, 3]))
    cdf = np.cumsum(_zipf_probs(len(vocab), 1.05))
    out = []
    for i in range(n):
        words = _words(rng, vocab, cdf, int(meta["word_count"][i]))
        article_id = str(uuid.UUID(bytes=rng.bytes(16), version=4))
        when = dt.datetime.fromtimestamp(int(meta["ts"][i]), dt.timezone.utc)
        body = {
            "article_id": article_id,
            "title": " ".join(words[:6]).capitalize(),
            "author": author_name(int(meta["author"][i])),
            "publish_date": when.strftime("%Y-%m-%d %H:%M:%S"),
            "content": " ".join(words),
        }
        out.append((article_id, json.dumps(body).encode()))
    return out


def article_properties(seed: int, n: int, rate: float) -> dict:
    meta = article_meta(seed, n, rate)
    counts = np.bincount(meta["author"], minlength=N_AUTHORS)
    ts = meta["ts"]
    return {
        "records": n,
        "offered_rps": rate,
        "authors": N_AUTHORS,
        "top_author_share": round(float(counts.max() / n), 4),
        "out_of_order_share": round(float(np.mean(ts[1:] < np.maximum.accumulate(ts)[:-1])), 4),
        "event_seconds_per_wall_second": EVENT_SPEEDUP,
        "mean_word_count": round(float(meta["word_count"].mean()), 1),
    }


# --- corpus_curation ----------------------------------------------------

#: Shares of the corpus that are planted copies of an earlier original
#: document: near-duplicates (a few words replaced) for MinHash-LSH, and
#: exact duplicates up to whitespace/case for the normalized-hash dedup.
#: Copies are never copied again, so every duplicate cluster is a star
#: and the component search needs the same number of rounds on every
#: seed.
NEAR_DUP_SHARE = 0.15
EXACT_DUP_SHARE = 0.05
DOC_FILES = 4
DOC_ROW_GROUP = 250


def write_documents(seed: int, n: int, sf_dir: str) -> dict:
    """``<sf_dir>/documents.parquet/`` as ``DOC_FILES`` files of
    ``DOC_ROW_GROUP``-row row groups (the catalog's documents schema).
    Lengths are log-normal (heavy tail past the 1000-token pack gate),
    one language dominates, and some documents carry bullet, ellipsis
    or ``#`` lines so every Gopher rule fires somewhere."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 10])
    vocab = _vocab(np.random.default_rng([seed, 11]))
    cdf = np.cumsum(_zipf_probs(len(vocab), 1.05))
    texts: list[str] = []
    originals: list[int] = []
    kinds = rng.random(n)
    n_near = n_exact = 0
    for i in range(n):
        if i > 10 and kinds[i] < NEAR_DUP_SHARE:
            src = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            for j in np.flatnonzero(rng.random(len(src)) < 0.04):
                src[j] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(src))
            n_near += 1
            continue
        if i > 10 and kinds[i] < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            src = texts[originals[int(rng.integers(0, len(originals)))]]
            texts.append(("  " + src.upper() + " ") if rng.random() < 0.5 else src.replace(" ", "\t", 3))
            n_exact += 1
            continue
        n_words = int(np.clip(rng.lognormal(np.log(110), 0.8), 4, 3000))
        words = _words(rng, vocab, cdf, n_words)
        style = rng.random()
        lines = [" ".join(words[k : k + 14]) for k in range(0, n_words, 14)]
        if style < 0.05:
            lines = ["- " + ln for ln in lines]
        elif style < 0.08:
            lines = [ln + " ..." for ln in lines]
        elif style < 0.10:
            lines = [ln + " # #" for ln in lines]
        originals.append(i)
        texts.append("\n".join(lines))
    lang = np.array(_LANGS)[rng.choice(len(_LANGS), size=n, p=_LANG_P)]
    source = np.array([f"site{k:02d}.example" for k in rng.integers(0, 20, size=n)])
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(lang),
            "source": pa.array(source),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    out = os.path.join(sf_dir, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    per = -(-n // DOC_FILES)
    for f in range(DOC_FILES):
        pq.write_table(
            table.slice(f * per, per), os.path.join(out, f"part-{f}.parquet"),
            row_group_size=DOC_ROW_GROUP,
        )
    n_tok = np.array([len(t.split()) for t in texts])
    return {
        "documents": n,
        "near_dup_share": round(n_near / n, 4),
        "exact_dup_share": round(n_exact / n, 4),
        "top_lang_share": round(float(np.mean(lang == "en")), 4),
        "tokens_p50": int(np.median(n_tok)),
        "tokens_p99": int(np.percentile(n_tok, 99)),
        "files": DOC_FILES,
        "row_groups": DOC_FILES * -(-per // DOC_ROW_GROUP),
    }


# --- embedding_curation -------------------------------------------------

EMB_DIM = 64
#: Cluster count of the generated space and the share of vectors that are
#: jittered copies of another vector (the semantic-dedup target).
N_CLUSTERS = 48
EMB_NEAR_DUP_SHARE = 0.1


def write_embeddings(seed: int, n: int, sf_dir: str) -> dict:
    """``<sf_dir>/embeddings.parquet/``: unit-scale vectors around
    ``N_CLUSTERS`` Zipf-sized clusters with per-cluster spread, plus
    near-duplicate copies. ``label`` is the generating cluster mod 10."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 20])
    centers = rng.normal(size=(N_CLUSTERS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    spread = rng.uniform(0.15, 0.45, size=N_CLUSTERS)
    cluster = rng.choice(N_CLUSTERS, size=n, p=_zipf_probs(N_CLUSTERS, 0.8))
    vec = centers[cluster] + rng.normal(size=(n, EMB_DIM)) * (spread[cluster] / np.sqrt(EMB_DIM))[:, None] * 4
    dup = np.flatnonzero(rng.random(n) < EMB_NEAR_DUP_SHARE)
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(np.int64)
    vec[dup] = vec[src] + rng.normal(size=(len(dup), EMB_DIM)) * 0.01
    cluster[dup] = cluster[src]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True) * 0.9).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array((cluster % 10).astype(np.int32)),
        }
    )
    out = os.path.join(sf_dir, "embeddings.parquet")
    os.makedirs(out, exist_ok=True)
    per = -(-n // DOC_FILES)
    for f in range(DOC_FILES):
        pq.write_table(
            table.slice(f * per, per), os.path.join(out, f"part-{f}.parquet"),
            row_group_size=DOC_ROW_GROUP,
        )
    sizes = np.bincount(cluster, minlength=N_CLUSTERS)
    return {
        "vectors": n,
        "dim": EMB_DIM,
        "clusters": N_CLUSTERS,
        "largest_cluster_share": round(float(sizes.max() / n), 4),
        "near_dup_share": round(len(dup) / n, 4),
        "files": DOC_FILES,
        "row_groups": DOC_FILES * -(-per // DOC_ROW_GROUP),
    }
