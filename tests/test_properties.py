"""Property-based tests (hypothesis) — SURVEY.md §5: tokenizer parity
against a reference model, dedup idempotence, PERMISSIVE parse
robustness on arbitrary malformed payloads.

One Spark job per test (hypothesis generates the corpus up front) so
runtime stays bounded."""

from __future__ import annotations

import json
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.operators.article import (
    ARTICLE_SCHEMA,
    parse_articles,
    with_word_count,
)

# printable-ish text incl. whitespace runs, unicode, empties
texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    min_size=0,
    max_size=80,
)


def _ref_word_count(s: str) -> int:
    """Reference model of Spark's size(split(s, '\\s+')). Spark's split
    passes limit=-1 to the Java regex engine, so trailing empty tokens
    are KEPT (unlike bare String.split): ' ' -> ['', ''] (2), '' -> ['']
    (1). Java's \\s is exactly [ \\t\\n\\x0B\\f\\r] — narrower than
    Python's Unicode \\s (which also matches \\x1c-\\x1f etc.), so the
    model spells the class out."""
    return len(re.split(r"[ \t\n\x0b\f\r]+", s))


class TestTokenizerProperties:
    @settings(max_examples=20, deadline=None)
    @given(st.lists(texts, min_size=1, max_size=30))
    def test_word_count_matches_reference_model(self, spark, corpus):
        df = spark.createDataFrame([(t,) for t in corpus], "content string")
        got = [r.word_count for r in with_word_count(df).collect()]
        want = [_ref_word_count(t) for t in corpus]
        assert got == want, list(zip(corpus, got, want))


class TestDedupProperties:
    @settings(max_examples=10, deadline=None)
    @given(st.lists(texts, min_size=1, max_size=30))
    def test_exact_dedup_idempotent(self, spark, corpus):
        """dedup(dedup(X)) == dedup(X), and survivors' normalized forms are
        unique."""
        from spark_kinesis_article_analysis_spark.functions.dedup import normalized_text_col

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
        )
        once = (
            df.select("doc_id", "text", F.md5(normalized_text_col()).alias("h"))
            .groupBy("h")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        n_once = once.count()
        # model Java regex \s ([ \t\n\x0B\f\r]) and Spark trim (' ' only),
        # NOT Python's Unicode \s / str.strip() which also match \x1c-\x1f
        norm = {
            re.sub(r"[ \t\n\x0b\f\r]+", " ", t).strip(" ").lower() for t in corpus
        }
        assert n_once == len(norm)
        # idempotence: dedup over survivors changes nothing
        survivors = df.join(once.select("doc_id"), "doc_id", "left_semi")
        twice = (
            survivors.select(F.md5(normalized_text_col()).alias("h"))
            .distinct()
            .count()
        )
        assert twice == n_once

    def test_segment_dedup_idempotent_and_reference_model(self, spark):
        """Idempotence holds when re-running preserves segment boundaries
        (survivor word counts stay multiples of SEG_WORDS): every kept
        segment is globally unique, so a second pass drops nothing.
        (On arbitrary corpora a second pass re-segments shifted
        boundaries — different strings, no invariant — so the property is
        stated and tested on the boundary-preserving case.)"""
        from spark_kinesis_article_analysis_spark.functions.corpus import (
            SEG_WORDS,
            segment_dedup,
        )

        docs = [
            (0, "a b c d e f"),       # segments: "a b c", "d e f"
            (1, "a b c x y z"),       # first segment duplicates doc 0's
            (2, "p q r"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r.doc_id: r for r in segment_dedup(df).collect()}
        assert got[0].clean_text == "a b c d e f"
        assert got[1].clean_text == "x y z" and got[1].segs_dropped == 1
        assert got[2].clean_text == "p q r"
        # boundaries preserved (all survivors multiple of SEG_WORDS words):
        clean = segment_dedup(df).filter(F.col("clean_text").isNotNull())
        assert all(len(r.clean_text.split(" ")) % SEG_WORDS == 0 for r in clean.collect())
        again = segment_dedup(
            clean.select("doc_id", F.col("clean_text").alias("text"))
        ).collect()
        assert all(r.segs_dropped == 0 for r in again)
        assert {r.doc_id: r.clean_text for r in again} == {
            r.doc_id: r.clean_text for r in clean.collect()
        }


class TestParseRobustness:
    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.one_of(texts, st.none()), min_size=1, max_size=20))
    def test_malformed_payloads_yield_nulls_not_errors(self, spark, payloads):
        """PERMISSIVE from_json (the reference's mode): arbitrary garbage in
        the data column parses to null fields, never an exception."""
        df = spark.createDataFrame([(p,) for p in payloads], "data string")
        out = parse_articles(df).collect()
        assert len(out) == len(payloads)
        valid = json.dumps({"article_id": "x", "title": "t", "author": "a",
                            "publish_date": "2024-01-01 00:00:00", "content": "c"})
        df2 = spark.createDataFrame([(valid,)], "data string")
        row = parse_articles(df2).collect()[0]
        assert row.article_id == "x" and row.publish_date is not None


class TestChunkingProperties:
    @settings(max_examples=10, deadline=None)
    @given(st.lists(texts, min_size=1, max_size=15))
    def test_chunks_cover_all_tokens_with_exact_overlap(self, spark, corpus):
        """Sliding chunking (50 tokens / stride 40): chunk k starts at token
        k*40; concatenating each chunk's first 40 tokens (all of the last
        chunk) reproduces the document's token stream exactly."""
        from spark_kinesis_article_analysis_spark.functions.pipeline import (
            CHUNK_STRIDE,
            CHUNK_TOKENS,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
        )
        toks = F.split("text", r"\s+")
        n_chunks = (F.floor((F.size("toks") - F.lit(1)) / F.lit(CHUNK_STRIDE)) + 1).cast("int")
        chunks = (
            df.select("doc_id", toks.alias("toks"))
            .select(
                "doc_id",
                "toks",
                F.posexplode(
                    F.transform(
                        F.sequence(F.lit(0), n_chunks - 1),
                        lambda i: F.slice(F.col("toks"), i * CHUNK_STRIDE + 1, CHUNK_TOKENS),
                    )
                ).alias("chunk_id", "chunk"),
            )
            .collect()
        )
        by_doc: dict[int, list] = {}
        for r in chunks:
            assert len(r.chunk) <= CHUNK_TOKENS
            by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk))
        for i, text in enumerate(corpus):
            want = re.split(r"[ \t\n\x0b\f\r]+", text)
            got: list[str] = []
            parts = sorted(by_doc[i])
            for k, (cid, chunk) in enumerate(parts):
                assert cid == k
                got.extend(chunk if k == len(parts) - 1 else chunk[:CHUNK_STRIDE])
            # trailing overlap: last chunk may re-cover tokens already taken
            assert got[: len(want)] == want and len(got) >= len(want)


class TestPackingProperties:
    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.integers(min_value=1, max_value=3000), min_size=1, max_size=40))
    def test_pack_ids_contiguous_and_budget_bounded(self, spark, token_counts):
        """Sequence packing: pack ids are 0..K contiguous and non-decreasing
        in doc order; a pack only exceeds the budget when a single document
        alone does (greedy contiguous semantics)."""
        from spark_kinesis_article_analysis_spark.functions.pipeline import PACK_BUDGET

        from pyspark.sql import Window as W

        df = spark.createDataFrame(
            [(i, n) for i, n in enumerate(token_counts)], "doc_id long, n_tokens long"
        )
        w = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
        cum = F.sum("n_tokens").over(w)
        out = sorted(
            (r.doc_id, r.pack_id)
            for r in df.select(
                "doc_id",
                "n_tokens",
                F.floor((cum - F.col("n_tokens")) / F.lit(PACK_BUDGET)).alias("pack_id"),
            ).collect()
        )
        pack_ids = [p for _, p in out]
        assert pack_ids == sorted(pack_ids)  # non-decreasing in doc order
        assert pack_ids[0] == 0
        # pack totals: sum of docs whose pack_id == k
        totals: dict[int, int] = {}
        for (doc_id, p), n in zip(out, token_counts):
            totals[p] = totals.get(p, 0) + n
        # Straddle rule (exclusive-prefix assignment): a doc joins the pack
        # its first token lands in, so only the LAST doc of a pack may
        # overflow the budget — everything before it fits.
        for p, tot in totals.items():
            docs_in_pack = [(d, n) for (d, pp), n in zip(out, token_counts) if pp == p]
            n_last = max(docs_in_pack)[1]
            assert tot - n_last < PACK_BUDGET, (p, tot, n_last)


class TestShortDocRobustness:
    def test_repetition_and_grams_survive_short_docs(self, spark):
        """sequence(1, n-k) DESCENDS through 0 for short docs and
        element_at(arr, 0) throws — single-token / tiny docs must flow
        through the gram and repetition operators as empty-gram rows,
        not kill the job (the streaming ingest path hits this with any
        degenerate document)."""
        from spark_kinesis_article_analysis_spark.functions.quality import (
            _grams5,
            repetition_stats,
        )

        d = spark.createDataFrame(
            [
                (1, "one"),
                (2, "a b"),
                (3, "a b c d"),
                (4, "a b c d e f g"),
                (5, " "),
            ],
            "doc_id long, text string",
        )
        stats = repetition_stats(d).collect()
        assert {r.doc_id for r in stats} == {1, 2, 3, 4, 5}
        grams = _grams5(d).collect()
        # only the 7-token doc has 5-grams
        assert {r.doc_id for r in grams} == {4}
        assert len(grams) == 3


def test_coverage_md_header_matches_registry():
    """COVERAGE.md's headline counts are asserted against the live
    registry so they can never drift again (VERDICT r3 found them two
    rounds stale)."""
    import re as _re
    from pathlib import Path

    from spark_kinesis_article_analysis_spark.registry import all_specs

    specs = all_specs()
    n_total = len(specs)
    n_oracle = sum(1 for s in specs.values() if s.oracle is not None)
    head = Path(__file__).resolve().parent.parent.joinpath("COVERAGE.md").read_text()[:300]
    m = _re.search(r"(\d+) registered queries \((\d+) DuckDB-oracle-backed, (\d+) rows-only", head)
    assert m, "COVERAGE.md headline count sentence missing"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
        n_total,
        n_oracle,
        n_total - n_oracle,
    ), f"COVERAGE.md says {m.groups()}, registry has ({n_total}, {n_oracle}, {n_total - n_oracle})"


def test_registry_loads_every_module_and_orders_by_name():
    """In a fresh interpreter (no test-side imports to mask a gap),
    ``_load_all`` imports every package module that registers a query,
    the registry holds exactly the names those modules declare, and
    ``all_specs()`` / ``queries()`` list them in name order."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    pkg = repo / "spark_kinesis_article_analysis_spark"
    registering: set[str] = set()
    declared: list[str] = []
    for path in pkg.rglob("*.py"):
        src = path.read_text()
        if "@register(" in src:
            rel = path.relative_to(repo).with_suffix("")
            registering.add(".".join(rel.parts))
            declared += re.findall(r'@register\(\s*"([^"]+)"', src)
    probe = (
        "import json, sys\n"
        "from spark_kinesis_article_analysis_spark import registry\n"
        "registry._load_all()\n"
        "print(json.dumps({'modules': sorted(sys.modules),"
        " 'specs': list(registry.all_specs()),"
        " 'queries': list(registry.queries())}))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=repo, capture_output=True, text=True, check=True
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    missing = registering - set(got["modules"])
    assert not missing, f"registering modules _load_all did not import: {sorted(missing)}"
    assert len(declared) == 224
    assert got["specs"] == sorted(declared)
    assert got["queries"] == got["specs"]


def test_bench_headline_names_resolve():
    """Every bench.py HEADLINE entry must be a registered query — a typo
    here doesn't fail until the driver's per-round BENCH run, which is
    too late to fix."""
    import importlib.util
    from pathlib import Path

    from spark_kinesis_article_analysis_spark.registry import all_specs

    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parent.parent / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    unknown = [n for n in bench.HEADLINE if n not in all_specs()]
    assert not unknown, f"bench.py HEADLINE references unregistered queries: {unknown}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate bench entries"


class TestScaleOpsProperties:
    def test_hash_sample_telescopes_and_ignores_partitioning(self, spark):
        """Content-addressed sampling must (a) telescope — the 1% sample
        (bucket < 10) is EXACTLY the bucket<10 subset of the 10% sample —
        and (b) be invariant under physical layout (same rows at any
        partitioning), the property rand(seed) sampling lacks."""
        from tests.conftest import SF_CORRECTNESS
        from spark_kinesis_article_analysis_spark.registry import all_specs

        spec = all_specs()["sample_hash_portable"]
        ten = spec.build(spark, SF_CORRECTNESS)
        rows10 = {r.doc_id: r.sample_bucket for r in ten.collect()}
        rows1 = {d for d, b in rows10.items() if b < 10}
        one = {r.doc_id for r in ten.filter(F.col("sample_bucket") < 10).collect()}
        assert one == rows1
        repart = {
            r.doc_id: r.sample_bucket
            for r in spec.build(spark, SF_CORRECTNESS).repartition(13).collect()
        }
        assert repart == rows10

    @settings(max_examples=10, deadline=None)
    @given(st.lists(texts, min_size=1, max_size=25))
    def test_heavy_hitters_matches_counter_model(self, spark, corpus):
        """agg_heavy_hitters == collections.Counter over the same
        tokenization (Java \\s split, lowercase, empties dropped), with
        (count desc, token asc) tie-break."""
        from collections import Counter

        df = spark.createDataFrame([(t,) for t in corpus], "text string")
        got = [
            (r.token, r.cnt)
            for r in df.select(
                F.explode(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+")).alias(
                    "token"
                )
            )
            .filter(F.col("token") != "")
            .groupBy("token")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("token"))
            .limit(20)
            .collect()
        ]
        c = Counter()
        for t in corpus:
            for tok in re.split(r"[ \t\n\x0b\f\r]+", t.lower()):
                if tok:
                    c[tok] += 1
        want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        assert got == want

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 50), st.sampled_from(["a", "b"]), st.integers(0, 5)),
            min_size=1,
            max_size=40,
        )
    )
    def test_cumulative_distinct_matches_scan_model(self, spark, rows):
        """window_cumulative_distinct == an O(n) python scan keeping a
        per-type seen-set, in (ts, event_id) order."""
        data = [
            (i, typ, user, float(i)) for i, (ts, typ, user) in enumerate(rows)
        ]
        # ts deliberately duplicated across rows: tie-break is event_id
        df = spark.createDataFrame(
            [(eid, rows[eid][0], typ, user) for eid, typ, user, _ in data],
            "event_id long, ts_num long, event_type string, user_id long",
        ).withColumn("ts", F.timestamp_seconds("ts_num"))
        from pyspark.sql import Window as W

        w_first = W.partitionBy("event_type", "user_id").orderBy(
            F.col("ts").asc_nulls_first(), F.col("event_id")
        )
        w_run = (
            W.partitionBy("event_type")
            .orderBy(F.col("ts").asc_nulls_first(), F.col("event_id"))
            .rowsBetween(W.unboundedPreceding, 0)
        )
        got = {
            r.event_id: r.n
            for r in df.withColumn(
                "f", F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
            )
            .withColumn("n", F.sum("f").over(w_run))
            .collect()
        }
        want = {}
        for typ in {t for _, t, _ in rows}:
            seen = set()
            for eid in sorted(
                (e for e, (ts, t, u) in enumerate(rows) if t == typ),
                key=lambda e: (rows[e][0], e),
            ):
                seen.add(rows[eid][2])
                want[eid] = len(seen)
        assert got == want

    def test_cdc_merge_action_invariants(self, spark):
        """Delete keys vanish, insert keys appear exactly once with the
        change amount, update keys keep identity but move acctbal by the
        change amount, untouched keys ride through unchanged."""
        from tests.conftest import SF_CORRECTNESS
        from spark_kinesis_article_analysis_spark.catalog import load
        from spark_kinesis_article_analysis_spark.registry import all_specs

        merged = {
            r.c_custkey: (r.c_name, r.acctbal)
            for r in all_specs()["cdc_merge_upsert"].build(spark, SF_CORRECTNESS).collect()
        }
        o = load(spark, SF_CORRECTNESS, "orders")
        per = (
            o.groupBy("o_custkey")
            .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("amt"))
            .collect()
        )
        snap = {
            r.c_custkey: (r.c_name, r.c_acctbal)
            for r in load(spark, SF_CORRECTNESS, "customer").collect()
        }
        deletes = {r.o_custkey for r in per if r.n % 7 == 0}
        inserts = {r.o_custkey: r.amt for r in per if r.n % 11 == 0}
        updates = {r.o_custkey: r.amt for r in per if r.n % 7 != 0}
        for k in deletes:
            assert k not in merged
        for k, amt in inserts.items():
            assert merged[-k] == (f"new-{-k}", round(amt, 2)), (k, merged.get(-k))
        for k, amt in updates.items():
            if k in snap:
                assert merged[k][1] == round(snap[k][1] + amt, 2), k
        untouched = set(snap) - deletes - set(updates)
        # On the fixture corpus every customer has orders, so this loop
        # can be empty — the synthetic-snapshot test below is the one
        # that always exercises ride-through (ADVICE r4).
        for k in list(untouched)[:50]:
            assert merged[k] == (snap[k][0], round(snap[k][1], 2)), k

    def test_cdc_merge_untouched_rows_ride_through(self, spark):
        """A target row with NO change record must survive the MERGE
        unchanged. ADVICE r4 (high): the NOT(op='X' AND ...) filter
        chain NULL-propagated exactly these rows out — silent data loss
        on both engines, so oracle parity could never catch it. This
        synthetic snapshot guarantees an orderless customer exists."""
        import os
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        from spark_kinesis_article_analysis_spark.registry import all_specs

        with tempfile.TemporaryDirectory() as d:
            # customers 1..5; customer 5 has NO orders → no change record
            pq.write_table(
                pa.table(
                    {
                        "c_custkey": pa.array([1, 2, 3, 4, 5], pa.int64()),
                        "c_name": pa.array([f"Customer#{k}" for k in range(1, 6)]),
                        "c_acctbal": pa.array([10.0, 20.0, 30.0, 40.0, 50.0]),
                    }
                ),
                os.path.join(d, "customer.parquet"),
            )
            # orders: cust 1 → 7 orders (n%7==0 → D); cust 2 → 11 orders
            # (U, and n%11==0 → also insert key -2); cust 3 → 2 orders
            # (U); cust 4 → 1 order (U); cust 5 → none (untouched).
            okeys, oprices = [], []
            for k, n in ((1, 7), (2, 11), (3, 2), (4, 1)):
                okeys += [k] * n
                oprices += [100.0] * n
            pq.write_table(
                pa.table(
                    {
                        "o_custkey": pa.array(okeys, pa.int64()),
                        "o_totalprice": pa.array(oprices),
                    }
                ),
                os.path.join(d, "orders.parquet"),
            )
            merged = {
                r.c_custkey: (r.c_name, r.acctbal)
                for r in all_specs()["cdc_merge_upsert"].build(spark, d).collect()
            }
        assert 1 not in merged, "matched delete must remove the row"
        assert merged[2] == ("Customer#2", 20.0 + 1100.0)
        assert merged[3] == ("Customer#3", 30.0 + 200.0)
        assert merged[4] == ("Customer#4", 40.0 + 100.0)
        assert merged[-2] == ("new--2", 1100.0), "unmatched insert"
        assert merged[5] == ("Customer#5", 50.0), (
            "orderless customer must ride through the MERGE unchanged"
        )
        assert len(merged) == 5

    def test_random_projection_recovers_matrix_on_basis_vectors(self, spark):
        """Projecting the standard basis e_j must return column j of the
        md5-derived matrix exactly (rounded) — pins the (k, j) index
        orientation that a transposed implementation would silently flip."""
        from spark_kinesis_article_analysis_spark.functions.scale_ops import (
            _PROJ,
            EMB_DIM,
            PROJ_DIM,
        )
        from spark_kinesis_article_analysis_spark.registry import all_specs
        import pyarrow as pa
        import pyarrow.parquet as pq
        import tempfile, os

        with tempfile.TemporaryDirectory() as d:
            basis = [
                (j, [1.0 if i == j else 0.0 for i in range(EMB_DIM)], 0)
                for j in range(EMB_DIM)
            ]
            pq.write_table(
                pa.table(
                    {
                        "vec_id": pa.array([b[0] for b in basis], pa.int64()),
                        "embedding": pa.array([b[1] for b in basis], pa.list_(pa.float32())),
                        "label": pa.array([b[2] for b in basis], pa.int64()),
                    }
                ),
                os.path.join(d, "embeddings.parquet"),
            )
            got = all_specs()["embed_random_projection"].build(spark, d).collect()
        for r in got:
            for k in range(PROJ_DIM):
                assert getattr(r, f"proj_{k}") == round(_PROJ[k][r.vec_id], 6), (
                    r.vec_id,
                    k,
                )


def test_embedding_dim_constant_matches_fixture():
    """Every embeddings oracle generates SQL over exactly EMB_DIM
    dimensions (generate_series bounds, literal weight matrices). If a
    testdata regeneration changes the vector dim, this must fail with a
    clear instruction instead of surfacing as value-hash divergence."""
    import pyarrow.parquet as pq

    from spark_kinesis_article_analysis_spark.functions.similarity import EMB_DIM
    from tests.conftest import SF_CORRECTNESS

    t = pq.read_table(f"{SF_CORRECTNESS}/embeddings.parquet", columns=["embedding"])
    dims = {len(v) for v in t.column("embedding").to_pylist()[:50] if v is not None}
    assert dims == {EMB_DIM}, (
        f"fixture embedding dims {dims} != EMB_DIM {EMB_DIM}: update "
        "similarity.EMB_DIM (single repo-wide constant) and re-run"
    )


def test_coverage_md_bench_count_matches():
    """The COVERAGE.md bench-count sentence drifted once (said 25 at 44,
    then 49 at 46) — pin it to the actual HEADLINE length."""
    import importlib.util
    import re as _re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location("bench", root / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    text = (root / "COVERAGE.md").read_text()
    m = _re.search(r"`bench.py`: (\d+) headline queries", text)
    assert m, "COVERAGE.md bench sentence missing"
    assert int(m.group(1)) == len(bench.HEADLINE), (
        f"COVERAGE.md says {m.group(1)}, bench.py has {len(bench.HEADLINE)}"
    )


def test_readme_counts_match_registry():
    """README.md's query counts drifted twice this round — pin them."""
    import re as _re
    from pathlib import Path

    from spark_kinesis_article_analysis_spark.registry import all_specs

    specs = all_specs()
    text = Path(__file__).resolve().parent.parent.joinpath("README.md").read_text()
    m = _re.search(r"\((\d+) registered\s+queries, (\d+) DuckDB-oracle-backed", text)
    assert m, "README count sentence missing"
    n_oracle = sum(1 for s in specs.values() if s.oracle is not None)
    assert (int(m.group(1)), int(m.group(2))) == (len(specs), n_oracle), (
        f"README says {m.groups()}, registry has ({len(specs)}, {n_oracle})"
    )
