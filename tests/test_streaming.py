"""Streaming semantics tests (SURVEY.md §5/M4): the reference pipeline
under readStream with deterministic micro-batch replay.

Strategy: write payload parquet files (one file per micro-batch,
``maxFilesPerTrigger=1``) so event-time progression — and therefore
watermark advancement and append-mode emission — is exactly
controlled. Memory sink collects what was emitted.
"""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from spark_kinesis_article_analysis_spark.streaming import pipeline as sp


def _write_batch(spark, dir_path: str, idx: int, articles: list[dict]) -> None:
    rows = [(json.dumps(a),) for a in articles]
    spark.createDataFrame(rows, sp.PAYLOAD_SCHEMA).coalesce(1).write.mode(
        "append" if idx else "overwrite"
    ).parquet(dir_path)


def _article(aid: str, author: str, ts: str, content: str = "w1 w2 w3 w4") -> dict:
    return {
        "article_id": aid,
        "title": f"title {aid}",
        "author": author,
        "publish_date": ts,
        "content": content,
    }


@pytest.fixture()
def payload_dir(tmp_path):
    return str(tmp_path / "payload")


def _run_to_completion(df, name: str, output_mode: str = "append"):
    q = sp.start_memory_sink(df, name, output_mode)
    q.processAllAvailable()
    q.stop()
    return q


class TestArticleStreamPipeline:
    def test_append_mode_emits_closed_windows(self, spark, payload_dir, tmp_path):
        """Windows are emitted once the watermark (max event time - 10s)
        passes window.end — the G1/G5 semantics of the reference."""
        # batch 0: two authors inside 00:00-00:05-ish windows
        _write_batch(
            spark,
            payload_dir,
            0,
            [
                _article("a1", "alice", "2024-01-01 00:00:30", "a b c d"),  # wc 4
                _article("b1", "bob", "2024-01-01 00:00:45", "a b"),  # wc 2
            ],
        )
        # batch 1: event time jumps far ahead -> watermark closes all earlier windows
        _write_batch(spark, payload_dir, 1, [_article("c1", "carol", "2024-01-01 02:00:00")])

        stream = sp.article_stream(sp.payload_stream(spark, payload_dir), watermark="10 seconds")
        _run_to_completion(stream, "closed_windows")
        out = spark.sql("SELECT * FROM closed_windows").collect()

        # sliding 5m/1m: each event belongs to 5 windows; alice+bob windows all
        # closed by the 02:00 event; carol's windows stay open (never emitted).
        authors = {r.author for r in out}
        assert authors == {"alice", "bob"}, f"expected only closed windows, got {authors}"
        alice = [r for r in out if r.author == "alice"]
        assert len(alice) == 5
        assert all(r.average_word_count == 4.0 for r in alice)
        # the window containing 00:00:30 starting at 23:56 exists
        starts = {str(r.window_start) for r in alice}
        assert "2023-12-31 23:56:00" in starts and "2024-01-01 00:00:00" in starts

    def test_late_rows_beyond_watermark_dropped(self, spark, payload_dir):
        """A row older than (max event time - 10 s) must not resurrect an
        already-closed window (G1)."""
        _write_batch(spark, payload_dir, 0, [_article("a1", "alice", "2024-01-01 00:00:30")])
        _write_batch(spark, payload_dir, 1, [_article("f1", "frank", "2024-01-01 01:00:00")])
        # batch 2: very late row for alice's window — beyond watermark, dropped
        _write_batch(spark, payload_dir, 2, [_article("a2", "alice", "2024-01-01 00:00:40")])
        _write_batch(spark, payload_dir, 3, [_article("g1", "gina", "2024-01-01 02:00:00")])

        stream = sp.article_stream(sp.payload_stream(spark, payload_dir), watermark="10 seconds")
        _run_to_completion(stream, "late_drop")
        out = spark.sql("SELECT * FROM late_drop WHERE author = 'alice'").collect()
        # a2 dropped: every alice window aggregates only a1 (4 words from default content)
        assert len(out) == 5
        assert all(r.average_word_count == 4.0 for r in out)

    def test_batch_stream_parity(self, spark, payload_dir):
        """The same transform over the same rows gives identical results in
        batch and streaming (with watermark far enough to close everything) —
        the unification property the engine's test strategy rests on."""
        arts = [
            _article("a1", "alice", "2024-01-01 00:00:30", "x y"),
            _article("b1", "bob", "2024-01-01 00:01:10", "x y z"),
            _article("z9", "zoe", "2024-01-01 09:00:00"),  # closes the others
        ]
        _write_batch(spark, payload_dir, 0, arts[:2])
        _write_batch(spark, payload_dir, 1, arts[2:])

        stream = sp.article_stream(sp.payload_stream(spark, payload_dir), watermark="10 seconds")
        _run_to_completion(stream, "parity_stream")
        streamed = {
            (str(r.window_start), r.author): r.average_word_count
            for r in spark.sql("SELECT * FROM parity_stream").collect()
        }

        batch_df = sp.article_pipeline(
            spark.createDataFrame([(json.dumps(a),) for a in arts], sp.PAYLOAD_SCHEMA)
        )
        batch = {
            (str(r.window_start), r.author): r.average_word_count for r in batch_df.collect()
        }
        # every streamed (closed) window must equal the batch result exactly
        assert streamed
        for k, v in streamed.items():
            assert batch[k] == v


class TestStreamingDedup:
    def test_drop_duplicates_within_watermark(self, spark, payload_dir):
        _write_batch(
            spark,
            payload_dir,
            0,
            [
                _article("a1", "alice", "2024-01-01 00:00:30"),
                _article("a1", "alice", "2024-01-01 00:00:31"),  # dup in same batch
            ],
        )
        _write_batch(spark, payload_dir, 1, [_article("a1", "alice", "2024-01-01 00:00:32")])  # dup later batch
        _write_batch(spark, payload_dir, 2, [_article("b1", "bob", "2024-01-01 00:05:00")])

        dedup = sp.article_dedup_stream(sp.payload_stream(spark, payload_dir), watermark="10 minutes")
        _run_to_completion(dedup, "dedup_stream")
        out = spark.sql("SELECT article_id FROM dedup_stream").collect()
        ids = sorted(r.article_id for r in out)
        assert ids == ["a1", "b1"], f"duplicates not collapsed: {ids}"


class TestCorpusIngestStream:
    GOOD_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    GOOD_B = "one two three four five six seven eight nine ten eleven"
    JUNK = "spam spam spam spam spam spam spam spam spam spam spam spam"

    def _write_docs(self, spark, dir_path, idx, rows):
        spark.createDataFrame(rows, sp.DOC_SCHEMA).coalesce(1).write.mode(
            "append" if idx else "overwrite"
        ).parquet(dir_path)

    def test_gate_plus_dedup_and_batch_parity(self, spark, payload_dir, tmp_path):
        """Low-quality docs never enter dedup state; duplicate content is
        emitted once across micro-batches; and the surviving set equals
        the batch composition of the same transforms (batch/stream
        unification — the shared-code property SURVEY §3.3 relies on)."""
        import datetime as dt

        ts = lambda s: dt.datetime.fromisoformat(f"2024-01-01 00:{s}")
        b0 = [(1, self.GOOD_A, ts("00:10")), (2, self.JUNK, ts("00:20")), (3, self.GOOD_A, ts("00:30"))]
        b1 = [(4, self.GOOD_A, ts("01:00")), (5, self.GOOD_B, ts("01:10"))]
        self._write_docs(spark, payload_dir, 0, b0)
        self._write_docs(spark, payload_dir, 1, b1)

        out = sp.corpus_ingest_stream(sp.document_stream(spark, payload_dir), watermark="10 minutes")
        _run_to_completion(out, "corpus_ingest")
        got = {r.doc_id for r in spark.sql("SELECT doc_id FROM corpus_ingest").collect()}
        # doc 2 fails the repetition gate; docs 3 and 4 duplicate doc 1's content
        assert got == {1, 5}, got

        # batch parity: same gate + first-occurrence dedup over the union
        from spark_kinesis_article_analysis_spark.functions.quality import repetition_stats

        batch = spark.createDataFrame(b0 + b1, sp.DOC_SCHEMA)
        gated = repetition_stats(batch).filter(F.col("passes_gate"))
        firsts = (
            gated.withColumn("text_hash", F.md5("text"))
            .groupBy("text_hash")
            .agg(F.min(F.struct("ingest_ts", "doc_id")).alias("f"))
            .select(F.col("f.doc_id").alias("doc_id"))
        )
        assert {r.doc_id for r in firsts.collect()} == got


class TestStreamStaticJoin:
    def test_enrich_against_static_dim(self, spark, payload_dir):
        _write_batch(
            spark,
            payload_dir,
            0,
            [_article("a1", "en", "2024-01-01 00:00:30"), _article("b1", "xx", "2024-01-01 00:00:40")],
        )
        langs = spark.createDataFrame(
            [("en", "english"), ("de", "german")], ["author", "lang_name"]
        )
        parsed = sp.parse_articles(sp.payload_stream(spark, payload_dir))
        joined = sp.stream_static_enrich(parsed, langs, on="author", how="inner")
        _run_to_completion(joined, "enriched")
        out = spark.sql("SELECT article_id, lang_name FROM enriched").collect()
        assert [(r.article_id, r.lang_name) for r in out] == [("a1", "english")]


class TestParquetSinkRestart:
    def test_checkpoint_exactly_once_restart(self, spark, payload_dir, tmp_path):
        """G6: stop the query, add data, restart from the same checkpoint —
        previously-committed batches are not re-emitted (no duplicates)."""
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        _write_batch(spark, payload_dir, 0, [_article("a1", "alice", "2024-01-01 00:00:30")])

        parsed = sp.with_word_count(sp.parse_articles(sp.payload_stream(spark, payload_dir)))
        cols = ["article_id", "author", "word_count"]
        q = sp.start_parquet_sink(parsed.select(*cols), out_dir, ckpt)
        q.processAllAvailable()
        q.stop()
        first = spark.read.parquet(out_dir).count()
        assert first == 1

        _write_batch(spark, payload_dir, 1, [_article("b1", "bob", "2024-01-01 00:01:00")])
        parsed2 = sp.with_word_count(sp.parse_articles(sp.payload_stream(spark, payload_dir)))
        q2 = sp.start_parquet_sink(parsed2.select(*cols), out_dir, ckpt)
        q2.processAllAvailable()
        q2.stop()
        rows = spark.read.parquet(out_dir).collect()
        ids = sorted(r.article_id for r in rows)
        assert ids == ["a1", "b1"], f"restart must not duplicate batches: {ids}"


class TestKinesisPlumbing:
    def test_option_mapping_mirrors_reference(self, spark):
        from spark_kinesis_article_analysis_spark.streaming.kinesis import KinesisConfig, reader

        cfg = KinesisConfig(
            stream_name="articles",
            region="us-east-1",
            endpoint_url="http://localhost:4566",
            access_key="k",
            secret_key="s",
            checkpoint_location="/tmp/ckpt",
        )
        opts = cfg.options()
        assert opts["streamName"] == "articles"
        assert opts["startingPosition"] == "TRIM_HORIZON"
        assert opts["awsSecretKey"] == "s"  # the reference's key-swap bug is NOT replicated
        reader(spark, cfg)  # builds without the connector jar (load() not called)


class TestStreamStreamJoin:
    def test_interval_join_clicks_to_purchases(self, spark, tmp_path):
        """Stream-stream inner interval join: each click joins purchases by
        the same user within the preceding 10 minutes."""
        import json as _json

        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("user", T.StringType()),
                T.StructField("ts", T.StringType()),
                T.StructField("kind", T.StringType()),
            ]
        )
        ldir, rdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
        clicks = [("u1", "2024-01-01 00:10:00"), ("u2", "2024-01-01 00:12:00")]
        purchases = [
            ("u1", "2024-01-01 00:05:00"),  # within 10 min of u1's click -> joins
            ("u1", "2024-01-01 00:11:00"),  # AFTER the click -> excluded
            ("u2", "2024-01-01 00:01:00"),  # 11 min before u2's click -> excluded
        ]
        spark.createDataFrame([(u, t, "c") for u, t in clicks], schema).write.mode(
            "overwrite"
        ).parquet(ldir)
        spark.createDataFrame([(u, t, "p") for u, t in purchases], schema).write.mode(
            "overwrite"
        ).parquet(rdir)

        left = (
            spark.readStream.schema(schema).parquet(ldir)
            .select(F.col("user").alias("l_user"), F.to_timestamp("ts").alias("l_ts"))
        )
        right = (
            spark.readStream.schema(schema).parquet(rdir)
            .select(F.col("user").alias("r_user"), F.to_timestamp("ts").alias("r_ts"))
        )
        joined = sp.stream_stream_interval_join(
            left, right, left_key="l_user", right_key="r_user",
            left_time="l_ts", right_time="r_ts", interval="10 minutes",
        )
        q = sp.start_memory_sink(joined, "ssjoin")
        q.processAllAvailable()
        q.stop()
        out = [(r.l_user, str(r.r_ts)) for r in spark.sql("SELECT * FROM ssjoin").collect()]
        assert out == [("u1", "2024-01-01 00:05:00")], out


class TestArbitraryStatefulOp:
    def test_running_author_stats_accumulates_across_batches(self, spark, payload_dir):
        """applyInPandasWithState: explicit per-key state survives micro-batch
        boundaries (batch 1's count continues from batch 0's state)."""
        _write_batch(
            spark,
            payload_dir,
            0,
            [
                _article("a1", "alice", "2024-01-01 00:00:30", "w1 w2"),      # wc 2
                _article("a2", "alice", "2024-01-01 00:01:00", "w1 w2 w3 w4"),  # wc 4
            ],
        )
        _write_batch(
            spark, payload_dir, 1, [_article("a3", "alice", "2024-01-01 00:02:00", "w1 w2 w3")]
        )  # wc 3

        parsed = sp.with_word_count(sp.parse_articles(sp.payload_stream(spark, payload_dir)))
        stats = sp.running_author_stats(parsed.select("author", "word_count"))
        q = sp.start_memory_sink(stats, "author_stats", output_mode="update")
        q.processAllAvailable()
        q.stop()
        rows = spark.sql(
            "SELECT * FROM author_stats WHERE author = 'alice' ORDER BY n_articles"
        ).collect()
        # update mode emits one row per micro-batch touching the key
        assert [(r.n_articles, r.mean_word_count) for r in rows] == [(2, 3.0), (3, 3.0)]


class TestForeachBatchSink:
    def test_available_now_drains_and_terminates(self, spark, payload_dir, tmp_path):
        """foreachBatch + Trigger.AvailableNow: every source row is handed to
        the handler exactly once across micro-batches, then the query stops on
        its own (the backfill operating mode)."""
        _write_batch(spark, payload_dir, 0, [_article("a1", "alice", "2024-01-01 00:00:30")])
        _write_batch(spark, payload_dir, 1, [_article("b1", "bob", "2024-01-01 00:01:00")])

        seen: list[tuple[int, list[str]]] = []

        def handler(batch_df, batch_id):
            seen.append((batch_id, [r.article_id for r in batch_df.collect()]))

        parsed = sp.article_stream_parsed(sp.payload_stream(spark, payload_dir))
        q = sp.start_foreach_batch_sink(
            parsed, str(tmp_path / "cp"), handler, available_now=True
        )
        assert q.awaitTermination(120), "AvailableNow query did not self-terminate"
        ids = sorted(i for _, batch in seen for i in batch)
        assert ids == ["a1", "b1"]
        assert len(seen) >= 2  # maxFilesPerTrigger=1 -> one batch per file
        assert len({bid for bid, _ in seen}) == len(seen)  # distinct batch ids

    def test_restart_replays_only_new_data(self, spark, payload_dir, tmp_path):
        """Restarting from the same checkpoint hands the handler only batches
        it has not seen — batch_id-keyed handlers get exactly-once effects."""
        cp = str(tmp_path / "cp")
        _write_batch(spark, payload_dir, 0, [_article("a1", "alice", "2024-01-01 00:00:30")])

        first: list[str] = []
        q = sp.start_foreach_batch_sink(
            sp.article_stream_parsed(sp.payload_stream(spark, payload_dir)),
            cp,
            lambda df, bid: first.extend(r.article_id for r in df.collect()),
            available_now=True,
        )
        assert q.awaitTermination(120)
        assert sorted(first) == ["a1"]

        _write_batch(spark, payload_dir, 1, [_article("b1", "bob", "2024-01-01 00:01:00")])
        second: list[str] = []
        q2 = sp.start_foreach_batch_sink(
            sp.article_stream_parsed(sp.payload_stream(spark, payload_dir)),
            cp,
            lambda df, bid: second.extend(r.article_id for r in df.collect()),
            available_now=True,
        )
        assert q2.awaitTermination(120)
        assert sorted(second) == ["b1"], f"restart replayed old data: {second}"


class TestUpdateMode:
    def test_update_mode_emits_revisions(self, spark, payload_dir):
        """update output mode re-emits a (window, author) group every time a
        new row revises it — unlike append, which emits once at close."""
        _write_batch(spark, payload_dir, 0, [_article("a1", "alice", "2024-01-01 00:00:30", "a b c d")])
        _write_batch(spark, payload_dir, 1, [_article("a2", "alice", "2024-01-01 00:00:40", "a b")])

        stream = sp.article_stream(sp.payload_stream(spark, payload_dir), watermark="10 seconds")
        _run_to_completion(stream, "upd_mode", output_mode="update")
        rows = spark.sql(
            "SELECT average_word_count FROM upd_mode "
            "WHERE author = 'alice' AND window_start = timestamp'2024-01-01 00:00:00'"
        ).collect()
        # batch 0 emits avg=4.0, batch 1 revises the same window to 3.0
        vals = [r.average_word_count for r in rows]
        assert vals == [4.0, 3.0], vals


class TestStreamingSessionWindow:
    def test_session_gap_merge_and_close(self, spark, payload_dir):
        """Two events within the gap merge into one session; the session is
        emitted once the watermark passes session end (last event + gap)."""
        _write_batch(
            spark,
            payload_dir,
            0,
            [
                _article("a1", "alice", "2024-01-01 00:00:00", "a b"),
                _article("a2", "alice", "2024-01-01 00:03:00", "a b c d e f"),
            ],
        )
        # far-future event advances the watermark past alice's session end
        _write_batch(spark, payload_dir, 1, [_article("z1", "zoe", "2024-01-01 02:00:00")])

        stream = sp.article_session_stream(sp.payload_stream(spark, payload_dir))
        _run_to_completion(stream, "sessions")
        rows = spark.sql("SELECT * FROM sessions WHERE author = 'alice'").collect()
        assert len(rows) == 1, rows
        r = rows[0]
        # session spans first event .. last event + 5 min gap
        assert str(r.session_start) == "2024-01-01 00:00:00"
        assert str(r.session_end) == "2024-01-01 00:08:00"
        assert r.n_articles == 2 and r.average_word_count == 4.0

    def test_events_beyond_gap_split_sessions(self, spark, payload_dir):
        _write_batch(
            spark,
            payload_dir,
            0,
            [
                _article("a1", "alice", "2024-01-01 00:00:00"),
                _article("a2", "alice", "2024-01-01 00:10:00"),  # > 5 min later
            ],
        )
        _write_batch(spark, payload_dir, 1, [_article("z1", "zoe", "2024-01-01 02:00:00")])
        stream = sp.article_session_stream(sp.payload_stream(spark, payload_dir))
        _run_to_completion(stream, "split_sessions")
        rows = spark.sql(
            "SELECT * FROM split_sessions WHERE author = 'alice' ORDER BY session_start"
        ).collect()
        assert len(rows) == 2, rows
        assert all(r.n_articles == 1 for r in rows)


class TestRateSource:
    def test_rate_source_produces_rows(self, spark):
        """Built-in rate source: the standing load generator for streaming
        smoke tests (the harness's stand-in for the reference's Kinesis
        publisher when no fixture replay is needed)."""
        df = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "500")
            .load()
            .withColumn("bucket", F.col("value") % 10)
        )
        q = (
            df.writeStream.outputMode("append")
            .format("memory")
            .queryName("rate_rows")
            .start()
        )
        try:
            import time

            deadline = time.time() + 30
            n = 0
            while time.time() < deadline:
                n = spark.sql("SELECT count(*) AS n FROM rate_rows").collect()[0].n
                if n > 0:
                    break
                time.sleep(0.5)
            assert n > 0, "rate source produced no rows within 30s"
        finally:
            q.stop()


class TestSessionWindowParity:
    def test_batch_and_stream_session_windows_agree(self, spark, payload_dir):
        """The same session_window transform over the same rows gives
        identical (closed) sessions in batch and streaming — the
        batch/stream unification property, already proven for sliding
        windows, holds for session windows too."""
        arts = [
            _article("a1", "alice", "2024-01-01 00:00:00", "a b"),
            _article("a2", "alice", "2024-01-01 00:03:00", "a b c d e f"),
            _article("b1", "bob", "2024-01-01 00:01:00", "x y z"),
            _article("z1", "zoe", "2024-01-01 02:00:00"),  # closes all
        ]
        _write_batch(spark, payload_dir, 0, arts[:3])
        _write_batch(spark, payload_dir, 1, arts[3:])

        _run_to_completion(
            sp.article_session_stream(sp.payload_stream(spark, payload_dir)), "sess_parity"
        )
        streamed = {
            (str(r.session_start), str(r.session_end), r.author): (
                r.n_articles,
                r.average_word_count,
            )
            for r in spark.sql("SELECT * FROM sess_parity").collect()
        }

        batch_payload = spark.createDataFrame(
            [(json.dumps(a),) for a in arts], sp.PAYLOAD_SCHEMA
        )
        parsed = sp.with_word_count(sp.parse_articles(batch_payload))
        batch = {
            (str(r.session_start), str(r.session_end), r.author): (
                r.n_articles,
                r.average_word_count,
            )
            for r in parsed.groupBy(F.session_window("publish_date", "5 minutes"), "author")
            .agg(
                F.count("*").alias("n_articles"),
                F.avg("word_count").alias("average_word_count"),
            )
            .select(
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "author",
                "n_articles",
                "average_word_count",
            )
            .collect()
        }
        assert streamed  # alice + bob sessions closed by zoe's event
        for k, v in streamed.items():
            assert batch[k] == v, (k, v, batch.get(k))

    def test_dynamic_gap_sessions_agree_batch_vs_stream(self, spark, payload_dir):
        """session_window with a PER-ROW gap expression (long articles hold
        the session open 10 minutes, short ones 2) — the dynamic-gap
        operator behind the window_session_dynamic_gap query — merges
        identically in batch and streaming."""
        gap = F.when(F.col("word_count") >= 5, F.lit("10 minutes")).otherwise(
            F.lit("2 minutes")
        )
        arts = [
            _article("a1", "alice", "2024-01-01 00:00:00", "a b"),  # 2-min gap
            _article("a2", "alice", "2024-01-01 00:03:00", "c d"),  # new session
            _article("a3", "alice", "2024-01-01 00:03:30", "a b c d e f"),  # 10-min
            _article("a4", "alice", "2024-01-01 00:05:00", "x y"),  # merges into a3's
            _article("z1", "zoe", "2024-01-01 02:00:00"),  # closes all
        ]
        _write_batch(spark, payload_dir, 0, arts[:4])
        _write_batch(spark, payload_dir, 1, arts[4:])

        _run_to_completion(
            sp.article_session_stream(sp.payload_stream(spark, payload_dir), gap=gap),
            "dyn_sess",
        )
        streamed = {
            (str(r.session_start), str(r.session_end), r.author): (
                r.n_articles,
                r.average_word_count,
            )
            for r in spark.sql("SELECT * FROM dyn_sess WHERE author = 'alice'").collect()
        }
        assert len(streamed) == 2, streamed  # short session + merged long one

        batch_payload = spark.createDataFrame(
            [(json.dumps(a),) for a in arts], sp.PAYLOAD_SCHEMA
        )
        parsed = sp.with_word_count(sp.parse_articles(batch_payload))
        batch = {
            (str(r.session_start), str(r.session_end), r.author): (
                r.n_articles,
                r.average_word_count,
            )
            for r in parsed.groupBy(F.session_window("publish_date", gap), "author")
            .agg(
                F.count("*").alias("n_articles"),
                F.avg("word_count").alias("average_word_count"),
            )
            .select(
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "author",
                "n_articles",
                "average_word_count",
            )
            .filter(F.col("author") == "alice")
            .collect()
        }
        assert streamed == batch, (streamed, batch)


class TestStreamingAsofEnrich:
    """Streaming form of operators/temporal.asof_join: per-user state
    carries the latest click across micro-batches; output must equal the
    batch as-of join when batch boundaries respect event-time order."""

    EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def _write_events(self, spark, dir_path, idx, rows):
        spark.createDataFrame(rows, self.EVENT_SCHEMA).coalesce(1).write.mode(
            "append" if idx else "overwrite"
        ).parquet(dir_path)

    def test_matches_batch_asof_join_across_batches(self, spark, tmp_path):
        import datetime as dt

        def ts(s):
            return dt.datetime.fromisoformat(s)

        d = str(tmp_path / "events")
        # batch 0: clicks + one purchase; the LAST click must be carried
        # into batch 1's state. Duplicate-ts clicks (u2) exercise the
        # max-value tie-break; u3's purchase precedes any click (NULLs);
        # u1's second purchase ts-ties a click (inclusive bound).
        self._write_events(spark, d, 0, [
            (0, ts("2024-01-01 00:00:00"), 1, "click", 5.0),
            (1, ts("2024-01-01 00:00:10"), 1, "purchase", 100.0),
            (2, ts("2024-01-01 00:00:20"), 1, "click", 6.0),
            (3, ts("2024-01-01 00:00:30"), 2, "click", 1.0),
            (4, ts("2024-01-01 00:00:30"), 2, "click", 3.0),  # dup ts
            (5, ts("2024-01-01 00:00:40"), 3, "purchase", 50.0),  # no click yet
        ])
        # batch 1: purchases that must see batch 0's carried clicks
        self._write_events(spark, d, 1, [
            (6, ts("2024-01-01 00:01:00"), 1, "click", 7.0),
            (7, ts("2024-01-01 00:01:00"), 1, "purchase", 101.0),  # ts tie: inclusive
            (8, ts("2024-01-01 00:01:10"), 2, "purchase", 102.0),  # carried dup-ts click
            (9, ts("2024-01-01 00:01:20"), 3, "purchase", 103.0),  # still no click
        ])

        stream = (
            spark.readStream.schema(self.EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        _run_to_completion(sp.streaming_asof_enrich(stream), "asof_enrich")
        got = {
            r.event_id: (r.click_ts, r.click_value)
            for r in spark.sql("SELECT * FROM asof_enrich").collect()
        }

        from spark_kinesis_article_analysis_spark.operators.temporal import asof_join

        ev = spark.read.parquet(d)
        probe = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        build = ev.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("value").alias("click_value")
        )
        want = {
            r.event_id: (r.asof_ts, r.asof_click_value)
            for r in asof_join(
                probe, build, on=["user_id"], probe_ts="purchase_ts",
                build_ts="ts", payload=["click_value"],
            ).collect()
        }
        assert got == want, (got, want)
        # spot-check the cross-batch carry and the tie-breaks explicitly
        assert got[7][1] == 7.0   # same-ts click included
        assert got[8][1] == 3.0   # carried dup-ts click: max value won
        assert got[9] == (None, None)  # never any click for u3

    def test_state_survives_checkpoint_restart(self, spark, tmp_path):
        """The carried click must survive a query STOP + RESTART from the
        same checkpoint (state-store recovery), and committed output must
        not be re-emitted — the exactly-once posture of the reference's
        sink extended to arbitrary per-key state."""
        import datetime as dt

        def ts(s):
            return dt.datetime.fromisoformat(s)

        d = str(tmp_path / "events")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        self._write_events(spark, d, 0, [
            (0, ts("2024-01-01 00:00:00"), 1, "click", 5.0),
            (1, ts("2024-01-01 00:00:10"), 1, "purchase", 100.0),
        ])

        def run():
            stream = (
                spark.readStream.schema(self.EVENT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
            )
            q = sp.start_parquet_sink(sp.streaming_asof_enrich(stream), out, ckpt)
            q.processAllAvailable()
            q.stop()

        run()
        first = {r.event_id: r.click_value for r in spark.read.parquet(out).collect()}
        assert first == {1: 5.0}

        # new purchase AFTER restart must see the click carried in state
        self._write_events(spark, d, 1, [
            (2, ts("2024-01-01 00:01:00"), 1, "purchase", 101.0),
        ])
        run()
        rows = spark.read.parquet(out).collect()
        got = sorted((r.event_id, r.click_value) for r in rows)
        assert got == [(1, 5.0), (2, 5.0)], (
            f"state lost or batch re-emitted across restart: {got}"
        )


class TestStreamingRunningDistinct:
    """Streaming twin of window_cumulative_distinct: per-type state set
    must carry across micro-batches and count NULL user_id as one
    distinct member, matching the batch two-window rewrite exactly."""

    EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def test_matches_batch_rewrite_across_batches(self, spark, tmp_path):
        import datetime as dt

        def ts(s):
            return dt.datetime.fromisoformat(s)

        d = str(tmp_path / "events")
        b0 = [
            (0, ts("2024-01-01 00:00:00"), 1, "view", 1.0),
            (1, ts("2024-01-01 00:00:05"), 2, "view", 1.0),
            (2, ts("2024-01-01 00:00:05"), 1, "view", 1.0),   # repeat user, ts tie
            (3, ts("2024-01-01 00:00:10"), None, "view", 1.0),  # NULL user counts once
            (4, ts("2024-01-01 00:00:15"), 9, "click", 1.0),
        ]
        b1 = [
            (5, ts("2024-01-01 00:01:00"), 2, "view", 1.0),   # carried: still 3
            (6, ts("2024-01-01 00:01:05"), None, "view", 1.0),  # carried NULL: still 3
            (7, ts("2024-01-01 00:01:10"), 4, "view", 1.0),   # new: 4
            (8, ts("2024-01-01 00:01:15"), 9, "click", 1.0),  # carried: still 1
        ]
        spark.createDataFrame(b0, self.EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        spark.createDataFrame(b1, self.EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(d)

        stream = (
            spark.readStream.schema(self.EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        _run_to_completion(sp.streaming_running_distinct(stream), "running_distinct")
        got = {
            r.event_id: r.distinct_users_so_far
            for r in spark.sql("SELECT * FROM running_distinct").collect()
        }

        from pyspark.sql import Window as W

        ev = spark.read.parquet(d)
        w_first = W.partitionBy("event_type", "user_id").orderBy(
            F.col("ts").asc_nulls_first(), F.col("event_id")
        )
        w_run = (
            W.partitionBy("event_type")
            .orderBy(F.col("ts").asc_nulls_first(), F.col("event_id"))
            .rowsBetween(W.unboundedPreceding, 0)
        )
        want = {
            r.event_id: r.n
            for r in ev.withColumn(
                "f", F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
            )
            .withColumn("n", F.sum("f").over(w_run))
            .collect()
        }
        assert got == want, (got, want)
        assert got[3] == 3 and got[6] == 3  # NULL user: one member, once
        assert got[8] == 1  # click stream independent of views

    def test_state_set_survives_checkpoint_restart(self, spark, tmp_path):
        """The seen-user set (array state + NULL flag) must survive a
        query STOP + RESTART from the same checkpoint, and committed
        output must not be re-emitted."""
        import datetime as dt

        def ts(s):
            return dt.datetime.fromisoformat(s)

        d = str(tmp_path / "events")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        spark.createDataFrame(
            [
                (0, ts("2024-01-01 00:00:00"), 1, "view", 1.0),
                (1, ts("2024-01-01 00:00:05"), None, "view", 1.0),
            ],
            self.EVENT_SCHEMA,
        ).coalesce(1).write.mode("overwrite").parquet(d)

        def run():
            stream = (
                spark.readStream.schema(self.EVENT_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
            )
            q = sp.start_parquet_sink(sp.streaming_running_distinct(stream), out, ckpt)
            q.processAllAvailable()
            q.stop()

        run()
        first = {r.event_id: r.distinct_users_so_far for r in spark.read.parquet(out).collect()}
        assert first == {0: 1, 1: 2}

        spark.createDataFrame(
            [
                (2, ts("2024-01-01 00:01:00"), 1, "view", 1.0),    # carried: still 2
                (3, ts("2024-01-01 00:01:05"), None, "view", 1.0),  # carried NULL: still 2
                (4, ts("2024-01-01 00:01:10"), 7, "view", 1.0),    # new: 3
            ],
            self.EVENT_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(d)
        run()
        got = sorted(
            (r.event_id, r.distinct_users_so_far)
            for r in spark.read.parquet(out).collect()
        )
        assert got == [(0, 1), (1, 2), (2, 2), (3, 2), (4, 3)], (
            f"state lost or batch re-emitted across restart: {got}"
        )
