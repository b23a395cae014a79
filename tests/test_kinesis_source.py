"""``kinesis_api`` batch reader against a stub client: no service, no
Spark — the paging contract of the bounded snapshot read."""

from __future__ import annotations

from spark_kinesis_article_analysis_spark.sources import kinesis_source
from spark_kinesis_article_analysis_spark.sources.kinesis_source import (
    KinesisApiBatchReader,
    KinesisShardPartition,
)


class _PagedShard:
    """One shard of ``pages`` GetRecords pages, each of two records; the
    last page is the caught-up tip."""

    def __init__(self, pages: int) -> None:
        self.pages = pages
        self.get_records_calls = 0

    def get_shard_iterator(self, **kwargs):
        return {"ShardIterator": "0"}

    def get_records(self, ShardIterator: str, Limit: int):
        self.get_records_calls += 1
        page = int(ShardIterator)
        recs = [
            {
                "Data": f"{page}-{i}".encode(),
                "PartitionKey": "k",
                "SequenceNumber": str(page * 2 + i),
            }
            for i in range(2)
        ]
        return {
            "Records": recs,
            "NextShardIterator": str(page + 1) if page + 1 < self.pages else None,
            "MillisBehindLatest": 0,
        }


def test_batch_read_streams_one_page_at_a_time(monkeypatch):
    """The first envelope arrives after exactly ONE GetRecords call, so a
    task holds one page, not the whole shard; the drain still returns
    every record in order."""
    shard = _PagedShard(pages=5)
    monkeypatch.setattr(kinesis_source, "_client", lambda opts: shard)
    reader = KinesisApiBatchReader({"streamName": "s"})
    rows = reader.read(KinesisShardPartition("shardId-0"))
    first = next(rows)
    assert shard.get_records_calls == 1
    assert first[0] == b"0-0" and first[5] == "shardId-0"
    rest = list(rows)
    assert shard.get_records_calls == 5
    assert [r[3] for r in [first, *rest]] == [str(n) for n in range(10)]
