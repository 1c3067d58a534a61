"""Relay durability across restarts: committed micro-batches are not
re-delivered to foreachBatch on recovery (the checkpoint's batch-id
contract), and new messages published between runs flow exactly once.

Reference parity note: the reference is at-most-once with loss made
detectable by ordinal gaps (README.md:230-233); Spark's checkpointing
upgrades this to at-least-once per batch with re-delivery only for an
uncommitted trailing batch — clients dedup by ess_ordinal either way.
"""

from __future__ import annotations

from squonk2_fastapi_ws_event_stream_spark.sources.eventstream import (
    EventLogWriter,
    EventStreamDataSource,
)
from squonk2_fastapi_ws_event_stream_spark.streaming.pipeline import relay_transform

BASE_TS = 1_700_000_000_000


def test_relay_restart_does_not_redeliver(spark, tmp_path):
    root = str(tmp_path / "log")
    w = EventLogWriter(root, "s")
    for i in range(5):
        w.publish('{"n": %d}' % i, BASE_TS + i * 1000)
    spark.dataSource.register(EventStreamDataSource)

    def run(collected):
        env = (
            spark.readStream.format("eventstream")
            .option("path", root)
            .option("stream", "s")
            .option("startingOrdinal", 0)
            .load()
        )
        q = (
            relay_transform(env)
            .writeStream.foreachBatch(
                lambda df, _id: collected.extend(r["offset"] for r in df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    first: list = []
    run(first)
    assert sorted(first) == [1, 2, 3, 4, 5]

    # restart with no new data → nothing re-delivered
    second: list = []
    run(second)
    assert second == []

    # publish more, restart → only the new messages arrive
    w.publish('{"n": 5}' % (), BASE_TS + 5000)
    w.publish('{"n": 6}' % (), BASE_TS + 6000)
    third: list = []
    run(third)
    assert sorted(third) == [6, 7]
