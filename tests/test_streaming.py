"""§2.8 streaming wrapper: seed files dripped into a directory are crawled
per micro-batch with cross-batch global dedup via the snapshot store."""

import os

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.sources import datagen as G
from xcrawl3r_spark.streaming.stream import StreamingCrawler

P = G.GraphParams(hosts=3, pages_per_host=5)


def test_streaming_seed_replay(spark, tmp_path):
    seed_dir = tmp_path / "seeds"
    os.makedirs(seed_dir)
    with open(seed_dir / "batch1.txt", "w") as f:
        f.write("https://h0.test/p/0\n\nhttps://h1.test/p/0\n")

    cfg = CrawlConfig(
        domains=["test"], include_subdomains=True, depth=1,
        global_dedup=True,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    pages = G.pages_df(spark, P, distributed=False)
    sc = StreamingCrawler(spark, cfg, pages)
    q = sc.start(str(seed_dir))
    q.awaitTermination(120)

    seen1 = sc.crawler.committed().seen
    n1 = seen1.count()
    assert n1 > 0
    urls1 = {r["url"] for r in seen1.collect()}
    assert "https://h0.test/p/0" in urls1

    # second drip: one duplicate seed + one new -> only new URLs added
    with open(seed_dir / "batch2.txt", "w") as f:
        f.write("https://h0.test/p/0\nhttps://h2.test/p/0\n")
    q2 = sc.start(str(seed_dir))
    q2.awaitTermination(120)
    seen2 = sc.crawler.committed().seen
    urls2 = [r["url"] for r in seen2.collect()]
    assert len(urls2) == len(set(urls2))      # no re-crawl of known URLs
    assert "https://h2.test/p/0" in set(urls2)
    assert set(urls1) <= set(urls2)


class TestStatefulStreaming:
    """applyInPandasWithState custom operators (SURVEY §2.8 stretch)."""

    def test_stateful_dedup_across_microbatches(self, spark, tmp_path):
        """URLs repeated across micro-batches are emitted exactly once:
        the seen-set lives in the state store and survives a query
        restart from the checkpoint (foreachBatch sink — memory sinks
        cannot recover from checkpoints)."""
        from xcrawl3r_spark.streaming.stateful import dedup_stream

        src = tmp_path / "urls_in"
        src.mkdir()
        ckpt = str(tmp_path / "ckpt")
        emitted: list[str] = []

        def sink(batch_df, batch_id):
            emitted.extend(r["url"] for r in batch_df.collect())

        def run_once():
            stream = (
                spark.readStream.format("text").load(str(src))
                .withColumnRenamed("value", "url")
            )
            q = (
                dedup_stream(stream, n_buckets=8)
                .writeStream.foreachBatch(sink)
                .outputMode("update").option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)

        (src / "b1.txt").write_text(
            "https://a.test/1\nhttps://a.test/2\nhttps://a.test/1\n")
        run_once()
        assert sorted(emitted) == ["https://a.test/1", "https://a.test/2"]

        emitted.clear()
        # restart from checkpoint: one dup of batch 1, one new URL
        (src / "b2.txt").write_text("https://a.test/2\nhttps://a.test/3\n")
        run_once()
        assert emitted == ["https://a.test/3"], (
            "state must remember batch-1 URLs across query restarts")

    def test_stateful_host_budget(self, spark, tmp_path):
        from xcrawl3r_spark.streaming.stateful import host_budget_stream

        src = tmp_path / "urls_hb"
        src.mkdir()
        (src / "b1.txt").write_text(
            "".join(f"https://h0.test/p/{i}\n" for i in range(7))
            + "https://h1.test/p/0\n")
        stream = (
            spark.readStream.format("text").load(str(src))
            .withColumnRenamed("value", "url")
        )
        q = (
            host_budget_stream(stream, budget=3)
            .writeStream.format("memory").queryName("hb")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_hb"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from hb").collect()
        by_host = {}
        for r in rows:
            by_host.setdefault(r["host"], []).append(r)
        assert len(by_host["h0.test"]) == 3   # budget enforced
        assert len(by_host["h1.test"]) == 1

    def test_stateful_host_lifetime_cap(self, spark, tmp_path):
        """Regression (r2 advice): the persisted lifetime total is now
        enforceable — with lifetime_cap=4 and per-batch budget 3, a host
        admits 3 in batch 1 and only 1 more in batch 2, then zero."""
        from xcrawl3r_spark.streaming.stateful import host_budget_stream

        src = tmp_path / "urls_cap"
        src.mkdir()
        ckpt = str(tmp_path / "ckpt_cap")
        admitted: list[tuple] = []

        def sink(batch_df, batch_id):
            admitted.extend((r["host"], r["url"], r["n_host_total"])
                            for r in batch_df.collect())

        def run_once():
            stream = (
                spark.readStream.format("text").load(str(src))
                .withColumnRenamed("value", "url")
            )
            q = (
                host_budget_stream(stream, budget=3, lifetime_cap=4)
                .writeStream.foreachBatch(sink)
                .outputMode("update").option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)

        (src / "b1.txt").write_text(
            "".join(f"https://h0.test/p/{i}\n" for i in range(6)))
        run_once()
        assert len(admitted) == 3            # per-batch budget
        admitted.clear()
        (src / "b2.txt").write_text(
            "".join(f"https://h0.test/q/{i}\n" for i in range(6)))
        run_once()
        assert len(admitted) == 1            # lifetime cap 4: 3 + 1
        assert admitted[0][2] == 4
        admitted.clear()
        (src / "b3.txt").write_text("https://h0.test/r/0\n")
        run_once()
        assert admitted == []                # capped forever

    def test_windowed_metrics_watermark_drops_late_rows(self, spark, tmp_path):
        """§2.8 watermark semantics: append-mode windows finalize once the
        watermark passes their end; a row arriving LATER than the
        watermark is dropped and cannot reopen a finalized window."""
        import json as _json

        from xcrawl3r_spark.streaming.windows import windowed_metrics

        src = tmp_path / "ev_in"
        src.mkdir()
        ckpt = str(tmp_path / "ckpt_win")
        emitted: list[tuple] = []

        def sink(batch_df, batch_id):
            emitted.extend(
                (str(r["win_start"]), r["event_type"], r["n_events"])
                for r in batch_df.collect())

        def write_batch(name, rows):
            with open(src / name, "w") as f:
                for ts, et, v in rows:
                    f.write(_json.dumps({"ts": ts, "event_type": et,
                                         "value": v}) + "\n")

        def run_once():
            stream = (
                spark.readStream.schema(
                    "ts timestamp, event_type string, value double")
                .json(str(src))
            )
            q = (
                windowed_metrics(stream, window="1 hour",
                                 watermark="10 minutes")
                .writeStream.foreachBatch(sink)
                .outputMode("append").option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)

        # batch 1: three rows in [10:00, 11:00) + one at 11:20 that pushes
        # the watermark to 11:10 > 11:00, finalizing the 10:00 window
        write_batch("b1.json", [
            ("2024-01-01 10:05:00", "view", 1.0),
            ("2024-01-01 10:30:00", "view", 2.0),
            ("2024-01-01 10:45:00", "click", 3.0),
            ("2024-01-01 11:20:00", "view", 4.0),
        ])
        run_once()
        got1 = {(w, et): n for w, et, n in emitted}
        assert got1 == {("2024-01-01 10:00:00", "view"): 2,
                        ("2024-01-01 10:00:00", "click"): 1}
        emitted.clear()
        # batch 2: one LATE row at 10:50 (behind the 11:10 watermark ->
        # dropped) + one at 12:30 that finalizes the 11:00 window
        write_batch("b2.json", [
            ("2024-01-01 10:50:00", "view", 9.0),
            ("2024-01-01 12:30:00", "click", 1.0),
        ])
        run_once()
        got2 = {(w, et): n for w, et, n in emitted}
        # the 11:00 window emits ONLY the on-time 11:20 row; the late
        # 10:50 row neither reopens 10:00 nor lands anywhere
        assert got2 == {("2024-01-01 11:00:00", "view"): 1}


class TestSessionize:
    def test_gap_merge_and_exact_boundary(self, spark):
        from xcrawl3r_spark.streaming.windows import sessionize

        rows = [
            # user 1: 3 events inside one session (gaps < 30 min), then a
            # 4th exactly 30 min after the 3rd -> MERGES (Spark breaks
            # only on diff > gap), then a 5th at gap+1s -> NEW session
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:10:00"),
            (1, "2024-01-01 10:25:00"),
            (1, "2024-01-01 10:55:00"),
            (1, "2024-01-01 11:25:01"),
            # user 2: single event
            (2, "2024-01-01 09:00:00"),
        ]
        ev = spark.createDataFrame(rows, "user_id long, ts string").selectExpr(
            "user_id", "cast(ts as timestamp) as ts")
        got = sorted(
            ((r.user_id, str(r.session_start), r.n_events, r.duration_sec)
             for r in sessionize(ev).collect())
        )
        assert got == [
            (1, "2024-01-01 10:00:00", 4, 5100),   # 55 min span + 30 gap
            (1, "2024-01-01 11:25:01", 1, 1800),
            (2, "2024-01-01 09:00:00", 1, 1800),
        ]
