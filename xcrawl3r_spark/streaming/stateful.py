"""Custom stateful streaming operators via ``applyInPandasWithState``.

The batch engine's URL-seen set is a table + probabilistic filter; on a
TRUE unbounded stream the idiomatic Spark shape is a keyed state store:
group the stream by a hash bucket of the dedup key and keep each bucket's
seen-set in ``GroupState``, emitting only first-occurrence rows. This is
the colly visited-storage semantic (pkg/xcrawl3r/xcrawl3r.go:31,347,422)
as a Structured Streaming operator.

Scale posture: state is sharded by ``pmod(dedup_key, n_buckets)`` so each
group's state blob stays bounded (~seen/n_buckets keys); buckets are the
unit of state-store parallelism and rebalance with the shuffle. Keys are
stored as an int64 numpy buffer (8 B/key) in the state value — 10^8
streamed URLs at 1024 buckets ≈ 0.8 MB per bucket blob. For 10^10-scale
use the batch engine; streaming state stores are not the right home for
a hundred-GB seen set (documented tradeoff, same conclusion as SURVEY
§2.8: the engine proper is batch-iterative).

Used by tests/test_streaming.py on a rate/file stream; also runnable on
any static DataFrame via the batch ``applyInPandas`` twin
(``dedup_stream_batch_equiv``) for oracle comparison.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "bucket long, url string, url_hash long"
STATE_SCHEMA = "seen binary"


def _dedup_one_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit first-occurrence rows of this bucket; fold hashes into state."""
    if state.exists:
        (blob,) = state.get
        seen = set(np.frombuffer(blob, dtype=np.int64).tolist())
    else:
        seen = set()
    out = []
    for pdf in pdfs:
        for url, h in zip(pdf["url"], pdf["url_hash"]):
            if int(h) not in seen:
                seen.add(int(h))
                out.append((key[0], url, int(h)))
    state.update((np.array(sorted(seen), dtype=np.int64).tobytes(),))
    yield pd.DataFrame(out, columns=["bucket", "url", "url_hash"])


def dedup_stream(urls: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Streaming first-occurrence dedup: readStream frame with a ``url``
    column -> stream of never-before-seen URLs (exact, stateful)."""
    keyed = urls.select(
        "url", F.xxhash64("url").alias("url_hash")
    ).withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)))
    return (
        keyed.groupBy("bucket")
        .applyInPandasWithState(
            _dedup_one_group, OUT_SCHEMA, STATE_SCHEMA,
            "update", GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream_batch_equiv(urls: DataFrame) -> DataFrame:
    """Batch twin of dedup_stream's semantics (first occurrence per
    url_hash) for result comparison: plain dropDuplicates."""
    return (
        urls.select("url", F.xxhash64("url").alias("url_hash"))
        .dropDuplicates(["url_hash"])
    )


def dedup_state_machine_batch(keyed: DataFrame) -> DataFrame:
    """Run the stateful operator's EXACT group logic (``_dedup_one_group``
    — the code ``applyInPandasWithState`` executes per bucket) over a
    static (bucket, url, url_hash) frame via ``applyInPandas``: one
    micro-batch against empty state.

    This is the driver-gate twin that pins the stateful semantic with a
    SQL oracle (r2 verdict item 9): the emitted set equals
    distinct-by-hash, which SQL expresses directly. Deterministic as long
    as equal hashes come from equal urls (true for any real url keying —
    the hash is a function of the url)."""

    class _EmptyState:
        exists = False
        get = None

        def update(self, value):  # state dies with the batch
            pass

    def one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return next(_dedup_one_group(key, iter([pdf]), _EmptyState()))

    return keyed.groupBy("bucket").applyInPandas(one, OUT_SCHEMA)


def host_budget_stream(
    urls: DataFrame, budget: int, n_buckets: int = 64,
    lifetime_cap: int | None = None,
) -> DataFrame:
    """Streaming per-host politeness: at most ``budget`` emissions per
    host *per micro-batch* — by design, since micro-batches are the
    stream's time quantum this is the direct analog of colly's
    LimitRule{Parallelism} in-flight cap (xcrawl3r.go:277-281), which is
    also a per-time-window limit, not a lifetime one. State persists each
    host's lifetime admitted count; pass ``lifetime_cap`` to additionally
    enforce a hard total per host across all micro-batches (admitted
    while total < cap — e.g. per-host page quotas in a training-data
    ingest).

    Output: (host, url, n_host_total) for admitted rows; overflow rows
    are dropped from the stream (a real deployment would route them to a
    retry topic — in the batch engine they requeue, SURVEY A1)."""

    def one_host(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        total = state.get[0] if state.exists else 0
        out = []
        admitted = 0
        for pdf in pdfs:
            for url in pdf["url"]:
                if admitted >= budget:
                    continue
                if lifetime_cap is not None and total + admitted >= lifetime_cap:
                    continue
                admitted += 1
                out.append((key[0], url, total + admitted))
        state.update((total + admitted,))
        yield pd.DataFrame(out, columns=["host", "url", "n_host_total"])

    keyed = urls.select(
        "url", F.lower(F.try_parse_url("url", F.lit("HOST"))).alias("host"))
    return keyed.groupBy("host").applyInPandasWithState(
        one_host, "host string, url string, n_host_total long",
        "n long", "update", GroupStateTimeout.NoTimeout,
    )
