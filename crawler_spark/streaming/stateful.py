"""Custom stateful streaming operators (``applyInPandasWithState``).

The batch engine keeps its cross-round state in snapshot tables; these
operators are the *streaming-native* twins for deployments that feed
the crawl from a live stream instead of driver-looped rounds:

  * :func:`streaming_first_seen` — cross-micro-batch URL-seen dedup.
    State per shard group is a BLOOM BITSET tested and set with the
    batch tier's ``_bloom_contains``/``_bloom_insert`` kernel
    (``operators/dedup.py``), not a key list — the state row stays
    ``bits/8`` bytes regardless of key count, which is
    what survives a 10^10-URL stream (exactly the engine's D3a tier,
    held in streaming state instead of a table). Approximation
    semantics match the batch tier: no false negatives (every truly
    new key is emitted) and ~fpp of new keys are wrongly dropped as
    seen — the documented trade for O(1) state. Size ``bits`` for the
    expected keys/shard at the target fpp (9.6 bits/key ⇒ 1 %).
  * :func:`streaming_sessionize` — the O9 running-state analog (q15's
    sessionize): per user, events within ``gap_s`` of the previous
    event share a session id; state (last_ts, session_seq) survives
    across micro-batches. Optional processing-time expiry evicts idle
    users in 24/7 deployments (off by default — see the function
    docstring for why).

Both are Arrow-batched (pandas per group-batch), keyed so state stays
bounded, and tested cross-batch via a file-source stream
(tests/test_stateful_streaming.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from crawler_spark.operators.dedup import _bloom_contains, _bloom_insert

FIRST_SEEN_OUTPUT = T.StructType(
    [
        T.StructField("url_key", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
    ]
)
_FIRST_SEEN_STATE = T.StructType(
    [
        T.StructField("bitset", T.BinaryType(), True),
        T.StructField("n_keys", T.LongType(), True),
    ]
)


def streaming_first_seen(
    stream: DataFrame,
    n_shards: int = 8,
    bits: int = 1 << 20,
    n_hashes: int = 7,
) -> DataFrame:
    """stream(url_key long, url string) → first-seen rows only,
    deduplicated across micro-batches via per-shard bloom state."""

    def _dedup(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (blob, n_keys) = state.get
            bitset = np.frombuffer(blob, np.uint8).copy()
        else:
            bitset, n_keys = np.zeros(bits // 8, np.uint8), 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            ks = pdf["url_key"].to_numpy(np.int64)
            # seen vs the pre-batch bitset; within-batch repeats keep
            # only their first occurrence (exact, vectorized)
            seen = _bloom_contains(bitset, ks, bits, n_hashes)
            first_in_batch = ~pd.Series(ks).duplicated().to_numpy()
            out_mask = (~seen) & first_in_batch
            if out_mask.any():
                _bloom_insert(bitset, ks[out_mask], bits, n_hashes)
                n_keys += int(out_mask.sum())
                yield pd.DataFrame(
                    {
                        "url_key": pdf["url_key"].to_numpy()[out_mask],
                        "url": pdf["url"].to_numpy()[out_mask],
                    }
                )
        state.update((bitset.tobytes(), n_keys))

    tagged = stream.withColumn(
        "_shard", F.pmod(F.col("url_key"), F.lit(n_shards)).cast("int")
    )
    return tagged.groupBy("_shard").applyInPandasWithState(
        _dedup,
        FIRST_SEEN_OUTPUT,
        _FIRST_SEEN_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("session_id", T.StringType(), False),
    ]
)
_SESSION_STATE = T.StructType(
    [
        T.StructField("last_ts", T.LongType(), True),
        T.StructField("session_seq", T.IntegerType(), True),
    ]
)


def streaming_sessionize(
    stream: DataFrame, gap_s: int = 1800, idle_timeout_ms: int | None = None
) -> DataFrame:
    """stream(user_id string, ts long epoch-seconds) → (user_id, ts,
    session_id) where a gap > ``gap_s`` starts a new session; state
    carries (last_ts, session_seq) across micro-batches.

    ``idle_timeout_ms``: optional processing-time state expiry for
    long-running deployments (idle users' state is removed). Default
    is NO timeout: with ``ProcessingTimeTimeout`` configured, the
    micro-batch engine schedules continuous "cleaning up state"
    no-data batches, which keeps ``processAllAvailable`` (and any
    availableNow-style drain) from ever settling — fine for a 24/7
    stream, wrong for bounded runs and test harnesses."""

    def _sess(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user = key[0]
        if idle_timeout_ms is not None and state.hasTimedOut:
            state.remove()
            return
        last_ts, seq = state.get if state.exists else (None, 0)
        # materialize the whole group and sort ONCE: the iterator yields
        # ~10k-row Arrow chunks in arrival order, so sorting per chunk
        # would assign wrong session ids (and move last_ts backwards)
        # whenever one user's batch spans chunks with interleaved
        # timestamps. A single user's per-micro-batch volume is bounded,
        # so the concat is safe.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values("ts")
            out_sess = []
            for ts in pdf["ts"]:
                ts = int(ts)
                if last_ts is None or ts - last_ts > gap_s:
                    seq += 1
                out_sess.append(f"{user}#{seq}")
                last_ts = ts
            yield pd.DataFrame(
                {"user_id": user, "ts": pdf["ts"].astype("int64"), "session_id": out_sess}
            )
        state.update((last_ts, seq))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)

    return stream.groupBy("user_id").applyInPandasWithState(
        _sess,
        SESSION_OUTPUT,
        _SESSION_STATE,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout,
    )
