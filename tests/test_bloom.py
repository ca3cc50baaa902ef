"""Bloom URL-seen tier: the insert/contains kernel, null keys, and the
single-probe two-tier plan of ``ShardedBloom.filter_unseen``."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from crawler_spark.operators import dedup
from crawler_spark.operators.dedup import (
    ShardedBloom,
    _bloom_contains,
    _bloom_insert,
    anti_join_seen,
)
from crawler_spark.plans.store import SnapshotStore


def test_kernel_membership_and_fpp():
    """No false negatives; measured fpp within 2x of theory at the
    default shard sizing loaded to ~9.6 bits/key (the 1 % design point)."""
    bl = ShardedBloom(spark=None, store=None)
    n_bits, k = bl.bits_per_shard, bl.n_hashes
    n = int(n_bits / 9.6)
    rng = np.random.default_rng(1)
    keys = rng.integers(-(2**62), 2**62, n, dtype=np.int64)
    bits = np.zeros(n_bits // 8, np.uint8)
    _bloom_insert(bits, keys, n_bits, k)
    assert _bloom_contains(bits, keys, n_bits, k).all()
    other = np.setdiff1d(rng.integers(-(2**62), 2**62, 200_000, dtype=np.int64), keys)
    fpp = _bloom_contains(bits, other, n_bits, k).mean()
    theory = (1 - np.exp(-k * n / n_bits)) ** k
    assert theory / 2 < fpp < theory * 2, (fpp, theory)


def test_bloom_null_keys_do_not_crash(spark, tmp_path):
    """A NULL key would form a null-shard cogroup with no bitset frame.
    update drops null keys; a null-key candidate probes as maybe_seen
    and the exact tier decides it."""
    store = SnapshotStore(spark, str(tmp_path / "blnull"))
    bl = ShardedBloom(spark, store, n_shards=4)
    keys = spark.createDataFrame([(7,), (None,)], "url_key long")
    bl.update(keys)  # must not raise
    assert bl.probe(spark.createDataFrame([(7,)], "url_key long")).first()["maybe_seen"]

    cand = spark.createDataFrame(
        [(7, "a"), (None, "b"), (None, "c")], "url_key long, url string"
    )
    probed = {r["url"]: r["maybe_seen"] for r in bl.probe(cand).collect()}
    assert probed["b"] and probed["c"]
    seen = spark.createDataFrame([("a",), ("b",)], "url string")
    assert [r["url"] for r in bl.filter_unseen(cand, seen).collect()] == ["c"]


def test_filter_unseen_probes_once_per_shard(spark, tmp_path, monkeypatch):
    """One filter_unseen runs the contains kernel once per shard (a
    union over the probed frame runs the probe UDF twice) and returns
    exactly the rows of the exact anti-join."""
    store = SnapshotStore(spark, str(tmp_path / "blonce"))
    bl = ShardedBloom(spark, store, n_shards=4)
    cand = spark.range(500).select(
        F.xxhash64("id").alias("url_key"), F.concat(F.lit("u"), F.col("id")).alias("url")
    )
    seen = cand.filter(F.col("url_key") % 3 == 0).select("url")
    bl.update(cand.filter(F.col("url_key") % 3 == 0).select("url_key"))

    calls = spark.sparkContext.accumulator(0)

    def counting_contains(*args):
        calls.add(1)
        return _bloom_contains(*args)

    monkeypatch.setattr(dedup, "_bloom_contains", counting_contains)
    got = sorted(r["url"] for r in bl.filter_unseen(cand, seen).collect())
    assert calls.value == 4
    want = sorted(r["url"] for r in anti_join_seen(cand, seen).collect())
    assert got == want and 0 < len(want) < 500
