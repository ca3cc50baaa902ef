"""URL-seen deduplication (SURVEY §2.4) — the graft core.

Tiers:

  D1  first-wins exact dedup within a batch (``uniqBy`` semantics,
      ``thanhlinh.net/getMetadataList.ts:197``): window rank over the
      arrival order, keep rank 1 — NOT ``dropDuplicates`` (which keeps
      an arbitrary row and would break golden ordering parity).

  D3a sharded bloom filter over ``xxhash64(canonical_url)`` — the
      approximate tier that lets a 10^10-key seen-set live as ~P bitset
      shards instead of a join-able table. A candidate that the bloom
      reports "definitely unseen" skips the exact anti-join entirely;
      only "maybe seen" candidates (true hits + fpp false positives)
      continue to the exact tier. Sized 1% fpp ⇒ ~9.6 bits/key ⇒
      ~1.2 GB per 10^9 keys, sharded by ``pmod(url_key, P)`` so each
      shard updates/probes co-partitioned (one shuffle, no driver
      round-trip, no 2GB-bytes limit per row).

  D3b exact anti-join against the frontier (the authoritative tier —
      bloom false positives are resolved here; false negatives cannot
      occur because every admitted key is inserted).

The reference's analog is checkpoint-id merge (append only ids not
present — ``checkpoint.ts:100-114``); at 2.6k docs a full-file scan was
fine, at 10^10 the bloom tier is what keeps the anti-join small.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def first_wins(df: DataFrame, key: str, order_cols: list) -> DataFrame:
    """Keep the first row per key in (order_cols) order — uniqBy."""
    w = Window.partitionBy(key).orderBy(*order_cols)
    return (
        df.withColumn("_fw_rn", F.row_number().over(w))
        .filter(F.col("_fw_rn") == 1)
        .drop("_fw_rn")
    )


def anti_join_seen(candidates: DataFrame, seen: DataFrame, key: str = "url") -> DataFrame:
    """Exact tier: candidates not present in the seen set."""
    return candidates.join(seen.select(key).distinct(), on=key, how="left_anti")


def resolve_canonical_chains(
    aliases: DataFrame,
    url_col: str = "url",
    target_col: str = "canonical_url",
) -> DataFrame:
    """(url, canonical) with every rel=canonical DECLARATION CHAIN
    followed to its end: A→B, B→C resolves both A and B to C.

    The engine's `canonical_aliases` table holds one hop per page;
    consumers (corpus dedup, alias-aware content attribution) need the
    fixed point. Built on the proven components operator rather than
    bespoke pointer-chasing (a doubling loop oscillates on chains that
    FEED a cycle — E→D→A⇄B assigned E and D different canonicals
    depending on iteration parity): each weakly-connected alias
    cluster elects ONE canonical — its unique sink (the node that
    declares no canonical of its own) when the cluster has exactly
    one, else (cyclic misconfigurations, which have no sink) the
    cluster's lexicographically least url. Exact for chains, trees,
    cycles, and chains-into-cycles; scale shape = the components
    operator's (pre-contracted pointer jumping) + three hash joins."""
    from crawler_spark.operators.components import connected_components

    a = (
        aliases.select(
            F.col(url_col).alias("url"), F.col(target_col).alias("target")
        )
        .filter(F.col("url") != F.col("target"))
        .dropDuplicates(["url"])
    )
    names = (
        a.select(F.col("url").alias("name"))
        .unionByName(a.select(F.col("target").alias("name")))
        .distinct()
        .withColumn("node", F.xxhash64("name"))
    )
    comp = connected_components(
        a.select(F.xxhash64("url").alias("src"), F.xxhash64("target").alias("dst"))
    )
    labeled = names.join(comp, "node").select("name", "comp")
    # sinks: cluster members that declare no canonical themselves
    sinks = labeled.join(
        a.select(F.col("url").alias("name")).distinct(), "name", "left_anti"
    )
    sink_pick = sinks.groupBy("comp").agg(
        F.count("*").alias("n_sinks"), F.min("name").alias("sink")
    )
    cluster_min = labeled.groupBy("comp").agg(F.min("name").alias("cmin"))
    canon = cluster_min.join(sink_pick, "comp", "left").select(
        "comp",
        F.when(F.col("n_sinks") == 1, F.col("sink"))
        .otherwise(F.col("cmin"))
        .alias("canonical"),
    )
    return (
        labeled.join(canon, "comp")
        .select(F.col("name").alias("url"), "canonical")
        .filter(F.col("url") != F.col("canonical"))
    )


# ---------------------------------------------------------------------------
# Sharded bloom filter
# ---------------------------------------------------------------------------

_BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.IntegerType(), False),
        T.StructField("bitset", T.BinaryType(), False),
        T.StructField("n_bits", T.LongType(), False),
        T.StructField("n_hashes", T.IntegerType(), False),
        T.StructField("n_keys", T.LongType(), False),
    ]
)


def _mix(h: np.ndarray, salt: np.uint64) -> np.ndarray:
    """splitmix64-style avalanche over uint64 keys (numpy-vectorized)."""
    x = (h + salt) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x ^= x >> np.uint64(31)
    return x


_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _positions(keys: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """(len(keys), n_hashes) bit positions via double hashing."""
    u = keys.view(np.uint64) if keys.dtype == np.int64 else keys.astype(np.uint64)
    h1 = _mix(u, np.uint64(0xA5A5A5A5A5A5A5A5))
    h2 = _mix(u, _GOLDEN) | np.uint64(1)
    i = np.arange(n_hashes, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(n_bits)).astype(np.int64)


def _bloom_insert(bits: np.ndarray, keys: np.ndarray, n_bits: int, n_hashes: int) -> None:
    """Set the bits of int64 ``keys`` in the uint8 bitset ``bits``, in place."""
    pos = _positions(keys, n_bits, n_hashes).ravel()
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _bloom_contains(bits: np.ndarray, keys: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """Per key: True if all its bits are set (maybe seen), False if definitely unseen."""
    pos = _positions(keys, n_bits, n_hashes)
    return ((bits[pos >> 3] >> (pos & 7)) & 1).all(axis=1)


class ShardedBloom:
    """Partitioned bloom filter persisted via a SnapshotStore table.

    update/probe both run as ``applyInPandas`` grouped on
    ``pmod(url_key, n_shards)`` — keys meet their shard's bitset inside
    one co-partitioned shuffle; nothing is collected to the driver.
    """

    TABLE = "url_seen_bloom"

    def __init__(
        self,
        spark: SparkSession,
        store,
        n_shards: int = 8,
        bits_per_shard: int = 1 << 20,
        n_hashes: int = 7,
    ):
        self.spark = spark
        self.store = store
        self.n_shards = n_shards
        self.bits_per_shard = bits_per_shard
        self.n_hashes = n_hashes

    def _empty(self) -> DataFrame:
        rows = [
            (s, bytes(self.bits_per_shard // 8), self.bits_per_shard, self.n_hashes, 0)
            for s in range(self.n_shards)
        ]
        return self.spark.createDataFrame(rows, schema=_BLOOM_SCHEMA)

    def ensure(self) -> None:
        if not self.store.exists(self.TABLE):
            self.store.commit(self.TABLE, self._empty(), lineage={"op": "init"})

    def _shard_col(self, key_col: str) -> F.Column:
        return F.pmod(F.col(key_col), F.lit(self.n_shards)).cast("int")

    def update(self, keys: DataFrame, key_col: str = "url_key") -> None:
        """Insert keys (int64) into their shards; one snapshot commit.

        Bitsets meet their keys via ``cogroup`` — each shard's bitset is
        deserialized ONCE per task, never replicated onto key rows (a
        row-wise join would ship |keys| bitset copies through the
        shuffle: 10M keys × 400 KB ⇒ OOM — found by bench_bloom.py).
        """
        self.ensure()
        blooms = self.store.read(self.TABLE)
        # null keys would land in a null-shard group with no filter-side
        # frame (executor IndexError); they cannot be member-tested
        tagged = (
            keys.select(F.col(key_col).alias("key"))
            .filter(F.col("key").isNotNull())
            .withColumn(
                "shard_id", F.pmod(F.col("key"), F.lit(self.n_shards)).cast("int")
            )
        )

        def _merge(bloom_pdf: pd.DataFrame, keys_pdf: pd.DataFrame) -> pd.DataFrame:
            if bloom_pdf.empty:  # no shard state for this group — no-op
                return pd.DataFrame({f.name: [] for f in _BLOOM_SCHEMA.fields})
            head = bloom_pdf.iloc[0]
            bits = np.frombuffer(bytes(head["bitset"]), np.uint8).copy()
            n_bits, n_h = int(head["n_bits"]), int(head["n_hashes"])
            ks = keys_pdf["key"].to_numpy(np.int64) if len(keys_pdf) else np.array([], np.int64)
            _bloom_insert(bits, ks, n_bits, n_h)
            return pd.DataFrame(
                {
                    "shard_id": [int(head["shard_id"])],
                    "bitset": [bits.tobytes()],
                    "n_bits": [n_bits],
                    "n_hashes": [n_h],
                    "n_keys": [int(head["n_keys"]) + len(ks)],
                }
            )

        merged = (
            blooms.groupBy("shard_id")
            .cogroup(tagged.groupBy("shard_id"))
            .applyInPandas(_merge, _BLOOM_SCHEMA)
        )
        self.store.commit(self.TABLE, merged, lineage={"op": "bloom_update"})

    def probe(self, candidates: DataFrame, key_col: str = "url_key") -> DataFrame:
        """Adds ``maybe_seen: boolean``. False ⇒ definitely unseen.
        Same cogroup layout as :meth:`update` — one bitset per task."""
        self.ensure()
        blooms = self.store.read(self.TABLE).withColumnRenamed("shard_id", "_shard_id")
        out_schema = T.StructType(
            candidates.schema.fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
        )
        tagged = candidates.withColumn("_shard_id", self._shard_col(key_col))
        cand_cols = candidates.columns

        def _probe(bloom_pdf: pd.DataFrame, cand_pdf: pd.DataFrame) -> pd.DataFrame:
            if cand_pdf.empty:
                return pd.DataFrame({c: [] for c in [*cand_cols, "maybe_seen"]})
            if bloom_pdf.empty:
                # no shard state (e.g. a null key's null-shard group):
                # conservatively maybe_seen — the exact tier resolves it
                out = cand_pdf[cand_cols].copy()
                out["maybe_seen"] = True
                return out
            head = bloom_pdf.iloc[0]
            bits = np.frombuffer(bytes(head["bitset"]), np.uint8)
            n_bits, n_h = int(head["n_bits"]), int(head["n_hashes"])
            out = cand_pdf[cand_cols].copy()
            out["maybe_seen"] = _bloom_contains(
                bits, cand_pdf[key_col].to_numpy(np.int64), n_bits, n_h
            )
            return out

        return (
            blooms.groupBy("_shard_id")
            .cogroup(tagged.groupBy("_shard_id"))
            .applyInPandas(_probe, out_schema)
        )

    def filter_unseen(
        self, candidates: DataFrame, seen: DataFrame, key_col: str = "url_key", url_col: str = "url"
    ) -> DataFrame:
        """Two-tier dedup: bloom pre-filter, exact anti-join on survivors.

        Returns candidates not in `seen`. Exactly equivalent to a plain
        anti-join (bloom has no false negatives). One left-anti join
        whose condition is ``maybe_seen AND url = seen_url``: a
        definitely-unseen row never matches, so only the maybe_seen
        rows are checked against `seen`, and the probe UDF runs once
        (a union of the two branches would evaluate it twice).
        """
        probed = self.probe(candidates, key_col)
        seen_urls = seen.select(F.col(url_col).alias("_seen_url")).distinct()
        cond = F.col("maybe_seen") & (F.col(url_col) == F.col("_seen_url"))
        return probed.join(seen_urls, cond, "left_anti").drop("maybe_seen")
