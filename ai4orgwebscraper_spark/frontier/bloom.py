"""Partitioned Bloom-filter URL-seen set (SURVEY.md C4, north rule:
a partitioned approximate-membership URL-seen set keyed by
canonicalized URL hash).

Design: the seen set is sharded by the first 4 bytes of the md5 url
key mod P; each shard owns an independent Bloom bitmap sized for its
expected cardinality. Shards are built distributedly (one
``applyInPandas`` group per shard) and — unlike a driver-collected
broadcast — STAY a DataFrame ``(shard, bitmap, m, k)``. Membership
tests run shard-co-partitioned: candidates are cogrouped with their
shard's bitmap rows and tested inside an Arrow-batched
``applyInPandas``, so no bitmap bytes ever concentrate on the driver
(a 10^10-URL seen set at 1% fpp is ~11.5 GiB total — at P=4096 each
executor only ever holds the ~3 MiB shards of the groups it runs).
Incremental rounds append delta shard rows (the same append-only
delta-parts structure as the seen table); membership = OR across a
shard's bitmaps. The EXACT anti-join remains the authority — the
bloom has no false negatives, so the prefilter is result-transparent
(golden tests keep passing with it on or off) and only exists to
shrink the join's build side at scale.

Hashing: double hashing h1 + i*h2 over the md5 hex key the engine
already carries (the url_hash column) — deterministic across
processes, no RNG (north-rule resumability).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SHARDS = 64
DEFAULT_FPP = 0.01

BLOOM_SHARDS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bitmap", T.BinaryType(), False),
        T.StructField("m", T.LongType(), False),
        T.StructField("k", T.IntegerType(), False),
        # the shard-count the bitmaps were built under — carried IN the
        # rows so prefilter_new can verify its own modulus against it
        # (a mismatch would silently yield false negatives, ADVICE r02)
        T.StructField("n_shards", T.IntegerType(), False),
    ]
)


class BloomShardMismatch(RuntimeError):
    """prefilter_new was called with a different n_shards than the
    bitmaps were built under — candidate keys would be routed to the
    wrong shard and 'definitely new' verdicts (which skip the exact
    anti-join) could be wrong."""


def _params(expected_n: int, fpp: float) -> tuple[int, int]:
    """(bits, k) for a bloom filter of expected_n items at fpp."""
    n = max(expected_n, 1)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _hashes(url_hash_hex: str) -> tuple[int, int]:
    """Two independent 60-bit streams from the md5 hex key itself."""
    h1 = int(url_hash_hex[:15], 16)
    h2 = int(url_hash_hex[15:30], 16) | 1  # odd -> full-period stepping
    return h1, h2


def _set_bits(bitmap: np.ndarray, key: str, m: int, k: int) -> None:
    h1, h2 = _hashes(key)
    for i in range(k):
        pos = (h1 + i * h2) % m
        bitmap[pos >> 3] |= 1 << (pos & 7)


def _test_bits(bitmap: np.ndarray, key: str, m: int, k: int) -> bool:
    h1, h2 = _hashes(key)
    for i in range(k):
        pos = (h1 + i * h2) % m
        if not (bitmap[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def _shard_col(n_shards: int):
    """Shard of an md5-hex key — first 4 bytes mod P. Computed from the
    hex string (not xxhash64(column)) so the Python-side executor test
    derives the same shard without a JVM call."""
    return (
        F.conv(F.substring("url_hash", 1, 8), 16, 10).cast("long") % n_shards
    ).cast("int")


def build_bloom_shards(
    seen: DataFrame,
    n_shards: int = DEFAULT_SHARDS,
    fpp: float = DEFAULT_FPP,
    expected_per_shard: int | None = None,
) -> DataFrame:
    """Distributed bloom build: one applyInPandas group per shard →
    DataFrame(shard, bitmap, m, k). NEVER collected — callers persist
    or parquet-spill it (64 rows x m/8 bytes) and pass it to
    prefilter_new."""
    if expected_per_shard is None:
        total = seen.count()
        expected_per_shard = max(64, int(total / max(n_shards, 1) * 1.5))
    m, k = _params(expected_per_shard, fpp)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bitmap = np.zeros((m + 7) // 8, dtype=np.uint8)
        for key in pdf["url_hash"]:
            _set_bits(bitmap, key, m, k)
        return pd.DataFrame(
            {
                "shard": [int(pdf["__shard"].iloc[0])],
                "bitmap": [bitmap.tobytes()],
                "m": [m],
                "k": [k],
                "n_shards": [n_shards],
            }
        )

    return (
        seen.select("url_hash", _shard_col(n_shards).alias("__shard"))
        .groupBy("__shard")
        .applyInPandas(build, schema=BLOOM_SHARDS_SCHEMA)
    )


def prefilter_new(
    candidates: DataFrame,
    shards: DataFrame | list[DataFrame],
    n_shards: int = DEFAULT_SHARDS,
) -> DataFrame:
    """Split candidates into definitely-new rows (every bloom part says
    absent — NO exact join needed, blooms have no false negatives) vs
    maybe-seen rows (must be confirmed by the exact anti-join).

    Accepts one shard DataFrame or a list of incremental round deltas
    (membership = OR across a shard's bitmap rows). Runs shard-
    co-partitioned via cogroup + applyInPandas: one shuffle of the
    candidate keys, bitmap bytes move executor-to-executor only, no
    driver materialization (VERDICT r01 item 6). Returns candidates
    with a ``__maybe_seen`` column."""
    parts = shards if isinstance(shards, list) else [shards]
    shards_all = parts[0]
    for p in parts[1:]:
        shards_all = shards_all.unionByName(p)

    out_schema = T.StructType(
        list(candidates.schema.fields)
        + [T.StructField("__maybe_seen", T.BooleanType(), False)]
    )
    cand_cols = candidates.columns

    def test(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(columns=cand_cols + ["__maybe_seen"])
        out = cand_pdf[cand_cols].copy()
        if bloom_pdf.empty:
            out["__maybe_seen"] = False
            return out
        # lockstep check: every bitmap row must have been built under
        # the same shard count this call is routing with (ADVICE r02 —
        # a silent mismatch means bloom false NEGATIVES, i.e. dupes
        # admitted to the frontier without the exact anti-join)
        built_under = set(int(x) for x in bloom_pdf["n_shards"])
        if built_under != {n_shards}:
            raise BloomShardMismatch(
                f"prefilter_new routing with n_shards={n_shards} but bitmap "
                f"rows were built under n_shards={sorted(built_under)}"
            )
        bitmaps = [
            (np.frombuffer(b, dtype=np.uint8), int(m), int(k))
            for b, m, k in zip(bloom_pdf["bitmap"], bloom_pdf["m"], bloom_pdf["k"])
        ]
        out["__maybe_seen"] = out["url_hash"].map(
            lambda h: any(_test_bits(bm, h, m, k) for bm, m, k in bitmaps)
        )
        return out

    return (
        candidates.withColumn("__shard", _shard_col(n_shards))
        .groupBy("__shard")
        .cogroup(shards_all.groupBy("shard"))
        .applyInPandas(test, schema=out_schema)
    )
