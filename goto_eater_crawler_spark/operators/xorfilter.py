"""Xor filter seen-set arm — the STATIC sibling of the bloom
(operators/dedup.py) URL-seen filter, exercised by the ``url_seen_xor``
gate (plans/queries.py). The crawl engine does not use it.

Xor filters (Graf & Lemire, "Xor Filters: Faster and Smaller Than
Bloom and Cuckoo Filters", ACM JEA 25, 2020; the binary-fuse family's
ancestor) are immutable once built but beat bloom filters on space
(~9.84 bits/key at 8-bit fingerprints) and probe cost (exactly 3
loads, no branching). The crawl engine fronts its exact seen table
with the bloom alone because the Spark probe below joins each shard's
whole blob onto every candidate row of that shard: its cost grows
with the key count (25,000 candidates over 8 shards on 4 cores: 0.9 s
at 10^4 keys, 8 s at 10^6), while the bloom probe's stays at 0.6-0.8 s.

Construction (§3 of the paper): 3 hash positions, one per third of a
``3 * seg_len`` byte array; peel slots of degree 1 onto a stack until
the hypergraph is empty, then assign fingerprints in reverse pop
order so ``B[h0] ^ B[h1] ^ B[h2] == fingerprint(key)``. Peeling
succeeds w.h.p. at capacity 1.23n + 32; on the rare failure the seed
is bumped deterministically and the build retried, so the result is
a pure function of the key set.

Membership contract: ZERO false negatives for inserted keys (exact
xor identity), false positives ~ 2^-8 for others — so, like the
other arms, the filter only ACCELERATES: probe-positives are
confirmed against the exact seen table, probe-negatives are
definitely new.

Scale shape: the 10^10-key seen set shards by ``pmod(url_hash,
n_shards)``; each shard's filter builds in one applyInPandas task
(embarrassingly parallel), and at ~10 bits/key the shard blobs are
small enough to broadcast to the probe side — candidates never
shuffle: one broadcast-join + one Arrow-batched vectorized probe.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import confirm_split

_M64 = (1 << 64) - 1


def _mix_np(keys: np.ndarray, seed: int) -> np.ndarray:
    """Vectorized SplitMix64 finalizer (Steele, Lea & Flood 2014) over
    uint64 keys."""
    x = (keys + np.uint64((0x9E3779B97F4A7C15 + seed * 0xFF51AFD7ED558CCD) & _M64)).astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _positions(keys: np.ndarray, seed: int, seg_len: int):
    """(h0, h1, h2, fp) for each key: one position per segment plus
    the 8-bit fingerprint, all from one vectorized mix per derivation
    index."""
    m0 = _mix_np(keys, seed * 3 + 1)
    m1 = _mix_np(keys, seed * 3 + 2)
    m2 = _mix_np(keys, seed * 3 + 3)
    sl = np.uint64(seg_len)
    h0 = (m0 % sl).astype(np.int64)
    h1 = (m1 % sl).astype(np.int64) + seg_len
    h2 = (m2 % sl).astype(np.int64) + 2 * seg_len
    fp = ((m0 >> np.uint64(56)) ^ (m1 >> np.uint64(48)) ^ (m2 >> np.uint64(40))).astype(np.uint8)
    return h0, h1, h2, fp


@dataclass
class XorFilter:
    seed: int
    seg_len: int
    table: np.ndarray  # uint8, len == 3 * seg_len

    def to_bytes(self) -> bytes:
        return (
            self.seed.to_bytes(4, "little")
            + self.seg_len.to_bytes(4, "little")
            + self.table.tobytes()
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "XorFilter":
        seed = int.from_bytes(blob[:4], "little")
        seg_len = int.from_bytes(blob[4:8], "little")
        table = np.frombuffer(blob[8:], dtype=np.uint8)
        assert len(table) == 3 * seg_len
        return cls(seed=seed, seg_len=seg_len, table=table)


def build_xor8(keys: np.ndarray, max_seed_tries: int = 64) -> XorFilter:
    """Deterministic xor8 build over DISTINCT int64 keys: peel, then
    assign in reverse peel order. Retries with seed+1 on the (w.h.p.
    impossible at 1.23n+32 capacity) peeling failure, so the output
    is a pure function of the key set."""
    keys = np.unique(keys.astype(np.int64)).view(np.uint64)
    n = len(keys)
    seg_len = max(1, (int(1.23 * n) + 32 + 2) // 3)
    size = 3 * seg_len
    for seed in range(max_seed_tries):
        h0, h1, h2, fp = _positions(keys, seed, seg_len)
        cnt = np.zeros(size, dtype=np.int64)
        acc = np.zeros(size, dtype=np.uint64)  # xor of keys per slot
        for h in (h0, h1, h2):
            np.add.at(cnt, h, 1)
            np.bitwise_xor.at(acc, h, keys)
        # peel: queue of degree-1 slots
        key_at = {int(k): i for i, k in enumerate(keys)}
        stack: list[tuple[int, int]] = []  # (key_index, slot)
        queue = [s for s in np.nonzero(cnt == 1)[0]]
        while queue:
            slot = int(queue.pop())
            if cnt[slot] != 1:
                continue
            k = int(acc[slot])
            ki = key_at[k]
            stack.append((ki, slot))
            for h in (int(h0[ki]), int(h1[ki]), int(h2[ki])):
                cnt[h] -= 1
                acc[h] ^= np.uint64(k)
                if cnt[h] == 1:
                    queue.append(h)
        if len(stack) == n:
            table = np.zeros(size, dtype=np.uint8)
            for ki, slot in reversed(stack):
                table[slot] = (
                    int(fp[ki])
                    ^ int(table[h0[ki]])
                    ^ int(table[h1[ki]])
                    ^ int(table[h2[ki]])
                    ^ int(table[slot])  # slot is one of h0/h1/h2
                )
            return XorFilter(seed=seed, seg_len=seg_len, table=table)
    raise RuntimeError(f"xor8 peeling failed for {n} keys")


def contains_np(flt: XorFilter, keys: np.ndarray) -> np.ndarray:
    """Vectorized 3-load probe: fp(key) == B[h0]^B[h1]^B[h2]."""
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    k = keys.astype(np.int64).view(np.uint64)
    h0, h1, h2, fp = _positions(k, flt.seed, flt.seg_len)
    t = flt.table
    return (t[h0] ^ t[h1] ^ t[h2]) == fp


# ------------------------------------------------------------- spark


def build_shard_filters(
    seen_hashes: DataFrame, n_shards: int = 8, hash_col: str = "url_hash"
) -> DataFrame:
    """(url_hash long) -> (shard int, data binary): one immutable
    xor8 filter per pmod-shard, built in parallel applyInPandas
    tasks."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        flt = build_xor8(pdf[hash_col].to_numpy(np.int64))
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "data": [flt.to_bytes()]}
        )

    return (
        seen_hashes.select(
            F.col(hash_col),
            F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int").alias("shard"),
        )
        .groupBy("shard")
        .applyInPandas(build, schema="shard int, data binary")
    )


def xor_maybe_hashes(
    candidates: DataFrame,
    filters: DataFrame,
    n_shards: int = 8,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Distinct candidate hashes whose shard filter probes positive.
    Filters broadcast (≈10 bits/key per shard); candidates never
    shuffle — one broadcast join + one Arrow-batched probe."""
    cand = (
        candidates.select(hash_col)
        .distinct()
        .withColumn(
            "shard", F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int")
        )
        .join(F.broadcast(filters), "shard")
    )

    def probe(pdfs):
        for pdf in pdfs:
            if len(pdf) == 0:
                yield pd.DataFrame({hash_col: pd.Series([], dtype="int64")})
                continue
            out = []
            for blob, grp in pdf.groupby("data", sort=False):
                flt = XorFilter.from_bytes(bytes(blob))
                hashes = grp[hash_col].to_numpy(np.int64)
                out.append(grp.loc[contains_np(flt, hashes), [hash_col]])
            yield pd.concat(out) if out else pd.DataFrame(
                {hash_col: pd.Series([], dtype="int64")}
            )

    return cand.mapInPandas(probe, schema=f"{hash_col} long")


def split_new_urls_xor(
    candidates: DataFrame,
    filters: DataFrame,
    exact_seen: DataFrame,
    n_shards: int = 8,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Xor-only split, same contract as dedup.split_new_urls:
    (new_rows, definite_new, fp_confirm_checked) with ``via``
    ``xor_definite`` / ``xor_fp``. Probe-negatives are definitely new
    (xor filters have no false negatives); probe-positives are
    confirmed against the exact seen table."""
    maybe = xor_maybe_hashes(candidates, filters, n_shards)
    return confirm_split(candidates, maybe, exact_seen, "xor")
