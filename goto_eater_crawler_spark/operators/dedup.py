"""URL-seen set: partitioned bloom filter + exact confirmation.

The reference dedupes requests with Scrapy's default dupefilter — an
in-memory exact fingerprint set (SURVEY.md §2.2 P7). At 10^10 URLs an
exact distributed anti-join on every candidate is a full shuffle per
round, so the engine uses the north_rule design:

- a **partitioned bloom filter**: the 64-bit hash space is split into
  ``n_blocks`` blocks by ``pmod(url_hash, n_blocks)``; each block is an
  ``m``-bit numpy bitmap; ``k`` probe positions are derived from the
  single xxhash64 via Kirsch-Mitzenmacher double hashing (h1 = top 31
  bits via ``h >> 33``, h2 = low 32 bits | 1) — no extra hashing anywhere, the JVM
  computes xxhash64 once.
- bloom verdict "definitely new" lets a candidate through immediately
  (the overwhelming majority at steady state);
- bloom verdict "maybe seen" is confirmed against the **exact seen
  table** (canonical_url) with a left-anti join — so false positives
  can never drop a genuinely-new URL: the bloom accelerates, the exact
  table decides. FP count is surfaced as a lineage counter.

These two tiers are the engine's whole URL-seen set.

Sizing at 10^10 keys: bits = 10 bits/key -> 12.5 GB total, e.g.
n_blocks = 4096 x 3 MB blocks; blocks live in the checkpoint table and
are merged per round (bitwise OR is associative + idempotent -> safe
under retries). Build/merge/query are all applyInPandas/cogroup over
``block_id`` — each block's bitmap stays whole inside one task, and
candidates shuffle only their (block_id, url_hash) slim projection.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import BLOOM_BLOCK_SCHEMA


@dataclass(frozen=True)
class BloomParams:
    n_blocks: int = 32
    m_bits: int = 1 << 20  # bits per block
    k: int = 5

    @property
    def m_bytes(self) -> int:
        return self.m_bits // 8


def _positions(hashes: np.ndarray, params: BloomParams) -> np.ndarray:
    """k probe positions per hash, shape (n, k). Kirsch-Mitzenmacher
    from one 64-bit value; everything uint64 arithmetic."""
    h = hashes.astype(np.uint64)
    h1 = h >> np.uint64(33)  # top 31 bits
    h2 = (h & np.uint64(0xFFFFFFFF)) | np.uint64(1)
    i = np.arange(params.k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(params.m_bits)


def _set_bits(bitmap: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.reshape(-1)
    np.bitwise_or.at(bitmap, (flat >> np.uint64(3)).astype(np.int64),
                     np.uint8(1) << (flat & np.uint64(7)).astype(np.uint8))


def _test_bits(bitmap: np.ndarray, pos: np.ndarray) -> np.ndarray:
    byte_idx = (pos >> np.uint64(3)).astype(np.int64)
    bit = (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    return ((bitmap[byte_idx] & bit) != 0).all(axis=1)


def block_id_col(url_hash, params: BloomParams):
    return F.pmod(url_hash, F.lit(params.n_blocks)).cast("int")


def build_blocks(hashes_df: DataFrame, params: BloomParams) -> DataFrame:
    """hashes_df: (url_hash long) -> bloom blocks (block_id, bits)."""
    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bitmap = np.zeros(params.m_bytes, dtype=np.uint8)
        _set_bits(bitmap, _positions(pdf["url_hash"].to_numpy(), params))
        return pd.DataFrame(
            {"block_id": [int(pdf["block_id"].iloc[0])], "bits": [bitmap.tobytes()]}
        )

    return (
        hashes_df.select(
            "url_hash", block_id_col(F.col("url_hash"), params).alias("block_id")
        )
        .groupBy("block_id")
        .applyInPandas(build, schema=BLOOM_BLOCK_SCHEMA)
    )


def merge_blocks(a: DataFrame, b: DataFrame, params: BloomParams) -> DataFrame:
    """Bitwise-OR union of two block sets (associative, idempotent)."""
    def orjoin(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(params.m_bytes, dtype=np.uint8)
        for blob in pdf["bits"]:
            acc |= np.frombuffer(blob, dtype=np.uint8)
        return pd.DataFrame(
            {"block_id": [int(pdf["block_id"].iloc[0])], "bits": [acc.tobytes()]}
        )

    return (
        a.unionByName(b).groupBy("block_id").applyInPandas(orjoin, BLOOM_BLOCK_SCHEMA)
    )


def update_blocks(
    blocks: DataFrame, hashes_df: DataFrame, params: BloomParams
) -> DataFrame:
    """Fused build+merge: OR the new hashes' bits straight into the
    existing blocks in ONE cogroup pass (one Python stage per round
    instead of build->merge's two — per-stage fixed cost is the round
    loop's scaling tax, so every fused stage counts)."""
    def upd(hashes: pd.DataFrame, blk: pd.DataFrame) -> pd.DataFrame:
        if blk.empty:  # first hashes for this block
            bitmap = np.zeros(params.m_bytes, dtype=np.uint8)
            bid = int(hashes["block_id"].iloc[0])
        else:
            bitmap = np.frombuffer(blk["bits"].iloc[0], dtype=np.uint8).copy()
            bid = int(blk["block_id"].iloc[0])
        if not hashes.empty:
            _set_bits(bitmap, _positions(hashes["url_hash"].to_numpy(), params))
        return pd.DataFrame({"block_id": [bid], "bits": [bitmap.tobytes()]})

    hashed = hashes_df.select(
        "url_hash", block_id_col(F.col("url_hash"), params).alias("block_id")
    )
    return (
        hashed.groupBy("block_id")
        .cogroup(blocks.groupBy("block_id"))
        .applyInPandas(lambda h, b: upd(h, b), schema=BLOOM_BLOCK_SCHEMA)
    )


def bloom_maybe_hashes(
    candidates: DataFrame, blocks: DataFrame, params: BloomParams
) -> DataFrame:
    """(url_hash) rows the bloom flags as possibly-seen.

    cogroup-by-block: each task sees one block's bitmap ONCE plus that
    block's candidate hashes — the bitmap is never replicated per row.
    """
    def check(cand: pd.DataFrame, blk: pd.DataFrame) -> pd.DataFrame:
        if cand.empty or blk.empty:
            return pd.DataFrame({"url_hash": pd.Series([], dtype="int64")})
        bitmap = np.frombuffer(blk["bits"].iloc[0], dtype=np.uint8)
        hashes = cand["url_hash"].to_numpy()
        maybe = _test_bits(bitmap, _positions(hashes, params))
        return pd.DataFrame({"url_hash": hashes[maybe]})

    cand_slim = candidates.select(
        "url_hash", block_id_col(F.col("url_hash"), params).alias("block_id")
    )
    return (
        cand_slim.groupBy("block_id")
        .cogroup(blocks.groupBy("block_id"))
        .applyInPandas(lambda c, b: check(c, b), schema="url_hash long")
    )


def confirm_split(
    candidates: DataFrame, maybe: DataFrame, exact_seen: DataFrame, label: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The one filter-then-confirm split of ``candidates``, given the
    ``url_hash`` rows the filters flag as ``maybe`` seen. Returns
    (new_rows, definite_new, fp_new): unflagged rows skip the exact
    check (``via = <label>_definite``); flagged rows the exact seen
    table proves new are filter false positives (``<label>_fp``)."""
    definite_new = candidates.join(maybe, "url_hash", "left_anti").withColumn(
        "via", F.lit(f"{label}_definite")
    )
    maybe_rows = candidates.join(maybe, "url_hash", "left_semi")
    fp_new = maybe_rows.join(
        exact_seen.select("canonical_url"), "canonical_url", "left_anti"
    ).withColumn("via", F.lit(f"{label}_fp"))
    return definite_new.unionByName(fp_new), definite_new, fp_new


def split_new_urls(
    candidates: DataFrame,
    blocks: DataFrame,
    exact_seen: DataFrame,
    params: BloomParams,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`confirm_split` with the bloom's maybe-set, ``via``
    ``bloom_definite`` / ``bloom_fp``."""
    maybe = bloom_maybe_hashes(candidates, blocks, params)
    return confirm_split(candidates, maybe, exact_seen, "bloom")
