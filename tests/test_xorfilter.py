"""Xor-filter seen arm (operators/xorfilter.py) — Graf & Lemire 2020.

Contract mirrored from the bloom sibling: the filter only
ACCELERATES (zero false negatives, small false-positive rate, exact
confirm of maybes), the build is a pure function of the key set, and
the Spark path (per-shard applyInPandas build + broadcast probe)
yields exactly the exact-anti-join split.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from goto_eater_crawler_spark.operators.xorfilter import (
    XorFilter,
    build_shard_filters,
    build_xor8,
    contains_np,
    split_new_urls_xor,
    xor_maybe_hashes,
)

RNG = np.random.default_rng(7)


def _keys(n: int) -> np.ndarray:
    # signed-int64 territory on purpose: url_hash is xxhash64 (signed)
    return RNG.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


def test_no_false_negatives_and_roundtrip():
    keys = _keys(5000)
    flt = build_xor8(keys)
    assert contains_np(flt, keys).all(), "xor identity broken: false negative"
    # serialization roundtrip preserves probes
    flt2 = XorFilter.from_bytes(flt.to_bytes())
    assert contains_np(flt2, keys).all()
    assert flt2.seed == flt.seed and flt2.seg_len == flt.seg_len


def test_false_positive_rate_near_2pow_minus_8():
    keys = _keys(20000)
    flt = build_xor8(keys)
    probe = _keys(50000)
    probe = probe[~np.isin(probe, keys)]
    fp = contains_np(flt, probe).mean()
    # expected 1/256 ~ 0.0039; generous bound
    assert fp < 0.02, fp


def test_build_is_pure_function_of_key_set():
    keys = _keys(1000)
    a = build_xor8(keys)
    b = build_xor8(np.flip(keys.copy()))  # order must not matter
    c = build_xor8(np.concatenate([keys, keys[:100]]))  # dups must not matter
    assert a.to_bytes() == b.to_bytes() == c.to_bytes()


def test_tiny_and_single_key_builds():
    for n in (1, 2, 3, 7):
        keys = _keys(n)
        flt = build_xor8(keys)
        assert contains_np(flt, keys).all()


def test_spark_split_matches_exact_anti_join(spark):
    seen_vals = [f"https://h{i}" for i in range(0, 400, 2)]  # evens seen
    cand_vals = [f"https://h{i}" for i in range(400)]
    seen = spark.createDataFrame(
        [(u,) for u in seen_vals], "canonical_url string"
    ).withColumn("url_hash", F.xxhash64("canonical_url"))
    cand = spark.createDataFrame(
        [(u,) for u in cand_vals], "canonical_url string"
    ).withColumn("url_hash", F.xxhash64("canonical_url"))
    filters = build_shard_filters(seen.select("url_hash"), n_shards=4)
    new_rows, definite, fp_confirmed = split_new_urls_xor(
        cand, filters, seen, n_shards=4
    )
    got = {r.canonical_url for r in new_rows.collect()}
    want = {f"https://h{i}" for i in range(1, 400, 2)}  # odds are new
    assert got == want
    # split accounting: definite + fp-confirmed partitions new_rows
    n_def, n_fp = definite.count(), fp_confirmed.count()
    assert n_def + n_fp == len(want)
    # xor has no false negatives, so nothing seen leaks into new_rows
    assert not ({f"https://h{i}" for i in range(0, 400, 2)} & got)


def test_spark_maybe_superset_of_seen(spark):
    seen = spark.range(0, 1000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    cand = spark.range(0, 3000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    filters = build_shard_filters(seen, n_shards=4)
    maybe = {r.url_hash for r in xor_maybe_hashes(cand, filters, 4).collect()}
    truly_seen = {r.url_hash for r in seen.collect()}
    assert truly_seen <= maybe, "false negative through the Spark probe path"
