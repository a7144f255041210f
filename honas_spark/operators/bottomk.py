"""Bottom-k distinct SAMPLE — the eighth mergeable sketch sibling.

Where theta/KMV (operators/theta.py) keeps only the k minimum HASHES,
this keeps the VALUES riding on them: a uniform, mergeable sample over
each group's DISTINCT value set (Cohen & Kaplan, "Summarizing data using
bottom-k sketches", PODC 2007) — "which distinct user ids does this
slice contain" without a full distinct shuffle.

A `two_phase_agg` family: values hash JVM-side, only P x k (hash, value)
pairs per group shuffle, and the merge (union, unique by hash, keep k
smallest) is associative — the k globally-smallest hashes win under any
split, so the sample is deterministic and, under the portable md5
family, cross-engine verifiable.  est_distinct rides along: the k-th
smallest hash IS a KMV estimator ((k-1) * range / h_k; exact below k).
"""

from __future__ import annotations

import json
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .two_phase import Family, two_phase_agg

_MD5_PREFIX_RANGE = 16 ** 15  # 60-bit prefix, always positive in int64


def _hash_col(value_col: str, hash_fn: str):
    v = F.col(value_col).cast("string")
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(v), 1, 15), 16, 10).cast("long")
    if hash_fn == "xxhash64":
        return F.xxhash64(v)
    raise ValueError(f"hash_fn must be xxhash64|md5: {hash_fn}")


def _bottomk(hs: np.ndarray, vs: np.ndarray, k: int):
    """k smallest distinct hashes (uint64 order) + their values."""
    _, idx = np.unique(hs.view(np.uint64), return_index=True)  # first hit
    return hs[idx[:k]], vs[idx[:k]]


def _pack(state) -> bytes:
    return json.dumps([state[0].tolist(), state[1].tolist()]).encode()


def _unpack(buf: bytes):
    hs, vs = json.loads(buf)
    return np.array(hs, dtype=np.int64), np.array(vs, dtype=object)


def bottomk_sample_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """-> one row per group: `sample` (array<string>, the bottom-k
    distinct values in hash order), `n_sample` (int) and `est_distinct`
    (long; exact while the group holds < k distinct values).  Values
    are sampled AS STRINGS (the cast also feeds the hash).  NULL values
    are skipped; a group of only NULLs gets an empty sample, estimate 0."""
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    hash_range = _MD5_PREFIX_RANGE if hash_fn == "md5" else 2 ** 64

    def merge(a, b):
        return _bottomk(
            np.concatenate([a[0], b[0]]), np.concatenate([a[1], b[1]]), k
        )

    def update(st, hs, vs):
        ok = pd.notna(vs)
        return merge(st, (hs[ok], vs[ok]))

    def finalize(st) -> dict:
        hs, vs = st
        est = hs.size
        if hs.size >= k:
            kth = int(hs.view(np.uint64)[-1])
            est = int(round((k - 1) * float(hash_range) / float(max(kth, 1))))
        return {"sample": list(vs), "n_sample": int(hs.size),
                "est_distinct": est}

    family = Family(
        zero=lambda: (np.empty(0, np.int64), np.empty(0, object)),
        update=update,
        merge=merge,
        to_bytes=_pack,
        from_bytes=_unpack,
        finalize=finalize,
    )
    # a NULL value's hash (xxhash64's seed, md5's NULL) is masked in
    # `update`; coalesce keeps the md5 column int64 through Arrow
    inputs = [F.coalesce(_hash_col(value_col, hash_fn), F.lit(0)),
              F.col(value_col).cast("string")]
    return two_phase_agg(
        df, group_cols, inputs, family,
        "sample array<string>, n_sample int, est_distinct long",
    )
