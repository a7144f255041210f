"""Theta/KMV distinct sketch aggregation + set operations across groups.

The reference approximates "how many keys hit in BOTH filters" only at
search time (hit-bitmap AND, src/bin/honas_search.c:303-314); this makes
union, intersection and difference cardinality first-class over any
grouping.  `theta_sketch_agg` is a `two_phase_agg` family over values
hashed JVM-side (xxhash64); a sketch row is <= 8k bytes, so the pairwise
stage self-joins the G-row sketch table broadcast — never the raw data.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import kernels as K
from .two_phase import Family, two_phase_agg


def theta_sketch_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 4096,
) -> DataFrame:
    """-> one row per group: `sketch` (serialized KMV state) and
    `est_distinct` (long; exact while the group has < k distinct
    values, ~1/sqrt(k) relative error beyond).  NULL values are not
    counted; a group holding only NULLs estimates 0."""
    v = F.col(value_col)
    family = Family(
        zero=K.kmv_zero,
        update=lambda st, h, ok: K.kmv_update(st, h[ok].view(np.uint64), k),
        merge=lambda a, b: K.kmv_merge(a, b, k),
        to_bytes=K.kmv_pack,
        from_bytes=K.kmv_unpack,
        finalize=lambda st: {
            "sketch": K.kmv_pack(st),
            "est_distinct": int(round(K.kmv_estimate(st, k))),
        },
    )
    return two_phase_agg(
        df, group_cols, [F.xxhash64(v), v.isNotNull()], family,
        "sketch binary, est_distinct long",
    )


def theta_pair_ops(
    sketches: DataFrame,
    group_cols: Sequence[str],
    k: int = 4096,
) -> DataFrame:
    """All unordered group pairs of a `theta_sketch_agg` output ->
    (group_a..., group_b..., est_intersect, est_union, est_diff_ab,
    est_diff_ba) as longs (exact while both sketches are exact;
    est_diff_ab = |A \\ B|): G*(G-1)/2 pairs of broadcast sketch rows,
    never the raw data."""
    group_cols = list(group_cols)
    dtypes = dict(sketches.dtypes)
    a, b = (sketches.select(*[F.col(c).alias(f"{c}_{s}") for c in group_cols],
                            F.col("sketch").alias(f"_sk_{s}")) for s in "ab")
    gcols = [f"{c}_{s}" for s in ("a", "b") for c in group_cols]
    n = len(group_cols)
    pairs = a.join(F.broadcast(b), F.struct(*gcols[:n]) < F.struct(*gcols[n:]))
    ests = ["est_intersect", "est_union", "est_diff_ab", "est_diff_ba"]
    out_ddl = ", ".join(
        [f"{c} {dtypes[c[:-2]]}" for c in gcols] + [f"{e} long" for e in ests]
    )

    def ops(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            est = []
            for sa, sb in zip(pdf["_sk_a"], pdf["_sk_b"]):
                va, vb = K.kmv_unpack(sa), K.kmv_unpack(sb)
                est.append([
                    K.kmv_intersect_estimate(va, vb, k),
                    K.kmv_union_estimate(va, vb, k),
                    K.kmv_diff_estimate(va, vb, k),
                    K.kmv_diff_estimate(vb, va, k),
                ])
            est = np.round(np.array(est)).astype(np.int64).T
            yield pdf[gcols].assign(**dict(zip(ests, est)))

    return pairs.mapInPandas(ops, schema=out_ddl)
