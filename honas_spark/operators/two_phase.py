"""One two-phase scaffold for the grouped mergeable-summary families.

A `Family` is a fully mergeable summary (the contract of DDSketch, VLDB
2019, and KLL±, VLDB 2021); `two_phase_agg` owns everything around it.
build: the JVM-side input projection feeds one mapInPandas that
segments each Arrow batch by group (`segment`, also sketch_agg's
grouping pass), runs `update` once per (batch, group) on rows in
arrival order, and emits one `sketch binary` partial per group.  merge:
repartition(group_cols).mapInPandas folds each group's partials
(from_bytes -> merge -> finalize) — one Python call per partition."""

from __future__ import annotations

from functools import reduce
from typing import Callable, Iterator, NamedTuple, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame

from .common import na_safe_key


def _group_fields_ddl(df: DataFrame, group_cols: Sequence[str]) -> str:
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join(f"{c} {schema[c]}" for c in group_cols)


def segment(pdf: pd.DataFrame, group_cols: Sequence[str]):
    """Split a non-empty frame by group in a few vectorized calls
    (pandas per-GROUP work costs ~50-150 us a group) -> (gb, order,
    codes, bounds, keys): group g is rows order[bounds[g]:bounds[g+1]]
    in arrival order, codes[i] is row order[i]'s group, keys[g] its
    na_safe_key, and row g of any gb.agg(...) is group g (sort=False)."""
    gb = pdf.groupby(list(group_cols), sort=False, dropna=False)
    gnum = gb.ngroup().to_numpy()
    order = np.argsort(gnum, kind="stable")
    codes = gnum[order]
    bounds = np.searchsorted(codes, np.arange(int(gnum.max()) + 2))
    firsts = order[bounds[:-1]]
    keys = zip(*[pdf[c].to_numpy()[firsts] for c in group_cols])
    return gb, order, codes, bounds, list(map(na_safe_key, keys))


class Family(NamedTuple):
    """`update(state, *arrays)` folds one group's rows of one batch (one
    array per two_phase_agg input) and returns the state; `finalize`
    returns the output columns after the group columns, by name."""

    zero: Callable[[], object]
    update: Callable[..., object]
    merge: Callable[[object, object], object]
    to_bytes: Callable[[object], bytes]
    from_bytes: Callable[[bytes], object]
    finalize: Callable[[object], dict]


def two_phase_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    inputs: Sequence[Column],
    family: Family,
    out_ddl: str,
) -> DataFrame:
    """-> one row per group: group_cols, then `out_ddl` (the DDL of
    family.finalize's columns).  `inputs` are the JVM-side columns
    `update` receives, in order."""
    group_cols = list(group_cols)
    group_ddl = _group_fields_ddl(df, group_cols)
    names = [f"_in{i}" for i in range(len(inputs))]
    slim = df.select(*group_cols, *[c.alias(n) for c, n in zip(inputs, names)])

    def rows(states: dict, values) -> pd.DataFrame:
        return pd.DataFrame(
            [{**dict(zip(group_cols, k)), **v} for k, v in zip(states, values)]
        )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            _, order, _, bounds, keys = segment(pdf, group_cols)
            cols = [pdf[n].to_numpy()[order] for n in names]
            for key, lo, hi in zip(keys, bounds[:-1], bounds[1:]):
                st = states[key] if key in states else family.zero()
                states[key] = family.update(st, *[c[lo:hi] for c in cols])
        if states:  # empty partitions yield nothing (Arrow needs typed cols)
            yield rows(states, ({"sketch": family.to_bytes(st)}
                                for st in states.values()))

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            _, order, _, bounds, keys = segment(pdf, group_cols)
            blobs = pdf["sketch"].to_numpy()[order]
            for key, lo, hi in zip(keys, bounds[:-1], bounds[1:]):
                parts = map(family.from_bytes, blobs[lo:hi])
                st = states[key] if key in states else next(parts)
                states[key] = reduce(family.merge, parts, st)
        if states:
            yield rows(states, map(family.finalize, states.values()))

    partials = slim.mapInPandas(build, schema=f"{group_ddl}, sketch binary")
    return partials.repartition(*group_cols).mapInPandas(
        merge, schema=f"{group_ddl}, {out_ddl}"
    )
