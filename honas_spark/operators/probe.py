"""Search probe — the batch membership-query path.

Reproduces honas-search's probe loop (src/bin/honas_search.c:373-421 +
src/honas_state.c:456-474): every queried SHA-256 is checked against every
filter of every sketch row (with the per-filter hash transform); the result
per (sketch row, key) is a hit count and a per-filter hit bitmask.
`search_probe` runs a whole search job in the same pass and keeps only
the rows the result needs.

Scale shape: the query set is tiny (a search job), the sketch table is the
big side -> the queries are precomputed on the driver (offsets per filter
index, derived ONCE per key — not per sketch row) and shipped inside the
mapInPandas closure (a broadcast).  No join, no shuffle: one pass over the
sketch table."""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import kernels as K
from ..spec import SketchSpec
from ..state import SketchState


def _unzip_queries(queries: Sequence[tuple]) -> list:
    """-> object arrays (group ids, keys, SHAs); a None group id (ids are
    optional in the job format, README.md:296-339) rides Arrow as null."""
    cols = list(zip(*queries)) or [(), (), ()]
    return [np.array(c, dtype=object) for c in cols]


def _query_offsets(shas: list, spec: SketchSpec) -> list:
    """Per filter index, the (nq, k) Bloom offsets of every queried SHA.
    Derived executor-side: the closure ships 32-byte SHAs, not k*F
    offsets per key, and the derivation runs in parallel per task."""
    limbs = K.hashes_to_limbs(shas, spec.hash_len)
    return [
        K.bloom_offsets(K.transform_limbs(limbs, fi), spec.m_bits, spec.k)
        for fi in range(spec.num_filters)
    ]


def _probe_rows(pdf: pd.DataFrame, spec: SketchSpec, offsets: list):
    """Probe every query against every sketch row of one Arrow batch.

    Each row's filters are unpacked once; CMS/KLL are never decoded.
    -> (hits (R x nq), filters_hit bitmasks (R x nq), bits set per
    filter (R x F), est_clients (R,), est_items (R,)), all int64."""
    R, nq, nf = len(pdf), len(offsets[0]), spec.num_filters
    hits = np.zeros((R, nq), dtype=np.int64)
    masks = np.zeros((R, nq), dtype=np.int64)
    bits = np.zeros((R, nf), dtype=np.int64)
    est = np.zeros((2, R), dtype=np.int64)
    for i, (fb, hc, hi) in enumerate(zip(
        pdf["filters"], pdf["hll_clients"], pdf["hll_items"]
    )):
        filters = K.bloom_unpack(fb, nf, spec.filter_bytes)
        for fi in range(nf):
            hit = K.bloom_probe(filters[fi], offsets[fi])
            hits[i] += hit
            masks[i] |= hit.astype(np.int64) << fi
            bits[i, fi] = K.bloom_bits_set(filters[fi])
        est[0, i] = K.hll_count(K.hll_unpack(hc))
        est[1, i] = K.hll_count(K.hll_unpack(hi))
    return hits, masks, bits, est[0], est[1]


def probe_sketches(
    sketch_df: DataFrame,
    spec: SketchSpec,
    queries: Sequence[tuple],
    group_cols: Sequence[str],
) -> DataFrame:
    """queries: iterable of (group_id:int, key:str, sha:bytes 32B).

    Returns one row per (sketch row x query):
      group_cols..., group_id int, key string, hits int, filters_hit long,
      plus the sketch row's diagnostics needed by result shaping
      (n_rows, est_clients, est_items, total_bits_set).
    """
    group_cols = list(group_cols)
    gids, keys_arr, shas = _unzip_queries(queries)
    nq = len(shas)

    from .sketch_agg import _group_fields_ddl

    group_ddl = _group_fields_ddl(sketch_df, group_cols)
    out_schema = (
        f"{group_ddl}, group_id long, key string, hits long,"
        " filters_hit long, n_rows long, est_clients long, est_items long,"
        " total_bits_set long"
    )

    def probe(batches):
        offsets = None  # lazily: empty partitions pay nothing
        for pdf in batches:
            if pdf.empty or nq == 0:
                continue
            if offsets is None:
                offsets = _query_offsets(shas, spec)
            hits, masks, bits, est_c, est_i = _probe_rows(pdf, spec, offsets)
            # block assembly: the (R sketch rows x nq keys) output is
            # built from preallocated numpy matrices + repeat/tile — no
            # per-row Python lists, so a 10k-key job costs numpy time,
            # not interpreter time
            R = len(pdf)
            data = {
                c: pdf[c].repeat(nq).reset_index(drop=True)
                for c in group_cols
            }
            data.update(
                group_id=np.tile(gids, R), key=np.tile(keys_arr, R),
                hits=hits.reshape(-1), filters_hit=masks.reshape(-1),
                n_rows=np.repeat(pdf["n_rows"].to_numpy(dtype=np.int64), nq),
                est_clients=np.repeat(est_c, nq),
                est_items=np.repeat(est_i, nq),
                total_bits_set=np.repeat(bits.sum(axis=1), nq),
            )
            yield pd.DataFrame(data)

    return sketch_df.mapInPandas(probe, schema=out_schema)


def search_probe(
    sketch_df: DataFrame,
    spec: SketchSpec,
    queries: Sequence[tuple],
    group_cols: Sequence[str],
    flatten_on: str = "clients",
) -> DataFrame:
    """A whole search job in ONE pass (honas_search.c:188-217, 303-314).

    Per sketch row: probe every key, clamp hits to 0/1 when the
    `flatten_on` estimate is below `flatten_threshold`, and reduce
    each group id's keys (AND of their filter masks; all / any found).
    Only the rows the result keeps come out, tagged by `kind`:
      "key"   raw hits >= u; `hits` clamped, `raw_hits`, `filters_hit`
      "group" any key found; `hits` = hits_by_all_hostnames, `raw_hits`
              / `filters_hit` = the AND popcount / mask
      "info"  one per sketch row; `filter_bits` = bits set per filter
    each with its sketch row's group cols and diagnostics."""
    group_cols = list(group_cols)
    gids, keys_arr, shas = _unzip_queries(queries)
    # one code per distinct group id (null ids form one group); the
    # stable order keeps a group's keys contiguous for reduceat
    code_of: dict = {}
    codes = np.array([code_of.setdefault(g, len(code_of)) for g in gids])
    ugids = np.array(list(code_of), dtype=object)
    order = np.argsort(codes, kind="stable")
    starts = np.searchsorted(codes[order], np.arange(len(ugids)))
    u = spec.filters_per_user

    from .sketch_agg import _group_fields_ddl

    out_schema = (
        f"{_group_fields_ddl(sketch_df, group_cols)}, n_rows long,"
        " first_ts timestamp, last_ts timestamp, kind string,"
        " group_id long, key string, hits long, raw_hits long,"
        " filters_hit long, flattened boolean, est_clients long,"
        " est_items long, total_bits_set long, filter_bits array<long>"
    )

    def probe(batches):
        offsets = None
        for pdf in batches:
            if pdf.empty:
                continue
            if offsets is None:
                offsets = _query_offsets(shas, spec)
            hits, masks, bits, est_c, est_i = _probe_rows(pdf, spec, offsets)
            est = est_c if flatten_on == "clients" else est_i
            flat = (est < spec.flatten_threshold)[:, None]
            # reference clamp (honas_search.c:200-201): hits < u ? 0 : 1
            clamp = np.where(flat, hits >= u, hits)
            found = clamp[:, order] > 0
            and_mask = np.bitwise_and.reduceat(
                masks[:, order], starts, axis=1
            )
            and_pop = sum((and_mask >> f) & 1 for f in range(spec.num_filters))
            by_all = np.where(flat, and_pop >= u, and_pop) * (
                np.logical_and.reduceat(found, starts, axis=1)
            )
            kr, kq = np.nonzero(hits >= u)
            gr, gg = np.nonzero(np.logical_or.reduceat(found, starts, axis=1))
            R, ng = len(pdf), len(gr)
            ri = np.concatenate([kr, gr, np.arange(R)])
            none, zeros = np.full(ng + R, None), np.zeros(R, dtype=np.int64)
            out = {
                c: pdf[c].to_numpy()[ri]
                for c in group_cols + ["n_rows", "first_ts", "last_ts"]
            }
            parts = {
                "kind": (["key"] * len(kr), ["group"] * ng, ["info"] * R),
                "group_id": (gids[kq], ugids[gg], none[ng:]),
                "key": (keys_arr[kq], none),
                "hits": (clamp[kr, kq], by_all[gr, gg], zeros),
                "raw_hits": (hits[kr, kq], and_pop[gr, gg], zeros),
                "filters_hit": (masks[kr, kq], and_mask[gr, gg], zeros),
            }
            out.update({c: np.concatenate(p) for c, p in parts.items()})
            out.update(
                flattened=flat[:, 0][ri], est_clients=est_c[ri],
                est_items=est_i[ri], total_bits_set=bits.sum(axis=1)[ri],
                filter_bits=[None] * (len(ri) - R) + bits.tolist(),
            )
            yield pd.DataFrame(out)

    # only the columns the pass reads cross into Python (no CMS / KLL)
    return sketch_df.select(
        *group_cols, "filters", "hll_clients", "hll_items", "n_rows",
        "first_ts", "last_ts",
    ).mapInPandas(probe, schema=out_schema)


def cms_probe(
    candidates_df: DataFrame,
    cms_bytes: bytes,
    spec: SketchSpec,
    token_col: str = "token",
    out_col: str = "est",
) -> DataFrame:
    """Probe a count-min sketch for every candidate token, distributedly.

    The sketch is ONE bounded row (depth x width counters) shipped inside
    the closure (an implicit broadcast); the candidate column can be
    arbitrarily large — SHA-256 is computed JVM-side (`unhex(sha2(...))`,
    whole-stage codegen, same trick as sketch_agg.sha256_key) so the
    Python side of each Arrow batch is only the vectorized numpy CMS
    query; no per-row interpreted hashing anywhere.  This is the
    scale-correct heavy-hitters pattern: candidate generation stays in
    the engine, the CMS answers point queries in the map phase."""
    from pyspark.sql import functions as F

    depth, width = spec.cms_depth, spec.cms_width

    def probe(batches):
        cms = K.cms_unpack(cms_bytes, depth, width)
        for pdf in batches:
            if pdf.empty:
                continue
            # mirror SketchState.update exactly: truncate the digest to
            # spec.hash_len before taking the first 8 bytes as the CMS key
            limbs = K.hashes_to_limbs(list(pdf["_sha"]), spec.hash_len)
            h64 = limbs[:, :2].copy().view("<u8").reshape(-1)
            ests = K.cms_query(cms, h64)
            yield pd.DataFrame(
                {token_col: pdf[token_col], out_col: ests.astype("int64")}
            )

    # null candidates are dropped, not hashed: sha2(NULL) is NULL and a
    # null key has no meaningful CMS count (the old per-row Python path
    # silently hashed the string "None", which was worse)
    hashed = candidates_df.filter(F.col(token_col).isNotNull()).select(
        F.col(token_col),
        F.unhex(F.sha2(F.col(token_col), 256)).alias("_sha"),
    )
    return hashed.mapInPandas(
        probe, schema=f"{token_col} string, {out_col} long"
    )
