"""Distributed sketch aggregation — the engine's core operator.

Re-expresses honas's single-process streaming aggregation
(src/bin/honas_gather.c event loop -> honas_state_register_host_name_lookup)
as a two-phase Spark aggregation designed for 100 TB inputs:

  Phase 1 (map-side combine, NO shuffle of raw keys):
      df.mapInPandas(build_partials) — each input partition folds all its
      rows into one partial SketchState per (window, group) it sees, and
      emits only those partial rows.  Shuffle volume drops from O(keys) to
      O(partitions x groups x sketch_bytes).  This also makes key-skew a
      non-issue: a hot repo's keys never travel, only its OR-able partials.
      (This is the explicit two-phase partial aggregation the survey calls
      for — pandas GROUPED_AGG UDAFs cannot spill or tree-merge partials.)

  Phase 2 (tree merge):
      .groupBy(group_cols).applyInPandas(merge_partials) — reduces the few
      partial rows per group with the CRDT algebra (bitwise OR / register
      max / counter add; reference merge src/honas_state.c:568-611).
      Associativity (property-tested) makes the merge order irrelevant.

An optional `salt_partitions` pre-repartition spreads *input* rows evenly
before phase 1 when the source partitioning itself is pathological (e.g.
one parquet file holding one giant repo) — correctness is unaffected
because the algebra is idempotent/commutative.

Window rotation (honas gather.c:899-920, 1302-1351) is expressed as
epoch-aligned tumbling windows: `F.window(ts, spec.window)` — identical
alignment arithmetic (end = begin - begin % period + period).
Hour->day rollups (scripts/honas_daily_state_combine.py:30-86) become a
re-aggregation of the sketch table itself via `rollup_sketches`.
"""

from __future__ import annotations

import math
from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import kernels as K
from .common import na_safe_key
from ..spec import SketchSpec
from ..state import SketchState

SKETCH_VALUE_FIELDS = (
    "filters binary, hll_clients binary, hll_items binary, cms binary,"
    " kll binary, n_rows long, first_ts timestamp, last_ts timestamp"
)

STATS_FIELDS = (
    "total_bits_set long, est_items long, est_clients long,"
    " est_items_per_filter long, fill_rate double, actual_fpr double"
)


def _group_fields_ddl(df: DataFrame, group_cols: Sequence[str]) -> str:
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join(f"{c} {schema[c]}" for c in group_cols)


def with_window(df: DataFrame, ts_col: str, period: str,
                out_col: str = "window_start") -> DataFrame:
    """Epoch-aligned tumbling window start column (W1)."""
    return df.withColumn(out_col, F.window(F.col(ts_col), period)["start"])


def sha256_key(df: DataFrame, key_col: str,
               out_col: str = "key_sha") -> DataFrame:
    """JVM-side SHA-256 digest of the key (P4, honas_state.c:304) —
    computed inside whole-stage codegen, never in Python."""
    return df.withColumn(out_col, F.unhex(F.sha2(F.col(key_col), 256)))


def with_client_hash(
    df: DataFrame,
    client_col: str,
    out_col: str = "client_hash",
    max_distinct: int = 200_000,
) -> DataFrame:
    """MurmurHash64A of the client key as a JVM-side broadcast lookup.

    The client hash (filter-subset selector + client-HLL input,
    honas_state.c:261-283) must be MurmurHash64A for reference parity,
    which the JVM doesn't have — but client keys (repos/IP blocks) repeat
    massively, so we hash the DISTINCT values driver-side and broadcast
    the LUT: the per-row work stays in codegen and the 8-byte hash rides
    the shuffle instead of the client string.  Falls back to in-UDF
    hashing (client_col passed through) past `max_distinct`."""
    # Bound driver memory: pull at most max_distinct+1 rows — the limit
    # executes distributedly, so an unbounded client cardinality never
    # materializes on the driver before the fallback decision.
    distinct = [
        r[0]
        for r in df.select(client_col)
        .distinct()
        .limit(max_distinct + 1)
        .collect()
    ]
    if len(distinct) > max_distinct:
        return df  # caller keeps client_col; UDF hashes per batch
    # store as signed int64 (Spark has no unsigned long); the kernels
    # reinterpret the bits as uint64.  Hash str(v) so the LUT path and the
    # in-UDF fallback (which also str()s) agree, null included.
    hashed = K.murmur64a_np([str(v).encode("utf-8") for v in distinct])
    rows = [
        (v, np.int64(h).item())
        for v, h in zip(distinct, hashed.view(np.int64))
    ]
    lut = df.sparkSession.createDataFrame(
        rows, f"{client_col} string, {out_col} long"
    )
    joined = df.join(F.broadcast(lut), df[client_col].eqNullSafe(lut[client_col]), "left")
    return joined.drop(lut[client_col])


def build_sketches(
    df: DataFrame,
    spec: SketchSpec,
    group_cols: Sequence[str],
    key_sha_col: str = "key_sha",
    client_col: Optional[str] = None,
    ts_col: Optional[str] = None,
    value_col: Optional[str] = None,
    salt_partitions: Optional[int] = None,
    mode: str = "map_combine",
    salt: Optional[int] = None,
    client_hash_col: Optional[str] = None,
    distinct_keys: bool = False,
    components: Optional[frozenset] = None,
) -> DataFrame:
    """Aggregate keyed rows into one sketch row per group.

    df must contain group_cols, a 32-byte binary `key_sha_col`, and
    optionally a client column (string; murmur-hashed per unique value),
    an event-time column and a numeric column for the KLL sibling.

    mode picks the physical plan:
      * "map_combine" (default) — partial sketch per (input partition,
        group), tiny merge shuffle.  Right when groups are FEW relative
        to input partitions (the honas shape: a handful of windows x
        entities over billions of rows).  Partial volume is
        O(partitions x groups x sketch_bytes), so it degrades when the
        group count explodes.
      * "shuffle_keys" — hash-repartition rows by group first, so each
        group materializes exactly one partial.  Right when groups are
        MANY and small (per-user/per-file sketches): shuffle carries only
        (group, key_sha) pairs, and sketch bytes are written once per
        group instead of once per (partition, group).

    salt (only with "shuffle_keys"): split each group into `salt`
    sub-partials keyed by hash(key_sha) so a hot group (one repo holding
    30% of the corpus) fans out over `salt` tasks instead of serializing
    on one.  Correct by construction — the merge algebra is commutative/
    idempotent, so salted partials OR back to the exact same bitsets
    (property-tested in tests/test_properties.py::test_split_anywhere).

    components: subset of {"bloom","hll","cms","kll"} to maintain — a
    CMS-only or HLL-only aggregation skips the per-key Bloom offset
    derivation entirely (see SketchState.update); unused components
    merge as zeros.

    distinct_keys: drop duplicate (group, client, key) rows before the
    build — the Spark-native form of the reference's proposed LRU front
    cache (README.md:856-878).  Bloom bitsets, both HLLs and the
    timestamp/n_rows counters are EXACTLY unchanged (set-idempotent
    inserts; ts stats aggregate the raw df) while shuffle volume and
    Python-side work shrink by the duplication factor.  Only the CMS
    shifts meaning from occurrence-frequency to document-frequency (and
    KLL sees distinct rows) — leave False when those are in use.
    """
    group_cols = list(group_cols)
    group_ddl = _group_fields_ddl(df, group_cols)
    out_schema = f"{group_ddl}, {SKETCH_VALUE_FIELDS}"

    # timestamp stats (P11: first/last request + request count): with
    # distinct_keys=False the slim Arrow pass already visits every raw
    # row, so the ts column rides along (+8 bytes/row) and the stats
    # fold per group inside the SAME pass — one scan of the input, not
    # two.  With distinct_keys=True the stats must aggregate the RAW
    # df while the build sees deduped rows, so they stay a separate
    # JVM hash aggregate stitched back with a broadcast join.
    inline_ts = bool(ts_col) and not distinct_keys
    cols = group_cols + [key_sha_col]
    # each column once: a group column may double as the client column
    # (per-repo sketches), and a duplicate breaks the worker's groupby
    for c in (client_hash_col or client_col, value_col, inline_ts and ts_col):
        if c and c not in cols:
            cols.append(c)
    slim = df.select(*cols)
    if distinct_keys:
        dd_cols = [c for c in cols if c != value_col]
        slim = slim.drop_duplicates(dd_cols)
    if mode == "shuffle_keys":
        if salt:
            slim = slim.withColumn(
                "_salt", F.pmod(F.xxhash64(F.col(key_sha_col)), F.lit(salt))
            ).repartition(*group_cols, "_salt").drop("_salt")
        else:
            slim = slim.repartition(*group_cols)
    elif salt_partitions:
        # spread pathological input partitioning; idempotent algebra makes
        # any row placement correct
        slim = slim.repartition(salt_partitions)

    # total buffered-row cap between bulk flushes: bounds worker
    # memory by TOTAL rows (the previous per-GROUP cap bounded no
    # total), keeps each vectorized pass large, AND keeps the flush
    # work PIPELINED with the incoming Arrow stream — deferring all
    # grouping to end-of-stream serialized compute after transfer and
    # measured 15-40% slower on 156k-row partitions than flushing
    # every ~128k rows, while partitions at or below the cap behave
    # identically (single end-of-stream flush)
    bulk_flush_rows = 131_072
    # cap on the grouped-scatter scratch matrices (per component):
    # above it the bulk flush falls back to per-group adds rather
    # than allocate an unbounded (groups x registers) buffer
    _SCATTER_MAX_BYTES = 256 * 1024 * 1024

    def build_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # buffer WHOLE Arrow batches and group once per bulk flush:
        # the per-batch pandas groupby chop paid a per-group
        # frame-slice cost that scaled with rows x batches (it was
        # the largest worker-profile item at the 5M-row build shape),
        # where one ngroup + stable-argsort pass over the buffered
        # rows is a few vectorized calls total.
        states: dict[tuple, SketchState] = {}
        pending: list[pd.DataFrame] = []
        pending_rows = 0

        def flush_all_bulk(last: bool = False) -> None:
            """Flush EVERY buffered row in one vectorized pass.  A
            per-group flush would pay the Bloom offset-derivation
            kernel's fixed per-call cost (~0.5 ms of k x n_limbs
            numpy-loop setup) once per (group, filter) — ruinous when
            a partition holds tens of thousands of tiny groups (the
            high-group-cardinality shape).  Here the grouping (ngroup
            codes + stable argsort), the hash limbs, the filter-subset
            selectors and ONE bloom_offsets call per filter cover all
            groups at once (rows are independent, so per-row results
            are bit-identical), and only the cheap per-group scatters
            (bitset OR, HLL/CMS/KLL adds on contiguous segments)
            remain per group.  The stable sort keeps within-group row
            order — and therefore KLL ingestion order — at arrival
            order, exactly what a per-group fold would see."""
            nonlocal pending, pending_rows
            if not pending:
                return
            big = (
                pending[0]
                if len(pending) == 1
                else pd.concat(pending, ignore_index=True)
            )
            pending = []
            pending_rows = 0
            comp = (
                SketchState.ALL_COMPONENTS
                if components is None
                else components
            )
            gb = big.groupby(group_cols, sort=False, dropna=False)
            gnum = gb.ngroup().to_numpy()
            G = int(gnum.max()) + 1
            order = np.argsort(gnum, kind="stable")
            codes = gnum[order]
            seg = np.searchsorted(codes, np.arange(G + 1))
            gcol_arrays = {c: big[c].to_numpy() for c in group_cols}
            groups = [
                na_safe_key(tuple(
                    gcol_arrays[c][order[seg[g]]] for c in group_cols
                ))
                for g in range(G)
            ]
            n_all = len(big)
            limbs = item_h64 = None
            if comp & {"bloom", "hll", "cms"}:
                limbs = K.hashes_to_limbs(
                    list(big[key_sha_col].to_numpy()[order]),
                    spec.hash_len,
                )
                item_h64 = limbs[:, :2].copy().view("<u8").reshape(-1)
            if client_hash_col:
                ch = big[client_hash_col].to_numpy(
                    dtype=np.int64
                )[order].view(np.uint64)
            elif client_col:
                ch = K.murmur64a_series(
                    big[client_col].to_numpy()[order]
                )
            else:
                ch = np.zeros(n_all, dtype=np.uint64)
            vals = (
                big[value_col].to_numpy(dtype=np.float64)[order]
                if value_col and "kll" in comp
                else None
            )
            firsts = lasts = None
            if inline_ts:
                # one vectorized skipna min/max per flush (agg row
                # order == ngroup numbering under sort=False, the
                # merge-phase alignment guarantee)
                tstats = gb.agg(
                    _f=(ts_col, "min"), _l=(ts_col, "max")
                )
                firsts = tstats["_f"].to_numpy()
                lasts = tstats["_l"].to_numpy()
            # grouped scatter: ONE hll/cms kernel call covers every
            # buffered group (bit-identical — register max / counter
            # add commute), instead of paying the numpy fixed call
            # cost 3x per group.  Fresh states adopt a copy of their
            # row while more input may follow (a view would pin the
            # whole scratch through later flushes) and the row itself
            # in the last flush (serialized at once; copies there only
            # grew the worker heap); a state that already absorbed an
            # earlier flush folds its row in with the same merge algebra.
            # Guarded by a byte cap so a pathological group count
            # cannot allocate an oversized scratch matrix.
            adopt = (lambda row: row) if last else np.copy
            hll_mats = cms_mat = None
            if "hll" in comp and G * 2 * K.HLL_REGISTERS <= _SCATTER_MAX_BYTES:
                hll_mats = np.zeros((2, G, K.HLL_REGISTERS), dtype=np.uint8)
                K.hll_add_grouped(hll_mats[0], codes, item_h64)
                K.hll_add_grouped(hll_mats[1], codes, ch)
            if (
                "cms" in comp
                and G * spec.cms_depth * spec.cms_width * 8
                <= _SCATTER_MAX_BYTES
            ):
                cms_mat = np.zeros(
                    (G, spec.cms_depth, spec.cms_width), dtype=np.int64
                )
                K.cms_add_grouped(cms_mat, codes, item_h64)
            for gi, gk in enumerate(groups):
                s, e = int(seg[gi]), int(seg[gi + 1])
                st = states.get(gk)
                fresh = st is None
                if fresh:
                    st = states[gk] = SketchState(spec)
                st.n_rows += e - s
                if firsts is not None:
                    f, l = firsts[gi], lasts[gi]
                    if not pd.isna(f) and (
                        st.first_ts is None or f < st.first_ts
                    ):
                        st.first_ts = f
                    if not pd.isna(l) and (
                        st.last_ts is None or l > st.last_ts
                    ):
                        st.last_ts = l
                if "hll" in comp:
                    if hll_mats is None:
                        K.hll_add(st.hll_items, item_h64[s:e])
                        K.hll_add(st.hll_clients, ch[s:e])
                    elif fresh:
                        st.hll_items = adopt(hll_mats[0, gi])
                        st.hll_clients = adopt(hll_mats[1, gi])
                    else:
                        np.maximum(
                            st.hll_items, hll_mats[0, gi],
                            out=st.hll_items,
                        )
                        np.maximum(
                            st.hll_clients, hll_mats[1, gi],
                            out=st.hll_clients,
                        )
                if "cms" in comp:
                    if cms_mat is None:
                        K.cms_add(st.cms, item_h64[s:e])
                    elif fresh:
                        st.cms = adopt(cms_mat[gi])
                    else:
                        st.cms += cms_mat[gi]
                if vals is not None:
                    st.kll.add(vals[s:e])
            if "bloom" in comp:
                subsets = K.filter_indexes_for_clients(
                    ch, spec.num_filters, spec.filters_per_user
                )
                for fi in range(spec.num_filters):
                    mask = (subsets == fi).any(axis=1)
                    if not mask.any():
                        continue
                    tl = K.transform_limbs(limbs[mask], fi)
                    offs = K.bloom_offsets(tl, spec.m_bits, spec.k)
                    mcodes = codes[mask]
                    lows = np.searchsorted(
                        mcodes, np.arange(len(groups)), "left"
                    )
                    highs = np.searchsorted(
                        mcodes, np.arange(len(groups)), "right"
                    )
                    for gi, gk in enumerate(groups):
                        if highs[gi] > lows[gi]:
                            K.bloom_build(
                                states[gk].filters[fi],
                                offs[lows[gi]: highs[gi]],
                            )

        for pdf in batches:
            if pdf.empty:
                continue
            pending.append(pdf)
            pending_rows += len(pdf)
            if pending_rows >= bulk_flush_rows:
                flush_all_bulk()
        flush_all_bulk(last=True)
        if states:  # empty partitions yield nothing (Arrow needs typed cols)
            yield _states_to_pdf(states, group_cols)

    partials = slim.mapInPandas(build_partials, schema=out_schema)

    if mode == "shuffle_keys" and not salt:
        # the pre-repartition guarantees each group lives in exactly
        # one partition, so build_partials emits exactly ONE row per
        # group — the merge phase would only unpack and repack every
        # sketch row through one more exchange
        result = partials
    else:
        result = partials.repartition(*group_cols).mapInPandas(
            _merge_by_group(spec, group_cols), schema=out_schema
        )
    if ts_col and not inline_ts:
        stats = df.groupBy(*group_cols).agg(
            F.min(ts_col).alias("_first_ts"),
            F.max(ts_col).alias("_last_ts"),
            F.count(F.lit(1)).alias("_n_rows"),
        )
        value_names = [
            f.split()[0].strip() for f in SKETCH_VALUE_FIELDS.split(",")
        ]
        # NULL-SAFE stitch: a plain equality join on the group cols
        # silently drops the stats of any group with a NULL key (NULL
        # = NULL is not TRUE), leaving n_rows/first_ts/last_ts NULL
        # for e.g. a real NULL event_type — <=> matches them.
        import functools
        import operator

        base = result.drop("first_ts", "last_ts", "n_rows")
        st = stats.withColumnsRenamed(
            {c: f"_st_{c}" for c in group_cols}
        )
        cond = functools.reduce(
            operator.and_,
            [
                F.col(c).eqNullSafe(F.col(f"_st_{c}"))
                for c in group_cols
            ],
        )
        result = (
            base.join(F.broadcast(st), cond, "left")
            .drop(*[f"_st_{c}" for c in group_cols])
            .withColumnsRenamed(
                {"_first_ts": "first_ts", "_last_ts": "last_ts",
                 "_n_rows": "n_rows"}
            )
            .select(*group_cols, *value_names)
        )
    return result


def rollup_sketches(
    sketch_df: DataFrame,
    spec: SketchSpec,
    window_col: str,
    rollup_period: str,
    group_cols: Sequence[str],
) -> DataFrame:
    """W2: re-aggregate an hourly sketch table into coarser windows (e.g.
    '1 day').  Exact by merge associativity — no recomputation from raw
    data, which is the point of the mergeable-state algebra."""
    group_cols = list(group_cols)
    df = sketch_df.withColumn(
        window_col, F.window(F.col(window_col), rollup_period)["start"]
    )
    group_ddl = _group_fields_ddl(df, [window_col] + group_cols)
    out_schema = f"{group_ddl}, {SKETCH_VALUE_FIELDS}"
    return df.repartition(window_col, *group_cols).mapInPandas(
        _merge_by_group(spec, [window_col] + group_cols),
        schema=out_schema,
    )


def finalize_stats(
    sketch_df: DataFrame, spec: SketchSpec, group_cols: Sequence[str]
) -> DataFrame:
    """Attach diagnostic stats (D2/D5: fill rate, actual FPR fill^k,
    HLL estimates, Bloom approx-count) to every sketch row."""
    group_cols = list(group_cols)
    group_ddl = _group_fields_ddl(sketch_df, group_cols)
    out_schema = (
        f"{group_ddl}, n_rows long, first_ts timestamp, last_ts timestamp,"
        f" {STATS_FIELDS}"
    )

    def add_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.to_dict('records'):
                st = SketchState.from_fields(spec, row)
                s = st.stats()
                out = {c: row[c] for c in group_cols}
                out.update(
                    n_rows=s["n_rows"],
                    first_ts=row["first_ts"],
                    last_ts=row["last_ts"],
                    total_bits_set=s["total_bits_set"],
                    est_items=s["est_items"],
                    est_clients=s["est_clients"],
                    est_items_per_filter=int(
                        np.mean(s["est_items_per_filter"])
                    ),
                    fill_rate=float(np.mean(s["fill_rate"])),
                    actual_fpr=float(np.mean(s["actual_fpr"])),
                )
                rows.append(out)
            if rows:
                yield pd.DataFrame(rows)

    return sketch_df.mapInPandas(add_stats, schema=out_schema)


def per_filter_stats(
    sketch_df: DataFrame, spec: SketchSpec, group_cols: Sequence[str]
) -> DataFrame:
    """Per-FILTER diagnostics — one row per (sketch row, filter index).

    Mirrors the reference's search-result "general information" filters
    array (src/bin/honas_search.c:113-124): for each of the F filters,
    `number_of_bits_set`, `estimated_number_of_host_names`
    (bloom_approx_count) and `actual_false_positive_rate` (fill^k).
    `finalize_stats` averages these across filters; this emits the array
    the reference actually prints."""
    group_cols = list(group_cols)
    group_ddl = _group_fields_ddl(sketch_df, group_cols)
    out_schema = (
        f"{group_ddl}, filter_index int, number_of_bits_set long,"
        " estimated_number_of_host_names long,"
        " actual_false_positive_rate double"
    )

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in group_cols}
            out.update(
                filter_index=[], number_of_bits_set=[],
                estimated_number_of_host_names=[],
                actual_false_positive_rate=[],
            )
            for row in pdf.to_dict("records"):
                filters = K.bloom_unpack(
                    row["filters"], spec.num_filters, spec.filter_bytes
                )
                for fi in range(spec.num_filters):
                    b = K.bloom_bits_set(filters[fi])
                    for c in group_cols:
                        out[c].append(row[c])
                    out["filter_index"].append(fi)
                    out["number_of_bits_set"].append(int(b))
                    out["estimated_number_of_host_names"].append(
                        int(K.bloom_approx_count(spec.m_bits, spec.k, b))
                    )
                    out["actual_false_positive_rate"].append(
                        float(K.actual_fpr(spec.m_bits, spec.k, b))
                    )
            if out["filter_index"]:
                yield pd.DataFrame(out)

    return sketch_df.mapInPandas(expand, schema=out_schema)


def _merge_by_group(spec: SketchSpec, group_cols: list):
    """Merge-phase kernel: one Python invocation per PARTITION (not per
    group — applyInPandas pays its overhead per group, which hurts at
    hundreds of tiny windows); hash partitioning guarantees each group
    arrives whole, pandas groupby splits it locally."""

    value_cols = ("filters", "hll_clients", "hll_items", "cms", "kll")

    def merge_all(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[tuple, SketchState] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            # positional group split + ONE vectorized stats aggregation:
            # materializing a pandas sub-frame per group paid the
            # block-slice, per-group column access and per-group Series
            # min/max/sum costs ~100 us x groups (the dominant merge-
            # phase overhead at thousands of tiny rollup cells).  With
            # sort=False both ngroup() numbering and the agg row order
            # are first-appearance order, so stats row g belongs to
            # group code g by construction.
            gb = pdf.groupby(group_cols, sort=False, dropna=False)
            stats = gb.agg(
                _first=("first_ts", "min"),
                _last=("last_ts", "max"),
                _n=("n_rows", "sum"),
            )
            gnum = gb.ngroup().to_numpy()
            n_groups = len(stats)
            order = np.argsort(gnum, kind="stable")
            seg = np.searchsorted(
                gnum[order], np.arange(n_groups + 1)
            )
            cols = {c: pdf[c].to_numpy() for c in value_cols}
            gcols = {c: pdf[c].to_numpy() for c in group_cols}
            firsts = stats["_first"].to_numpy()
            lasts = stats["_last"].to_numpy()
            ns = stats["_n"].to_numpy()
            for g in range(n_groups):
                idx = order[seg[g]: seg[g + 1]]
                gkey = na_safe_key(
                    tuple(gcols[c][idx[0]] for c in group_cols)
                )
                # vectorized reduce over the group's rows (one numpy
                # reduction per component, not one merge per row)
                st = SketchState.merge_packed(
                    spec, *(cols[c][idx] for c in value_cols)
                )
                st.n_rows = int(ns[g])
                st.first_ts = (
                    None if pd.isna(firsts[g]) else firsts[g]
                )
                st.last_ts = None if pd.isna(lasts[g]) else lasts[g]
                merged = states.get(gkey)
                states[gkey] = st if merged is None else merged.merge(st)
        if states:
            yield _states_to_pdf(states, group_cols)

    return merge_all


def _states_to_pdf(states: dict, group_cols: list) -> pd.DataFrame:
    cols: dict[str, list] = {c: [] for c in group_cols}
    vals: dict[str, list] = {
        f.split()[0].strip(): [] for f in SKETCH_VALUE_FIELDS.split(",")
    }
    for gkey, st in states.items():
        for c, v in zip(group_cols, gkey):
            cols[c].append(v)
        for k2, v in st.to_fields().items():
            vals[k2].append(v)
    cols.update(vals)
    return pd.DataFrame(cols)


def _states_row_pdf(gvals: dict, state: SketchState) -> pd.DataFrame:
    out = dict(gvals)
    for k2, v in state.to_fields().items():
        out[k2] = [v]
    return pd.DataFrame(out)


def rollup_hierarchy(
    sketch_df: DataFrame,
    spec: SketchSpec,
    dim_cols: Sequence[str],
    sets: "Optional[Sequence[Sequence[str]]]" = None,
) -> DataFrame:
    """Merge a LEAF sketch table up an aggregation lattice in ONE scan:
    every requested grouping set (default: the rollup chain
    (d1..dk), (d1..dk-1), ..., ()) gets its own merged sketch row, with
    aggregated-away dims NULLed and a `gid` bitmask in Spark's
    grouping_id convention (bit set = dim aggregated; MSB = first dim).

    This is W2 generalized from the time axis to arbitrary dimensions:
    hourly x repo leaf sketches answer "per hour", "per repo" AND
    "global" questions without re-touching raw data — the CRDT algebra
    (bitwise OR / register max / counter add) makes every lattice level
    BIT-IDENTICAL to a direct build at that grouping
    (tests/test_sketches.py::test_rollup_hierarchy_bit_equal).

    Scale shape: one projection explodes each leaf row to its |sets|
    lattice coordinates (leaf rows are already tiny — sketch bytes, not
    raw keys), then ONE hash shuffle on (gid, dims) and a per-partition
    vectorized merge.  The coarse levels concentrate rows by design
    (the global cell receives every leaf partial exactly once — same
    fan-in a direct global aggregation would pay)."""
    dims = list(dim_cols)
    if sets is None:
        sets = [tuple(dims[:i]) for i in range(len(dims), -1, -1)]
    sets = [tuple(s) for s in sets]
    gids = []
    for s in sets:
        unknown = set(s) - set(dims)
        if unknown:
            raise ValueError(f"set {s} has unknown dims: {sorted(unknown)}")
        m = 0
        for i, d in enumerate(dims):
            if d not in s:
                m |= 1 << (len(dims) - 1 - i)
        gids.append(m)
    if len(set(gids)) != len(gids):
        raise ValueError(f"duplicate grouping sets: {sets}")

    value_names = [
        f.split()[0].strip() for f in SKETCH_VALUE_FIELDS.split(",")
    ]
    # the FULL grouping set (gid 0) is the leaf table itself — its
    # rows pass through untouched instead of paying an explode +
    # shuffle + unpack/repack "merge" of singleton groups
    merge_gids = [g for g in gids if g != 0]
    if 0 in gids and merge_gids:
        # both branches consume the leaf table — materialize it once
        # or the whole upstream build runs once per branch
        sketch_df = sketch_df.localCheckpoint()
    parts = []
    if 0 in gids:
        parts.append(
            sketch_df.select(
                F.lit(0).cast("int").alias("gid"), *dims, *value_names
            )
        )
    if merge_gids:
        exploded = sketch_df.select(
            F.explode(
                F.array([F.lit(g) for g in merge_gids])
            ).alias("gid"),
            "*",
        )
        masked = exploded.select(
            "gid",
            *[
                F.when(
                    F.col("gid").bitwiseAND(1 << (len(dims) - 1 - i))
                    == 0,
                    F.col(d),
                ).alias(d)
                for i, d in enumerate(dims)
            ],
            *value_names,
        )
        group_ddl = _group_fields_ddl(masked, ["gid"] + dims)
        schema = f"{group_ddl}, {SKETCH_VALUE_FIELDS}"
        # two-level merge: a map-side pre-merge caps every coarse
        # cell's partial count at the PARTITION count — without it the
        # global () cell funnels every leaf row into one task's serial
        # merge (the classic last-reducer skew, here with sketch
        # unpack costs per row)
        pre = masked.mapInPandas(
            _merge_by_group(spec, ["gid"] + dims), schema=schema
        )
        parts.append(
            pre.repartition("gid", *dims).mapInPandas(
                _merge_by_group(spec, ["gid"] + dims), schema=schema
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
