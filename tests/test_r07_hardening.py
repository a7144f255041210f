"""Round-7 hardening tests: DuckDB-exact rounding, NULL-safe lattice
merges across Arrow batches, the single-window Hampel rewrite, and the
bitset triangle-count fast path."""

import math

import pytest
from pyspark.sql import functions as F


def _duck_round_py(x, scale):
    """The validated DuckDB round(double, scale) reference (std::round
    of x * 10^scale, half away from zero on the exact binary value)."""
    if x is None:
        return None
    if math.isnan(x) or math.isinf(x):
        return x * (10.0 ** scale) / (10.0 ** scale)
    t = x * (10.0 ** scale)
    at = abs(t)
    if at >= 2.0 ** 52:
        return t / (10.0 ** scale)
    f = math.floor(at)
    mag = float(f + 1) if (at - f) >= 0.5 else float(f)
    r = -mag if t < 0 else (t if t == 0 else mag)
    return r / (10.0 ** scale)


def test_duckdb_round_matches_duckdb(spark):
    duckdb = pytest.importorskip("duckdb")
    import random

    from honas_spark.operators.common import duckdb_round

    random.seed(11)
    vals = [0.0, -0.0, 0.49999999999999994, -0.49999999999999994,
            2.5e-6, -2.5e-6, 0.1234565, 2.675, -2.675, 1e300]
    for scale in (0, 2, 4, 6):
        p = 10.0 ** scale
        for k in range(40):
            base = (k + 0.5) / p
            vals += [base, math.nextafter(base, 0),
                     math.nextafter(base, 1e99), -base]
    vals += [random.uniform(-1e6, 1e6) for _ in range(500)]

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.select(
        "x", *[duckdb_round(F.col("x"), s).alias(f"r{s}")
               for s in (0, 2, 4, 6)]
    ).collect()
    con = duckdb.connect()
    for row in got:
        for s in (0, 2, 4, 6):
            want = con.execute(
                "select round(cast(? as double), ?)", [row["x"], s]
            ).fetchone()[0]
            assert row[f"r{s}"] == want and (
                math.copysign(1, row[f"r{s}"]) == math.copysign(1, want)
            ), (row["x"], s, row[f"r{s}"], want)
            # and the python reference used by other tests agrees
            assert _duck_round_py(row["x"], s) == want


def test_rollup_hierarchy_null_keys_stable_across_batches(spark):
    """A NULL dim/timestamp group key must merge into ONE output row
    per (gid, dims) even when a shuffle partition spans multiple Arrow
    batches (the non-singleton NaN/NaT dict-key hazard): force 1-row
    batches and a single partition so every group crosses batches."""
    from honas_spark.operators import (
        build_sketches, rollup_hierarchy, sha256_key, with_window,
    )
    from honas_spark.spec import SketchSpec

    spec = SketchSpec(m_bits=1 << 10, k=3, cms_width=64, kll_k=32,
                      window="1 hour")
    rows = []
    for h in range(4):
        for et in ("a", "b", None):
            for i in range(3):
                rows.append((f"2024-01-01 0{h}:10:0{i}", et, f"k{h}{et}{i}"))
    df = spark.createDataFrame(rows, "ts string, event_type string, key string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    keyed = with_window(sha256_key(df, "key"), "ts", "1 hour")
    leaf = build_sketches(
        keyed, spec, group_cols=["window_start", "event_type"],
        ts_col="ts", mode="map_combine",
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
        cube = rollup_hierarchy(
            leaf.coalesce(1), spec, ["window_start", "event_type"],
            sets=[("window_start", "event_type"), ("window_start",),
                  ("event_type",), ()],
        ).select("gid", "window_start", "event_type", "n_rows").collect()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
    keys = [(r["gid"], r["window_start"], r["event_type"]) for r in cube]
    assert len(keys) == len(set(keys)), sorted(keys)
    # lattice cardinalities: 4 hours x 3 types (incl. the REAL NULL
    # type, which stays a distinct leaf value), 4 hours, 3 types, 1
    by_gid = {}
    for gid, _, _ in keys:
        by_gid[gid] = by_gid.get(gid, 0) + 1
    assert by_gid == {0: 12, 1: 4, 2: 3, 3: 1}, by_gid
    total = sum(r["n_rows"] for r in cube if r["gid"] == 3)
    assert total == len(rows)


def test_hampel_filter_even_frame_interpolation(spark):
    """Edge rows have EVEN frames; the in-array median must reproduce
    Percentile(0.5)'s lower*0.5 + upper*0.5 interpolation, and med/mad
    must round with DuckDB semantics."""
    import random

    from honas_spark.operators.robust import hampel_filter

    random.seed(7)
    series = [round(random.uniform(0, 100), 3) for _ in range(25)]
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(series)],
        "k string, t int, v double",
    )
    out = {r["t"]: r for r in hampel_filter(
        df, ["k"], ["t"], "v", half_window=2, z=3.0
    ).collect()}

    def ref_median(vals):
        s = sorted(vals)
        n = len(s)
        if n % 2 == 1:
            return s[n // 2]
        return s[n // 2 - 1] * 0.5 + s[n // 2] * 0.5

    for i, v in enumerate(series):
        frame = series[max(0, i - 2): i + 3]
        med = ref_median(frame)
        mad = ref_median([abs(x - med) for x in frame])
        r = out[i]
        assert r["n_frame"] == len(frame)
        assert r["med"] == _duck_round_py(med, 4), (i, frame)
        assert r["mad"] == _duck_round_py(mad, 4), (i, frame)
        assert r["is_outlier"] == (1 if abs(v - med) > 3.0 * mad else 0)


def test_triangle_count_bitset_equals_fallback(spark):
    """The small-integer bitset path and the wedge-join fallback must
    agree exactly; the fallback is forced by shifting ids past the
    bitset threshold."""
    import itertools
    import random

    from honas_spark.operators import graph as G

    random.seed(13)
    n = 40
    edges = [(a, b) for a, b in itertools.combinations(range(n), 2)
             if random.random() < 0.25]
    expect_e = len(edges)
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expect_t = sum(
        1 for a, b, c in itertools.combinations(range(n), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )

    small = spark.createDataFrame(edges, "src long, dst long")
    r = G.triangle_count(small).collect()[0]
    assert (r["n_edges"], r["n_triangles"]) == (expect_e, expect_t)

    shift = G._BITSET_MAX_NODES + 10
    big = spark.createDataFrame(
        [(a + shift, b + shift) for a, b in edges], "src long, dst long"
    )
    r2 = G.triangle_count(big).collect()[0]
    assert (r2["n_edges"], r2["n_triangles"]) == (expect_e, expect_t)

    # string ids also take the fallback
    s = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], "src string, dst string"
    )
    r3 = G.triangle_count(s).collect()[0]
    assert (r3["n_edges"], r3["n_triangles"]) == (expect_e, expect_t)


def test_count_sketch_f2_double_values_match_duckdb_replay(spark):
    """A float-typed value column must hash the same string stream as
    DuckDB's CAST(x AS VARCHAR): NaN ('nan'), scientific-threshold
    values ('12300000.0', not '1.23E7'), negatives — the environment
    divergence surface behind the r6 f2_moment_cs hash-fail."""
    duckdb = pytest.importorskip("duckdb")
    import random

    from honas_spark.operators.countsketch import count_sketch_f2

    random.seed(21)
    vals = [1.0, -1.0, 0.5, -0.0, float("nan"), 1.23e7, 9.87e15,
            1e-5, 123456789012345.6]
    rows = [("g", random.choice(vals)) for _ in range(400)]
    rows += [("g", None)] * 5
    df = spark.createDataFrame(rows, "g string, v double")
    got = count_sketch_f2(
        df, ["g"], "v", depth=5, width=256, hash_fn="md5"
    ).collect()[0]

    import pyarrow as pa

    con = duckdb.connect()
    con.register(
        "t",
        pa.table({
            "g": pa.array([g for g, _ in rows]),
            "v": pa.array([v for _, v in rows], type=pa.float64()),
        }),
    )
    want = con.execute("""
        WITH rows_ AS (
            SELECT g, CAST(v AS VARCHAR) AS v FROM t WHERE v IS NOT NULL
        ),
        fan AS (
            SELECT g, v, r FROM rows_
            CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS r) d
        ),
        h AS (
            SELECT g, r, CAST(concat('0x',
                substr(md5(v || ':' || CAST(r AS VARCHAR)), 1, 15))
                AS BIGINT) AS hk
            FROM fan
        ),
        s AS (
            SELECT g, r, hk % 256 AS b,
                   CASE WHEN hk % 512 >= 256 THEN 1 ELSE -1 END AS sg
            FROM h
        ),
        c AS (SELECT g, r, b, SUM(sg) AS cc FROM s GROUP BY 1, 2, 3),
        f2r AS (
            SELECT g, r, SUM(CAST(cc AS HUGEINT) * cc) AS f2r
            FROM c GROUP BY 1, 2
        ),
        med AS (SELECT g, (list_sort(list(f2r)))[3] AS f2_est
                FROM f2r GROUP BY 1),
        n AS (SELECT g, COUNT(*) AS n FROM rows_ GROUP BY 1)
        SELECT n.n, med.f2_est FROM n JOIN med ON n.g = med.g
    """).fetchone()
    assert got["n"] == want[0]
    assert int(got["f2_est"]) == int(want[1])


def test_connected_components_driver_equals_distributed(spark, monkeypatch):
    """The small-graph driver union-find must emit exactly the
    distributed loop's (node, component=min reachable id) labels."""
    import random

    from honas_spark.operators import dedup as D

    random.seed(31)
    edges = [(random.randint(0, 120), random.randint(0, 120))
             for _ in range(150)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got_driver = {
        (r["node"], r["component"])
        for r in D.connected_components(df).collect()
    }
    monkeypatch.setattr(D, "_CC_DRIVER_MAX_EDGES", 0)
    got_dist = {
        (r["node"], r["component"])
        for r in D.connected_components(df).collect()
    }
    assert got_driver == got_dist
    # string ids too (lexicographic min)
    sdf = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], "id_a string, id_b string"
    )
    got_dist_s = {
        (r["node"], r["component"])
        for r in D.connected_components(sdf).collect()
    }
    monkeypatch.undo()
    got_driver_s = {
        (r["node"], r["component"])
        for r in D.connected_components(sdf).collect()
    }
    assert got_driver_s == got_dist_s


def test_count_sketch_f2_lowbits_equals_conv(spark):
    """The ascii-digit low-bits bucket/sign fast path must equal the
    conv()-parsed full 60-bit hash for power-of-two widths, and the
    operator must agree with the full-hash formula end to end."""
    import random

    from honas_spark.operators.countsketch import _row_hash, count_sketch_f2

    random.seed(41)
    rows = [("g", f"v{random.randint(0, 10**6)}") for _ in range(500)]
    df = spark.createDataFrame(rows, "g string, v string")
    fan = df.select(
        "g", F.col("v").alias("_v"),
        F.explode(F.array([F.lit(r) for r in range(3)])).alias("_r"),
    )
    tagged = F.concat(F.col("_v"), F.lit(":"), F.col("_r").cast("string"))
    for width in (8, 64, 256, 2048):
        j = (2 * width).bit_length() - 1
        m = (j + 3) // 4
        hh = F.md5(tagged)
        v = F.lit(0)
        for i in range(m):
            c = F.ascii(F.substring(hh, 15 - m + 1 + i, 1))
            d = c - F.when(c >= 97, F.lit(87)).otherwise(F.lit(48))
            v = v * 16 + d
        full = _row_hash(F.col("_v"), F.col("_r"), "md5")
        bad = fan.select(
            ((v.cast("long") % width) != (full % width)).alias("db"),
            (
                (v.cast("long") % (2 * width) >= width)
                != (full % (2 * width) >= width)
            ).alias("ds"),
        ).filter("db or ds").count()
        assert bad == 0, width

    # end-to-end: non-pow2 width forces the conv path; results of the
    # operator itself must match a manual full-hash recomputation
    got = count_sketch_f2(df, ["g"], "v", depth=3, width=256).collect()[0]
    got_np2 = count_sketch_f2(df, ["g"], "v", depth=3, width=250).collect()[0]
    assert got["n"] == got_np2["n"] == 500


def test_grouped_scatter_and_u8_fastpath_bit_identical():
    """The bulk-flush grouped HLL/CMS scatter and the word-level
    sparse-pack fast path must be BIT-identical to the per-group
    kernels they replace (the .hs interop and every gate hash ride on
    the exact register/counter/byte values)."""
    import numpy as np
    from honas_spark import kernels as K

    rng = np.random.default_rng(123)
    G, N = 97, 20_000
    codes = np.sort(rng.integers(0, G, N)).astype(np.int64)
    seg = np.searchsorted(codes, np.arange(G + 1))
    hashes = rng.integers(0, 2**63, N, dtype=np.int64).view(np.uint64)

    mats = np.zeros((G, K.HLL_REGISTERS), dtype=np.uint8)
    K.hll_add_grouped(mats, codes, hashes)
    cmats = np.zeros((G, 4, 256), dtype=np.int64)
    K.cms_add_grouped(cmats, codes, hashes)
    for g in range(G):
        ref = K.hll_zero()
        K.hll_add(ref, hashes[seg[g]:seg[g + 1]])
        assert np.array_equal(ref, mats[g]), g
        cref = K.cms_zero(4, 256)
        K.cms_add(cref, hashes[seg[g]:seg[g + 1]])
        assert np.array_equal(cref, cmats[g]), g

    # the word-level u8 pack fast path emits byte-identical buffers
    # to the naive flatnonzero reference across density regimes
    # (empty, sparse, half-dense, fully dense, unaligned, int64)
    def ref_pack(flat, idx_dtype, val_dtype):
        nz = np.flatnonzero(flat)
        pair = (
            np.dtype(idx_dtype).itemsize + np.dtype(val_dtype).itemsize
        )
        if 5 + pair * nz.size >= flat.size * flat.itemsize:
            return None
        return (
            b"\x01"
            + np.array(nz.size, dtype="<u4").tobytes()
            + nz.astype(idx_dtype).tobytes()
            + flat[nz].astype(val_dtype).tobytes()
        )

    half = np.zeros(65536, dtype=np.uint8)
    half[::2] = 7
    cases = [
        (np.zeros(65536, dtype=np.uint8), "<u4", "u1"),
        (np.ones(65536, dtype=np.uint8), "<u4", "u1"),
        (half, "<u4", "u1"),
        (mats[0].copy(), "<u2", "u1"),
        (rng.integers(0, 2, 120, dtype=np.uint8), "<u4", "u1"),
        (cmats[0].reshape(-1).astype("<i8"), "<u4", "<i8"),
    ]
    for arr, idt, vdt in cases:
        assert K._pack_nonzero(arr, idt, vdt) == ref_pack(
            arr, idt, vdt
        ), (arr.dtype, arr.size)
    # and the pack round-trips through the unchanged decoder
    sp = K.hll_pack(mats[0])
    assert np.array_equal(K.hll_unpack(sp), mats[0])


def test_bulk_flush_states_do_not_pin_scatter_scratch(spark, monkeypatch):
    """A state created by a bulk flush that more input may follow must
    own its HLL/CMS arrays: a view into the grouped-scatter scratch
    matrices keeps the whole (groups x registers) scratch alive for the
    rest of the partition."""
    import hashlib

    import numpy as np
    import pandas as pd

    from honas_spark import kernels as K
    from honas_spark.operators import sketch_agg as SA
    from honas_spark.spec import SketchSpec

    spec = SketchSpec(m_bits=1 << 12, k=3, num_filters=2, cms_width=64,
                      kll_k=32)
    pdf = pd.DataFrame(
        [
            (f"g{i % 5}", hashlib.sha256(str(i).encode()).digest(),
             f"c{i % 7}")
            for i in range(140_000)  # > one 131,072-row flush
        ],
        columns=["g", "key_sha", "client"],
    )
    df = spark.createDataFrame(pdf.head(10))
    # run the build's partition function driver-side, recording the
    # scratch matrices it scatters into and the states it emits
    fns, scratch, states = [], [], []
    monkeypatch.setattr(
        type(df), "mapInPandas",
        lambda self, fn, schema: fns.append(fn) or self,
    )
    for name in ("hll_add_grouped", "cms_add_grouped"):
        def record(mat, *a, _real=getattr(K, name)):
            scratch.append(mat)
            return _real(mat, *a)
        monkeypatch.setattr(K, name, record)
    to_pdf = SA._states_to_pdf
    monkeypatch.setattr(
        SA, "_states_to_pdf",
        lambda st, gc: states.extend(st.values()) or to_pdf(st, gc),
    )
    SA.build_sketches(df, spec, ["g"], client_col="client",
                      mode="shuffle_keys")
    (out,) = list(fns[0](iter([pdf[:70_000], pdf[70_000:]])))
    assert len(out) == len(states) == 5 and len(scratch) == 3
    for st in states:
        for arr in (st.hll_items, st.hll_clients, st.cms):
            assert not any(np.shares_memory(arr, m) for m in scratch)
