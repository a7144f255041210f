"""The two-phase family scaffold (operators/two_phase.py): every family
equals a driver-side single-state fold over ~10^4 groups whose rows span
Arrow batches and partitions, with NULL and NaN group keys; NULL values
are skipped; and no family plan runs a per-group pandas merge."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from honas_spark import kernels as K
from honas_spark.operators.bottomk import _hash_col, bottomk_sample_agg
from honas_spark.operators.quantiles import ddsketch_agg, quantile_sketch_agg
from honas_spark.operators.theta import theta_sketch_agg

N_ROWS = 60_000
THETA_K = 64
BOTTOM_K = 8
QUANTILES = (0.25, 0.5, 0.75)


def _input(spark):
    """g1 (string, NULL for one residue, "hot" for every 10th row) x g2
    (double, NaN for one value): 9000 groups of ~6 rows plus one
    6000-row group, 4 partitions; values v (long) and x (double) carry
    NULLs."""
    i = F.col("id")
    return spark.range(N_ROWS, numPartitions=4).select(
        F.when(i % 10 == 0, F.lit("hot"))
        .when(i % 2500 == 7, F.lit(None))
        .otherwise((i % 2500).cast("string")).alias("g1"),
        F.when(i % 10 == 0, F.lit(0.0))
        .when((i / 2500).cast("long") % 4 == 3, F.lit(float("nan")))
        .otherwise(((i / 2500).cast("long") % 4).cast("double"))
        .alias("g2"),
        F.when(i % 13 == 0, F.lit(None))
        .otherwise(F.pmod(F.xxhash64(i), F.lit(3000))).alias("v"),
        F.when(i % 17 == 0, F.lit(None))
        .otherwise(F.pmod(F.xxhash64(i, F.lit(1)), F.lit(100_000)) / 7.0 + 1)
        .alias("x"),
    )


def _key(g1, g2):
    # a NaN group key canonicalizes to NULL (operators.common.na_safe_key)
    return (g1, None if g2 is None or math.isnan(g2) else g2)


def _executed_nodes(df):
    """(node name, Python function name) of every node of df's EXECUTED
    plan: the adaptive plan's final tree, query stages unwrapped."""
    out, todo = [], [df._jdf.queryExecution().executedPlan().executedPlan()]
    while todo:
        n = todo.pop()
        name = n.nodeName()
        out.append((name, n.func().name() if "InPandas" in name else None))
        if n.getClass().getSimpleName().endswith("QueryStageExec"):
            todo.append(n.plan())
        ch = n.children()
        todo.extend(ch.apply(j) for j in range(ch.size()))
    return out


@pytest.fixture(scope="module")
def runs(spark):
    """Every family once over the same input, with Arrow batches of 500
    rows so each partition's groups span batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "500")
    try:
        df = _input(spark).cache()
        ops = {
            "theta": theta_sketch_agg(df, ["g1", "g2"], "v", k=THETA_K),
            "bottomk_xxhash64": bottomk_sample_agg(
                df, ["g1", "g2"], "v", k=BOTTOM_K
            ),
            "bottomk_md5": bottomk_sample_agg(
                df, ["g1", "g2"], "v", k=BOTTOM_K, hash_fn="md5"
            ),
            "ddsketch": ddsketch_agg(df, ["g1", "g2"], "x"),
            "kll": quantile_sketch_agg(
                df, ["g1", "g2"], "x", "kll", 200, QUANTILES
            ),
            "tdigest": quantile_sketch_agg(
                df, ["g1", "g2"], "x", "tdigest", 100, QUANTILES
            ),
        }
        out = {}
        for name, op in ops.items():
            rows = {_key(r["g1"], r["g2"]): r for r in op.collect()}
            out[name] = (rows, _executed_nodes(op))
        raw = df.select(
            "g1", "g2", "v", "x",
            F.xxhash64("v").alias("h_theta"),
            _hash_col("v", "xxhash64").alias("h_xxhash64"),
            _hash_col("v", "md5").alias("h_md5"),
        ).collect()
        df.unpersist()
    finally:
        spark.conf.set(key, old)
    groups = {}
    for r in raw:
        groups.setdefault(_key(r["g1"], r["g2"]), []).append(r)
    return out, groups


def test_input_shape(runs):
    out, groups = runs
    assert len(groups) == 9001
    assert (None, 0.0) in groups and ("1", None) in groups
    assert len(groups[("hot", 0.0)]) == N_ROWS // 10
    for rows, _ in out.values():
        assert set(rows) == set(groups)


def test_theta_equals_single_state_fold(runs):
    out, groups = runs
    rows, _ = out["theta"]
    for key, raw in groups.items():
        h = np.array(
            [r["h_theta"] for r in raw if r["v"] is not None], dtype=np.int64
        )
        want = K.kmv_update(K.kmv_zero(), h.view(np.uint64), THETA_K)
        assert rows[key]["sketch"] == K.kmv_pack(want), key
        assert rows[key]["est_distinct"] == int(
            round(K.kmv_estimate(want, THETA_K))
        ), key


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_bottomk_equals_single_state_fold(runs, hash_fn):
    out, groups = runs
    rows, _ = out[f"bottomk_{hash_fn}"]
    hash_range = 16 ** 15 if hash_fn == "md5" else 2 ** 64
    for key, raw in groups.items():
        by_hash = {
            r[f"h_{hash_fn}"] & (2 ** 64 - 1): str(r["v"])
            for r in raw if r["v"] is not None
        }
        kept = sorted(by_hash)[:BOTTOM_K]
        est = len(kept)
        if len(kept) == BOTTOM_K:
            est = int(round(
                (BOTTOM_K - 1) * float(hash_range) / float(max(kept[-1], 1))
            ))
        got = rows[key]
        assert got["sample"] == [by_hash[h] for h in kept], key
        assert got["n_sample"] == len(kept), key
        assert got["est_distinct"] == est, key


def test_ddsketch_equals_single_state_fold(runs):
    out, groups = runs
    rows, _ = out["ddsketch"]
    for key, raw in groups.items():
        want = K.DDSketch(0.01)
        want.add(np.array([r["x"] for r in raw], dtype=np.float64))
        got = rows[key]
        assert got["n"] == want.n, key
        for q in (0.5, 0.9, 0.99):
            t = int(q * 100)
            assert got[f"b_{t}"] == want.quantile_bucket(q), key
            if want.n:
                assert got[f"q_{t}"] == round(want.quantile(q), 4), key


@pytest.mark.parametrize("family", ["kll", "tdigest"])
def test_rank_sketches_exact_n_and_bounded_rank_error(runs, family):
    out, groups = runs
    rows, _ = out[family]
    for key, raw in groups.items():
        n = sum(r["x"] is not None for r in raw)
        assert rows[key]["n"] == n, key
    hot = np.sort([r["x"] for r in groups[("hot", 0.0)] if r["x"] is not None])
    for q in QUANTILES:
        est = rows[("hot", 0.0)][f"q_{int(q * 100)}"]
        true_rank = np.searchsorted(hot, est) / hot.size
        assert abs(true_rank - q) < 0.02, (q, est, true_rank)


def test_family_plans_merge_per_partition_not_per_group(runs):
    out, _ = runs
    for name, (_, nodes) in out.items():
        names = {n for n, _ in nodes}
        assert "FlatMapGroupsInPandas" not in names, (name, nodes)
        assert "Sort" not in names, (name, nodes)
        udfs = sorted(u for n, u in nodes if n == "MapInPandas")
        assert udfs == ["build", "merge"], (name, nodes)


def test_null_values_are_not_distinct_values(spark):
    """xxhash64(NULL) is the seed (42) and md5(NULL) is NULL, so a NULL
    value used to enter the sketches as one more distinct value; it is
    skipped, and a group of only NULLs still appears, empty."""
    df = spark.createDataFrame(
        [("a", "x"), ("a", None), ("a", "y"), ("b", None), ("b", None)],
        "g string, v string",
    )
    exact = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert exact == {"a": 2, "b": 0}
    theta = {
        r["g"]: r["est_distinct"]
        for r in theta_sketch_agg(df, ["g"], "v").collect()
    }
    assert theta == exact
    for hash_fn in ("xxhash64", "md5"):
        got = {
            r["g"]: (sorted(r["sample"]), r["n_sample"], r["est_distinct"])
            for r in bottomk_sample_agg(
                df, ["g"], "v", k=4, hash_fn=hash_fn
            ).collect()
        }
        assert got == {"a": (["x", "y"], 2, 2), "b": ([], 0, 0)}, hash_fn
