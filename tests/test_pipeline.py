"""Pipeline-level Spark tests: ingest guard, checkpoint resume, prefix
join, text functions, corpus determinism."""

import os

import pytest
from pyspark.sql import functions as F

from honas_spark.spec import SketchSpec
from honas_spark.functions import text as T
from honas_spark.operators import build_sketches, sha256_key, with_window
from honas_spark.operators.prefix_join import longest_prefix_join
from honas_spark.sources.corpus import generate_corpus
from honas_spark.sources import checkpoint as CP

SPEC = SketchSpec(m_bits=1 << 16, k=5, window="1 hour",
                  cms_width=1024, kll_k=64)


def test_ingest_guard_sha256_equality(spark):
    """Per-row invariant (input_hint): content sha256 computed at the end
    of the ingest path equals the generation-time column — content
    survives every transformation un-mutated."""
    corpus = generate_corpus(spark, 3000, n_hours=4)
    staged = with_window(corpus, "commit_ts", SPEC.window)
    staged = staged.repartition(8, "repo")  # force a shuffle in between
    bad = staged.filter(
        F.sha2(F.col("content"), 256) != F.col("content_sha256")
    ).count()
    assert bad == 0
    assert staged.count() == 3000


def test_corpus_deterministic(spark):
    a = generate_corpus(spark, 500).orderBy("row_id").collect()
    b = generate_corpus(spark, 500).orderBy("row_id").collect()
    assert a == b
    # duplicate contents exist (dup_fraction) and skew exists
    df = generate_corpus(spark, 1000)
    n_distinct = df.select("content").distinct().count()
    assert n_distinct < 1000
    hot = df.filter(F.col("repo") == "org0/repo0").count()
    assert hot >= 250


def test_key_array_semantics(spark):
    df = spark.createDataFrame(
        [("SRC/Alpha/Bravo.PY/", "py", False), ("one", "c", False),
         ("a/b/c", "go", True)],
        "path string, lang string, ptr boolean",
    )
    rows = df.select(
        T.key_array(F.col("path"), F.col("lang"), "/", F.col("ptr")).alias("k")
    ).collect()
    # canonicalized: lowercase, trailing sep stripped; labels except last;
    # SLD analog; entity variants
    assert set(rows[0]["k"]) == {
        "src/alpha/bravo.py", "src", "alpha", "alpha/bravo.py",
        "py@src/alpha/bravo.py", "py@src", "py@alpha",
    }
    # single label: no labels, no SLD
    assert set(rows[1]["k"]) == {"one", "c@one"}
    # PTR mode: full name + entity variant only
    assert set(rows[2]["k"]) == {"a/b/c", "go@a/b/c"}


def test_longest_prefix_join(spark):
    """Port of the subnet-activity LPM expectations
    (tests/subnet_activity.c:53-122): longest registered prefix wins;
    unmatched stays null."""
    fact = spark.createDataFrame(
        [(0, "org0/repo1/x"), (1, "org0/zzz"), (2, "org9/nothing"),
         (3, "org0/repo1")],
        "row_id long, key string",
    )
    dim = spark.createDataFrame(
        [("org0/", "OrgZero"), ("org0/repo1", "TeamOne")],
        "prefix string, entity string",
    )
    out = {
        r["row_id"]: r["matched_entity"]
        for r in longest_prefix_join(fact, dim, "key").collect()
    }
    assert out == {0: "TeamOne", 1: "OrgZero", 2: None, 3: "TeamOne"}


def test_quality_features_and_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "The quick  brown fox. The fox!"), (2, "the QUICK brown fox. the fox!  ")],
        "id long, text string",
    )
    q = T.quality_features(df, "text").collect()
    r = {row["id"]: row for row in q}
    assert r[1]["n_tokens"] == 6
    assert r[1]["n_stopwords"] == 2  # 'the' twice (case-sensitive lower later)
    assert r[1]["n_punct"] == 2
    # fingerprint: whitespace/case-insensitive duplicate detection
    fp = df.select("id", T.fingerprint(F.col("text")).alias("fp")).collect()
    fps = {row["id"]: row["fp"] for row in fp}
    assert fps[1] == fps[2]


def test_checkpoint_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    corpus = generate_corpus(spark, 1200, n_hours=3)
    keyed = sha256_key(
        with_window(corpus, "commit_ts", SPEC.window), "path"
    )

    calls = []

    def build_fn(wdf):
        calls.append(1)
        return build_sketches(
            wdf, SPEC, group_cols=["window_start"], client_col="repo",
            ts_col="commit_ts",
        )

    t1 = CP.build_resumable(
        spark, keyed, SPEC, root, "window_start", [], build_fn, run_id="r1"
    )
    assert t1.count() == 3
    # all missing windows build in ONE pass (one build_fn call), not one
    # raw-table scan per window
    assert len(calls) == 1
    # resume: nothing rebuilt, build_fn never invoked
    t2 = CP.build_resumable(
        spark, keyed, SPEC, root, "window_start", [], build_fn, run_id="r2"
    )
    assert t2.count() == 3
    assert len(calls) == 1, "resume must skip committed windows"
    # drop one window's manifest -> only that one rebuilds
    victim = sorted(
        d for d in os.listdir(root) if d.startswith("window=")
    )[0]
    os.remove(os.path.join(root, victim, "manifest.json"))
    t3 = CP.build_resumable(
        spark, keyed, SPEC, root, "window_start", [], build_fn, run_id="r3"
    )
    assert t3.count() == 3
    assert len(calls) == 2
    # spec round-trips through the manifest
    assert CP.read_spec(root) == SPEC


def test_checkpoint_stale_fingerprint_rebuilds(spark, tmp_path):
    """A committed window whose input slice changed since commit must be
    rebuilt (manifest fingerprint mismatch), not silently reused."""
    import json

    root = str(tmp_path / "ckpt2")
    corpus = generate_corpus(spark, 800, n_hours=2)
    keyed = sha256_key(
        with_window(corpus, "commit_ts", SPEC.window), "path"
    )
    calls = []

    def build_fn(wdf):
        calls.append(1)
        return build_sketches(
            wdf, SPEC, group_cols=["window_start"], client_col="repo",
            ts_col="commit_ts",
        )

    CP.build_resumable(
        spark, keyed, SPEC, root, "window_start", [], build_fn, run_id="a"
    )
    assert len(calls) == 1
    # tamper with one manifest's fingerprint -> that window is stale
    victim = sorted(
        d for d in os.listdir(root) if d.startswith("window=")
    )[0]
    mpath = os.path.join(root, victim, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["input_fingerprint"] = "n=0,xor=0"
    with open(mpath, "w") as f:
        json.dump(m, f)
    t = CP.build_resumable(
        spark, keyed, SPEC, root, "window_start", [], build_fn, run_id="b"
    )
    assert len(calls) == 2, "stale window must rebuild"
    assert t.count() == 2
    # with verification off, stale is ignored
    CP.build_resumable(
        spark, keyed, SPEC, root, "window_start", [], build_fn,
        run_id="c", verify_fingerprints=False,
    )
    assert len(calls) == 2


def test_distinct_keys_invariance(spark):
    """The LRU-front-cache analog: deduping (group, client, key) rows
    before the build must leave bloom bitsets, HLLs and counters exactly
    unchanged (set idempotence + JVM-side ts/count stats)."""
    from honas_spark.operators import build_sketches, sha256_key, with_window

    corpus = generate_corpus(spark, 1500, n_hours=2, dup_fraction=0.5)
    keyed = sha256_key(
        with_window(corpus, "commit_ts", SPEC.window), "content"
    )
    kw = dict(
        group_cols=["window_start"], client_col="repo", ts_col="commit_ts"
    )
    plain = {
        str(r["window_start"]): r
        for r in build_sketches(keyed, SPEC, **kw).collect()
    }
    dedup = {
        str(r["window_start"]): r
        for r in build_sketches(
            keyed, SPEC, distinct_keys=True, **kw
        ).collect()
    }
    assert plain.keys() == dedup.keys()
    for k in plain:
        assert plain[k]["filters"] == dedup[k]["filters"]
        assert plain[k]["hll_items"] == dedup[k]["hll_items"]
        assert plain[k]["hll_clients"] == dedup[k]["hll_clients"]
        assert plain[k]["n_rows"] == dedup[k]["n_rows"]
        assert plain[k]["first_ts"] == dedup[k]["first_ts"]


def test_flatten_semantics(spark):
    """D1: sketches whose client estimate is below the threshold clamp
    hit counts to 0/1."""
    from honas_spark.search import make_search_job, run_search

    spec = SketchSpec(
        m_bits=1 << 16, k=5, num_filters=4, filters_per_user=4,
        flatten_threshold=50, cms_width=1024, kll_k=64,
    )
    df = spark.createDataFrame(
        [("r1", "solo/key/x", "2024-01-01 00:05:00")],
        "repo string, path string, ts_s string",
    ).withColumn("commit_ts", F.to_timestamp("ts_s"))
    keyed = sha256_key(
        with_window(df, "commit_ts", spec.window), "path"
    )
    sk = build_sketches(
        keyed, spec, group_cols=["window_start"], client_col="repo",
        ts_col="commit_ts",
    )
    job = make_search_job({1: ["solo/key/x"]})
    key_df, _ = run_search(sk, spec, job, ["window_start"])
    rows = key_df.collect()
    assert len(rows) == 1
    assert rows[0]["flattened"] is True
    assert rows[0]["hits"] == 1  # clamped from u=4


def test_flatten_on_hostnames_reproduces_reference_compare(spark):
    """Quirk Q2 strict-parity knob: flatten_on='hostnames' compares the
    HOSTNAME estimate like the reference binary (honas_search.c:378),
    while the default compares the client estimate per the documented
    privacy intent.  A state with 1 client but many hostnames straddles
    a threshold between the two, so the modes must disagree."""
    from honas_spark.search import make_search_job, run_search

    spec = SketchSpec(
        m_bits=1 << 16, k=5, num_filters=4, filters_per_user=4,
        flatten_threshold=50, cms_width=1024, kll_k=64,
    )
    rows = [
        ("r1", f"many/keys/{i}", "2024-01-01 00:05:00") for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, ts_s string"
    ).withColumn("commit_ts", F.to_timestamp("ts_s"))
    keyed = sha256_key(with_window(df, "commit_ts", spec.window), "path")
    sk = build_sketches(
        keyed, spec, group_cols=["window_start"], client_col="repo",
        ts_col="commit_ts",
    )
    job = make_search_job({1: ["many/keys/0"]})
    by_clients, _ = run_search(sk, spec, job, ["window_start"])
    by_hosts, _ = run_search(
        sk, spec, job, ["window_start"], flatten_on="hostnames"
    )
    rc, rh = by_clients.first(), by_hosts.first()
    assert rc["flattened"] is True and rc["hits"] == 1   # 1 client < 50
    assert rh["flattened"] is False and rh["hits"] == 4  # ~200 names > 50


def test_verify_content_sha_guard(spark):
    """North-rule ingest guard: recomputed sha2 equality flags/drops/fails
    on corrupted rows."""
    import pytest
    from pyspark.sql import functions as F
    from honas_spark.sources.corpus import generate_corpus, verify_content_sha

    df = generate_corpus(spark, 200, n_hours=1)
    corrupted = df.withColumn(
        "content_sha256",
        F.when(
            F.col("row_id") % 50 == 0,
            F.sha2(F.concat(F.col("content"), F.lit("!")), 256),
        ).otherwise(F.col("content_sha256")),
    )
    clean, counts = verify_content_sha(df)
    assert clean.count() == 200
    assert counts.collect()[0]["n_mismatched"] == 0

    dropped, counts = verify_content_sha(corrupted, on_mismatch="drop")
    assert dropped.count() == 196
    assert counts.collect()[0]["n_mismatched"] == 4

    flagged, _ = verify_content_sha(corrupted, on_mismatch="flag")
    assert flagged.filter("NOT sha_ok").count() == 4

    with pytest.raises(ValueError, match="4 corrupted"):
        verify_content_sha(corrupted, on_mismatch="fail")


def test_build_modes_bit_identical_under_skew(spark):
    """All three physical build plans — map_combine, shuffle_keys, and
    shuffle_keys+salt — must produce bit-identical sketch rows on the
    skewed corpus (30% of rows in one hot repo): mode/salt are pure
    performance knobs, never semantics."""
    corpus = generate_corpus(spark, 2000, n_hours=2)
    keyed = sha256_key(
        with_window(corpus, "commit_ts", SPEC.window), "path"
    )
    kw = dict(
        group_cols=["window_start"], client_col="repo", ts_col="commit_ts"
    )
    variants = {
        "map_combine": build_sketches(keyed, SPEC, mode="map_combine", **kw),
        "shuffle_keys": build_sketches(keyed, SPEC, mode="shuffle_keys", **kw),
        "salted": build_sketches(
            keyed, SPEC, mode="shuffle_keys", salt=8, **kw
        ),
    }
    collected = {
        name: {str(r["window_start"]): r for r in df.collect()}
        for name, df in variants.items()
    }
    base = collected["map_combine"]
    assert len(base) == 2
    for name in ("shuffle_keys", "salted"):
        other = collected[name]
        assert other.keys() == base.keys(), name
        for w in base:
            for col in ("filters", "hll_clients", "hll_items", "cms",
                        "n_rows", "first_ts", "last_ts"):
                assert other[w][col] == base[w][col], (name, w, col)


def test_build_client_col_that_is_also_a_group_col(spark):
    """Per-repo sketches keyed AND client-hashed by the same column: the
    slim projection must carry that column once (a duplicated column
    broke the worker's pandas groupby), and the result must equal a
    build whose client column is a separate copy."""
    from honas_spark import kernels as K

    spec = SketchSpec(m_bits=1 << 12, k=3, num_filters=2, cms_width=64,
                      kll_k=32)
    df = sha256_key(
        spark.createDataFrame(
            [("r1", "a/x"), ("r1", "b/y"), ("r2", "a/x"), ("r3", "c/z")],
            "repo string, path string",
        ),
        "path",
    )
    same = {
        r["repo"]: r
        for r in build_sketches(df, spec, ["repo"], client_col="repo")
        .collect()
    }
    copy = {
        r["repo"]: r
        for r in build_sketches(
            df.withColumn("client", F.col("repo")), spec, ["repo"],
            client_col="client",
        ).collect()
    }
    assert {k: r["n_rows"] for k, r in same.items()} == {
        "r1": 2, "r2": 1, "r3": 1
    }
    for k, r in same.items():
        assert K.hll_count(K.hll_unpack(r["hll_clients"])) == 1
        for c in ("filters", "hll_clients", "hll_items", "cms"):
            assert r[c] == copy[k][c], (k, c)
