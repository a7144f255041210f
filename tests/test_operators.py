"""Tests for the training-data-pipeline operators: dedup family, knn,
multimodal plumbing, and the streaming builder's batch parity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from honas_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
    shingles,
)
from honas_spark.operators.knn import (
    brute_force_topk,
    ivf_index,
    ivf_topk,
    cosine_sim,
)
from honas_spark.functions.multimodal import (
    extract_image_features,
    sample_frames,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "THE  quick brown fox jumps over the lazy dog"),  # exact (norm) dup of 0
        (3, "completely different words entirely here now"),
        (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    groups = exact_duplicates(docs, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 3  # 0, 2 (normalized), 4
    assert groups[0]["rep_id"] == 0


def test_ngram_jaccard(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): (r["inter"], r["uni"])
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, min_num=1, min_den=2,
            max_shingle_freq=None,
        ).collect()
    }
    # identical docs: jaccard 1 on 3-gram shingles
    assert (0, 4) in pairs and pairs[(0, 4)][0] == pairs[(0, 4)][1]
    # near-dup (one word differs at the end): high but < 1
    assert (0, 1) in pairs
    inter, uni = pairs[(0, 1)]
    assert inter < uni
    # unrelated doc never pairs
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_finds_near_dups(spark, docs):
    sig = minhash_signatures(docs, "doc_id", "text", num_hashes=32, n=2)
    sigs = {r["doc_id"]: r["sig"] for r in sig.collect()}
    assert sigs[0] == sigs[4]  # identical shingle sets -> identical sigs
    cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            sig, "doc_id", num_hashes=32, bands=8
        ).collect()
    }
    assert (0, 4) in cands
    assert (0, 1) in cands  # near-dup caught by some band
    assert (0, 3) not in cands and (1, 3) not in cands


def test_simhash_hamming(spark, docs):
    sim = simhash(docs, "doc_id", "text")
    vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    assert vals[0] == vals[4]
    ham01 = bin((vals[0] ^ vals[1]) & ((1 << 64) - 1)).count("1")
    ham03 = bin((vals[0] ^ vals[3]) & ((1 << 64) - 1)).count("1")
    assert ham01 < ham03  # near-dup closer than unrelated
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(sim, "doc_id", max_hamming=16).collect()
    }
    assert pairs.get((0, 4)) == 0


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "one two")], "id long, text string")
    out = df.select(shingles(F.col("text"), 3).alias("s")).collect()
    assert out[0]["s"] == ["one two"]  # shorter than n -> whole doc


def test_blank_docs_never_pair(spark):
    """Zero-token docs (empty / whitespace-only) must not appear in the
    signature outputs at all — the projection-shaped minhash/simhash would
    otherwise give every blank doc an identical (null-band / zero)
    fingerprint and pair them all at max confidence."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, ""),              # empty
        (3, "   \t  \n "),    # whitespace-only
        (4, "x"),             # single short token: stays, is comparable
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # shingles: blank docs -> empty array (not [""])
    sh = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", shingles(F.col("text"), 2).alias("s")).collect()}
    assert sh[2] == [] and sh[3] == []
    assert sh[4] == ["x"]

    sig = minhash_signatures(df, "doc_id", "text", num_hashes=16, n=2)
    sig_ids = {r["doc_id"] for r in sig.collect()}
    assert sig_ids == {0, 1, 4}
    cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            sig, "doc_id", num_hashes=16, bands=4
        ).collect()
    }
    assert not any(2 in p or 3 in p for p in cands)

    sim = simhash(df, "doc_id", "text")
    sim_ids = {r["doc_id"] for r in sim.collect()}
    assert sim_ids == {0, 1, 4}
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_pairs(sim, "doc_id", max_hamming=3).collect()
    }
    assert not any(2 in p or 3 in p for p in pairs)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(42)
    base = rng.normal(size=(40, 8))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk_matches_numpy(spark, vectors):
    rng = np.random.default_rng(42)
    base = rng.normal(size=(40, 8))
    queries = spark.createDataFrame(
        [(100, [float(x) for x in base[0]])],
        "query_id long, query_vec array<double>",
    )
    got = [
        r["neighbor_id"]
        for r in brute_force_topk(vectors, queries, k=3)
        .orderBy("rank").collect()
    ]
    norms = base / np.linalg.norm(base, axis=1, keepdims=True)
    sims = norms @ norms[0]
    expected = np.argsort(-sims)[:3].tolist()
    assert got == expected
    assert got[0] == 0  # self is its own nearest


def test_ivf_recall_vs_bruteforce(spark, vectors):
    rng = np.random.default_rng(1)
    qv = [float(x) for x in rng.normal(size=8)]
    queries = spark.createDataFrame(
        [(7, qv)], "query_id long, query_vec array<double>"
    )
    exact = {
        r["neighbor_id"]
        for r in brute_force_topk(vectors, queries, k=5).collect()
    }
    bucketed, cents = ivf_index(vectors, n_centroids=4)
    ann = {
        r["neighbor_id"]
        for r in ivf_topk(bucketed, cents, queries, k=5, nprobe=3).collect()
    }
    # probing 3/4 buckets: recall >= 3/5 guaranteed-ish on this tiny set
    assert len(exact & ann) >= 3


def test_cosine_sim_expression(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    out = [r[0] for r in df.select(cosine_sim(F.col("a"), F.col("b"))).collect()]
    assert abs(out[0] - 0.0) < 1e-12
    assert abs(out[1] - 1.0) < 1e-12


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"fake-image-bytes-" * 10)), (2, bytearray(b""))],
        "doc_id long, payload binary",
    )
    feats = extract_image_features(df, "payload", "doc_id").collect()
    byid = {r["doc_id"]: r for r in feats}
    assert len(byid[1]["features"]) == 8
    assert abs(sum(byid[1]["features"]) - 1.0) < 1e-9
    assert byid[1]["width"] > 0 and byid[1]["channels"] == 3
    assert byid[2]["doc_id"] == 2  # empty payload doesn't crash

    frames = sample_frames(df, "payload", "doc_id", n_frames=4).collect()
    f1 = [r for r in frames if r["doc_id"] == 1]
    assert [r["frame_idx"] for r in f1] == [0, 1, 2, 3]
    assert all(len(r["frame_bytes"]) > 0 for r in f1)


def test_streaming_matches_batch(spark, tmp_path):
    """The foreachBatch streaming builder must converge to the same
    sketch table as one batch build (merge-algebra idempotence)."""
    from honas_spark.spec import SketchSpec
    from honas_spark.operators import build_sketches, sha256_key, with_window
    from honas_spark.sources.corpus import generate_corpus
    from honas_spark.streaming.stream import StreamingSketchBuilder

    spec = SketchSpec(m_bits=1 << 14, k=5, window="1 hour",
                      cms_width=256, kll_k=64)
    src_dir = str(tmp_path / "landing")
    corpus = generate_corpus(spark, 800, n_hours=2)
    keyed = sha256_key(
        with_window(corpus, "commit_ts", spec.window), "path"
    ).select("window_start", "key_sha", "repo", "commit_ts")
    keyed.write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(keyed.schema).parquet(src_dir)
    )
    builder = StreamingSketchBuilder(
        spec, str(tmp_path / "store"), group_cols=[],
        client_col="repo", ts_col="commit_ts",
    )
    q = builder.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = builder.read_store(spark)
    batch = build_sketches(
        keyed, spec, group_cols=["window_start"], client_col="repo",
        ts_col="commit_ts",
    )
    g = {str(r["window_start"]): r for r in got.collect()}
    b = {str(r["window_start"]): r for r in batch.collect()}
    assert g.keys() == b.keys()
    for k in b:
        assert g[k]["filters"] == b[k]["filters"]
        assert g[k]["hll_items"] == b[k]["hll_items"]
        assert g[k]["n_rows"] == b[k]["n_rows"]


def test_streaming_store_crash_recovery(spark, tmp_path):
    """The per-window store publish must survive a crash between the two
    renames: a window left as `.old` (final missing) is rolled back on
    the next open; stray tmp dirs are dropped."""
    import os
    import shutil

    from honas_spark.spec import SketchSpec
    from honas_spark.operators import sha256_key, with_window
    from honas_spark.sources.corpus import generate_corpus
    from honas_spark.streaming.stream import StreamingSketchBuilder

    spec = SketchSpec(m_bits=1 << 14, k=5, window="1 hour",
                      cms_width=256, kll_k=64)
    src_dir = str(tmp_path / "landing")
    corpus = generate_corpus(spark, 400, n_hours=2)
    keyed = sha256_key(
        with_window(corpus, "commit_ts", spec.window), "path"
    ).select("window_start", "key_sha", "repo", "commit_ts")
    keyed.write.mode("overwrite").parquet(src_dir)

    builder = StreamingSketchBuilder(
        spec, str(tmp_path / "store"), group_cols=[],
        client_col="repo", ts_col="commit_ts",
    )
    stream = spark.readStream.schema(keyed.schema).parquet(src_dir)
    q = builder.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    root = builder._store_path()
    wins = sorted(d for d in os.listdir(root) if d.startswith("window="))
    assert len(wins) == 2
    before = builder.read_store(spark).count()

    # simulate a crash between `rename(final, old)` and `rename(tmp, final)`
    victim = os.path.join(root, wins[0])
    os.rename(victim, victim + ".old")
    os.makedirs(victim + ".tmp-99")  # stray half-written tmp

    got = builder.read_store(spark)  # triggers _recover
    assert got.count() == before
    assert os.path.isdir(victim)
    assert not os.path.isdir(victim + ".old")
    assert not os.path.isdir(victim + ".tmp-99")


def test_streaming_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering the SAME epoch must
    not double-count the additive components (CMS counters, n_rows) —
    the per-window manifest's last_epoch_id guards the re-merge.  A NEW
    epoch with identical rows must still merge (counters double)."""
    from honas_spark.spec import SketchSpec
    from honas_spark.operators import sha256_key, with_window
    from honas_spark.sources.corpus import generate_corpus
    from honas_spark.streaming.stream import StreamingSketchBuilder

    spec = SketchSpec(m_bits=1 << 14, k=5, window="1 hour",
                      cms_width=256, kll_k=64)
    corpus = generate_corpus(spark, 300, n_hours=2)
    keyed = sha256_key(
        with_window(corpus, "commit_ts", spec.window), "path"
    ).select("window_start", "key_sha", "repo", "commit_ts")

    builder = StreamingSketchBuilder(
        spec, str(tmp_path / "store"), group_cols=[],
        client_col="repo", ts_col="commit_ts",
    )
    builder.process_batch(keyed, epoch_id=7)
    first = {str(r["window_start"]): r
             for r in builder.read_store(spark).collect()}
    builder.process_batch(keyed, epoch_id=7)  # replayed epoch
    replay = {str(r["window_start"]): r
              for r in builder.read_store(spark).collect()}
    assert first.keys() == replay.keys()
    for k in first:
        assert replay[k]["n_rows"] == first[k]["n_rows"], "double-counted"
        assert replay[k]["cms"] == first[k]["cms"]
        assert replay[k]["filters"] == first[k]["filters"]
    builder.process_batch(keyed, epoch_id=8)  # genuinely new epoch
    again = {str(r["window_start"]): r
             for r in builder.read_store(spark).collect()}
    for k in first:
        assert again[k]["n_rows"] == 2 * first[k]["n_rows"]
        assert again[k]["filters"] == first[k]["filters"]  # OR idempotent


def test_streaming_publish_is_single_job(spark, tmp_path):
    """A batch touching MANY windows must publish them all with O(1)
    Spark jobs (one partitionBy write + one count off the cached merge),
    not one write job + one re-read job per window."""
    from honas_spark.spec import SketchSpec
    from honas_spark.operators import sha256_key, with_window
    from honas_spark.sources.corpus import generate_corpus
    from honas_spark.streaming.stream import StreamingSketchBuilder

    spec = SketchSpec(m_bits=1 << 14, k=5, window="1 hour",
                      cms_width=256, kll_k=64)
    corpus = generate_corpus(spark, 2000, n_hours=24)  # 24 touched windows
    keyed = sha256_key(
        with_window(corpus, "commit_ts", spec.window), "path"
    ).select("window_start", "key_sha", "repo", "commit_ts")

    builder = StreamingSketchBuilder(
        spec, str(tmp_path / "store"), group_cols=[],
        client_col="repo", ts_col="commit_ts",
    )
    sc = spark.sparkContext
    sc.setJobGroup("publish24", "streaming publish job-count probe")
    try:
        builder.process_batch(keyed, epoch_id=0)
    finally:
        sc.setJobGroup(None, None)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("publish24")
    n_windows = len([
        d for d in __import__("os").listdir(builder._store_path())
        if d.startswith("window=")
    ])
    assert n_windows == 24
    # ~12 jobs observed: a fixed set of actions (isEmpty, client-hash LUT,
    # cache fill, touched-windows collect, write, manifest count), each
    # split into AQE stage-jobs — independent of the window count.  The
    # per-window publish this replaced issued 2 jobs per window (>= 48).
    assert len(jobs) <= 16, (
        f"{len(jobs)} jobs for 24 windows — publish is per-window again"
    )


def test_kmeans_refine_improves_or_matches_quantization(spark, vectors):
    """Distributed Lloyd refinement must not worsen (and normally
    shrinks) the within-cluster quantization error, and assignment stays
    deterministic across repartitioning."""
    import numpy as np
    from honas_spark.operators.knn import ivf_index, kmeans_refine

    _, init = ivf_index(vectors, n_centroids=4)

    def sse(cents):
        rows = vectors.collect()
        m = np.stack([np.asarray(r["embedding"]) for r in rows])
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        cn = cents / np.maximum(
            np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
        )
        assign = np.argmax(mn @ cn.T, axis=1)
        return float(((m - cents[assign]) ** 2).sum())

    refined = kmeans_refine(vectors, init, n_iters=3)
    assert sse(refined) <= sse(init) + 1e-9
    # determinism: same input partitioned differently -> same centroids
    refined2 = kmeans_refine(vectors.repartition(5), init, n_iters=3)
    assert np.allclose(refined, refined2)
    # full pipeline with refinement still returns valid buckets
    bucketed, cents = ivf_index(
        vectors, n_centroids=4, kmeans_iters=2, train_sample_pct=90
    )
    assert bucketed.filter("bucket < 0 OR bucket >= 4").count() == 0


def test_streaming_late_data_merges_into_event_window(spark, tmp_path):
    """W3: rows arriving AFTER their window was built (late data) must
    merge into their event-time window on the next run, converging to the
    same store as a single batch build over everything — the reference
    stamps with now() and cannot do this (Quirk W3)."""
    import os

    from honas_spark.spec import SketchSpec
    from honas_spark.operators import build_sketches, sha256_key, with_window
    from honas_spark.sources.corpus import generate_corpus
    from honas_spark.streaming.stream import StreamingSketchBuilder

    spec = SketchSpec(m_bits=1 << 14, k=5, window="1 hour",
                      cms_width=256, kll_k=64)
    src_dir = str(tmp_path / "landing")
    os.makedirs(src_dir)
    corpus = generate_corpus(spark, 600, n_hours=2)
    keyed = sha256_key(
        with_window(corpus, "commit_ts", spec.window), "path"
    ).select("window_start", "key_sha", "repo", "commit_ts").cache()
    on_time = keyed.filter(F.hour("window_start") == 1)
    late = keyed.filter(F.hour("window_start") == 0)  # older window

    builder = StreamingSketchBuilder(
        spec, str(tmp_path / "store"), group_cols=[],
        client_col="repo", ts_col="commit_ts",
    )

    def run_once():
        stream = spark.readStream.schema(keyed.schema).parquet(src_dir)
        q = builder.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
        q.awaitTermination(120)

    on_time.write.mode("append").parquet(src_dir)
    run_once()
    assert builder.read_store(spark).count() == 1  # only hour-1 window

    late.write.mode("append").parquet(src_dir)     # late arrival
    run_once()
    got = {str(r["window_start"]): r for r in
           builder.read_store(spark).collect()}
    batch = {str(r["window_start"]): r for r in build_sketches(
        keyed, spec, group_cols=["window_start"], client_col="repo",
        ts_col="commit_ts",
    ).collect()}
    keyed.unpersist()
    assert got.keys() == batch.keys() and len(got) == 2
    for k in batch:
        assert got[k]["filters"] == batch[k]["filters"], k
        assert got[k]["n_rows"] == batch[k]["n_rows"], k


def test_ngram_repetition_hand_computed(spark):
    """Gopher repetition signals against hand-counted 2-gram stats."""
    from honas_spark.operators.quality import ngram_repetition

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),       # grams: ab ba ab ba -> 4 total, 2 uniq
            (2, "x y z"),           # xy yz -> 2 total, 2 uniq, no dups
            (3, "w w w w"),         # ww ww ww -> 3 total, 1 uniq, all dup
            (4, "single"),          # < 2 tokens -> zeros
            (5, ""),                # empty -> zeros
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           ngram_repetition(df, "doc_id", "text", n=2).collect()}
    assert (got[1]["n_grams"], got[1]["n_uniq"], got[1]["max_gram"],
            got[1]["dup_occ"]) == (4, 2, 2, 4)
    assert (got[2]["n_grams"], got[2]["n_uniq"], got[2]["max_gram"],
            got[2]["dup_occ"]) == (2, 2, 1, 0)
    assert (got[3]["n_grams"], got[3]["n_uniq"], got[3]["max_gram"],
            got[3]["dup_occ"]) == (3, 1, 3, 3)
    for d in (4, 5):
        assert (got[d]["n_grams"], got[d]["n_uniq"], got[d]["max_gram"],
                got[d]["dup_occ"]) == (0, 0, 0, 0)


def test_contamination_flags_hand_computed(spark):
    """Eval-overlap decontamination against hand-counted 2-gram hits."""
    from honas_spark.operators.quality import contamination_flags

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),   # shares "alpha beta" w/ bench
            (2, "beta gamma delta epsilon"), # shares "beta gamma"? bench has "alpha beta","zzz yyy" only -> no
            (3, "totally clean words here"),
            (4, "alpha beta alpha beta"),    # "alpha beta" twice + "beta alpha"
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta"), (101, "zzz yyy")], "bid long, text string"
    )
    got = {r["doc_id"]: r for r in contamination_flags(
        docs, bench, "doc_id", "text", "text", n=2
    ).collect()}
    assert (got[1]["n_hit_grams"], got[1]["n_hit_uniq"],
            got[1]["contaminated"]) == (1, 1, 1)
    assert got[2]["contaminated"] == 0
    assert got[3] ["contaminated"] == 0
    assert (got[4]["n_hit_grams"], got[4]["n_hit_uniq"],
            got[4]["contaminated"]) == (2, 1, 1)
    # the eval-gram side must broadcast (tiny vs the corpus)
    plan = contamination_flags(
        docs, bench, "doc_id", "text", "text", n=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_remove_dup_spans_semantics(spark):
    """Shared 8-token span removed from ALL docs, survivors re-join in
    order, tail spans count, zero-token docs come back empty."""
    from honas_spark.operators.quality import remove_dup_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),   # span0 shared, span1 'i j'
            (2, "a b c d e f g h x y"),   # span0 shared, span1 'x y'
            (3, "unique words only here"),
            (4, ""),
            (5, "p q r s t u v w a b c d e f g h"),  # shared span at pos 1
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text_clean"], r["n_spans"], r["n_kept"])
        for r in remove_dup_spans(df, "doc_id", "text", k=8).collect()
    }
    assert got[1] == ("i j", 2, 1)
    assert got[2] == ("x y", 2, 1)
    assert got[3] == ("unique words only here", 1, 1)
    assert got[4] == ("", 0, 0)
    assert got[5] == ("p q r s t u v w", 2, 1)
    with pytest.raises(ValueError):
        remove_dup_spans(df, "doc_id", "text", k=0)
    with pytest.raises(ValueError):
        remove_dup_spans(df, "doc_id", "text", min_docs=1)


def test_remove_dup_spans_repeat_within_one_doc_stays(spark):
    """min_docs counts DISTINCT docs: a span repeated inside a single
    document is not cross-doc duplication and must survive."""
    from honas_spark.operators.quality import remove_dup_spans

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "c d e f")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["text_clean"]
        for r in remove_dup_spans(df, "doc_id", "text", k=2).collect()
    }
    assert got[1] == "a b a b"


def test_unigram_logprob_matches_local_model(spark):
    import math

    from honas_spark.operators.quality import unigram_logprob

    corpus = [(1, "a a b"), (2, "a c"), (3, "")]
    counts = {"a": 3, "b": 1, "c": 1}
    total = 5
    micro = {
        t: round(math.log(total / c) * 1e6) for t, c in counts.items()
    }
    got = {
        r["doc_id"]: (r["n_toks"], r["sum_nll_micro"], r["avg_nll"])
        for r in unigram_logprob(
            spark.createDataFrame(corpus, "doc_id long, text string"),
            "doc_id", "text",
        ).collect()
    }
    for doc_id, text in corpus:
        toks = text.split()
        s = sum(micro[t] for t in toks)
        want_avg = round(s / 1e6 / len(toks), 4) if toks else 0.0
        assert got[doc_id] == (len(toks), s, want_avg)
    # rare-token doc scores higher than stereotypical doc
    assert got[2][2] > got[1][2]


def test_contamination_bloom_method_matches_join(spark):
    """The Bloom prefilter changes the plan, not the answer: identical
    flags/counts to the exact join path, including at an FPR high
    enough (20%) that false positives certainly reach — and die in —
    the exact survivor join."""
    from honas_spark.operators.quality import contamination_flags

    docs = spark.createDataFrame(
        [
            (i, f"word{i} alpha beta word{i + 1} gamma delta")
            for i in range(60)
        ]
        + [(1000, "totally clean text nothing shared")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "alpha beta"), (2, "unseen grams only")],
        "bid long, text string",
    )
    kw = dict(n=2)
    want = sorted(
        tuple(r) for r in contamination_flags(
            docs, bench, "doc_id", "text", "text", **kw
        ).collect()
    )
    for fpr in (0.01, 0.2):
        got = sorted(
            tuple(r) for r in contamination_flags(
                docs, bench, "doc_id", "text", "text",
                method="bloom", bloom_fpr=fpr, **kw
            ).collect()
        )
        assert got == want


def test_contamination_bloom_empty_bench_and_validation(spark):
    from honas_spark.operators.quality import contamination_flags

    docs = spark.createDataFrame(
        [(1, "some words here")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(1, "x")], "bid long, text string"
    ).filter("bid < 0")
    out = contamination_flags(
        docs, bench, "doc_id", "text", "text", n=2, method="bloom"
    ).collect()
    assert [r["contaminated"] for r in out] == [0]
    with pytest.raises(ValueError):
        contamination_flags(
            docs, bench, "doc_id", "text", "text", method="nope"
        )
    with pytest.raises(ValueError):
        contamination_flags(
            docs, bench, "doc_id", "text", "text",
            method="bloom", bloom_fpr=1.5,
        )


def test_pil_decoder_autodetect_both_ways(monkeypatch):
    """The real-decode wiring must activate when PIL is importable and
    stand down to the deterministic fake when it is not.  The sandbox
    has no PIL, so the 'present' side is exercised with a synthetic PIL
    module shaped like the real API (Image.open -> width/height/bands +
    ndarray conversion)."""
    import sys
    import types

    from honas_spark.functions import multimodal as M

    # absent (the sandbox reality): resolver returns None -> fake path
    assert M._pil_decoder() is None

    class _FakeImg:
        width, height = 32, 16

        def getbands(self):
            return ("R", "G", "B")

        def __array__(self, dtype=None, copy=None):
            return np.full((16, 32, 3), 200, dtype=np.uint8)

    fake_pil = types.ModuleType("PIL")
    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = lambda fp: _FakeImg()
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

    decode = M._pil_decoder()
    assert decode is not None
    w, h, c, feats = decode(b"irrelevant-raw-bytes")
    assert (w, h, c) == (32, 16, 3)
    # 200 >> 5 == 6: all histogram mass in bucket 6
    assert feats[6] == 1.0 and feats.sum() == 1.0


def test_span_dup_stats_hand_computed(spark):
    """C4-style cross-doc span duplication on hand-countable docs with
    k=2 token spans."""
    from honas_spark.operators.quality import span_dup_stats

    rows = [
        (0, "a b c d e"),        # spans: "a b", "c d", "e"
        (1, "a b x y"),          # spans: "a b", "x y"
        (2, "c d c d"),          # spans: "c d", "c d" (both shared w/ 0)
        (3, "zz"),               # spans: "zz" (unique)
        (4, ""),                 # no spans
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
        for r in span_dup_stats(df, "doc_id", "text", k=2).collect()
    }
    # "a b" in docs 0+1; "c d" in docs 0+2 -> doc0: 2 of 3 spans shared;
    # doc2 repeats "c d" twice, both instances count
    assert got == {
        0: (3, 2), 1: (2, 1), 2: (2, 2), 3: (1, 0), 4: (0, 0),
    }


def test_scrub_pii_hand_computed(spark):
    from honas_spark.functions.text import scrub_pii

    rows = [
        (0, "reach me at jane.doe+spam@mail.example.org or "
            "+31 (0)20-1234567 from 192.168.1.254 thanks"),
        (1, "no pii here at all"),
        (2, "two mails a@b.io c@d.net one ip 10.0.0.1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           scrub_pii(df, "text").collect()}
    assert got[0]["n_email"] == 1 and got[0]["n_ipv4"] == 1
    assert got[0]["n_phone"] == 1
    assert got[0]["text_scrubbed"] == (
        "reach me at [EMAIL] or [PHONE] from [IP] thanks"
    )
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (0, 0, 0)
    assert got[1]["text_scrubbed"] == "no pii here at all"
    assert got[2]["n_email"] == 2 and got[2]["n_ipv4"] == 1
    assert got[2]["text_scrubbed"] == "two mails [EMAIL] [EMAIL] one ip [IP]"


def test_connected_components_hand_built(spark):
    """Chain, triangle, pair, and a long path (pointer-jumping must
    contract it within the round budget)."""
    from honas_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3),          # chain   -> comp 1
             (10, 11), (11, 12), (10, 12),  # triangle -> comp 10
             (20, 21)]                # pair    -> comp 20
    edges += [(100 + i, 101 + i) for i in range(30)]  # 31-node path
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert {got[1], got[2], got[3]} == {1}
    assert {got[10], got[11], got[12]} == {10}
    assert {got[20], got[21]} == {20}
    assert {got[100 + i] for i in range(31)} == {100}


def test_near_dedup_end_to_end(spark, docs):
    """One-call pipeline: docs 0/2/4 are exact dups and 1 a near-dup ->
    one cluster keeping doc 0; doc 3 survives untouched."""
    from honas_spark.operators.dedup import near_dedup

    out = {r["doc_id"]: (r["component"], r["keep"])
           for r in near_dedup(
               docs, "doc_id", "text", num_hashes=32, n=2,
               bands=8, min_num=1, min_den=2,
           ).collect()}
    assert out[0] == (0, 1)
    assert out[2] == (0, 0) and out[4] == (0, 0)
    assert out[1][0] == 0 and out[1][1] == 0   # near-dup joins cluster 0
    assert out[3] == (3, 1)                    # unrelated: own cluster
    assert sum(k for _, k in out.values()) == 2


def test_streaming_fractional_second_window_publishes(spark, tmp_path):
    """Sub-second windows produce fractional-second window starts whose
    Spark string rendering ('...00.5') differs from Python str()
    ('...00.500000') — the publish path must still locate every tmp
    partition dir because both keys now derive from _window_key."""
    from pyspark.sql import functions as F

    from honas_spark.spec import SketchSpec
    from honas_spark.operators import sha256_key, with_window
    from honas_spark.sources.corpus import generate_corpus
    from honas_spark.streaming.stream import StreamingSketchBuilder

    spec = SketchSpec(m_bits=1 << 14, k=5, window="500 milliseconds",
                      cms_width=256, kll_k=64)
    src_dir = str(tmp_path / "landing")
    corpus = generate_corpus(spark, 60, n_hours=1).withColumn(
        # spread commit_ts over a few sub-second windows
        "commit_ts",
        F.timestamp_millis(
            F.unix_timestamp("commit_ts") * 1000
            + (F.col("row_id") % 4) * 500
        ),
    )
    keyed = sha256_key(
        with_window(corpus, "commit_ts", spec.window), "path"
    ).select("window_start", "key_sha", "repo", "commit_ts")
    keyed.write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(keyed.schema).parquet(src_dir)
    builder = StreamingSketchBuilder(
        spec, str(tmp_path / "store"), group_cols=[],
        client_col="repo", ts_col="commit_ts",
    )
    q = builder.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = builder.read_store(spark)
    rows = got.collect()
    # at least one fractional-second window must exist AND be published
    starts = {r["window_start"] for r in rows}
    assert any(s.microsecond == 500000 for s in starts), starts
    assert sum(r["n_rows"] for r in rows) == 60


def test_lsh_params_s_curve():
    from honas_spark.operators.dedup import lsh_params

    b, r = lsh_params(0.5, 64)
    assert b * r == 64
    # the chosen curve threshold brackets the target sensibly
    t = (1.0 / b) ** (1.0 / r)
    assert abs(t - 0.5) < 0.15
    # high threshold -> few wide bands; low threshold -> many narrow
    b_hi, r_hi = lsh_params(0.9, 64)
    b_lo, r_lo = lsh_params(0.2, 64)
    assert r_hi > r_lo and b_lo > b_hi
    import pytest

    with pytest.raises(ValueError):
        lsh_params(1.5)


def test_dedup_caps_survive_universal_shingle_skew(spark):
    """Pathological skew: every doc shares one universal token.  The
    DF cap must keep the Jaccard inverted-index join from exploding
    (without it the hot posting list alone creates ~2M pairs), and the
    LSH hot-bucket cap must drop degenerate buckets — both finishing
    quickly with bounded output."""
    import time

    from honas_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    n = 2000
    rows = [(i, f"common filler{i % 400} word{i} tail{i * 7 % 991}")
            for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    t0 = time.time()
    pairs = ngram_jaccard_pairs(
        df, "doc_id", "text", n=1, min_num=1, min_den=4,
        max_shingle_freq=50,
    ).count()
    jt = time.time() - t0
    # 'common' (df=2000) and every fillerX (df=5) survive or die by the
    # cap: posting lists are <= 50, so pairs stay far below quadratic
    assert pairs < 50_000, pairs
    assert jt < 60, jt

    sig = minhash_signatures(df, "doc_id", "text", num_hashes=16, n=1)
    t0 = time.time()
    cands = minhash_lsh_candidates(
        sig, "doc_id", num_hashes=16, bands=4, max_bucket_size=30
    ).count()
    lt = time.time() - t0
    assert cands < 30 * 30 * 4 * 80, cands  # bucket-capped, not quadratic
    assert lt < 60, lt


def test_cms_probe_drops_null_tokens(spark):
    from honas_spark.operators.probe import cms_probe
    from honas_spark.spec import SketchSpec

    spec = SketchSpec(m_bits=1 << 14, k=5, cms_depth=4, cms_width=256)
    cms_bytes = bytes(8 * spec.cms_depth * spec.cms_width)
    cands = spark.createDataFrame(
        [("alpha",), (None,), ("beta",)], "token string"
    )
    rows = cms_probe(cands, cms_bytes, spec).collect()
    assert {r["token"] for r in rows} == {"alpha", "beta"}


def test_near_dedup_collapses_blank_and_exact_dups(spark):
    """Blank docs carry no shingles (no LSH path), but identical blanks
    must still collapse via the exact-fingerprint edges; exact text dups
    likewise."""
    from honas_spark.operators.dedup import near_dedup

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "THE  quick brown fox jumps over the lazy dog"),  # exact (norm)
        (2, ""),
        (3, "   \t "),     # normalized-identical to 2
        (4, "totally different text lives here unbothered"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["component"], r["keep"])
           for r in near_dedup(
               df, "doc_id", "text", num_hashes=16, n=2, bands=4
           ).collect()}
    assert got[0] == (0, 1) and got[1] == (0, 0)
    assert got[2] == (2, 1) and got[3] == (2, 0)  # blanks collapse
    assert got[4] == (4, 1)


def test_srp_hamming_tracks_angle(spark):
    """SRP property: E[hamming] = bits * angle/pi — a tiny perturbation
    of a vector lands within a few bits, an independent random vector
    near bits/2; and the signature column composes with the simhash
    banding machinery for candidate pairs."""
    from honas_spark.operators.dedup import simhash_near_pairs
    from honas_spark.operators.knn import srp_signatures

    rng = np.random.default_rng(3)
    v = rng.standard_normal(64)
    rows = [
        (0, [float(x) for x in v]),
        (1, [float(x) for x in v + rng.standard_normal(64) * 0.01]),
        (2, [float(x) for x in rng.standard_normal(64)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sig = srp_signatures(df, bits=64, dim=64)
    got = {r["vec_id"]: r["srp"] for r in sig.collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(got[0], got[1]) <= 8          # near-identical direction
    assert ham(got[0], got[2]) >= 16         # unrelated direction
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_pairs(
            sig.withColumnRenamed("srp", "simhash"), "vec_id",
            max_hamming=8,
        ).collect()
    }
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_simhash_capped_equals_uncapped_when_no_hot_buckets(spark, docs):
    """With every bucket under the cap, the collect_list pair path must
    produce exactly the self-join path's pairs."""
    sim = simhash(docs, "doc_id", "text")
    capped = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_pairs(
            sim, "doc_id", max_hamming=16, max_bucket_size=200
        ).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_pairs(
            sim, "doc_id", max_hamming=16, max_bucket_size=None
        ).collect()
    }
    assert capped == uncapped and (0, 4, 0) in capped


def test_simhash_bucket_cap_bounds_degenerate_mass(spark):
    """10k docs sharing one degenerate fingerprint region (the ~65k
    distinct 16-bit band keys saturate) must NOT go quadratic: the
    hot-bucket cap drops the mass while a genuine near-dup pair in a
    small bucket still surfaces."""
    import time

    # 10k docs whose fingerprints share all four 16-bit bands (simhash
    # exactly 0 -> one bucket per band holds all of them), plus a
    # near-dup pair far away in fingerprint space
    rows = [(i, 0) for i in range(10_000)]
    rows += [(20_001, 0x1234_5678_9ABC_DEF0),
             (20_002, 0x1234_5678_9ABC_DEF1)]  # hamming 1
    sim = spark.createDataFrame(rows, "doc_id long, simhash long")
    t0 = time.time()
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(
            sim, "doc_id", max_hamming=3, max_bucket_size=100
        ).collect()
    }
    dt = time.time() - t0
    assert pairs == {(20_001, 20_002): 1}   # mass dropped, signal kept
    assert dt < 60, dt


def test_srp_near_pairs_caps_and_finds(spark):
    """The SRP scale path (signatures + capped banding in one call):
    finds the near-identical direction, skips the unrelated one, and
    the cap knob threads through."""
    from honas_spark.operators.knn import srp_near_pairs

    rng = np.random.default_rng(3)
    v = rng.standard_normal(64)
    rows = [
        (0, [float(x) for x in v]),
        (1, [float(x) for x in v + rng.standard_normal(64) * 0.01]),
        (2, [float(x) for x in rng.standard_normal(64)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in srp_near_pairs(
            df, bits=64, max_hamming=8, max_bucket_size=50
        ).collect()
    }
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_embedding_near_dup_skew_resplit(spark):
    """One centroid attracts ~90% of the vectors: the hot-bucket
    re-split must bring every final bucket under the cap (asserted by
    promoting the residual RuntimeWarning to an error) while an
    identical-vector pair still surfaces at sim ~1."""
    import time
    import warnings

    from honas_spark.operators.knn import embedding_near_dup_pairs

    rng = np.random.default_rng(7)
    d = rng.standard_normal(8)
    d = d / np.linalg.norm(d)
    rows = []
    for i in range(1800):          # 90% mass around one direction
        v = d + rng.standard_normal(8) * 0.3
        rows.append((i, [float(x) for x in v]))
    for i in range(1800, 2000):    # 10% spread
        rows.append((i, [float(x) for x in rng.standard_normal(8)]))
    twin = [float(x) for x in d * 2.0]
    rows += [(3000, twin), (3001, twin)]   # identical direction pair
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    t0 = time.time()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        pairs = {
            (r["id_a"], r["id_b"]): r["sim"]
            for r in embedding_near_dup_pairs(
                df, n_centroids=4, min_sim=0.999, max_bucket_size=200
            ).collect()
        }
    dt = time.time() - t0
    assert (3000, 3001) in pairs
    assert pairs[(3000, 3001)] > 0.999
    # bounded: nothing remotely like the ~1.6M uncapped in-bucket pairs
    assert len(pairs) < 20_000, len(pairs)
    assert dt < 120, dt


def test_as_of_join_backward_forward_and_misses(spark):
    """As-of join semantics: latest right at-or-before (backward) /
    earliest at-or-after (forward) per key; equal timestamps match
    (inclusive); keys with no qualifying right row get NULLs."""
    from honas_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 5), (4, "b", 10),
         (5, "c", 10)],
        "id long, k string, ts long",
    )
    right = spark.createDataFrame(
        [("a", 8, 100.0), ("a", 20, 200.0), ("b", 30, 300.0)],
        "k string, ts long, v double",
    )
    back = {
        r["id"]: (r["ts_asof"], r["v_asof"])
        for r in as_of_join(
            left, right, "k", "ts", "ts", ["v"]
        ).collect()
    }
    assert back[1] == (8, 100.0)      # latest <= 10
    assert back[2] == (20, 200.0)     # equal ts matches (inclusive)
    assert back[3] == (None, None)    # nothing at or before 5
    assert back[4] == (None, None)    # b's only row is later
    assert back[5] == (None, None)    # key with no right rows at all

    fwd = {
        r["id"]: (r["ts_asof"], r["v_asof"])
        for r in as_of_join(
            left, right, "k", "ts", "ts", ["v"],
            direction="forward",
        ).collect()
    }
    assert fwd[1] == (20, 200.0)      # earliest >= 10
    assert fwd[2] == (20, 200.0)      # inclusive
    assert fwd[3] == (8, 100.0)
    assert fwd[4] == (30, 300.0)
    assert fwd[5] == (None, None)

    import pytest

    with pytest.raises(ValueError, match="backward|forward"):
        as_of_join(left, right, "k", "ts", "ts", ["v"],
                   direction="sideways")


def test_as_of_join_null_semantics(spark):
    """SQL-ASOF NULL rules: the qualifying right row is picked
    ATOMICALLY (a NULL payload inside it stays NULL — no back-fill
    from an older row), NULL right timestamps never qualify, and NULL
    left timestamps resolve to NULL in both directions."""
    from honas_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [(1, "a", 10), (2, "a", None)],
        "id long, k string, ts long",
    )
    right = spark.createDataFrame(
        [("a", 3, 1.0), ("a", 8, None), ("a", None, 9.0)],
        "k string, ts long, v double",
    )
    back = {
        r["id"]: (r["ts_asof"], r["v_asof"])
        for r in as_of_join(
            left, right, "k", "ts", "ts", ["v"]
        ).collect()
    }
    # latest row at ts=8 has v=NULL: DuckDB ASOF returns (8, NULL),
    # NOT (8, 1.0) — per-column ignorenulls would tear the rows
    assert back[1] == (8, None)
    assert back[2] == (None, None)   # NULL left ts: no match
    fwd = {
        r["id"]: (r["ts_asof"], r["v_asof"])
        for r in as_of_join(
            left, right, "k", "ts", "ts", ["v"],
            direction="forward",
        ).collect()
    }
    # forward from 10: nothing at-or-after (the NULL-ts right row with
    # v=9.0 must not leak in)
    assert fwd[1] == (None, None)
    assert fwd[2] == (None, None)


def test_as_of_join_equal_ts_tie_break_deterministic(spark):
    """Right rows sharing (key, ts) must resolve to the LAST one in
    (ts, right_cols) struct order regardless of partition layout — the
    window orderBy carries the _r struct as a tie-break (ADVICE r5:
    without it the winner was partition-order dependent)."""
    from honas_spark.operators.asof import as_of_join

    rows = [("a", 10, float(v)) for v in (3, 1, 4, 1, 5, 9, 2, 6)]
    left = spark.createDataFrame(
        [(1, "a", 10)], "id long, k string, ts long"
    )
    for nparts in (1, 3, 8):
        right = spark.createDataFrame(
            rows, "k string, ts long, v double"
        ).repartition(nparts)
        got = as_of_join(
            left, right, "k", "ts", "ts", ["v"]
        ).collect()
        assert (got[0]["ts_asof"], got[0]["v_asof"]) == (10, 9.0), (
            nparts,
            got,
        )
        fwd = as_of_join(
            left, right, "k", "ts", "ts", ["v"], direction="forward"
        ).collect()
        assert (fwd[0]["ts_asof"], fwd[0]["v_asof"]) == (10, 9.0)


def test_as_of_join_plan_one_shuffle_no_join(spark):
    """The union+window form must plan WITHOUT any join operator:
    one exchange on the key feeding a partitioned window."""
    from honas_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [(1, "a", 10)], "id long, k string, ts long"
    )
    right = spark.createDataFrame(
        [("a", 8, 1.0)], "k string, ts long, v double"
    )
    out = as_of_join(left, right, "k", "ts", "ts", ["v"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Window" in plan


def test_as_of_join_hot_key_chunked_matches_unchunked(spark):
    """Skew hardening: with ~90% of rows on one key and a threshold
    that trips, the hot key must route to the CHUNKED window (the plan
    partitions a window by (key, _chunk), so no single task sorts the
    whole key) and produce results identical to the single-window
    path — including equal-ts tie-breaks, NULL left timestamps, and
    both directions."""
    import random

    from honas_spark.operators.asof import as_of_join

    rnd = random.Random(7)
    left = spark.createDataFrame(
        [
            (
                i,
                "hot" if i % 10 else f"cold{i}",
                None if i % 97 == 0 else rnd.randrange(0, 5000),
            )
            for i in range(2000)
        ],
        "id long, k string, ts long",
    ).repartition(8)
    right = spark.createDataFrame(
        [
            (
                "hot" if i % 10 else f"cold{(i * 7) % 2000}",
                rnd.randrange(0, 5000),
                float(i),
            )
            for i in range(1000)
        ],
        "k string, ts long, v double",
    ).repartition(8)

    for direction in ("backward", "forward"):
        chunked = as_of_join(
            left, right, "k", "ts", "ts", ["v"],
            direction=direction, hot_key_threshold=200,
        )
        plain = as_of_join(
            left, right, "k", "ts", "ts", ["v"],
            direction=direction, hot_key_threshold=None,
        )
        plan = chunked._jdf.queryExecution().executedPlan().toString()
        assert "_chunk" in plan, "hot key did not take the chunked path"
        got = sorted(map(tuple, chunked.collect()))
        want = sorted(map(tuple, plain.collect()))
        assert got == want, (direction, got[:5], want[:5])


def test_interval_join_semantics_and_plan(spark):
    """Bucketized range join: inclusive bounds, empty intervals never
    match, wide intervals match across buckets exactly once, left form
    pads NULLs — and the plan contains NO nested-loop join (the thing
    Spark would produce for a naive non-equi join)."""
    from honas_spark.operators.rangejoin import interval_join

    points = spark.createDataFrame(
        [(1, 5), (2, 10), (3, 17), (4, 100)], "pid long, p long"
    )
    ivs = spark.createDataFrame(
        [(10, 5, 10), (11, 0, 30), (12, 20, 15), (13, 16, 16)],
        "iid long, lo long, hi long",
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(
            points, ivs, "p", "lo", "hi", bucket_width=4
        ).collect()
    }
    # iv 11 spans 8 buckets at W=4: each point inside matches ONCE
    assert got == {(1, 10), (1, 11), (2, 10), (2, 11), (3, 11)}
    # inclusive bounds: p=5 matches lo=5; p=10 matches hi=10
    # empty interval 12 (hi<lo) and point-interval 13 (16..16): no p=16
    left = {
        r["pid"]: r["iid"]
        for r in interval_join(
            points, ivs, "p", "lo", "hi", bucket_width=4, how="left"
        ).collect()
        if r["pid"] == 4
    }
    assert left == {4: None}  # unmatched point kept with NULLs
    plan = (
        interval_join(points, ivs, "p", "lo", "hi", bucket_width=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    # the left form must evaluate the bucketized join ONCE: each input
    # appears as exactly one scan (the old matched + anti-join shape
    # scanned points 3x and intervals 2x)
    lplan = (
        interval_join(
            points, ivs, "p", "lo", "hi", bucket_width=4, how="left"
        )._jdf.queryExecution().executedPlan().toString()
    )
    nscan = lplan.count("LocalTableScan") + lplan.count(
        "Scan ExistingRDD"
    )
    assert nscan == 2, lplan
    assert "BroadcastNestedLoop" not in lplan
    import pytest

    with pytest.raises(ValueError, match="inner\\|left"):
        interval_join(points, ivs, "p", "lo", "hi", how="full")
    # derived bucket width (None) gives the same matches
    auto = {
        (r["pid"], r["iid"])
        for r in interval_join(points, ivs, "p", "lo", "hi").collect()
    }
    assert auto == got
    # shared column names are rejected upfront (ambiguous join refs)
    with pytest.raises(ValueError, match="share column names"):
        interval_join(
            points.withColumnRenamed("pid", "iid"), ivs,
            "p", "lo", "hi",
        )
    # an interval wider than max_copies buckets raises clearly instead
    # of materializing a huge sequence()
    wide = spark.createDataFrame(
        [(99, 0, 10_000_000)], "iid long, lo long, hi long"
    )
    with pytest.raises(ValueError, match="max_copies"):
        interval_join(points, wide, "p", "lo", "hi",
                      bucket_width=4, max_copies=100)


def test_interval_join_left_null_column_no_duplicates(spark):
    """The left form's miss recovery is NULL-SAFE: a matched point row
    carrying a NULL column must not ALSO reappear as a spurious
    NULL-padded miss (plain equality anti-join would re-emit it)."""
    from honas_spark.operators.rangejoin import interval_join

    points = spark.createDataFrame(
        [(1, None, 5), (2, "t", 99)],
        "pid long, tag string, p long",
    )
    ivs = spark.createDataFrame(
        [(10, 0, 10)], "iid long, lo long, hi long"
    )
    rows = interval_join(
        points, ivs, "p", "lo", "hi", bucket_width=4, how="left"
    ).collect()
    by_pid = {}
    for r in rows:
        by_pid.setdefault(r["pid"], []).append(r["iid"])
    assert by_pid == {1: [10], 2: [None]}, by_pid


def test_embedding_near_dup_srp_method(spark):
    """method='srp' routes through the signature path: candidates from
    banded SRP signatures, exact-cosine verify on candidates only —
    near-identical directions surface with sim ~1, unrelated ones
    never do, and an invalid method raises."""
    from honas_spark.operators.knn import embedding_near_dup_pairs

    rng = np.random.default_rng(9)
    v = rng.standard_normal(64)
    rows = [
        (0, [float(x) for x in v]),
        (1, [float(x) for x in v * 1.7]),  # same direction, sim 1.0
        (2, [float(x) for x in v + rng.standard_normal(64) * 0.02]),
        (3, [float(x) for x in rng.standard_normal(64)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in embedding_near_dup_pairs(
            df, min_sim=0.99, method="srp"
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.9999
    assert (0, 2) in pairs  # tiny perturbation survives banding+verify
    assert not any(3 in p for p in pairs)
    with pytest.raises(ValueError, match="ivf\\|srp"):
        embedding_near_dup_pairs(df, method="nope").collect()


def test_simhash_banding_respects_fingerprint_width(spark):
    """A 16-bit fingerprint banded with bits=16 must slice INSIDE the
    fingerprint; banding it over the default 64 bits would create
    all-zero vacuous bands shared by every doc (quadratic pairing
    uncapped, wholesale bucket drops capped) — guarded by the bits
    divisibility check and exercised here with near/far fingerprints."""
    rows = [(0, 0x1234), (1, 0x1235), (2, 0x4BD1)]  # 0-1: hamming 1
    sim = spark.createDataFrame(rows, "doc_id long, simhash long")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_pairs(
            sim, "doc_id", max_hamming=2, bands=4, bits=16,
            max_bucket_size=None,
        ).collect()
    }
    assert (0, 1) in pairs and (0, 2) not in pairs
    with pytest.raises(ValueError, match="evenly divide"):
        simhash_near_pairs(sim, "doc_id", bands=5, bits=16)


def test_lsh_bands_must_divide_num_hashes(spark, docs):
    """bands not dividing num_hashes would silently collapse every doc
    into one bucket (rows_per_band floors to 0) — must raise."""
    from honas_spark.operators.dedup import near_dedup

    sig = minhash_signatures(docs, "doc_id", "text", num_hashes=8, n=2)
    with pytest.raises(ValueError, match="evenly divide"):
        minhash_lsh_candidates(sig, "doc_id", num_hashes=8, bands=16)
    with pytest.raises(ValueError, match="evenly divide"):
        near_dedup(docs, "doc_id", "text", num_hashes=8, bands=3)


def test_connected_components_warns_when_unconverged(spark, monkeypatch):
    from honas_spark.operators import dedup as D

    # force the distributed loop (a graph this small would otherwise
    # resolve exactly on the driver and never warn)
    monkeypatch.setattr(D, "_CC_DRIVER_MAX_EDGES", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long"
    )
    with pytest.warns(RuntimeWarning, match="did not converge"):
        D.connected_components(edges, max_iter=1).collect()


def test_srp_and_simhash_bits_guards(spark):
    import pytest

    from honas_spark.operators.dedup import simhash
    from honas_spark.operators.knn import srp_signatures

    df = spark.createDataFrame(
        [(0, [1.0] * 4)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError):
        srp_signatures(df, bits=128, dim=4)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        srp_signatures(empty)  # dim inference on empty input
    tdf = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash(tdf, "doc_id", "text", bits=65)


def test_pack_by_budget_matches_local_and_plan(spark):
    """Sequence packing: offsets equal a local prefix sum, pack_id =
    floor(offset/budget), NULL/negative counts rejected — and the plan
    has NO Exchange SinglePartition (the naive global-window cumsum
    would serialize the corpus through one task)."""
    from honas_spark.operators.packing import pack_by_budget

    rows = [(i, (i * 7) % 13 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = pack_by_budget(df, "doc_id", "n", budget=50)
    got = {r["doc_id"]: (r["offset"], r["pack_id"])
           for r in out.collect()}
    acc = 0
    for did, n in rows:
        assert got[did] == (acc, acc // 50), did
        acc += n
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan

    bad = spark.createDataFrame([(1, None)], "doc_id long, n long")
    import pytest

    with pytest.raises(ValueError, match="NULL/negative"):
        pack_by_budget(bad, "doc_id", "n", budget=10)
    with pytest.raises(ValueError, match="budget"):
        pack_by_budget(df, "doc_id", "n", budget=0)


def test_heavy_hitters_exact_and_bounded(spark):
    """Misra-Gries heavy hitters: exact when capacity covers the
    distinct count; at lossy capacity every estimate obeys
    true - n/c <= est <= true and the genuinely frequent items
    survive; merge is partition-layout independent in the exact
    regime."""
    from honas_spark.operators.heavyhitters import heavy_hitters

    # Zipf-ish stream: token t_i appears ~1000/i times
    rows = []
    for i in range(1, 40):
        rows += [(f"t{i:02d}",)] * (1000 // i)
    df = spark.createDataFrame(rows, "token string")
    n = len(rows)

    exact = {r["token"]: r["est_count"]
             for r in heavy_hitters(df, "token", k=10,
                                    capacity=1000).collect()}
    true = {}
    for (t,) in rows:
        true[t] = true.get(t, 0) + 1
    top_true = dict(sorted(true.items(),
                           key=lambda kv: (-kv[1], kv[0]))[:10])
    assert exact == top_true

    # exact regime is layout-independent
    exact2 = {r["token"]: r["est_count"]
              for r in heavy_hitters(df.repartition(13), "token", k=10,
                                     capacity=1000).collect()}
    assert exact2 == top_true

    cap = 16
    lossy = {r["token"]: r["est_count"]
             for r in heavy_hitters(df, "token", k=10,
                                    capacity=cap).collect()}
    for t, est in lossy.items():
        assert est <= true[t]
        # two-level merge (per-batch + cross-partition): error still
        # O(n/c) — allow the documented additive factor
        assert est >= true[t] - 3 * (n // cap), (t, est, true[t])
    # the top item is unmissable at this capacity
    assert "t01" in lossy

    import pytest

    with pytest.raises(ValueError, match="capacity"):
        heavy_hitters(df, "token", k=10, capacity=5)


def test_theta_sketch_agg_and_pair_ops(spark):
    """Theta/KMV sibling end-to-end: per-group est_distinct is EXACT
    below k (the sketch holds every distinct hash), pairwise
    intersection/union match exact set algebra in exact mode, the pair
    stage broadcasts the sketch table, and a small k still estimates
    within the published ~1/sqrt(k) band."""
    from honas_spark.operators.theta import theta_pair_ops, theta_sketch_agg

    rows = [("g%d" % (i % 3), "v%d" % (i % 50 + (i % 3) * 30)) for i in range(600)]
    df = spark.createDataFrame(rows, "g string, v string").repartition(8)
    sk = theta_sketch_agg(df, ["g"], "v", k=1024)
    got = {r["g"]: r["est_distinct"] for r in sk.collect()}
    truth = {}
    for g, v in rows:
        truth.setdefault(g, set()).add(v)
    assert got == {g: len(s) for g, s in truth.items()}

    pairs = theta_pair_ops(sk, ["g"], k=1024)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    pgot = {
        (r["g_a"], r["g_b"]): (r["est_intersect"], r["est_union"])
        for r in pairs.collect()
    }
    assert set(pgot) == {("g0", "g1"), ("g0", "g2"), ("g1", "g2")}
    for (ga, gb), (ei, eu) in pgot.items():
        assert ei == len(truth[ga] & truth[gb]), (ga, gb)
        assert eu == len(truth[ga] | truth[gb]), (ga, gb)

    # estimate mode: k far below the cardinality, still inside the band
    big = spark.range(0, 40_000).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("v")
    )
    est = {
        r["g"]: r["est_distinct"]
        for r in theta_sketch_agg(big, ["g"], "v", k=512).collect()
    }
    for g, n in ((0, 20_000), (1, 20_000)):
        assert abs(est[g] - n) / n < 0.15, est


def test_bigram_logprob_matches_local_model(spark):
    import math

    from honas_spark.operators.quality import bigram_logprob

    corpus = [
        (1, "a b a b a c"),   # common transitions
        (2, "c a b a"),
        (3, "b c"),           # rare transition
        (4, "x"),             # < 2 tokens -> 0/0.0
        (5, ""),
    ]
    bigs = []
    for _, text in corpus:
        t = text.split()
        bigs += list(zip(t, t[1:]))
    from collections import Counter

    c12 = Counter(bigs)
    c1 = Counter(w1 for w1, _ in bigs)
    micro = {
        bg: round(math.log(c1[bg[0]] / c) * 1e6) for bg, c in c12.items()
    }
    got = {
        r["doc_id"]: (r["n_bigrams"], r["sum_nll_micro"], r["avg_nll"])
        for r in bigram_logprob(
            spark.createDataFrame(corpus, "doc_id long, text string"),
            "doc_id", "text",
        ).collect()
    }
    for doc_id, text in corpus:
        t = text.split()
        bg = list(zip(t, t[1:]))
        s = sum(micro[b] for b in bg)
        want_avg = round(s / 1e6 / len(bg), 4) if bg else 0.0
        assert got[doc_id] == (len(bg), s, want_avg)
    # the rare-transition doc outscores the stereotypical one
    assert got[3][2] > got[1][2]


def test_token_containment_pairs_finds_subset_jaccard_misses(spark):
    """A short doc embedded verbatim in a long one: containment 1.0,
    Jaccard far below any dedup threshold."""
    from honas_spark.operators.dedup import (
        ngram_jaccard_pairs,
        token_containment_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    page = quote + " " + " ".join(f"filler{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, quote), (2, page), (3, "completely different content here")],
        "doc_id long, text string",
    )
    out = token_containment_pairs(
        docs, "doc_id", "text", n=3, min_num=9, min_den=10
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]
    r = out[0]
    assert r["inter"] == r["n_a"] and r["n_a"] < r["n_b"]
    # same pair is invisible to Jaccard at the same threshold
    jac = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, min_num=9, min_den=10
    ).collect()
    assert jac == []


def test_token_containment_integer_threshold_boundary(spark):
    """inter * den >= min(n_a, n_b) * num is evaluated in integers:
    exactly-at-threshold passes, one shingle below fails."""
    from honas_spark.operators.dedup import token_containment_pairs

    # unigram shingles: doc 1 has 4 distinct tokens, 3 shared with doc 2
    docs = spark.createDataFrame(
        [(1, "a b c x"), (2, "a b c y z w q")],
        "doc_id long, text string",
    )
    at = token_containment_pairs(
        docs, "doc_id", "text", n=1, min_num=3, min_den=4
    ).collect()
    assert [(r["id_a"], r["id_b"], r["inter"]) for r in at] == [(1, 2, 3)]
    above = token_containment_pairs(
        docs, "doc_id", "text", n=1, min_num=4, min_den=5
    ).collect()
    assert above == []


def test_semantic_dedup_components_and_reps(spark):
    """Two near-identical vector pairs + one loner: components merge to
    min id, singletons keep themselves, is_rep marks exactly one row
    per component."""
    from honas_spark.operators.knn import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),    # ~ vec 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.01, 0.999, 0.0]),    # ~ vec 3
        (5, [0.5, 0.5, 0.7071]),    # loner at ~45 deg from both axes
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: (r["component"], r["is_rep"])
        for r in semantic_dedup(
            vecs, "vec_id", "embedding", min_sim=0.99,
            n_centroids=1, max_bucket_size=None,
        ).collect()
    }
    assert out == {
        1: (1, True), 2: (1, False),
        3: (3, True), 4: (3, False),
        5: (5, True),
    }


def test_sessionize_gap_semantics_and_stats(spark):
    import datetime as dt

    from honas_spark.operators.sessionize import session_stats, sessionize

    T = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, T),                    # session 1
        (1, T + 30 * s),           # <= 60s gap, still session 1
        (1, T + 90 * s),           # exactly 60s after prev -> extends
        (1, T + 151 * s),          # 61s gap -> session 2
        (2, T),                    # independent key
    ]
    ev = spark.createDataFrame(rows, "uid long, ts timestamp")
    got = sorted(
        (r["uid"], r["ts"], r["session_seq"])
        for r in sessionize(ev, "uid", "ts", gap_sec=60).collect()
    )
    assert [(u, q) for u, _, q in got] == [
        (1, 1), (1, 1), (1, 1), (1, 2), (2, 1)
    ]
    stats = {
        (r["uid"], r["session_seq"]): (r["n_events"], r["duration_us"])
        for r in session_stats(ev, "uid", "ts", gap_sec=60).collect()
    }
    assert stats == {
        (1, 1): (3, 90_000_000), (1, 2): (1, 0), (2, 1): (1, 0)
    }
    import pytest

    with pytest.raises(ValueError):
        sessionize(ev, "uid", "ts", gap_sec=0)


def test_sessionize_equal_ts_peers_layout_invariant(spark):
    """Equal-timestamp events straddling a session boundary must land
    in the SAME session regardless of partition layout — the RANGE
    window frame guarantees peers share the boundary sum."""
    import datetime as dt

    from honas_spark.operators.sessionize import sessionize

    T = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [(1, T)] + [(1, T + 120 * s)] * 4 + [(1, T + 121 * s)]
    ev = spark.createDataFrame(rows, "uid long, ts timestamp")
    for df in (ev, ev.repartition(7), ev.coalesce(1)):
        got = sorted(
            (r["ts"], r["session_seq"])
            for r in sessionize(df, "uid", "ts", gap_sec=60).collect()
        )
        assert [q for _, q in got] == [1, 2, 2, 2, 2, 2]


def test_collocations_pmi_matches_local_model(spark):
    import math

    from honas_spark.operators.quality import collocations

    corpus = [
        (1, "new york new york city"),
        (2, "the new deal in new york"),
        (3, "the the the"),
    ]
    from collections import Counter

    bigs = []
    for _, text in corpus:
        t = text.split()
        bigs += list(zip(t, t[1:]))
    c12 = Counter(bigs)
    cl = Counter(w1 for w1, _ in bigs)
    cr = Counter(w2 for _, w2 in bigs)
    n = len(bigs)
    got = {
        (r["w1"], r["w2"]): (r["pair_count"], r["pmi_micro"])
        for r in collocations(
            spark.createDataFrame(corpus, "doc_id long, text string"),
            "text", min_count=2,
        ).collect()
    }
    want = {
        bg: (c, round(math.log(float(n) * c / (cl[bg[0]] * cr[bg[1]])) * 1e6))
        for bg, c in c12.items()
        if c >= 2
    }
    assert got == want
    assert got[("new", "york")][1] > 0  # co-occurs far above chance
    import pytest

    with pytest.raises(ValueError):
        collocations(
            spark.createDataFrame(corpus, "doc_id long, text string"),
            "text", min_count=0,
        )


def test_cumulative_distinct_exact(spark):
    import datetime as dt

    from honas_spark.operators.rollups import cumulative_distinct

    D = dt.datetime
    rows = [
        (1, D(2024, 1, 1, 5)),
        (2, D(2024, 1, 1, 9)),
        (1, D(2024, 1, 2, 1)),   # repeat -> not new
        (3, D(2024, 1, 2, 2)),
        (1, D(2024, 1, 4, 3)),   # repeat only -> day 4 absent
        (4, D(2024, 1, 5, 0)),
    ]
    ev = spark.createDataFrame(rows, "uid long, ts timestamp")
    got = [
        (r["bucket_start"].day, r["new_keys"], r["cum_distinct"])
        for r in cumulative_distinct(ev, "uid", "ts")
        .orderBy("bucket_start")
        .collect()
    ]
    assert got == [(1, 2, 2), (2, 1, 3), (5, 1, 4)]


def test_gopher_rules_integer_verdicts(spark):
    from honas_spark.operators.quality import gopher_rules

    docs = spark.createDataFrame(
        [
            # passes everything (10 words, mean len in [3,10], alpha,
            # no symbols, stopwords "the" x2)
            (1, "the quick brown fox jumps over the lazy sleepy dog"),
            # too few words
            (2, "short text"),
            # symbol-heavy: 3 hashes vs 6 words > 1/10
            (3, "the code ### uses the hash tags"),
            # no stopwords
            (4, "alpha beta gamma delta epsilon zeta eta theta iota kap"),
            # mean word length too long (all 12+ chars)
            (5, "the characteristically "
                + " ".join(["incomprehensibility"] * 8)),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["passes"], r["rule_words"], r["rule_symbol"],
            r["rule_stopwords"], r["rule_mean_len"],
        )
        for r in gopher_rules(
            docs, "doc_id", "text", min_words=5, max_words=100,
        ).collect()
    }
    assert got[1][0] is True
    assert got[2] == (False, False, True, False, True)
    assert got[3][2] is False and got[3][0] is False   # symbol rule
    assert got[4][3] is False and got[4][0] is False   # stopword rule
    assert got[5][4] is False and got[5][0] is False   # mean length


def test_gopher_alpha_count_matches_token_scan(spark):
    """n_alpha_words counts the whitespace tokens holding an ASCII
    letter: it must equal the straightforward per-token regex count
    on ordinary text (tabs, newlines, digits, punctuation, non-ASCII
    letters, empty and NULL documents)."""
    from honas_spark.operators.quality import gopher_rules

    texts = [
        "the quick brown fox",
        "  leading and trailing\tspaces\n",
        "123 456 a1 1a 1a1 ... ### x",
        "caf\u00e9 na\u00efve \u00fcber 42 \u00e9\u00e9 z",
        "!!! ??? -- a--b (c) [1] {2}",
        "",
        "\t\n  \r ",
        "mixed\tTAB\nNEWLINE 9\x0b9 end.",
        None,
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n_alpha_words"]
        for r in gopher_rules(docs, "doc_id", "text").collect()
    }
    want = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.regexp_count("text", F.lit(r"\S*[a-zA-Z]\S*")).alias("n"),
        ).collect()
    }
    assert got == want


def test_gopher_rules_linear_on_huge_letter_free_token(spark):
    """A 120 KB letter-free token must not make the alphabetic-word
    count backtrack quadratically (the old \\S*[a-zA-Z]\\S* form took
    9 s on a 40 KB token and grows with the square of its length)."""
    import time

    from honas_spark.operators.quality import gopher_rules

    docs = spark.createDataFrame(
        [(1, "the " + "7" * 120_000 + " and words end"),
         (2, "-" * 150_000)],
        "doc_id long, text string",
    )
    t0 = time.perf_counter()
    got = {
        r["doc_id"]: (r["n_words"], r["n_alpha_words"])
        for r in gopher_rules(docs, "doc_id", "text").collect()
    }
    elapsed = time.perf_counter() - t0
    assert got == {1: (5, 4), 2: (1, 0)}
    assert elapsed < 60, elapsed


def test_pq_roundtrip_recall_and_compression(spark):
    """PQ codes: encode is deterministic, ADC top-k recovers the exact
    neighbors on well-separated clusters, and the code width is m."""
    import numpy as np

    from honas_spark.operators.knn import pq_encode, pq_topk, pq_train

    rng = np.random.RandomState(7)
    centers = np.eye(4, dtype=np.float64) * 10  # 4 well-separated blobs
    rows = []
    for i in range(200):
        c = i % 4
        v = centers[c] + rng.normal(0, 0.05, 4)
        rows.append((i, [float(x) for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_train(vecs, m=2, codebook_size=8, train_rows=200)
    assert cb.shape == (2, 8, 2)
    codes = pq_encode(vecs, cb)
    first = codes.orderBy("vec_id").limit(4).collect()
    assert all(len(r["codes"]) == 2 for r in first)
    # same input -> same codes under any layout
    again = pq_encode(vecs.repartition(9), cb)
    assert (
        sorted((r["vec_id"], tuple(r["codes"])) for r in codes.collect())
        == sorted((r["vec_id"], tuple(r["codes"])) for r in again.collect())
    )
    # queries = one per blob; ADC top-5 must return same-blob members
    queries = spark.createDataFrame(
        [(q, [float(x) for x in centers[q]]) for q in range(4)],
        "query_id long, query_vec array<double>",
    )
    top = pq_topk(codes, cb, queries, k=5).collect()
    assert len(top) == 20
    for r in top:
        assert r["neighbor_id"] % 4 == r["query_id"], r
    # layout sweep: equal-adist ties (identical codes) must resolve to
    # the same ids under any partitioning — the local cut uses the same
    # (adist, id) order as the global rank
    top2 = pq_topk(codes.repartition(9), cb, queries, k=5).collect()
    as_set = lambda rs: sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in rs
    )
    assert as_set(top) == as_set(top2)
    import pytest

    with pytest.raises(ValueError):
        pq_train(vecs, m=3)  # 4 dims not divisible


def test_line_dedup_removes_shared_lines_preserves_order(spark):
    from honas_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "COPYRIGHT\nalpha one\nbeta two"),
            (2, "COPYRIGHT\ngamma three"),
            (3, "delta four\nCOPYRIGHT\ndelta four"),
            (4, "unique only"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=2).collect()}
    assert len(out) == 4
    assert out[1]["text"] == "alpha one\nbeta two"
    assert out[1]["n_kept"] == 2 and out[1]["n_removed"] == 1
    assert out[2]["text"] == "gamma three"
    # 'delta four' repeats only WITHIN doc 3 -> distinct-doc count is 1,
    # both copies survive, in order
    assert out[3]["text"] == "delta four\ndelta four"
    assert out[3]["n_removed"] == 1
    assert out[4]["text"] == "unique only" and out[4]["n_removed"] == 0


def test_line_dedup_fully_boilerplate_doc_kept_empty(spark):
    from honas_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "same\nsame2"), (2, "same\nsame2"), (3, "same")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=2).collect()}
    assert out[1]["text"] == "" and out[1]["n_kept"] == 0
    assert out[2]["n_removed"] == 2
    assert out[3]["text"] == "" and out[3]["n_removed"] == 1


def test_line_dedup_threshold_disables_removal(spark):
    from honas_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "a\nc")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=99).collect()}
    assert out[1]["text"] == "a\nb" and out[1]["n_removed"] == 0
    assert out[2]["text"] == "a\nc"


def test_zorder_key_matches_python_reference(spark):
    from honas_spark.operators.zorder import zorder_key, zorder_key_sql

    def morton(vals, bits=16):
        z = 0
        for i, v in enumerate(vals):
            v &= (1 << bits) - 1
            for b in range(bits):
                z |= ((v >> b) & 1) << (b * len(vals) + i)
        return z

    rows = [(a, d) for a in (0, 1, 5, 1499, 65535, 70000)
            for d in (0, 3, 9999)]
    df = spark.createDataFrame(rows, "a long, d long")
    out = df.select("a", "d", zorder_key("a", "d").alias("z")).collect()
    for r in out:
        assert r["z"] == morton([r["a"], r["d"]]), (r["a"], r["d"])
    # the exported SQL expression computes the identical key in Spark SQL
    df.createOrReplaceTempView("zt")
    sql_out = spark.sql(
        f"SELECT a, d, {zorder_key_sql(['a', 'd'])} AS z FROM zt"
    ).collect()
    assert sorted((r["a"], r["d"], r["z"]) for r in sql_out) == sorted(
        (r["a"], r["d"], r["z"]) for r in out
    )


def test_zorder_key_is_pure_projection(spark):
    from honas_spark.operators.zorder import zorder_key

    df = spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    plan = df.select(zorder_key("a", "b").alias("z"))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cluster_by_zorder_ranges_disjoint(spark):
    from honas_spark.operators.zorder import cluster_by_zorder

    df = spark.createDataFrame(
        [(i % 37, (i * 7) % 53) for i in range(2000)], "x long, y long"
    )
    out = cluster_by_zorder(df, ["x", "y"], num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    parts = out.select("zkey").rdd.glom().collect()
    ranges = [(min(r["zkey"] for r in p), max(r["zkey"] for r in p))
              for p in parts if p]
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # contiguous, non-overlapping key ranges
    # within each partition rows are sorted by the key
    for p in parts:
        ks = [r["zkey"] for r in p]
        assert ks == sorted(ks)


def test_zorder_key_validation():
    import pytest as _pytest
    from honas_spark.operators.zorder import zorder_key

    with _pytest.raises(ValueError):
        zorder_key()
    with _pytest.raises(ValueError):
        zorder_key("a", "b", "c", "d", bits=16)


def test_cms_join_size_bound(spark):
    import math as _math
    from honas_spark.operators.joinsize import cms_join_size

    # skewed key frequencies on both sides (zipf-ish), disjoint builds
    rows_a = [(k,) for k in range(1, 200) for _ in range(200 // k)]
    rows_b = [(k,) for k in range(1, 300) for _ in range(3 if k % 2 else 9)]
    a = spark.createDataFrame(rows_a, "k long").repartition(5)
    b = spark.createDataFrame(rows_b, "k long").repartition(3)
    fa = {}
    for (k,) in rows_a:
        fa[k] = fa.get(k, 0) + 1
    fb = {}
    for (k,) in rows_b:
        fb[k] = fb.get(k, 0) + 1
    true = sum(c * fb.get(k, 0) for k, c in fa.items())

    r = cms_join_size(a, "k", b, "k", depth=5, width=1 << 14).collect()[0]
    assert r["n_a"] == len(rows_a) and r["n_b"] == len(rows_b)
    est = r["est_join_rows"]
    bound = _math.e * len(rows_a) * len(rows_b) / (1 << 14)
    assert true <= est <= true + bound, (true, est, bound)


def test_cms_join_size_self_join_f2(spark):
    from honas_spark.operators.joinsize import cms_join_size

    rows = [(k,) for k in range(50) for _ in range(k % 7 + 1)]
    df = spark.createDataFrame(rows, "k long").repartition(4)
    freq = {}
    for (k,) in rows:
        freq[k] = freq.get(k, 0) + 1
    f2 = sum(c * c for c in freq.values())
    est = cms_join_size(df, "k", df, "k").collect()[0]["est_join_rows"]
    # tiny key set, wide sketch: estimate is exact
    assert est == f2


def test_cms_inner_product_kernel():
    import numpy as np
    from honas_spark import kernels as K

    rng = np.random.default_rng(5)
    ka = rng.integers(0, 500, 4000).astype(np.uint64)
    kb = rng.integers(0, 700, 6000).astype(np.uint64)
    a = K.cms_zero(5, 1 << 14)
    b = K.cms_zero(5, 1 << 14)
    K.cms_add(a, ka)
    K.cms_add(b, kb)
    ca = np.bincount(ka.astype(int), minlength=700)
    cb = np.bincount(kb.astype(int), minlength=700)
    true = int((ca * cb).sum())
    est = K.cms_inner_product(a, b)
    import math as _math
    assert true <= est <= true + _math.e * 4000 * 6000 / (1 << 14)


# ---------------------------------------------------------------------------
# Bloom-pruned join (operators/bloomjoin.py)
# ---------------------------------------------------------------------------


def test_bloom_prune_join_exact_vs_plain_join(spark):
    from honas_spark.operators.bloomjoin import bloom_prune_join

    big = spark.createDataFrame(
        [(i, i % 500) for i in range(5000)], "rid long, k long"
    ).repartition(4)
    small = spark.createDataFrame(
        [(k, f"v{k}") for k in range(0, 500, 25)], "k long, payload string"
    )
    got = bloom_prune_join(big, "k", small, "k").collect()
    want = big.join(small, on="k").collect()
    key = lambda r: (r["rid"], r["k"])
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) == 200  # 20 matching keys x 10 rows each


def test_bloom_prune_join_null_keys_never_match(spark):
    from honas_spark.operators.bloomjoin import bloom_prune_join

    big = spark.createDataFrame(
        [(1, None), (2, 7), (3, 8)], "rid long, k long"
    )
    small = spark.createDataFrame([(7,), (None,)], "k long")
    got = bloom_prune_join(big, "k", small, "k").collect()
    assert [(r["rid"], r["k"]) for r in got] == [(2, 7)]


def test_build_key_bloom_superset_and_fpr(spark):
    import numpy as np

    from honas_spark import kernels as K
    from honas_spark.operators.bloomjoin import build_key_bloom

    members = spark.createDataFrame(
        [(i,) for i in range(1000)], "k long"
    ).repartition(3)
    filt_bytes, stats = build_key_bloom(members, "k", fpp=1e-3)
    assert stats["n_keys"] == 1000
    filt = K.bloom_unpack(filt_bytes, 1, stats["m_bits"] // 8)[0]

    # no false negatives: every member's xxhash64 must probe True
    member_h = np.array(
        [
            r["h"]
            for r in members.selectExpr("xxhash64(k) AS h").collect()
        ],
        dtype=np.int64,
    ).view(np.uint64)
    hit = K.bloom_probe(
        filt, K.bloom64_offsets(member_h, stats["m_bits"], stats["k"])
    )
    assert hit.all()

    # false-positive rate over disjoint keys stays near the target
    non = spark.createDataFrame(
        [(i,) for i in range(1_000_000, 1_020_000)], "k long"
    )
    non_h = np.array(
        [r["h"] for r in non.selectExpr("xxhash64(k) AS h").collect()],
        dtype=np.int64,
    ).view(np.uint64)
    fp = K.bloom_probe(
        filt, K.bloom64_offsets(non_h, stats["m_bits"], stats["k"])
    ).sum()
    assert fp / 20_000 < 10 * 1e-3, fp  # 10x slack on a 20k sample


def test_bloom64_offsets_shape_and_range():
    import numpy as np

    from honas_spark import kernels as K

    keys = np.arange(100, dtype=np.uint64) * 0x9E3779B97F4A7C15
    off = K.bloom64_offsets(keys, 1 << 12, 7)
    assert off.shape == (100, 7)
    assert off.min() >= 0 and off.max() < (1 << 12)
    # deterministic
    assert (off == K.bloom64_offsets(keys, 1 << 12, 7)).all()


# ---------------------------------------------------------------------------
# Table profile (operators/profile.py)
# ---------------------------------------------------------------------------


def test_profile_table_counts_nulls_and_entropy(spark):
    import math as _math

    from honas_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "a"), (None, "b")],
        "x long, s string",
    )
    rows = {r["col_name"]: r for r in profile_table(df).collect()}
    assert rows["x"]["n_rows"] == 5
    assert rows["x"]["n_nonnull"] == 4
    assert rows["x"]["n_distinct"] == 4
    assert rows["x"]["min_val"] == "1" and rows["x"]["max_val"] == "4"
    # uniform over 4 values -> H = ln(4)
    assert rows["x"]["entropy_mnats"] == _math.floor(_math.log(4) * 1000)
    assert rows["s"]["n_nonnull"] == 4
    assert rows["s"]["n_distinct"] == 2
    # two values, 2/2 split of the non-nulls -> ln(2)
    assert rows["s"]["entropy_mnats"] == _math.floor(_math.log(2) * 1000)


def test_profile_table_all_null_column(spark):
    from honas_spark.operators.profile import profile_table

    df = spark.createDataFrame([(1, None), (2, None)], "x long, s string")
    rows = {r["col_name"]: r for r in profile_table(df, ["s"]).collect()}
    r = rows["s"]
    assert r["n_rows"] == 2 and r["n_nonnull"] == 0
    assert r["n_distinct"] == 0 and r["entropy_mnats"] == 0
    assert r["min_val"] is None and r["max_val"] is None


def test_profile_table_single_scan(spark, tmp_path):
    from honas_spark.operators.profile import profile_table

    p = str(tmp_path / "prof.parquet")
    spark.range(100).selectExpr(
        "id AS a", "id % 3 AS b", "CAST(id AS STRING) AS c"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


# ---------------------------------------------------------------------------
# PageRank (operators/graph.py)
# ---------------------------------------------------------------------------


def test_pagerank_two_node_cycle_fixed_point(spark):
    from honas_spark.operators.graph import pagerank

    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    rows = {
        r["node"]: r["rank_micro"]
        for r in pagerank(e, iterations=8).collect()
    }
    # the symmetric cycle is the fixed point of the update itself:
    # 150000 + floor(0.85 * 1_000_000) = 1_000_000
    assert rows == {1: 1_000_000, 2: 1_000_000}


def test_pagerank_star_matches_local_model(spark):
    from honas_spark.operators.graph import pagerank

    # 4 leaves -> center 0; center -> leaf 1
    edges = [(i, 0) for i in range(1, 5)] + [(0, 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank(e, iterations=5).collect()
    }

    # exact local replay of the integer recurrence
    nodes = {0, 1, 2, 3, 4}
    outdeg = {0: 1, 1: 1, 2: 1, 3: 1, 4: 1}
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(5):
        s = {n: 0 for n in nodes}
        for u, v in edges:
            s[v] += rank[u] // outdeg[u]
        rank = {n: 150_000 + (s[n] * 85) // 100 for n in nodes}
    assert got == rank


def test_pagerank_ignores_null_endpoints(spark):
    from honas_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(1, 2), (None, 2), (1, None)], "src long, dst long"
    )
    rows = pagerank(e, iterations=2).collect()
    assert {r["node"] for r in rows} == {1, 2}


# ---------------------------------------------------------------------------
# MAD outliers (operators/robust.py)
# ---------------------------------------------------------------------------


def test_mad_outliers_hand_computed(spark):
    from honas_spark.operators.robust import mad_outliers

    # group g: values 1..9 plus a 100 outlier; med=5.5 over 10 values
    vals = [float(v) for v in range(1, 10)] + [100.0]
    df = spark.createDataFrame([("g", v) for v in vals], "grp string, v double")
    r = mad_outliers(df, ["grp"], "v", z=3.0).collect()[0]
    assert r["n"] == 10
    assert r["med"] == 5.5
    # deviations: 4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,94.5 -> MAD 2.5
    assert r["mad"] == 2.5
    # only 100 exceeds 5.5 + 3*2.5 = 13
    assert r["n_outliers"] == 1


def test_mad_outliers_nulls_and_degenerate_group(spark):
    from honas_spark.operators.robust import mad_outliers

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 1.0), ("b", 2.0)],
        "grp string, v double",
    )
    rows = {r["grp"]: r for r in mad_outliers(df, ["grp"], "v").collect()}
    assert rows["a"]["n"] == 2  # null ignored
    assert rows["a"]["mad"] == 0.0 and rows["a"]["n_outliers"] == 0
    assert rows["b"]["n"] == 1 and rows["b"]["n_outliers"] == 0


def test_hampel_filter_hand_computed(spark):
    from honas_spark.operators.robust import hampel_filter

    # series 1,1,1,10,1,1,1: only the centered frame around the spike
    # has it as its own center; every frame's median is 1 and MAD 0,
    # so exactly the spike row (dev 9 > z*0) is flagged
    df = spark.createDataFrame(
        [("u", i, 10.0 if i == 4 else 1.0) for i in range(1, 8)],
        "k string, t int, v double",
    )
    rows = {
        r["t"]: r
        for r in hampel_filter(
            df, ["k"], ["t"], "v", half_window=2, z=3.0
        ).collect()
    }
    assert [rows[t]["is_outlier"] for t in range(1, 8)] == [0, 0, 0, 1, 0, 0, 0]
    # edge rows see truncated frames: rn=1 -> rows 1..3, rn=2 -> 1..4
    assert rows[1]["n_frame"] == 3
    assert rows[2]["n_frame"] == 4
    assert rows[4]["n_frame"] == 5
    assert rows[7]["n_frame"] == 3
    assert rows[4]["med"] == 1.0 and rows[4]["mad"] == 0.0


def test_hampel_filter_keys_independent_and_nulls(spark):
    from honas_spark.operators.robust import hampel_filter

    # a second key with its own scale must not borrow frames from the
    # first; nulls drop before row-numbering (frames close over them)
    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, None), ("a", 3, 1.0), ("a", 4, 1.0),
         ("b", 1, 1000.0), ("b", 2, 1000.0), ("b", 3, 1000.0)],
        "k string, t int, v double",
    )
    out = hampel_filter(df, ["k"], ["t"], "v", half_window=1).collect()
    assert len(out) == 6  # the null row is gone
    assert all(r["is_outlier"] == 0 for r in out)
    a = {r["t"]: r for r in out if r["k"] == "a"}
    # rn(1)=1, rn(3)=2, rn(4)=3: the middle frame spans all three rows
    assert a[3]["n_frame"] == 3


def test_fuzzy_pairs_blocking_and_distance(spark):
    from honas_spark.operators.fuzzyjoin import fuzzy_pairs

    df = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, "mitten"),
         (4, "zzzzzz"),                      # same length, distance > 2
         (5, "aitten"), (6, "kitteb")],      # both ends differ: blocked out
        "id int, name string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_pairs(df, "id", "name", max_distance=2).collect()
    }
    # the *itten family shares the s:en block; each pair is distance 1-2
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(2, 3)] == 1
    assert got[(1, 5)] == 1 and got[(2, 5)] == 1 and got[(3, 5)] == 1
    assert got[(1, 6)] == 1
    assert (1, 4) not in got and (2, 4) not in got
    # (5, 6) differ in BOTH first two and last two chars -> out of
    # blocking scope by construction even though distance is 2
    assert (5, 6) not in got


def test_fuzzy_pairs_block_cap_and_case(spark):
    from honas_spark.operators.fuzzyjoin import fuzzy_pairs

    trip = spark.createDataFrame(
        [(1, "Same"), (2, "saME "), (3, "same")], "id int, name string"
    )
    # normalization: lower+trim makes all three identical (distance 0)
    got = fuzzy_pairs(trip, "id", "name").collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2), (1, 3), (2, 3)}
    assert all(r["dist"] == 0 for r in got)
    # every block holds all 3 rows; cap 2 deterministically drops them
    assert fuzzy_pairs(trip, "id", "name", max_block_size=2).count() == 0


# ---------------------------------------------------------------------------
# KS drift (operators/drift.py)
# ---------------------------------------------------------------------------


def test_ks_drift_hand_computed(spark):
    from honas_spark.operators.drift import ks_drift

    # disjoint supports -> KS = 1
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)],
        "s string, v double",
    )
    r = ks_drift(df, "v", "s", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert int(r["ks_num"]) == 4 and r["ks"] == 1.0

    # identical samples -> KS = 0
    same = spark.createDataFrame(
        [(s, float(v)) for s in ("a", "b") for v in (1, 2, 3)],
        "s string, v double",
    )
    r = ks_drift(same, "v", "s", "a", "b").collect()[0]
    assert int(r["ks_num"]) == 0 and r["ks"] == 0.0

    # ties across sides: a=[1,1,2] b=[1,2,2] -> max|ca*3 - cb*3| = 3
    t = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 2.0),
         ("b", 1.0), ("b", 2.0), ("b", 2.0)],
        "s string, v double",
    )
    r = ks_drift(t, "v", "s", "a", "b").collect()[0]
    assert int(r["ks_num"]) == 3 and r["ks"] == 0.333333


def test_ks_drift_partition_layout_independent(spark):
    from honas_spark.operators.drift import ks_drift

    rows = [("a", float(i % 17)) for i in range(200)] + [
        ("b", float((i * 7) % 23)) for i in range(150)
    ]
    df = spark.createDataFrame(rows, "s string, v double")
    got = {
        p: ks_drift(df, "v", "s", "a", "b", num_partitions=p)
        .collect()[0]
        .asDict()
        for p in (1, 3, 16)
    }
    assert got[1] == got[3] == got[16]
    assert got[1]["n_a"] == 200 and got[1]["n_b"] == 150


def test_ks_drift_null_nan_excluded_and_empty_side_raises(spark):
    import math
    import pytest
    from honas_spark.operators.drift import ks_drift

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", math.nan), ("b", 1.0), ("c", 9.0)],
        "s string, v double",
    )
    r = ks_drift(df, "v", "s", "a", "b").collect()[0]
    # null/NaN dropped from side a; side c ignored entirely
    assert (r["n_a"], r["n_b"]) == (1, 1) and r["ks"] == 0.0
    with pytest.raises(ValueError, match="non-empty"):
        ks_drift(df.filter("s <> 'b'"), "v", "s", "a", "b")


def test_extract_audio_features_hand_computed(spark):
    from honas_spark.functions.multimodal import extract_audio_features

    payloads = [
        (1, b"abcd" * 100),   # 400 bytes -> windows of 256: [256, 144]
        (2, b""),             # empty -> one zero window
        (3, b"\x01" * 256),   # exactly one full window
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    rows = {
        (r["doc_id"], r["window_idx"]): r
        for r in extract_audio_features(df, "payload", "doc_id").collect()
    }
    s = sum(b"abcd")  # 394 per 4 bytes
    assert rows[(1, 0)]["n_samples"] == 256
    assert rows[(1, 0)]["code_sum"] == s * 64  # 256/4 repeats
    assert rows[(1, 1)]["n_samples"] == 144
    assert rows[(1, 1)]["code_sum"] == s * 36
    assert rows[(2, 0)]["n_samples"] == 0 and rows[(2, 0)]["code_sum"] == 0
    assert rows[(3, 0)]["n_samples"] == 256 and rows[(3, 0)]["code_sum"] == 256
    assert len(rows) == 4


def test_resolve_entities_components_and_singletons(spark):
    from honas_spark.operators.fuzzyjoin import resolve_entities

    df = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, "mitten"),   # one entity via 2
         (7, "zzzzzz"),                                  # singleton
         (9, "walrus"), (10, "walrux")],                 # pair entity
        "id int, name string",
    )
    rows = {r["id"]: r for r in resolve_entities(df, "id", "name").collect()}
    assert len(rows) == 6
    assert rows[1]["entity"] == rows[2]["entity"] == rows[3]["entity"] == 1
    assert rows[9]["entity"] == rows[10]["entity"] == 9
    assert rows[7]["entity"] == 7 and rows[7]["is_canonical"]
    assert rows[1]["is_canonical"] and not rows[2]["is_canonical"]
    assert not rows[10]["is_canonical"]


def test_equi_depth_hist_hand_computed(spark):
    from honas_spark.operators.profile import equi_depth_hist

    # values 0..9 once each, 2 buckets -> exact halves
    df = spark.createDataFrame(
        [(float(i),) for i in range(10)], "v double"
    )
    rows = {r["bucket"]: r for r in equi_depth_hist(df, "v", 2).collect()}
    assert rows[0]["lo"] == 0.0 and rows[0]["hi"] == 4.0
    assert rows[1]["lo"] == 5.0 and rows[1]["hi"] == 9.0
    assert rows[0]["n_rows"] == rows[1]["n_rows"] == 5
    assert rows[0]["n_distinct"] == 5

    # a heavy value is atomic: 8x value 1 + 1,9 -> bucket 0 holds the
    # mass, later buckets thin out
    skew = spark.createDataFrame(
        [(1.0,)] * 8 + [(0.0,), (9.0,)], "v double"
    )
    rows = {r["bucket"]: r for r in equi_depth_hist(skew, "v", 5).collect()}
    assert rows[0]["n_rows"] == 9  # 0.0 (cum 0) and 1.0 (cum 1) both land in bucket 0
    assert rows[4]["n_rows"] == 1 and rows[4]["lo"] == 9.0


def test_equi_depth_hist_layout_invariance_and_edges(spark):
    import math
    import pytest
    from honas_spark.operators.profile import equi_depth_hist

    rows = [(float((i * 13) % 97),) for i in range(500)] + [
        (None,), (math.nan,)
    ]
    df = spark.createDataFrame(rows, "v double")
    got = {
        p: [r.asDict() for r in
            equi_depth_hist(df, "v", 7, num_partitions=p).collect()]
        for p in (1, 4, 16)
    }
    assert got[1] == got[4] == got[16]
    assert sum(r["n_rows"] for r in got[1]) == 500  # null/NaN excluded
    with pytest.raises(ValueError, match="buckets"):
        equi_depth_hist(df, "v", 0)
    assert equi_depth_hist(df.filter("v IS NULL"), "v", 3).count() == 0


def test_psi_drift_hand_computed_and_edges(spark):
    import math
    import pytest
    from honas_spark.operators.drift import psi_drift

    # identical samples -> every term 0
    df = spark.createDataFrame(
        [(s, float(v)) for s in ("a", "b") for v in (1, 2, 3, 9)],
        "s string, v double",
    )
    rows = psi_drift(df, "v", "s", "a", "b", lo=0.0, hi=10.0,
                     buckets=5).collect()
    assert len(rows) == 5
    assert all(r["term_micro"] == 0 and r["psi_micro"] == 0 for r in rows)

    # full shift: a in bin 0, b in bin 4; hand-compute the smoothed PSI
    sh = spark.createDataFrame(
        [("a", 0.5)] * 4 + [("b", 9.5)] * 4, "s string, v double"
    )
    rows = {r["bin"]: r for r in psi_drift(
        sh, "v", "s", "a", "b", lo=0.0, hi=10.0, buckets=5
    ).collect()}
    def p(c):
        return (c + 0.5) / (4 + 0.5 * 5)
    want0 = round((p(4) - p(0)) * math.log(p(4) / p(0)) * 1e6)
    assert rows[0]["term_micro"] == want0
    assert rows[4]["term_micro"] == want0  # symmetric
    assert rows[0]["n_a"] == 4 and rows[0]["n_b"] == 0
    assert rows[1]["n_a"] == rows[1]["n_b"] == 0  # empty bin kept
    assert rows[0]["psi_micro"] == sum(r["term_micro"] for r in rows.values())

    # out-of-range clamps into edge bins; validation errors
    cl = spark.createDataFrame(
        [("a", -5.0), ("b", 99.0)], "s string, v double"
    )
    got = {r["bin"]: r for r in psi_drift(
        cl, "v", "s", "a", "b", lo=0.0, hi=10.0, buckets=2
    ).collect()}
    assert got[0]["n_a"] == 1 and got[1]["n_b"] == 1
    with pytest.raises(ValueError, match="buckets"):
        psi_drift(cl, "v", "s", "a", "b", lo=0.0, hi=1.0, buckets=0)
    with pytest.raises(ValueError, match="hi"):
        psi_drift(cl, "v", "s", "a", "b", lo=1.0, hi=1.0)


def test_cross_dedup_pairs_finds_cross_side_only(spark):
    from honas_spark.operators.dedup import cross_dedup_pairs

    A = ("the quick brown fox jumps over the lazy dog near the old "
         "stone bridge while badgers watch")
    A_NEAR = A.replace("dog", "cat")
    B = "completely different vocabulary lives in this document"
    left = spark.createDataFrame(
        [(1, A), (2, B), (3, "   ")], "doc_id long, text string"
    )
    right = spark.createDataFrame(
        [(10, A_NEAR), (11, "yet another unrelated text entirely"),
         (12, A)],  # exact copy
        "doc_id long, text string",
    )
    got = {
        (r["left_id"], r["right_id"]): r["n_bands_matched"]
        for r in cross_dedup_pairs(
            left, right, "doc_id", "text",
            num_hashes=16, n=2, bands=8,
        ).collect()
    }
    assert (1, 12) in got and got[(1, 12)] == 8  # exact copy: all bands
    assert (1, 10) in got and got[(1, 10)] >= 1  # near copy: some bands
    assert (2, 11) not in got                    # unrelated never pairs
    assert all(k[0] in (1, 2) for k in got)      # left x right only
    # blank doc carries no signature
    assert not any(k[0] == 3 for k in got)


def test_cross_dedup_pairs_side_cap_drops_hot_bucket(spark):
    from honas_spark.operators.dedup import cross_dedup_pairs

    # 30 identical left docs x 1 right copy: every band bucket holds 30
    # left members; cap 10 drops them all deterministically
    left = spark.createDataFrame(
        [(i, "same words repeated here always") for i in range(30)],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(100, "same words repeated here always")],
        "doc_id long, text string",
    )
    kw = dict(num_hashes=16, n=2, bands=8)
    assert cross_dedup_pairs(
        left, right, "doc_id", "text", max_bucket_side=10, **kw
    ).count() == 0
    assert cross_dedup_pairs(
        left, right, "doc_id", "text", max_bucket_side=30, **kw
    ).count() == 30


def test_triangle_count_hand_computed(spark):
    from honas_spark.operators.graph import triangle_count

    # K3 plus a tail; duplicates / reversed / self-loop edges collapse
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (3, 4), (4, 4), (2, 1)],
        "src int, dst int",
    )
    r = triangle_count(edges).collect()[0]
    assert (r["n_edges"], r["n_triangles"]) == (4, 1)

    # star graph (celebrity hub): zero triangles, orientation keeps
    # the hub on the receiving side
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 40)], "src int, dst int"
    )
    r = triangle_count(star).collect()[0]
    assert (r["n_edges"], r["n_triangles"]) == (39, 0)

    # K4 has C(4,3)=4 triangles
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "src int, dst int",
    )
    assert triangle_count(k4).collect()[0]["n_triangles"] == 4


def test_group_ols_hand_computed(spark):
    from honas_spark.operators.regress import group_ols

    # y = 2x + 1 exactly for group a; constant x for group b
    rows = [("a", float(x), 2.0 * x + 1.0) for x in range(1, 6)] + [
        ("b", 3.0, float(v)) for v in (1, 2, 3)
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: r for r in group_ols(df, ["g"], "x", "y").collect()}
    assert got["a"]["slope"] == 2.0 and got["a"]["intercept"] == 1.0
    assert got["a"]["n"] == 5
    # fixed-point moments: x scaled by 1e4 -> sx = (1+..+5)*1e4
    assert int(got["a"]["sx"]) == 15 * 10**4
    # zero x-variance: undefined line -> NULLs, not an error
    assert got["b"]["slope"] is None and got["b"]["intercept"] is None


def test_group_ols_layout_invariant_and_validation(spark):
    import pytest
    from honas_spark.operators.regress import group_ols

    rows = [("g", float(i % 13), float((i * 7) % 29)) for i in range(400)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    a = group_ols(df, ["g"], "x", "y").collect()[0].asDict()
    b = group_ols(df.repartition(17), ["g"], "x", "y").collect()[0].asDict()
    assert a == b  # moments are order-free integers; slope from them
    with pytest.raises(ValueError, match="scale"):
        group_ols(df, ["g"], "x", "y", scale=12)


def test_rank_normalize_hand_computed(spark):
    from honas_spark.operators.profile import rank_normalize

    # 1,2,2,5: ranks 1, 2, (2 dup), 4; n_total=4 -> pct over 3
    df = spark.createDataFrame(
        [(1.0,), (2.0,), (2.0,), (5.0,)], "v double"
    )
    rows = {r["value"]: r for r in rank_normalize(df, "v").collect()}
    assert rows[1.0]["min_rank"] == 1 and rows[1.0]["pct_micro"] == 0
    assert rows[2.0]["min_rank"] == 2 and rows[2.0]["n"] == 2
    assert rows[2.0]["pct_micro"] == 1_000_000 // 3
    assert rows[5.0]["min_rank"] == 4 and rows[5.0]["pct_micro"] == 1_000_000

    # layout invariance + single-row degenerate
    df2 = spark.createDataFrame(
        [(float((i * 11) % 23),) for i in range(200)], "v double"
    )
    a = sorted(map(tuple, rank_normalize(df2, "v", num_partitions=1).collect()))
    b = sorted(map(tuple, rank_normalize(df2, "v", num_partitions=9).collect()))
    assert a == b
    one = rank_normalize(
        spark.createDataFrame([(7.0,)], "v double"), "v"
    ).collect()[0]
    assert one["min_rank"] == 1 and one["pct_micro"] == 0
