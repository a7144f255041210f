"""Document repetition signals — Gopher-style quality filters for
training-data pipelines (Rae et al. 2021, "Scaling Language Models",
appendix A1.1: fraction of duplicate n-grams and the share of the most
frequent n-gram flag boilerplate/spam documents).

Scale shape (100 TB): two hash aggregations, both map-side partial.
The shuffle never carries content — grams are folded to a 16-char md5
prefix before the exchange (same portable-hash trick as the minhash
md5 knob, so a SQL oracle recomputes the exact same groups), and the
second aggregation carries only (doc_id, count) pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.text import stopword_count, tokens


from .common import duckdb_round
from .common import resplit_small as _resplit_small  # shared rule


def _ngrams_from_toks(toks_col, n: int = 2):
    """n-gram array from a token array expression.  n=2 folds the two
    shifted slices with zip_with; general n keeps transform(sequence)
    — LINEAR only when `toks_col` is a bound attribute, because an
    expression captured in the lambda re-evaluates per produced gram
    (see _bigram_rows for the 16x measurement).  Callers over big
    corpora must project tokens(text) into a column first."""
    sz = F.size(toks_col)
    if n == 2:
        return F.when(
            sz >= 2,
            F.zip_with(
                F.slice(toks_col, 1, F.greatest(sz - 1, F.lit(0))),
                F.slice(toks_col, 2, F.greatest(sz - 1, F.lit(0))),
                lambda x, y: F.concat(x, F.lit(" "), y),
            ),
        ).otherwise(F.array().cast("array<string>"))
    return F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(0), sz - n),
            lambda i: F.array_join(F.slice(toks_col, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngrams(col, n: int = 2):
    """Word n-grams of a text column WITH multiplicity (unlike
    dedup.shingles, which deduplicates) — repetition counting needs the
    duplicates.  Empty array for docs with < n tokens."""
    return _ngrams_from_toks(tokens(col), n)


def _gram_bloom_build(bgrams: DataFrame, fpr: float):
    """Distributed Bloom build over an eval-gram hash column ``x``
    (int64): per-partition partial bitsets (sparse-packed with the
    sketch library's own bloom_pack) OR-merged on the driver.
    -> (bitset bytes, m_bits, k)."""
    import numpy as np

    from .. import kernels as K

    n = bgrams.count()
    m_bits = max(1024, K.bloom_filter_size(fpr, max(n, 1)))
    k = max(1, K.optimal_k(max(n, 1), m_bits))
    m_bytes = (m_bits + 7) // 8

    def build(batches):
        filt = None
        for pdf in batches:
            if pdf.empty:
                continue
            if filt is None:
                filt = np.zeros(m_bytes, dtype=np.uint8)
            x = pdf["x"].to_numpy(dtype=np.int64).view(np.uint64)
            idx = K._cms_indexes(x, k, m_bits)
            np.bitwise_or.at(
                filt,
                (idx >> 3).reshape(-1),
                (np.uint8(1) << (idx & 7).astype(np.uint8)).reshape(-1),
            )
        if filt is not None:
            yield pd.DataFrame(
                {"part": [K.bloom_pack(filt.reshape(1, m_bytes))]}
            )

    parts = bgrams.mapInPandas(build, schema="part binary").collect()
    filt = np.zeros(m_bytes, dtype=np.uint8)
    for r in parts:
        filt |= K.bloom_unpack(r["part"], 1, m_bytes).reshape(-1)
    return filt.tobytes(), m_bits, k


def contamination_flags(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str = "text",
    n: int = 13,
    broadcast_bench: bool = True,
    method: str = "join",
    bloom_fpr: float = 0.01,
) -> DataFrame:
    """Benchmark decontamination — flag training documents that share
    any word n-gram with an evaluation set (the GPT-3 appendix-C /
    PaLM / Llama 13-gram overlap filter).

    Output per doc: (id, n_hit_grams, n_hit_uniq, contaminated) — total
    overlapping gram occurrences, distinct overlapping grams, 0/1 flag.
    Unflagged docs appear with zeros, so the output is a full corpus
    annotation, not just the hit list.

    Scale shape: the eval set's distinct grams fold to 16-char md5
    prefixes (shuffle carries hashes, not text) and broadcast when
    small (the common case: eval suites are MBs against a 100 TB
    corpus); set broadcast_bench=False for a shuffle_hash semi-join
    when the benchmark side is itself huge.

    method="bloom" targets the middle regime where the eval-gram set
    is too big for an exact broadcast hash relation but fits as a
    bitset (~10 bits/gram at the default 1% FPR vs ~50+ bytes/entry in
    a broadcast hash table): the eval grams build a Bloom filter
    DISTRIBUTIVELY with the library's own kernels (per-partition
    partials, sparse-packed, OR-merged — A1/A2 dogfooded), the bitset
    broadcasts to every task, and doc grams flow through a vectorized
    numpy probe BEFORE the exact join.  Only survivors (true hits +
    ~bloom_fpr of the stream) ever reach the join, so at 100 TB the
    join input shrinks ~100x while the flags stay EXACT — the Bloom
    has no false negatives and the exact join kills its false
    positives (gated cross-engine as decontaminate_bloom against the
    same oracle as the join path)."""
    if method not in ("join", "bloom"):
        raise ValueError(f"method must be 'join' or 'bloom': {method!r}")
    if not (0.0 < bloom_fpr < 1.0):
        raise ValueError(f"bloom_fpr must be in (0, 1): {bloom_fpr}")
    bgrams = (
        bench.select(tokens(F.col(bench_text_col)).alias("_tk"))
        .select(
            F.explode(_ngrams_from_toks(F.col("_tk"), n)).alias("gram")
        )
        .select(F.substring(F.md5("gram"), 1, 16).alias("g"))
        .distinct()
    )
    if method == "bloom":
        bits, m_bits, bloom_k = _gram_bloom_build(
            bgrams.select(F.xxhash64("g").alias("x")), bloom_fpr
        )
        bloom_bc = docs.sparkSession.sparkContext.broadcast(
            (bits, m_bits, bloom_k)
        )
    if broadcast_bench:
        bgrams = F.broadcast(bgrams)
    dgrams = _resplit_small(docs).select(
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col)).alias("_tk"),
    ).select(
        "_id",
        F.explode(_ngrams_from_toks(F.col("_tk"), n)).alias("gram"),
    ).select("_id", F.substring(F.md5("gram"), 1, 16).alias("g"))
    if method == "bloom":
        import numpy as np

        from .. import kernels as K

        id_ddl = dgrams.schema["_id"].dataType.simpleString()

        def bloom_probe(batches):
            buf, mb, bk = bloom_bc.value
            filt = np.frombuffer(buf, dtype=np.uint8)
            for pdf in batches:
                if pdf.empty:
                    continue
                x = pdf["x"].to_numpy(dtype=np.int64).view(np.uint64)
                idx = K._cms_indexes(x, bk, mb)
                hit = (
                    (filt[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
                ).all(axis=0)
                out = pdf.loc[hit.astype(bool), ["_id", "g"]]
                if len(out):
                    yield out

        dgrams = dgrams.withColumn("x", F.xxhash64("g")).mapInPandas(
            bloom_probe, schema=f"_id {id_ddl}, g string"
        )
    hits = (
        dgrams.join(bgrams, "g", "inner")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit_grams"),
            F.countDistinct("g").alias("n_hit_uniq"),
        )
    )
    base = docs.select(F.col(id_col))
    return base.join(hits, base[id_col] == hits["_id"], "left").select(
        id_col,
        F.coalesce("n_hit_grams", F.lit(0)).alias("n_hit_grams"),
        F.coalesce("n_hit_uniq", F.lit(0)).alias("n_hit_uniq"),
        (F.coalesce("n_hit_grams", F.lit(0)) > 0).cast("int").alias(
            "contaminated"
        ),
    )


def ngram_repetition(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Per-document n-gram repetition stats, exact integers:

      n_grams   total n-gram occurrences (len(tokens)-n+1, 0 if short)
      n_uniq    distinct n-grams
      max_gram  occurrences of the most frequent n-gram
      dup_occ   total occurrences belonging to repeated n-grams

    Downstream filters derive the published fractions from these
    (top-n-gram share = max_gram/n_grams, duplicate-n-gram fraction =
    dup_occ/n_grams); integers keep the driver's value-hash gate
    byte-stable across engines."""
    g = _resplit_small(df).select(
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col)).alias("_tk"),
    ).select(
        "_id",
        F.explode(_ngrams_from_toks(F.col("_tk"), n)).alias("gram"),
    ).select(
        "_id", F.substring(F.md5(F.col("gram")), 1, 16).alias("g")
    )
    per_gram = g.groupBy("_id", "g").agg(F.count(F.lit(1)).alias("c"))
    per_doc = per_gram.groupBy("_id").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_uniq"),
        F.max("c").alias("max_gram"),
        F.coalesce(
            F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)
        ).alias("dup_occ"),
    )
    base = df.select(F.col(id_col))
    return (
        base.join(per_doc, base[id_col] == per_doc["_id"], "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_uniq", F.lit(0)).alias("n_uniq"),
            F.coalesce("max_gram", F.lit(0)).alias("max_gram"),
            F.coalesce("dup_occ", F.lit(0)).alias("dup_occ"),
        )
    )


def _spans_from_toks(toks_col, k: int):
    """Span array from an ALREADY-MATERIALIZED token array column.
    The lambda slices `toks_col` per span; that is only linear when
    the capture is a bound attribute — callers must project
    `tokens(text)` into a real column first (a computed expression
    here would re-tokenize the document once per span)."""
    n_spans = F.ceil(F.size(toks_col) / F.lit(k)).cast("int")
    return F.when(
        F.size(toks_col) > 0,
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.array_join(
                F.slice(toks_col, i * k + 1, k), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def spans(col, k: int = 8):
    """Non-overlapping k-token spans of a text column ('paragraph'
    units for corpora without structural newlines; with newline-split
    text, pre-split and pass one line per row instead).  The last span
    may be shorter.  Empty array for zero-token docs.

    Note: this inline form re-tokenizes per span (lambda capture);
    operators on big corpora should project tokens(col) to a column
    and use _spans_from_toks instead."""
    return _spans_from_toks(tokens(col), k)


def remove_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document span REMOVAL (the RefinedWeb/CCNet line-dedup
    action to span_dup_stats' signal): every non-overlapping k-token
    span whose fingerprint occurs in >= min_docs DISTINCT documents is
    dropped from ALL documents; the survivors re-join in order.

    -> (id, text_clean, n_spans, n_kept).

    Scale shape: document TEXT never shuffles.  Span fingerprints
    (16-char md5 prefixes + positions) flow through the same
    map-side-partial count_distinct + shuffle_hash semi-join as
    span_dup_stats; only the REMOVED (id, pos) integer pairs come back,
    and the cleaned text is rebuilt in place by an index-aware array
    filter over the original row — one join whose payload is a handful
    of ints per affected doc, zero content bytes in any exchange."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2: {min_docs}")
    # localCheckpoint: sp feeds TWO consumers (the shared-span
    # aggregation and the semi-join below) — without it the span
    # explode + md5 pass over the corpus text runs twice; the
    # materialized form is (id, pos, 16-char hash), no text.  Tokens
    # project to a column BEFORE the span lambda (linear, not
    # per-span re-tokenization — see _spans_from_toks).
    sp = _resplit_small(df).select(
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col)).alias("_tk"),
    ).select(
        "_id",
        F.posexplode(_spans_from_toks(F.col("_tk"), k)).alias(
            "pos", "span"
        ),
    ).select(
        "_id", "pos", F.substring(F.md5("span"), 1, 16).alias("s")
    ).localCheckpoint()
    shared = (
        sp.groupBy("s")
        .agg(F.countDistinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("s")
    )
    removed = (
        sp.join(shared.hint("shuffle_hash"), "s", "left_semi")
        .groupBy("_id")
        .agg(F.collect_list("pos").alias("_rm"))
    )
    # rebuild side: the span array materializes ONCE below the join
    # (the former form computed spans(text) — itself quadratic in the
    # lambda — three times in the output projection: kept, n_spans,
    # n_kept); the Join boundary keeps the projection from collapsing
    # into the multi-reference select above it.
    prepared = (
        df.select(
            F.col(id_col), tokens(F.col(text_col)).alias("_tk")
        )
        .select(
            F.col(id_col),
            _spans_from_toks(F.col("_tk"), k).alias("_sp"),
        )
        .alias("d")
    )
    rm = F.coalesce(F.col("r._rm"), F.array().cast("array<int>"))
    sp_arr = F.col("d._sp")
    kept = F.filter(
        sp_arr, lambda x, i: ~F.array_contains(rm, i.cast("int"))
    )
    return (
        prepared
        .join(
            removed.alias("r"),
            F.col(f"d.{id_col}") == F.col("r._id"),
            "left",
        )
        .select(
            F.col(f"d.{id_col}").alias(id_col),
            F.array_join(kept, " ").alias("text_clean"),
            F.size(sp_arr).alias("n_spans"),
            (F.size(sp_arr) - F.size(rm)).alias("n_kept"),
        )
    )


def unigram_logprob(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Self-trained unigram cross-entropy — the CCNet-style "does this
    look like the corpus?" quality score with the corpus itself as the
    language model: nll(t) = ln(total_tokens / count(t)) per token,
    doc score = mean token nll (low = stereotypical text, high = rare
    garbage/noise).

    -> (id, n_toks, sum_nll_micro, avg_nll) where sum_nll_micro is the
    exact integer sum of round(nll * 1e6) per token — fixed-point so
    the aggregate is ORDER-FREE (float sums depend on reduction order;
    integer sums don't), which is what lets a cross-engine oracle
    hash-match it exactly; avg_nll = sum/1e6/n_toks rounded to 4dp is
    carried for consumers.

    Scale shape: one vocabulary aggregation (map-side combined), the
    per-term micro-nll table broadcasts back (vocabulary-sized), and
    the doc aggregation ships only (id, long) pairs.  Zero-token docs
    report 0/0.0."""
    term_rows = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    vocab = term_rows.groupBy("term").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    total = vocab.agg(F.sum("_cnt")).first()[0] or 0
    nll = vocab.select(
        "term",
        duckdb_round(
            F.log(F.lit(float(total)) / F.col("_cnt")) * 1e6, 0
        ).cast("long").alias("_nll_micro"),
    )
    per_doc = (
        term_rows.join(F.broadcast(nll), "term")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("_nll_micro").alias("sum_nll_micro"),
        )
    )
    base = df.select(F.col(id_col))
    return base.join(per_doc, base[id_col] == per_doc["_id"], "left").select(
        id_col,
        F.coalesce("n_toks", F.lit(0)).alias("n_toks"),
        F.coalesce("sum_nll_micro", F.lit(0)).alias("sum_nll_micro"),
        F.when(
            F.coalesce("n_toks", F.lit(0)) > 0,
            duckdb_round(
                F.col("sum_nll_micro") / 1e6 / F.col("n_toks"), 4
            ),
        ).otherwise(F.lit(0.0)).alias("avg_nll"),
    )


def _bigram_rows(df: DataFrame, text_col: str, carry=()) -> DataFrame:
    """One row per adjacent token pair: (*carry, w1, w2).

    zip_with over the two shifted slices, NOT transform(sequence(…),
    i -> get(toks, i)): an expression referenced INSIDE a higher-order
    lambda is re-evaluated per element, so the sequence/get form
    re-tokenized the document once per bigram — O(tokens²) per row,
    measured 16x slower (55 s vs 3.4 s for the sf1.0 corpus
    extraction+count) with identical output."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    return df.select(
        *carry,
        F.explode(
            F.when(
                n >= 2,
                F.zip_with(
                    F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
                    F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
                    lambda x, y: F.struct(
                        x.alias("w1"), y.alias("w2")
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<w1:string,w2:string>>")
            )
        ).alias("_bg"),
    ).select(
        *carry, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2")
    )


def bigram_logprob(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Self-trained CONDITIONAL bigram cross-entropy — the next step up
    from unigram_logprob's bag-of-words score: nll(w2|w1) =
    ln(c(w1, ·) / c(w1, w2)) per bigram, where c(w1, ·) is the corpus
    count of bigrams starting with w1.  Word-salad text that sails
    through a unigram filter (common words, nonsense order) scores high
    here because its TRANSITIONS are rare.

    -> (id, n_bigrams, sum_nll_micro, avg_nll): sum_nll_micro is the
    exact integer sum of round(nll * 1e6) per bigram — the same
    fixed-point micro-nat trick as unigram_logprob, so the aggregate is
    order-free and a cross-engine oracle hash-matches it.  Docs with
    fewer than 2 tokens report 0 / 0.0.

    Scale shape: one bigram-vocabulary aggregation (map-side combined),
    one re-aggregation to the w1 marginal, the per-bigram micro-nll
    table joins back on (w1, w2) — a plain shuffle join, NOT a
    broadcast: the bigram vocabulary grows ~linearly with corpus size
    and does not stay driver-small the way the unigram table does —
    and the doc aggregation ships only (id, long) pairs."""
    big = _bigram_rows(
        df.select(F.col(id_col).alias("_id"), F.col(text_col)),
        text_col,
        carry=("_id",),
    )
    # ONE corpus extraction: the per-(doc, bigram) count table d12 is
    # the common parent of BOTH the vocabulary (re-aggregate away the
    # doc) and the per-doc scoring (weight each distinct doc-bigram by
    # its count) — the former plan extracted the corpus twice and
    # joined every bigram OCCURRENCE against the nll table; this one
    # extracts once and joins only distinct (doc, bigram) rows.
    # Map-side partial aggregation dedups within the doc's partition,
    # so the groupBy shuffle carries distinct doc-bigrams, not
    # occurrences.
    d12 = (
        big.groupBy("_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("_cd"))
        .localCheckpoint()
    )
    # vocab feeds the marginal AND the nll join — materialize it so the
    # d12 re-aggregation runs once
    v12 = (
        d12.groupBy("w1", "w2")
        .agg(F.sum("_cd").alias("_c12"))
        .localCheckpoint()
    )
    v1 = v12.groupBy("w1").agg(F.sum("_c12").alias("_c1"))
    nll = v12.join(v1, "w1").select(
        "w1",
        "w2",
        duckdb_round(
            F.log(F.col("_c1").cast("double") / F.col("_c12")) * 1e6, 0
        ).cast("long").alias("_nll_micro"),
    )
    per_doc = (
        d12.join(nll, ["w1", "w2"])
        .groupBy("_id")
        .agg(
            F.sum("_cd").alias("n_bigrams"),
            F.sum(F.col("_cd") * F.col("_nll_micro")).alias(
                "sum_nll_micro"
            ),
        )
    )
    base = df.select(F.col(id_col))
    return base.join(per_doc, base[id_col] == per_doc["_id"], "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("sum_nll_micro", F.lit(0)).alias("sum_nll_micro"),
        F.when(
            F.coalesce("n_bigrams", F.lit(0)) > 0,
            duckdb_round(
                F.col("sum_nll_micro") / 1e6 / F.col("n_bigrams"), 4
            ),
        ).otherwise(F.lit(0.0)).alias("avg_nll"),
    )


def collocations(
    df: DataFrame, text_col: str, min_count: int = 5
) -> DataFrame:
    """PMI collocation mining over adjacent token pairs — the classic
    phrase-discovery pass a tokenizer/corpus-prep pipeline runs before
    deciding multi-word units: pmi = ln(N * c(w1,w2) / (c(w1,·) ·
    c(·,w2))) with N the total bigram count, folded to fixed-point
    micro-nats (integer, order-free, cross-engine exact).

    -> (w1, w2, pair_count, pmi_micro) for pairs with pair_count >=
    min_count.  High PMI = the words co-occur far above chance
    ("los angeles"); frequent-but-independent pairs ("of the") score
    near 0 or negative.

    Scale shape: everything aggregates from the ONE bigram-vocabulary
    table (map-side combined) — the left/right marginals are
    re-aggregations of that table, not new corpus passes; marginal
    products compute in double (long x long would overflow ANSI mode at
    web scale)."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1: {min_count}")
    big = _bigram_rows(df, text_col)
    # the vocabulary table feeds FOUR consumers (total, left marginal,
    # right marginal, the pair rows themselves) — localCheckpoint it so
    # the corpus-sized bigram extraction runs once, and the three
    # downstream branches scan the (much smaller) materialized vocab
    v12 = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_c12"))
        .localCheckpoint()
    )
    total = v12.agg(F.sum("_c12")).first()[0] or 0
    left = v12.groupBy("w1").agg(F.sum("_c12").alias("_cl"))
    right = v12.groupBy("w2").agg(F.sum("_c12").alias("_cr"))
    return (
        v12.filter(F.col("_c12") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .select(
            "w1",
            "w2",
            F.col("_c12").alias("pair_count"),
            duckdb_round(
                F.log(
                    F.lit(float(total)) * F.col("_c12")
                    / (F.col("_cl").cast("double") * F.col("_cr"))
                ) * 1e6,
                0,
            ).cast("long").alias("pmi_micro"),
        )
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    min_alpha_ratio_num: int = 4,
    min_alpha_ratio_den: int = 5,
    max_symbol_ratio_num: int = 1,
    max_symbol_ratio_den: int = 10,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style repetition-free quality rule battery (Rae et al.
    2021, "Scaling Language Models", Table A1 — the document-level
    rules; the duplicate-line family lives in ngram_repetition /
    span_dup_stats): word-count bounds, mean word length in [3, 10],
    >= 80% of words containing an alphabetic character, symbol
    (#/ellipsis) to word ratio <= 0.1, and >= 2 stop words.

    Every rule evaluates in INTEGER cross-multiplication (mean length
    in [a, b] becomes a*n <= sum_len <= b*n; ratios likewise), so the
    verdicts are exact and cross-engine reproducible — no float ever
    decides a document.

    -> (id, n_words, sum_word_len, n_alpha_words, n_symbols,
    n_stopwords_g, rule_words, rule_mean_len, rule_alpha, rule_symbol,
    rule_stopwords, passes).  Pure projection — zero shuffle; at 100 TB
    this runs at scan speed and the filter composes with pushdown."""
    c = F.col(text_col)
    # every per-token statistic is a SINGLE codegen'd Java-regex pass
    # over the text (tokens are maximal \S+ runs, so token-level facts
    # have exact whole-string regex equivalents) — the previous
    # aggregate/filter HOF lambdas evaluated interpreted per token and
    # dominated this operator's runtime:
    #   n_words   = count of \S+ runs
    #   sum_len   = chars left after deleting every \s run
    #   n_alpha   = runs containing [a-zA-Z]: n_words minus the
    #               letter-free runs, each matched whole by
    #               (?<!\S)[^a-zA-Z\s]+(?!\S) — linear, where the
    #               direct \S*[a-zA-Z]\S* backtracks quadratically
    #               through a long letter-free token
    #   n_stop    = whole-token stopword matches, delimited by the
    #               width-1 lookarounds (?<!\S) / (?!\S)
    n_words = F.regexp_count(c, F.lit(r"\S+"))
    sum_len = F.length(F.regexp_replace(c, r"\s+", ""))
    n_alpha = n_words - F.regexp_count(
        c, F.lit(r"(?<!\S)[^a-zA-Z\s]+(?!\S)")
    )
    # non-overlapping occurrence counts via replace-shrinkage — both
    # engines replace greedily left-to-right, so the counts agree
    n_symbols = (
        F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
        + (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit(""))))
        / F.lit(3)
    ).cast("long")
    n_stop = stopword_count(c)
    # bind the counters ONCE, then decide the rules from the bound
    # columns (each counter is referenced up to three times below)
    df = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        sum_len.alias("sum_word_len"),
        n_alpha.alias("n_alpha_words"),
        n_symbols.alias("n_symbols"),
        n_stop.alias("n_stopwords_g"),
    )
    n_words = F.col("n_words")
    sum_len = F.col("sum_word_len")
    rule_words = (n_words >= min_words) & (n_words <= max_words)
    rule_mean = (
        (sum_len >= n_words * min_mean_word_len)
        & (sum_len <= n_words * max_mean_word_len)
    )
    rule_alpha = (
        F.col("n_alpha_words") * min_alpha_ratio_den
        >= n_words * min_alpha_ratio_num
    )
    rule_symbol = (
        F.col("n_symbols") * max_symbol_ratio_den
        <= F.col("n_words") * max_symbol_ratio_num
    )
    rule_stop = F.col("n_stopwords_g") >= min_stopwords
    out = df.select(
        "*",
        rule_words.alias("rule_words"),
        rule_mean.alias("rule_mean_len"),
        rule_alpha.alias("rule_alpha"),
        rule_stop.alias("rule_stopwords"),
    ).withColumn("rule_symbol", rule_symbol)
    return out.withColumn(
        "passes",
        F.col("rule_words")
        & F.col("rule_mean_len")
        & F.col("rule_alpha")
        & F.col("rule_symbol")
        & F.col("rule_stopwords"),
    ).select(
        id_col, "n_words", "sum_word_len", "n_alpha_words", "n_symbols",
        "n_stopwords_g", "rule_words", "rule_mean_len", "rule_alpha",
        "rule_symbol", "rule_stopwords", "passes",
    )


def span_dup_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Cross-document span-level duplication (the C4 'three-sentence
    span occurring more than once' / RefinedWeb line-dedup signal,
    Raffel et al. 2020 §2.2) over non-overlapping k-token spans:

      n_spans      spans in the document
      n_dup_spans  spans whose fingerprint occurs in >= 2 DISTINCT docs

    Downstream removal/filtering derives the dup fraction; exact
    integers keep the oracle byte-stable.

    Scale shape: spans fold to md5 fingerprints before any exchange
    (shuffle carries 16-char hashes + ids, never text); the shared-span
    set comes from a map-side-partial count_distinct aggregation and
    filters back via a shuffle_hash semi-join — the same de-skewed cap
    pattern as the LSH/DF caps (no window sort, no driver collect)."""
    # localCheckpoint: sp feeds THREE consumers (sizes, the shared-span
    # aggregation, the semi-join) — materialize the hash rows once;
    # tokens project to a column before the span lambda (see
    # _spans_from_toks)
    sp = _resplit_small(df).select(
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col)).alias("_tk"),
    ).select(
        "_id",
        F.explode(_spans_from_toks(F.col("_tk"), k)).alias("span"),
    ).select(
        "_id", F.substring(F.md5(F.col("span")), 1, 16).alias("s")
    ).localCheckpoint()
    sizes = sp.groupBy("_id").agg(F.count(F.lit(1)).alias("n_spans"))
    shared = (
        sp.groupBy("s")
        .agg(F.countDistinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("s")
    )
    dups = (
        sp.join(shared.hint("shuffle_hash"), "s", "left_semi")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    base = df.select(F.col(id_col))
    out = (
        base.join(sizes, base[id_col] == sizes["_id"], "left")
        .drop("_id")
        .join(dups, F.col(id_col) == dups["_id"], "left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        )
    )
    return out
