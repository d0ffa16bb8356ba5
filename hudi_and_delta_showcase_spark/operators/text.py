"""Text analysis operators for training-data pipelines (SURVEY.md §2.12):
language-ID heuristic, quality scoring, token counting, document
fingerprinting. Pure built-in expressions — no Python in the row path.

Determinism contract: every score is derived from integer counts (or md5
hex strings), so DuckDB oracles reproduce values exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

#: tiny marker lexicons for the n-gram/stopword language heuristic.
#: (The fixture corpus is synthetic; the heuristic is the operator under
#: test, not a real lang-id model — its exact rule set is mirrored in the
#: oracle SQL.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
}

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")

#: BPE-ish pre-tokenizer: letter runs, digit runs, or single punctuation
#: (ASCII-only so Java regex and RE2 agree).
BPE_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def quality_scores(
    df: DataFrame, id_col: str, text_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Length / token / stopword / punctuation quality features.
    All ratios are int/int divisions -> bit-identical cross-engine.

    ``keep`` names extra columns to carry through unchanged — the
    map-only feature operators (this, ``lang_id``, ``fingerprint``)
    then CHAIN over one scan instead of being join-reassembled on the
    id (r13 opt: the composed curation pipeline dropped 3 scans and
    3 shuffled joins this way).

    The projection is SQL text, parsed once: the Column-API form cost
    ~300 py4j round trips per call, one per Column node and lambda."""
    toks = f"filter(split(lower({text_col}), ' '), t -> t != '')"
    n_tokens = f"size({toks})"
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"
    n_stop = f"size(filter({toks}, t -> array_contains({stop_arr}, t)))"
    n_punct = f"length(regexp_replace({text_col}, '[A-Za-z0-9 ]', ''))"
    avg_tok = (
        f"case when {n_tokens} > 0 then aggregate(transform({toks}, "
        f"t -> length(t)), 0, (a, x) -> a + x) / {n_tokens} end"
    )
    return df.selectExpr(
        id_col,
        f"length({text_col}) as n_chars",
        f"{n_tokens} as n_tokens",
        f"{avg_tok} as avg_token_len",
        f"{n_stop} / {n_tokens} as stopword_ratio",
        f"{n_punct} / length({text_col}) as punct_ratio",
        *keep,
    )


def lang_id(
    df: DataFrame, id_col: str, text_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Marker-lexicon language ID: score = count of token occurrences in
    each language's marker set; argmax with deterministic tie order
    (en > es > de > fr > und). ``keep``: see ``quality_scores``."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    out = df.select(
        F.col(id_col),
        *[scores[l].alias(f"score_{l}") for l in LANG_MARKERS],
        *[F.col(c) for c in keep],
    )
    # chained CASE: first listed language with the (weak) max score wins
    langs = list(LANG_MARKERS)
    pred = F.lit("und")
    for i in range(len(langs) - 1, -1, -1):
        lang = langs[i]
        later = [F.col(f"score_{l}") for l in langs[i + 1:]]
        cond = F.col(f"score_{lang}") > 0
        for o in later:
            cond = cond & (F.col(f"score_{lang}") >= o)
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return out.withColumn("pred_lang", pred)


def token_count_bpe(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """BPE-ish token count via regex matching (letter runs / digit runs /
    punctuation) — the standard cheap proxy for LLM token budgeting."""
    return df.select(
        F.col(id_col),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(f"({BPE_REGEX})"), 0)
        ).alias("n_bpe_tokens"),
        F.size(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
        ).alias("n_ws_tokens"),
    )


def winnowing_fingerprint(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    window: int = 4,
) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken): hash every k-gram, slide a
    ``window`` over the hash sequence, keep each window's minimum —
    the classic rolling-hash document fingerprint guaranteeing any
    sufficiently long match shares a selected hash. Output: the sorted
    distinct selected hashes per doc.

    Hashes are 48-bit ints from md5 hex (cross-engine identical); the
    whole computation is array expressions — map-only, no shuffle.

    The selected-hash set is emitted BOTH as the array (``fp_arr``, for
    downstream set ops) and serialized to a comma-joined string (``fp``)
    — scalar columns survive generic pandas canonicalizers (driver
    harness) that cannot hash list cells."""
    h = (
        f"transform({shingles_col}, "
        f"s -> cast(conv(substr(md5(s), 1, 12), 16, 10) as bigint))"
    )
    out = df.withColumn("__h", F.expr(h))
    # Sliding-window minimum as a SPARSE TABLE of zip_with folds:
    # m_{2k}[i] = min(m_k[i], m_k[i+k]) doubles the covered span per
    # step, so the rolling min costs O(n log w) array ops instead of the
    # O(n*w) of per-position slice()+array_min() lambdas (interpreted,
    # not codegen'd — measured 15.5s -> ~5s on the sf0.1 corpus).
    span = 1
    prev = "__h"
    while span * 2 <= window:
        cur = f"__m{span * 2}"
        out = out.withColumn(
            cur,
            F.expr(
                f"zip_with(slice({prev}, 1, greatest(size({prev}) - {span}, 0)), "
                f"slice({prev}, {span + 1}, greatest(size({prev}) - {span}, 0)), "
                f"(x, y) -> least(x, y))"
            ),
        )
        prev = cur
        span *= 2
    # final windows of length `window` = min of two power-of-two spans
    # overlapping at offset window - span
    off = window - span
    if off > 0:
        wins_expr = (
            f"zip_with(slice({prev}, 1, greatest(size(__h) - {window - 1}, 0)), "
            f"slice({prev}, {off + 1}, greatest(size(__h) - {window - 1}, 0)), "
            f"(x, y) -> least(x, y))"
        )
    else:
        wins_expr = f"slice({prev}, 1, greatest(size(__h) - {window - 1}, 0))"
    # guards: empty docs -> empty fp; docs shorter than the window get
    # exactly one window = min of all hashes
    wins = (
        f"case when size({shingles_col}) = 0 then array() "
        f"when size({shingles_col}) < {window} then array(array_min(__h)) "
        f"else {wins_expr} end"
    )
    return (
        out.withColumn("fp_arr", F.expr(f"array_sort(array_distinct({wins}))"))
        .select(
            id_col,
            "fp_arr",
            F.concat_ws(",", F.col("fp_arr")).alias("fp"),
            F.size("fp_arr").alias("fp_size"),
        )
    )


def fingerprint(
    df: DataFrame, id_col: str, text_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Document fingerprints:
    * ``md5_fp``  — md5 of whitespace-normalized lowercased text (exact-
      dup detection under formatting noise; cross-engine deterministic).
    * ``min_shingle_fp`` — lexicographic min of md5(word) (a 1-hash
      MinHash; rolling-hash flavored content fingerprint).
    ``keep``: see ``quality_scores``."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("md5_fp"),
        F.array_min(F.transform(toks, lambda t: F.md5(t))).alias("min_shingle_fp"),
        *[F.col(c) for c in keep],
    )


def ngram_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Train/eval DECONTAMINATION: score every training document by its
    word n-gram overlap with an evaluation/benchmark set — the standard
    pre-training hygiene pass that keeps held-out benchmarks out of the
    training corpus (n-gram collision decontamination).

    Output per train doc: ``total_ngrams`` (distinct n-grams in the
    doc), ``matched_ngrams`` (of those, how many appear ANYWHERE in the
    eval set), ``contamination_rate`` (matched/total, 6dp), and the
    ``contaminated`` flag callers filter on.

    Scale shape: the eval set is small by definition (benchmarks are
    KBs–MBs against a 100 TB corpus), so its distinct n-gram set is
    built once and BROADCAST; the train side is one explode + map-side
    hash-join + partial-aggregated count — a single shuffle on
    ``id_col``, no shuffle of the corpus n-grams themselves. If an eval
    set ever outgrew broadcast, drop the hint and the same plan becomes
    a sort-merge join on the n-gram."""
    from hudi_and_delta_showcase_spark.operators.dedup import (
        tokenize,
        word_shingles,
    )

    tr = word_shingles(tokenize(train, text_col), "tokens", n)
    ev = word_shingles(tokenize(eval_df, text_col), "tokens", n)
    ev_ng = ev.select(F.explode("shingles").alias("ng")).distinct()
    tr_ng = tr.select(id_col, F.explode("shingles").alias("ng"))
    totals = tr.select(
        id_col, F.size("shingles").cast("long").alias("total_ngrams")
    )
    matched = (
        tr_ng.join(F.broadcast(ev_ng), "ng")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("matched_ngrams"))
    )
    return (
        totals.join(matched, id_col, "left")
        .withColumn(
            "matched_ngrams", F.coalesce("matched_ngrams", F.lit(0))
        )
        .withColumn(
            "contamination_rate",
            F.round(
                F.col("matched_ngrams")
                / F.greatest(F.col("total_ngrams"), F.lit(1)),
                6,
            ),
        )
        .withColumn("contaminated", F.col("matched_ngrams") > 0)
    )


def vocab_topk(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """Corpus vocabulary build (tokenizer-training prep): global token
    frequencies, the top-``k`` by count, each with its frequency rank and
    the cumulative share of all corpus tokens covered through that rank —
    the coverage curve that decides vocab size.

    Scale: tokenize/explode is map-only; the count is one partially-
    aggregated shuffle on the token (the only shuffle proportional to
    data); top-k is TakeOrderedAndProject (per-partition heaps, no global
    sort); rank/coverage windows then run over only ``k`` rows (bounded
    by construction — the single-partition window is over the RESULT, not
    the corpus), with the 1-row corpus total broadcast in. Coverage is
    round(cum/total, 6) on exact integer counts, oracle-identical.
    """
    toks = df.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), " "), lambda x: x != ""
            )
        ).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total"))
    order = [F.desc("cnt"), F.asc("token")]
    top = counts.orderBy(*order).limit(k)
    w = Window.orderBy(*order)  # k rows only — bounded, see docstring
    return (
        top.join(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "coverage",
            F.round(
                F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0))
                / F.col("__total"),
                6,
            ),
        )
        .select("token", "cnt", "rank", "coverage")
    )


def lm_cross_entropy(
    df: DataFrame, id_col: str, text_col: str, k: float = 0.5
) -> DataFrame:
    """CCNet-style language-model quality scoring: train an add-k
    smoothed UNIGRAM LM on the corpus itself, then score every document
    by average token cross-entropy -mean(ln p(w)) — the
    perplexity-proxy filter that ranks fluent text low and gibberish
    high, without any external model artifact.

    Scale: token counts are one partially-aggregated shuffle; the LM
    (token -> count) joins back to the exploded corpus on the token key
    (shuffle join — at web scale the vocabulary is itself large, so no
    broadcast assumption); the per-document aggregate is one more
    shuffle on doc_id. Cross-engine determinism: each token's cost is
    rounded to DECIMAL(18,6) BEFORE the per-doc sum, so the aggregate
    is order-independent and oracle-exact (a raw double sum would hash
    differently between engines).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), " "), lambda x: x != ""
            )
        ).alias("token"),
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("__n"), F.count(F.lit(1)).alias("__v")
    )
    scored = (
        toks.join(counts, "token")
        .join(F.broadcast(totals))
        .withColumn(
            "__cost",
            (
                -F.log(
                    (F.col("cnt") + F.lit(float(k)))
                    / (F.col("__n") + F.lit(float(k)) * F.col("__v"))
                )
            ).cast("decimal(18,6)"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("__cost").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_cross_entropy"),
        )
    )


def chunk_overlapping(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """RAG-style document chunking: overlapping windows of ``window``
    whitespace tokens advancing by ``stride`` (overlap = window -
    stride). One row per chunk with (doc id, chunk_idx, chunk text,
    n_tokens).

    Chunk count is exact integer math shared with the SQL oracle:
    1 chunk when n <= window, else ((n - window + stride - 1) div
    stride) + 1 — the final chunk is the only short one, and every
    token is covered (the pigeonhole a retriever needs: no gap can
    exceed zero tokens).

    Scale shape: ``transform`` over a ``sequence`` builds the chunk
    list per row, ``posexplode`` fans out — map-only, no shuffle, no
    UDF; output volume is input x (1/stride overlap factor), the same
    multiplier any chunker pays."""
    if stride <= 0 or window <= 0 or stride > window:
        raise ValueError("need 0 < stride <= window")
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        ((n - window + (stride - 1)) / stride).cast("int") + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * stride + 1, window), " "
        ),
    )
    return (
        df.select(
            F.col(id_col),
            n.alias("__n"),
            F.posexplode(chunks).alias("chunk_idx", "chunk"),
        )
        .withColumn(
            "n_tokens",
            F.least(
                F.lit(window), F.col("__n") - F.col("chunk_idx") * stride
            ),
        )
        .drop("__n")
    )


def length_buckets(
    df: DataFrame,
    text_col: str,
    group_cols: list[str],
    bucket_width: int = 32,
) -> DataFrame:
    """Inference/training batch planning: bucket documents by
    whitespace-token length into fixed-width buckets and aggregate
    (count, token sum) per (group, bucket) — the stats a
    length-bucketed batcher needs to build padding-efficient batches.
    Map + one partial-aggregated groupBy; mergeable at any scale."""
    n = F.size(F.split(F.col(text_col), " "))
    return (
        df.withColumn(
            "len_bucket",
            (n / bucket_width).cast("bigint") * bucket_width,
        )
        .groupBy(*group_cols, "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n).alias("sum_tokens"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 25,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 retrieval (Robertson/Sparck-Jones, the Lucene idf variant):
    score every document against a bag of query terms, return the
    top-k. The retrieval primitive of corpus curation — quality-biased
    selection, topic filtering, retrieval-based decontamination.

    Scale shape: tokenize -> explode filtered TO THE QUERY TERMS before
    any shuffle (the per-(doc,term) aggregate only ever sees matching
    postings, O(matching) not O(corpus tokens)); corpus stats (N,
    avgdl) ride a broadcast 1-row crossJoin — no driver collect; the
    tiny per-term df side broadcasts; top-k is TakeOrderedAndProject.

    Cross-engine determinism: each term's contribution is rounded to
    6dp and cast DECIMAL(18,6) BEFORE the per-doc sum — decimal
    summation is exact and order-independent, so Spark and an ANSI
    oracle agree bit-for-bit (the double sum of even 4 terms is
    summation-order dependent at the last ulp)."""
    from hudi_and_delta_showcase_spark.operators.dedup import tokenize

    toks = tokenize(docs, text_col)
    # (doc_id, dl) is tiny — checkpoint it so the length-join and the
    # corpus-stats aggregate share ONE tokenizing scan of the corpus
    # instead of re-reading the text column for each
    lens = toks.select(
        F.col(id_col), F.size("tokens").alias("dl")
    ).localCheckpoint(eager=False)
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    terms = toks.select(
        F.col(id_col), F.explode("tokens").alias("term")
    ).filter(F.col("term").isin(*query_terms))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") * (k1 + 1.0) / (
        F.col("tf")
        + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    contrib = F.round(idf * norm, 6).cast("decimal(18,6)")
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("__c", contrib)
        .groupBy(id_col)
        .agg(F.sum("__c").cast("double").alias("score"))
    )
    return scored.orderBy(
        F.desc("score"), F.col(id_col).asc()
    ).limit(k)
