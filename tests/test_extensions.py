"""Recall/quality checks for the approximate extension operators —
the ones whose outputs can't be oracle-checked exactly (SimHash, LSH ANN)
are instead asserted against their exact counterparts on the same data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hudi_and_delta_showcase_spark.io import load_table
from hudi_and_delta_showcase_spark.operators import dedup as D
from hudi_and_delta_showcase_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs_shingled(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return D.word_shingles(D.tokenize(docs, "text"), "tokens", 3).cache()


def test_minhash_lsh_recall(spark, sf_dir, docs_shingled):
    """LSH(16 hashes, 8 bands x 2 rows) must recover >=80% of exact
    Jaccard>=0.7 pairs (b=8, r=2 -> P(candidate) = 1-(1-s^2)^8; at
    s=0.7 that's ~0.996, so 0.8 is a loose floor)."""
    exact = (
        D.jaccard_pairs(docs_shingled, "doc_id", "shingles", 0.7)
        .select("doc_a", "doc_b")
        .collect()
    )
    truth = {(r.doc_a, r.doc_b) for r in exact}
    if not truth:
        pytest.skip("no high-similarity pairs at this SF")
    sigs = D.minhash_signatures(docs_shingled, "doc_id", "shingles", 16, "md5")
    cand = D.lsh_candidate_pairs(sigs, "doc_id", bands=8, hash_fn="md5")
    got = {(r.doc_a, r.doc_b) for r in cand.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(truth)} pairs"


def test_simhash_finds_near_identical_docs(spark, sf_dir, docs_shingled):
    """Pairs with near-identical token multisets (exact Jaccard >= 0.9)
    should mostly land within Hamming<=8 of each other's SimHash."""
    exact = (
        D.jaccard_pairs(docs_shingled, "doc_id", "shingles", 0.9)
        .select("doc_a", "doc_b")
        .collect()
    )
    truth = {(r.doc_a, r.doc_b) for r in exact}
    if not truth:
        pytest.skip("no near-identical pairs at this SF")
    toks = D.tokenize(load_table(spark, sf_dir, "documents"), "text")
    fps = D.simhash(toks, "doc_id", "tokens")
    near = D.simhash_near_pairs(fps, "doc_id", max_hamming=8)
    got = {(r.doc_a, r.doc_b) for r in near.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.7, f"SimHash recall {recall:.2f} over {len(truth)} pairs"


def test_simhash_no_false_trivial_pairs(spark, sf_dir):
    """Hamming distance is symmetric-free output: doc_a < doc_b always,
    and distances are within [0, 8]."""
    toks = D.tokenize(load_table(spark, sf_dir, "documents"), "text")
    fps = D.simhash(toks, "doc_id", "tokens")
    rows = D.simhash_near_pairs(fps, "doc_id", max_hamming=8).collect()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= 8


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Random-hyperplane LSH top-10 must overlap >=40% with exact
    top-10 per query (4 tables x 8 planes on 64-dim synthetic data;
    recall floor is intentionally loose — the contract is 'useful
    candidates without a cross join', not exactness)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = S.topk_bruteforce(queries, emb, "vec_id", "embedding", k=10)
    approx = S.topk_lsh(queries, emb, "vec_id", "embedding", dim=64, k=10)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert truth, "brute force returned nothing"
    recall = len(truth & got) / len(truth)
    assert recall >= 0.4, f"ANN recall {recall:.2f}"


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF with nprobe=4 of 16 cells must recover a usable share of the
    exact top-10 (floor is loose: the synthetic embeddings have weak
    cluster structure, so cell probing is near its worst case)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = S.topk_bruteforce(queries, emb, "vec_id", "embedding", k=10)
    approx = S.topk_ivf(queries, emb, "vec_id", "embedding", k=10,
                        n_centroids=16, nprobe=4)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.3, f"IVF recall {recall:.2f}"


def test_cosine_self_similarity(spark, sf_dir):
    """cos(v, v) == 1 for non-zero vectors — sanity for the fold-based
    dot/norm expressions."""
    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    both = emb.select("vec_id", F.col("embedding").alias("a"), F.col("embedding").alias("b"))
    rows = S.with_cosine(both, "a", "b", "cos").select("cos").collect()
    for r in rows:
        assert abs(r.cos - 1.0) < 1e-9


def test_jaccard_strategies_agree(spark, sf_dir, docs_shingled):
    """All three physical strategies (counting inverted index, prefix-
    filtered AllPairs, LSH-candidates verification) are EXACT — they must
    produce identical pair sets."""
    counting = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.jaccard_pairs(docs_shingled, "doc_id", "shingles", 0.5).collect()
    }
    prefix = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.jaccard_pairs(
            docs_shingled, "doc_id", "shingles", 0.5, prefix_filter=True
        ).collect()
    }
    assert counting == prefix and counting


def test_jaccard_hot_shingle_guard_exact_and_bounded(spark):
    """A stop-shingle shared by EVERY doc must not send the counting
    mode quadratic: the hot-df guard auto-switches to hot-demoted
    prefix candidates, whose pair count stays near the true-duplicate
    count instead of n(n-1)/2 — while the RESULT remains exactly equal
    to the unguarded counting plan."""
    import pyspark.sql.functions as F

    n = 80
    rows = []
    for i in range(n):
        # every doc carries the stop-shingles; otherwise unique content
        sh = ["the quick brown", "of the and"] + [
            f"uniq {i} {j}" for j in range(8)
        ]
        rows.append((i, sh))
    # three designed near-dup pairs (J well above 0.5)
    for i, twin in [(0, 100), (1, 101), (2, 102)]:
        sh = ["the quick brown", "of the and"] + [
            f"uniq {i} {j}" for j in range(7)
        ] + [f"twin {twin}"]
        rows.append((twin, sh))
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")

    guarded = {
        (r.doc_a, r.doc_b)
        for r in D.jaccard_pairs(
            df, "doc_id", "shingles", 0.5, hot_df=8
        ).collect()
    }
    unguarded = {
        (r.doc_a, r.doc_b)
        for r in D.jaccard_pairs(
            df, "doc_id", "shingles", 0.5, hot_df=None
        ).collect()
    }
    assert guarded == unguarded == {(0, 100), (1, 101), (2, 102)}

    # the guard's candidate set is BOUNDED: nowhere near the ~3400
    # all-pairs blowup the hot shingles would otherwise cause
    hot = (
        df.select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > 8)
        .select("shingle")
    )
    cand = D._hot_demoted_prefix_candidates(df, "doc_id", "shingles", 0.5, hot)
    n_cand = cand.count()
    total_pairs = (n + 3) * (n + 2) // 2
    assert n_cand < total_pairs * 0.05, (n_cand, total_pairs)


def test_pq_recall_floor(spark, sf_dir):
    """PQ candidates (m=8, ncode=64, C=100) must recover >=80% of the
    exact top-10 and 100% of the exact top-1 on the fixture corpus."""
    import pyspark.sql.functions as F

    from hudi_and_delta_showcase_spark.io import load_table
    from hudi_and_delta_showcase_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cand = S.pq_candidates(
        queries, emb, "vec_id", "embedding",
        n_candidates=100, m=8, ncode=64,
    )
    ex1 = S.exact_topk_quantized(queries, emb, "vec_id", "embedding", k=1)
    assert ex1.join(cand, ["query_id", "neighbor_id"], "semi").count() == (
        ex1.count()
    )
    ex10 = S.exact_topk_quantized(queries, emb, "vec_id", "embedding", k=10)
    hits = ex10.join(cand, ["query_id", "neighbor_id"], "semi").count()
    assert hits >= 0.8 * ex10.count()


class TestDecontaminate:
    def _frames(self, spark):
        train = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "lorem ipsum dolor sit amet consectetur"),
                (3, "quick brown fox and nothing else here today"),
            ],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame(
            [(100, "a quick brown fox appears")], "doc_id long, text string"
        )
        return train, ev

    def test_scores_known_overlap(self, spark):
        from hudi_and_delta_showcase_spark.operators.text import (
            ngram_decontaminate,
        )

        train, ev = self._frames(spark)
        got = {
            r.doc_id: (r.total_ngrams, r.matched_ngrams, r.contaminated)
            for r in ngram_decontaminate(
                train, ev, "doc_id", "text", n=3
            ).collect()
        }
        # eval trigrams: {a quick brown, quick brown fox, brown fox appears}
        # doc 1 contains "quick brown fox"; doc 2 shares nothing; doc 3
        # contains "quick brown fox"
        assert got[1] == (7, 1, True)
        assert got[2] == (4, 0, False)
        assert got[3] == (6, 1, True)

    def test_rate_bounds_and_short_docs(self, spark):
        from hudi_and_delta_showcase_spark.operators.text import (
            ngram_decontaminate,
        )

        train = spark.createDataFrame(
            [(1, "too short"), (2, "quick brown fox")],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame(
            [(9, "quick brown fox")], "doc_id long, text string"
        )
        rows = {
            r.doc_id: r
            for r in ngram_decontaminate(
                train, ev, "doc_id", "text", n=3
            ).collect()
        }
        assert rows[1].total_ngrams == 0 and not rows[1].contaminated
        assert rows[1].contamination_rate == 0.0  # no divide-by-zero
        assert rows[2].matched_ngrams == 1 and rows[2].contamination_rate == 1.0

    def test_eval_side_broadcasts(self, spark, sf_dir):
        from hudi_and_delta_showcase_spark.queries import load_all

        plan = (
            load_all()["text_decontaminate"].fn(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan  # eval n-gram set broadcast


class TestSemanticDedup:
    def test_recall_gate_and_keep_policy(self, spark, sf_dir):
        """Cluster-blocked pair recall vs the exact all-pairs answer must
        clear 0.75 on the fixture, and the kept set must be exactly
        corpus minus every pair's doc_b."""
        import numpy as np

        from hudi_and_delta_showcase_spark.io import load_table
        from hudi_and_delta_showcase_spark.operators.similarity import (
            semantic_dedup,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        kept, pairs = semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.35,
            n_clusters=8, nprobe=2,
        )
        got_pairs = {(r.doc_a, r.doc_b) for r in pairs.collect()}
        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r.vec_id for r in rows])
        q = np.floor(
            np.vstack([r.embedding for r in rows]).astype("float64") * 1000
            + 0.5
        ).astype("int64")
        gram = q @ q.T
        n = np.sqrt(np.diag(gram).astype("float64"))
        sim = gram / np.outer(n, n)
        iu = np.triu_indices(len(ids), 1)
        exact = {
            (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
            for i, j in zip(*iu)
            if round(sim[i, j], 6) >= 0.35
        }
        assert got_pairs <= exact  # verification step: no false pairs
        assert len(got_pairs) / max(len(exact), 1) >= 0.75
        dropped = {b for _, b in got_pairs}
        assert {r.vec_id for r in kept.collect()} == set(ids) - dropped

    def test_deterministic(self, spark, sf_dir):
        from hudi_and_delta_showcase_spark.io import load_table
        from hudi_and_delta_showcase_spark.operators.similarity import (
            semantic_dedup,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        a = {
            r.vec_id
            for r in semantic_dedup(
                emb, "vec_id", "embedding", 0.35, n_clusters=8, nprobe=2
            )[0].collect()
        }
        b = {
            r.vec_id
            for r in semantic_dedup(
                emb, "vec_id", "embedding", 0.35, n_clusters=8, nprobe=2
            )[0].collect()
        }
        assert a == b


def test_vocab_topk_coverage_monotone(spark, sf_dir):
    """Vocabulary build: ranks are dense from 1, counts non-increasing,
    coverage strictly increasing and ending <= 1; the top-1 token must be
    the corpus-wide argmax frequency."""
    from hudi_and_delta_showcase_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    rows = T.vocab_topk(docs, "text", k=10).orderBy("rank").collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    covs = [r.coverage for r in rows]
    assert all(b > a for a, b in zip(covs, covs[1:]))
    assert covs[-1] <= 1.0

    exploded = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("t")
    ).filter(F.col("t") != "")
    top = exploded.groupBy("t").count().orderBy(
        F.desc("count"), F.asc("t")).first()
    assert rows[0].token == top.t and rows[0].cnt == top["count"]


def test_ann_query_side_caps_fail_loudly(spark, sf_dir):
    """Every broadcast/collected ANN path enforces its documented
    small-query-side contract: an oversized query set raises a clear
    error instead of OOMing the driver/executors."""
    import pytest as _pytest

    from hudi_and_delta_showcase_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    q = emb.limit(8)

    # cap above |q|: all paths run normally
    assert S.topk_bruteforce(q, emb, "vec_id", "embedding", k=2,
                             max_queries=8).count() > 0
    # cap below |q|: each path fails with the chunking guidance
    with _pytest.raises(Exception, match="max_queries"):
        S.topk_bruteforce(q, emb, "vec_id", "embedding", k=2,
                          max_queries=4).count()
    with _pytest.raises(Exception, match="max_queries"):
        S.topk_lsh(q, emb, "vec_id", "embedding", dim=dim, k=2,
                   max_queries=4).count()
    with _pytest.raises(Exception, match="max_queries"):
        S.topk_ivf(q, emb, "vec_id", "embedding", k=2,
                   max_queries=4).count()
    with _pytest.raises(ValueError, match="max_queries"):
        S.pq_candidates(q, emb, "vec_id", "embedding", max_queries=4)
    # max_queries=None disables the guard entirely
    assert S.topk_bruteforce(q, emb, "vec_id", "embedding", k=2,
                             max_queries=None).count() > 0


def test_jaccard_probe_verdict_memoized_with_ttl(spark):
    """The hot-shingle smoke alarm is memoized per corpus plan: a
    second call with the same analyzed plan reuses the verdict (no
    probe job), and an expired entry re-probes — r6's fix for the
    always-on probe taxing clean corpora on every call."""
    import time

    df = spark.createDataFrame(
        [(i, [f"uniq {i} {j}" for j in range(4)]) for i in range(40)],
        "doc_id long, shingles array<string>",
    )
    D._PROBE_CACHE.clear()
    assert D._probe_alarm(df, "shingles", 8) is False
    assert len(D._PROBE_CACHE) == 1
    key = next(iter(D._PROBE_CACHE))
    # poison the entry: a cache hit must return it verbatim (proves the
    # probe job did not re-run)
    D._PROBE_CACHE[key] = (time.time(), True)
    assert D._probe_alarm(df, "shingles", 8) is True
    # an expired entry re-probes and self-heals
    D._PROBE_CACHE[key] = (time.time() - 10 * D.PROBE_CACHE_TTL_SECONDS, True)
    assert D._probe_alarm(df, "shingles", 8) is False
    assert D._PROBE_CACHE[key][1] is False


def test_chunk_overlapping_covers_every_token(spark):
    """Chunker invariants: every token index is covered by >= 1 chunk,
    consecutive chunks overlap by window - stride, the final chunk is
    the only short one, and a short doc yields exactly one chunk."""
    import hudi_and_delta_showcase_spark.operators.text as T

    df = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(100))),  # 100 tokens
            (2, " ".join(f"t{i}" for i in range(7))),    # short doc
            (3, " ".join(f"t{i}" for i in range(32))),   # exactly window
            (4, " ".join(f"t{i}" for i in range(33))),   # window + 1
        ],
        "doc_id long, text string",
    )
    out = T.chunk_overlapping(df, "doc_id", "text", window=32, stride=24)
    rows = sorted(
        (r.doc_id, r.chunk_idx, r.chunk.split(" "), r.n_tokens)
        for r in out.collect()
    )
    by_doc = {}
    for d, i, toks, n in rows:
        assert len(toks) == n
        by_doc.setdefault(d, []).append((i, toks))
    assert len(by_doc[2]) == 1 and len(by_doc[2][0][1]) == 7
    assert len(by_doc[3]) == 1          # n == window: one full chunk
    assert len(by_doc[4]) == 2          # one extra token -> second chunk
    # doc 1: full coverage, fixed overlap
    covered = set()
    for i, toks in by_doc[1]:
        start = i * 24
        assert toks == [f"t{j}" for j in range(start, start + len(toks))]
        covered.update(range(start, start + len(toks)))
    assert covered == set(range(100))
    full = [toks for _i, toks in by_doc[1][:-1]]
    assert all(len(t) == 32 for t in full)


def test_duplicate_spans_flags_shared_8grams(spark):
    shared = "a b c d e f g h"          # exactly 8 tokens
    docs = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                (1, f"intro {shared} outro one"),
                (2, f"other prefix {shared} tail"),
                (3, "completely unrelated words that never repeat here"),
                (4, "short doc"),        # < 8 tokens: no grams at all
            ],
            1,
        ),
        "doc_id int, text string",
    )
    sh = D.word_shingles(D.tokenize(docs, "text"), "tokens", 8)
    out = {
        r.doc_id: r.dup_spans
        for r in D.duplicate_spans(sh, "doc_id", "shingles").collect()
    }
    # docs 1 and 2 share exactly the one 8-gram; 3 and 4 are absent
    assert out == {1: 1, 2: 1}


def test_duplicate_spans_counts_every_shared_gram(spark):
    # a 9-token shared span contains two shared 8-grams
    span = "a b c d e f g h i"
    docs = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(1, f"x {span}"), (2, f"{span} y z"), (3, "nothing shared")],
            1,
        ),
        "doc_id int, text string",
    )
    sh = D.word_shingles(D.tokenize(docs, "text"), "tokens", 8)
    out = {
        r.doc_id: r.dup_spans
        for r in D.duplicate_spans(sh, "doc_id", "shingles").collect()
    }
    assert out == {1: 2, 2: 2}


def test_bm25_ranks_matching_docs(spark):
    from hudi_and_delta_showcase_spark.operators import text as T2

    docs = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                (1, "spark spark spark join"),      # heavy on query terms
                (2, "spark table scan"),            # one hit
                (3, "unrelated words only here"),   # no hits
                (4, "join join merge stream spark"),
            ],
            1,
        ),
        "doc_id int, text string",
    )
    out = T2.bm25_topk(docs, ["spark", "join", "merge", "stream"], k=10)
    rows = out.collect()
    ids = [r.doc_id for r in rows]
    assert 3 not in ids, "doc with zero query terms scored"
    assert ids[0] == 4, "doc matching all terms should rank first"
    assert all(rows[i].score >= rows[i + 1].score
               for i in range(len(rows) - 1))


# ---------------------------------------------------------------------------
# incremental LSH dedup index (persisted MoR band index)
# ---------------------------------------------------------------------------


def _jobs_of(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _one_shot_verdicts(bh):
    a, b = bh.alias("a"), bh.alias("b")
    coll = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("b.doc") < F.col("a.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_id"))
        .agg(F.min("b.doc").alias("dup_of"))
    )
    return {r.doc_id: r.dup_of for r in coll.collect()}


def test_incremental_lsh_equals_one_shot_three_batches(
    spark, docs_shingled, tmp_path
):
    sigs = D.minhash_signatures(
        docs_shingled, "doc_id", "shingles", num_hashes=16, hash_fn="md5"
    ).cache()
    hi = sigs.agg(F.max("doc_id")).first()[0]
    cuts = [hi // 3, 2 * hi // 3]
    idx = D.create_lsh_index(spark, str(tmp_path / "idx"))
    parts = [
        sigs.filter(F.col("doc_id") <= cuts[0]),
        # an empty batch (every doc filtered out) between two others
        sigs.filter(F.col("doc_id") < 0),
        sigs.filter(
            (F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])
        ),
        sigs.filter(F.col("doc_id") > cuts[1]),
    ]
    outs = []
    for i, p in enumerate(parts):
        out, jobs = _jobs_of(
            spark, f"lsh-batch-{i}",
            lambda p=p: D.incremental_lsh_dedup(idx, p, "doc_id"),
        )
        outs.append(out)
        if i == 1:
            # the band collect only: no index probe, no log write
            assert jobs <= 1, f"empty batch ran {jobs} Spark jobs"
        if i >= 2:
            # band collect, probe key broadcast, probe scan, log write
            assert jobs <= 4, f"batch {i} ran {jobs} Spark jobs"
            assert idx.history()[-1].stats["log_files_added"] == 1
    empty = outs[1]
    assert empty.columns == ["doc_id", "status", "dup_of"]
    assert empty.count() == 0
    # compacting the MoR index mid-stream must not change verdicts
    idx.compact()
    got = {
        r.doc_id: (r.status, r.dup_of)
        for o in outs
        for r in o.collect()
    }
    truth = _one_shot_verdicts(D.band_hashes(sigs, "doc_id", 8))
    want = {
        r.doc_id: (
            ("dropped", truth[r.doc_id])
            if r.doc_id in truth
            else ("kept", None)
        )
        for r in sigs.select("doc_id").collect()
    }
    assert got == want


def test_band_hashes_rejects_signature_not_divisible_by_bands(spark):
    sigs = spark.createDataFrame(
        [(1, list(range(16)))], "doc_id long, minhash array<bigint>"
    )
    with pytest.raises(Exception, match="not divisible by bands=5"):
        D.band_hashes(sigs, "doc_id", 5).collect()


def test_incremental_lsh_verdict_frozen_before_index_advances(
    spark, docs_shingled, tmp_path
):
    """The returned frame must reflect the index state at call time even
    if collected only after later batches advanced the index."""
    sigs = D.minhash_signatures(
        docs_shingled, "doc_id", "shingles", num_hashes=16, hash_fn="md5"
    ).cache()
    m = sigs.agg(F.max("doc_id")).first()[0] // 2
    idx = D.create_lsh_index(spark, str(tmp_path / "idx"))
    r1 = D.incremental_lsh_dedup(
        idx, sigs.filter(F.col("doc_id") <= m), "doc_id"
    )
    r2 = D.incremental_lsh_dedup(
        idx, sigs.filter(F.col("doc_id") > m), "doc_id"
    )
    # collect r1 AFTER r2's upsert already advanced the index
    n1 = r1.count()
    n2 = r2.count()
    assert n1 + n2 == sigs.count()
    b1 = {r.doc_id for r in r1.collect()}
    assert b1 == {
        r.doc_id
        for r in sigs.filter(F.col("doc_id") <= m).select("doc_id").collect()
    }
