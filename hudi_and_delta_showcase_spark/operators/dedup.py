"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, and n-gram Jaccard (SURVEY.md §2.12).

All hot paths are JVM-side built-ins (split/transform/aggregate/md5/
xxhash64) — no Python UDFs — so they stay inside whole-stage codegen.

Two hash families:
* ``hash_fn="md5"``   — cross-engine deterministic (DuckDB md5 ==
  Spark md5), used by the oracle-checked queries.
* ``hash_fn="xxhash64"`` — faster JVM hash for production scale.

Scale notes (100 TB): every candidate-generation path is an inverted-
index / band-bucket SHUFFLE JOIN, never an O(n^2) cross join. MinHash
bands shuffle ~(docs x bands) small rows; the exact-Jaccard verifier only
runs on candidate pairs. Hot-key control: ``df.groupBy(band_key)`` with a
cap on bucket size (drop degenerate buckets) is the standard skew guard —
exposed as ``max_bucket``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def tokenize(df: DataFrame, text_col: str, out: str = "tokens") -> DataFrame:
    """Whitespace tokenization, lowercased, empties removed. Given in
    SQL text, like the rest of the signing pipeline: one parse, where
    the Column-API lambda cost a py4j round trip per node. The SQL
    literal escapes its backslash: ``'\\\\s+'`` is the regex ``\\s+``."""
    return df.withColumn(
        out, F.expr(rf"filter(split(lower({text_col}), '\\s+'), t -> t != '')")
    )


def word_shingles(
    df: DataFrame,
    tokens_col: str,
    n: int,
    out: str = "shingles",
    distinct: bool = True,
) -> DataFrame:
    """Word n-grams; ``distinct=True`` (set semantics, for Jaccard/
    MinHash), ``distinct=False`` keeps the positional sequence (for
    rolling-hash/winnowing operators). n=1 -> the word list.

    Built as ``arrays_zip`` of n shifted slices + one concat per element —
    linear in token count. (A per-gram ``element_at`` formulation is ~10x
    slower: repeated array indexing inside the lambda re-evaluates the
    token expression; measured 11s -> 1.4s on 5k docs.) The expression is
    given in SQL text: the parsed form stays on the codegen'd eval path,
    where the equivalent Column-API construction measured ~4x slower."""
    if n == 1:
        col = F.col(tokens_col)
        return df.withColumn(out, F.array_distinct(col) if distinct else col)
    t = tokens_col
    length = f"greatest(size({t})-{n - 1}, 0)"
    slices = ", ".join(f"slice({t}, {i + 1}, {length})" for i in range(n))
    fields = ", ".join(f"s.`{i}`" for i in range(n))
    grams = (
        f"transform(arrays_zip({slices}), s -> concat_ws(' ', {fields}))"
    )
    if distinct:
        grams = f"array_distinct({grams})"
    return df.withColumn(out, F.expr(grams))


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact dedup: one row per distinct ``cols`` combination
    (hash-aggregate; map-side partials keep the shuffle at |groups|)."""
    return df.dropDuplicates(cols)


def canonicalize(df: DataFrame, group_cols: list[str], id_col: str) -> DataFrame:
    """Pick the canonical (min-id) row per duplicate group — the common
    'keep first, count the rest' dedup output shape."""
    return df.groupBy(*group_cols).agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    num_hashes: int = 16,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash signature per doc: for each of ``num_hashes`` hash
    functions, the min hash over the shingle set. Computed entirely with
    array expressions — one row per doc in, one row per doc out, no
    explode/shuffle.

    ``md5`` uses the standard double-hashing scheme: ONE md5 per shingle
    split into two 48-bit ints (h1, h2), with hash_i = h1 + i*h2 (max
    16*2^48 < 2^53 — exact in BIGINT and DOUBLE in every engine, and
    DuckDB parses the same hex substrings, so signatures are
    cross-engine identical). 16x fewer md5 calls than hashing per seed.
    ``xxhash64`` is the cheaper JVM-only production path."""
    if hash_fn == "md5":
        pair = (
            f"transform({shingles_col}, s -> named_struct("
            f"'h1', cast(conv(substr(md5(s), 1, 12), 16, 10) as bigint), "
            f"'h2', cast(conv(substr(md5(s), 13, 12), 16, 10) as bigint)))"
        )
        mins = ", ".join(
            f"array_min(transform(__hp, p -> p.h1 + {i} * p.h2))"
            for i in range(num_hashes)
        )
        # two projections: the md5 pairs are computed once per shingle,
        # not once per hash function
        return df.selectExpr(id_col, f"{pair} as __hp").selectExpr(
            id_col, f"array({mins}) as minhash"
        )
    mins = ", ".join(
        f"array_min(transform({shingles_col}, s -> xxhash64(s, {i})))"
        for i in range(num_hashes)
    )
    return df.selectExpr(id_col, f"array({mins}) as minhash")


def band_hashes(
    sigs: DataFrame, id_col: str, bands: int, hash_fn: str = "md5"
) -> DataFrame:
    """LSH banding: one ``(doc, band, band_key)`` row per document per
    band, ``band_key`` hashing that band's signature slice. The shared
    primitive under pairwise LSH (``lsh_candidate_pairs``) and the
    incremental corpus index (``incremental_lsh_dedup``).

    The signature length must be divisible by ``bands`` — trailing
    hashes would otherwise be silently ignored, quietly lowering
    recall (enforced per-row below)."""
    sig = (
        f"case when size(minhash) % {bands} = 0 then minhash "
        f"else raise_error(concat('signature length not divisible by "
        f"bands={bands}: ', cast(size(minhash) as string))) end"
    )
    rows = f"cast(size({sig}) / {bands} as int)"
    part = f"concat_ws('|', slice(cast({sig} as array<string>), b * {rows} + 1, {rows}))"
    key = (
        f"md5({part})" if hash_fn == "md5"
        else f"cast(xxhash64({part}) as string)"
    )
    return sigs.selectExpr(
        f"{id_col} as doc",
        f"inline(transform(sequence(0, {bands - 1}), "
        f"b -> named_struct('band', b, 'band_key', {key})))",
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    bands: int,
    hash_fn: str = "md5",
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing >=1 band
    bucket. This is the scale path: a self-join on (band, band_key) —
    shuffle on band keys, never a cross join.

    ``max_bucket`` drops degenerate buckets (skew guard: a bucket of B
    docs emits B^2 pairs; stop-shingle-like buckets explode at scale)."""
    banded = band_hashes(sigs, id_col, bands, hash_fn)

    if max_bucket is not None:
        w = Window.partitionBy("band", "band_key")
        banded = (
            banded.withColumn("__bn", F.count(F.lit(1)).over(w))
            .filter(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )

    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def _hot_demoted_prefix_candidates(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    threshold: float,
    hot: DataFrame,
) -> DataFrame:
    """PPJoin prefix candidate generation under a HOT-DEMOTED canonical
    order: shingles sort by (is_hot, md5) so high-document-frequency
    shingles land at the END of every doc's ordering and fall outside
    the |s| - ceil(t*|s|) + 1 prefix unless a doc consists almost
    entirely of hot shingles. EXACT (100% recall): the pigeonhole
    prefix argument holds under ANY fixed global order on the shingle
    universe — demotion only changes WHICH shingles are indexed, never
    whether a J >= t pair collides. Posting buckets are thus bounded by
    the hot cutoff instead of by the hottest stop-shingle's df, so no
    single bucket goes B² (the AllPairs df-ordering trick).

    ``hot`` is the (small, broadcastable) set of over-frequent shingles
    — few by definition of being pathological."""
    posting = df.select(
        F.col(id_col).alias("doc"),
        F.size(shingles_col).alias("sz"),
        F.explode(shingles_col).alias("shingle"),
    ).join(
        F.broadcast(hot.select("shingle").withColumn("__hot", F.lit(1))),
        "shingle",
        "left",
    )
    w = Window.partitionBy("doc").orderBy(
        F.coalesce(F.col("__hot"), F.lit(0)), F.md5("shingle")
    )
    prefix = (
        posting.withColumn("__pos", F.row_number().over(w))
        .filter(
            F.col("__pos")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .select("doc", "shingle")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


#: probe-verdict memo: (df semantic hash, hot_df) -> (stamp, alarmed).
#: The semantic hash keys the ANALYZED PLAN, not file contents — an
#: in-place append to the same parquet dir reuses the entry — so
#: entries expire after PROBE_CACHE_TTL_SECONDS. A stale entry can only
#: delay the alarm for a corpus that just turned hot (slower, never
#: wrong: the counting join stays exact); a cached alarm always
#: recomputes the exact hot set.
_PROBE_CACHE: dict[tuple, tuple] = {}
PROBE_CACHE_TTL_SECONDS = 300.0


def _probe_alarm(df: DataFrame, shingles_col: str, hot_df: int) -> bool:
    """True when the sampled smoke alarm suspects a hot shingle."""
    import time

    try:
        key = (df.semanticHash(), hot_df)
    except Exception:  # pragma: no cover - plan not hashable
        key = None
    if key is not None:
        hit = _PROBE_CACHE.get(key)
        if hit is not None and time.time() - hit[0] < PROBE_CACHE_TTL_SECONDS:
            return hit[1]
    frac = 0.0625
    probe_cut = max(1, int(hot_df * frac / 2))
    alarmed = not (
        df.sample(frac, seed=7)
        .coalesce(4)
        .select(F.explode(shingles_col).alias("__s"))
        .groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > probe_cut)
        .isEmpty()
    )
    if key is not None:
        _PROBE_CACHE[key] = (time.time(), alarmed)
        while len(_PROBE_CACHE) > 256:
            _PROBE_CACHE.pop(next(iter(_PROBE_CACHE)))
    return alarmed


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    grams_col: str,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-level dedup, k-gram bucket formulation (the
    scalable rendering of suffix-array substring dedup a la
    "Deduplicating Training Data Makes Language Models Better": any
    duplicated span of >= k tokens necessarily shares all its k-grams,
    so flagging docs by duplicated k-grams finds every such span —
    recall 1.0 for spans >= k by construction).

    Input: per-doc DISTINCT k-gram arrays (``word_shingles(..., n=k)``).
    Output: ``(id_col, dup_spans)`` — docs holding at least one k-gram
    that appears in >= ``min_docs`` distinct documents, with the count
    of such shared grams.

    Scale shape: explode -> two hash shuffles on the gram string
    (count-distinct-docs per gram; join flagged grams back). Linear in
    corpus grams, partial-aggregated map-side; never all-pairs. The
    exploded gram table feeds both the aggregate and the join-back, so
    it is localCheckpoint'd once (at cluster scale: persist to disk) —
    re-shingling the corpus twice costs more than the materialization.
    Hot grams (boilerplate shared by millions of docs) stay safe: the
    per-gram aggregate is partial-aggregated, and join-back fan-out is
    bounded by the exploded table's own row count."""
    eg = (
        df.select(F.col(id_col), F.explode(grams_col).alias("g"))
        .localCheckpoint(eager=False)
    )
    dup = (
        eg.groupBy("g")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("g")
    )
    # grams are per-doc distinct already -> plain count per doc
    return (
        eg.join(dup, "g")
        .groupBy(id_col)
        .agg(F.count("g").alias("dup_spans"))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    threshold: float,
    candidates: DataFrame | None = None,
    prefix_filter: bool = False,
    hot_df: int | None = 256,
) -> DataFrame:
    """Exact Jaccard similarity. |A∩B| and |A∪B| are integers so jaccard
    is deterministic cross-engine. Three physical strategies, all exact:

    * default: inverted-index COUNTING — explode shingles, self-join on
      shingle, count co-occurrences per pair (shuffles only (int, int)
      id pairs, never the arrays), derive union from set sizes. Wins for
      short documents / mostly-unique shingles (measured 4.3s vs 6.7s
      for prefix+verify on the 5k-doc fixture). Guarded by ``hot_df``:
      the posting self-join emits B² pairs per shingle bucket, so a
      stop-trigram shared by 10⁶ docs is a job-killer — when any
      shingle's document frequency exceeds ``hot_df``, the plan
      AUTO-SWITCHES to hot-demoted prefix candidates + exact verify
      (same results, bounded buckets). ``hot_df=None`` disables the
      guard (and its one detection aggregation).
    * ``prefix_filter=True``: AllPairs/PPJoin prefix filtering — shingles
      in a canonical md5 order, only each doc's first
      |s| - ceil(t*|s|) + 1 indexed; any pair with J >= t must collide
      in prefixes (pigeonhole, 100% recall). Wins when df^2 blowup
      dominates: long documents or hot shingles.
    * ``candidates`` given (e.g. from LSH): verification only — the
      (doc -> shingle-array) table SHUFFLE-joins onto the candidate
      pairs twice (by doc_a, then doc_b). Memory-safe at any corpus
      size: no executor ever holds the whole array table, unlike a
      broadcast (which is a hard OOM at 100 TB). The shuffle_hash hint
      stops Catalyst from electing to broadcast a mid-size array table.
    Never an O(n^2) cross join in any mode."""
    if candidates is None and prefix_filter:
        prefix = F.expr(
            f"transform(slice(array_sort(transform({shingles_col}, "
            f"s -> struct(md5(s) as h, s as v))), 1, "
            f"cast(size({shingles_col}) - ceil({threshold} * "
            f"size({shingles_col})) + 1 as int)), p -> p.v)"
        )
        posting = df.select(
            F.col(id_col).alias("doc"), F.explode(prefix).alias("shingle")
        )
        a = posting.alias("a")
        b = posting.alias("b")
        candidates = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(
                F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
            )
            .distinct()
        )

    if candidates is not None:
        arr = df.select(
            F.col(id_col).alias("doc"), F.col(shingles_col).alias("s")
        ).hint("shuffle_hash")
        return (
            candidates.join(
                arr.select(
                    F.col("doc").alias("doc_a"), F.col("s").alias("s_a")
                ),
                "doc_a",
            )
            .join(
                arr.select(
                    F.col("doc").alias("doc_b"), F.col("s").alias("s_b")
                ),
                "doc_b",
            )
            .withColumn("inter", F.size(F.array_intersect("s_a", "s_b")))
            .withColumn(
                "jaccard",
                F.col("inter")
                / (F.size("s_a") + F.size("s_b") - F.col("inter")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )

    sizes = df.select(
        F.col(id_col).alias("doc"), F.size(shingles_col).alias("sz")
    )
    # shuffle_hash hint: the posting table is |total shingles| rows —
    # mid-size enough that Catalyst's size estimate may choose to
    # BROADCAST it, which builds and ships a multi-MB hash relation per
    # task slot (measured 17s vs 4s first-run on 240k postings). At any
    # scale worth running this, the posting side must shuffle.
    posting = df.select(
        F.col(id_col).alias("doc"), F.explode(shingles_col).alias("shingle")
    ).hint("shuffle_hash")
    if hot_df is not None:
        # Two-stage hot-shingle guard. Stage 1 probes a ~6% doc sample —
        # a shingle with df > hot_df appears > hot_df*frac/2 times in
        # the sample with overwhelming probability, so the probe is a
        # cheap, reliable smoke alarm; clean corpora (the common case)
        # pay only this small job. Stage 2, reached only when the alarm
        # fires, computes the EXACT hot set with one map-combinable df
        # aggregation and switches to bounded prefix candidates.
        # Plain row Sample measured FASTEST of the probe shapes tried
        # (vs an id-hash filter pushed below the projection, and vs a
        # full-corpus df aggregation) — the sampled aggregation's
        # shuffle volume dominates, not where the sample sits. The
        # sample is coalesced to a handful of tasks: 6% of the corpus
        # on 32 scan tasks was pure scheduling overhead (r5's +17%
        # bench regression on clean corpora); AQE then collapses the
        # probe's reduce side too. The verdict is memoized per corpus
        # plan (semantic hash + TTL) so repeated analyses of one corpus
        # pay the alarm once, not per call.
        if _probe_alarm(df, shingles_col, hot_df):
            hot = (
                posting.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") > hot_df)
                .select("shingle")
            )
            if hot.limit(1).count() > 0:
                cand = _hot_demoted_prefix_candidates(
                    df, id_col, shingles_col, threshold, hot
                )
                return jaccard_pairs(
                    df, id_col, shingles_col, threshold, candidates=cand
                )
    a = posting.alias("a")
    b = posting.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # size lookups are |docs| rows — genuinely small, broadcast them
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "doc",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate GROUPS: connected components
    by iterative min-label propagation. ``vertices`` has one ``id_col``
    row per doc; ``edges`` has (doc_a, doc_b) pairs. Returns
    (id_col, component) where component = min doc id reachable.

    Each iteration is one join + aggregate (label of v := min of own and
    neighbors' labels); converges in <= graph-diameter iterations
    (near-dup graphs are shallow — dup clusters are cliques or near-
    cliques, so 2-4 rounds in practice). The loop is driver-side CONTROL
    only — data never leaves executors; the convergence check is a
    1-row count. localCheckpoint() per round truncates the growing
    lineage (at 100 TB use reliable checkpointing to object storage)."""
    # materialize the edge list ONCE: it is referenced in every
    # iteration's join, and without this the (possibly expensive)
    # upstream pair computation — e.g. a full exact-Jaccard pass — would
    # re-evaluate per round. Near-dup edge lists are O(dup pairs), tiny
    # next to the corpus.
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            edges.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint()
    )
    labels = vertices.select(
        F.col(id_col).alias("v"), F.col(id_col).alias("lbl")
    ).localCheckpoint()
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["v"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        # carry the previous label so convergence is a filter on the
        # checkpointed result, not an extra self-join per round
        new_labels = (
            labels.join(neighbor_min, labels["v"] == neighbor_min["src"], "left")
            .select(
                "v",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
                F.col("lbl").alias("__prev"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.filter(F.col("lbl") != F.col("__prev")).limit(1).count()
        )
        labels = new_labels.drop("__prev")
        if changed == 0:
            break
    return labels.select(F.col("v").alias(id_col), F.col("lbl").alias("component"))


def create_lsh_index(spark, path: str):
    """Create the empty persisted band index behind
    ``incremental_lsh_dedup``: a MERGE-ON-READ lakehouse table keyed on
    ``(band, band_key)`` holding the smallest document id seen per LSH
    bucket. It has no bucket layout: a batch probes it through
    ``LakehouseTable._latest_rows`` — every base and log file scanned in
    one job, the batch's bucket keys broadcast-semi-joined below the
    ``_rt`` merge, nothing shuffled — and only the touched buckets'
    rows (one per outstanding version) reach the driver, where the
    merge runs in Arrow. MoR because a batch's band keys are
    md5-uniform — they touch EVERY region of the key space, so a CoW
    upsert would rewrite the whole index each sync; the MoR upsert
    appends one log file of O(batch) rows instead (later commit wins
    per key — correct, the writer folds min(old, new) before writing)
    and periodic ``compact()`` amortizes the merge. This is the same
    economics that puts Hudi's own metadata table on MoR."""
    from hudi_and_delta_showcase_spark.tables import LakehouseTable

    empty = spark.createDataFrame(
        [], "band int, band_key string, min_doc_id long"
    )
    return LakehouseTable.create(
        spark,
        path,
        empty,
        key_cols=["band", "band_key"],
        table_type="mor",
    )


def incremental_lsh_dedup(
    index,
    sigs: DataFrame,
    id_col: str,
    bands: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """Incremental corpus dedup against a PERSISTED LSH band index:
    process one arriving batch against the index instead of re-running
    LSH over the whole corpus — the only dedup shape that survives a
    continuously-growing 100 TB corpus.

    Rule (exact, order-independent within the stream): a document is
    ``dropped`` iff it shares >=1 LSH band bucket with ANY
    smaller-id document seen so far; ``dup_of`` is the smallest such
    earlier document. The index stores min(doc_id) per (band,
    band_key); a batch consults the index plus its own intra-batch
    band minima, then folds its minima back in via one keyed upsert.
    Because each bucket's stored min is the GLOBAL min of all prior
    docs in that bucket, the batch verdicts equal the one-shot
    all-at-once computation whenever batches arrive in nondecreasing
    id order (out-of-order ids stay conservative-correct for the NEW
    doc but cannot retract an already-emitted verdict — same contract
    as any streaming dedup).

    Shape: table-sized work stays in Spark, batch-sized work runs in
    Arrow on the driver. The batch's band rows (batch x bands) are
    collected once; an empty batch returns its empty verdict right
    there, with no probe and no index write. The index is probed once
    through ``index._latest_rows``: one scan of every index file with
    the batch's bucket keys broadcast-semi-joined below the ``_rt``
    merge — O(index) read, nothing shuffled — and the latest row per
    touched bucket resolved in Arrow over O(batch x bands x (1 +
    outstanding logs)) rows. The per-bucket batch minima, the verdict
    and the min(old, new) fold are ``pyarrow.compute`` over O(batch x
    bands) rows, and the fold is upserted as one single-partition
    frame (one index log file per batch). Four Spark jobs per batch:
    the band collect, the probe's key broadcast and scan, and the log
    write. The verdict is a driver-built frame, so it is frozen BEFORE
    the index advances. Returns ``(<id_col> long, status, dup_of
    long)``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    spark = sigs.sparkSession
    # pinned so that an empty batch or an empty index keeps its types
    band_rows = pa.schema(
        [("doc", pa.int64()), ("band", pa.int32()), ("band_key", pa.string())]
    )
    index_rows = pa.schema(
        [("band", pa.int32()), ("band_key", pa.string()),
         ("min_doc_id", pa.int64())]
    )
    verdict_ddl = f"{id_col} long, status string, dup_of long"
    keys = ["band", "band_key"]
    bh = band_hashes(sigs, id_col, bands, hash_fn).toArrow().cast(band_rows)
    if not bh.num_rows:
        return spark.createDataFrame([], verdict_ddl)
    batch_min = bh.group_by(keys).aggregate([("doc", "min")])
    probe = spark.createDataFrame(
        batch_min.select(keys), "band int, band_key string"
    )
    hits = (
        index._latest_rows(probe, index_rows.names)
        .cast(index_rows)
        .rename_columns(keys + ["idx_min"])
    )
    buckets = batch_min.join(hits, keys, join_type="left outer")
    rows = bh.join(buckets, keys)
    doc, none = rows["doc"], pa.scalar(None, pa.int64())
    earlier = pc.min_element_wise(
        pc.if_else(pc.less(rows["idx_min"], doc), rows["idx_min"], none),
        pc.if_else(pc.less(rows["doc_min"], doc), rows["doc_min"], none),
    )
    dup_of = (
        pa.table({"doc": doc, "earlier": earlier})
        .group_by("doc")
        .aggregate([("earlier", "min")])
    )
    verdict = pa.table({
        id_col: dup_of["doc"],
        "status": pc.if_else(
            pc.is_null(dup_of["earlier_min"]), "kept", "dropped"
        ),
        "dup_of": dup_of["earlier_min"],
    })
    # fold this batch's minima into the index: upserts REPLACE stored
    # rows (commit order wins), so merge min(old, new) here, not via
    # precombine
    fold = pa.table({
        "band": buckets["band"],
        "band_key": buckets["band_key"],
        "min_doc_id": pc.min_element_wise(
            buckets["doc_min"], buckets["idx_min"]
        ),
    })
    index.upsert(
        spark.createDataFrame(
            fold, "band int, band_key string, min_doc_id long"
        ).coalesce(1)
    )
    return spark.createDataFrame(verdict, verdict_ddl)


def simhash(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    bits: int = 64,
) -> DataFrame:
    """SimHash fingerprint: per-bit majority vote of token hashes,
    weighted by term frequency. Expressed as explode -> token counts ->
    64 conditional sums -> bit reassembly; all JVM-side aggregates.

    Scale: two hash-partitioned aggregations on (doc, token) then (doc);
    shuffle volume is O(total distinct tokens)."""
    tf = (
        df.select(F.col(id_col).alias("doc"), F.explode(tokens_col).alias("tok"))
        .groupBy("doc", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("h", F.xxhash64("tok"))
    )
    one = F.lit(1).cast("long")
    bit_sums = [
        F.sum(
            F.when(
                F.col("h").bitwiseAND(F.shiftleft(one, i)) != 0, F.col("tf")
            ).otherwise(-F.col("tf"))
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    per_doc = tf.groupBy("doc").agg(*bit_sums)
    fp = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.shiftleft(one, i)).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp.bitwiseOR(term)
    return per_doc.select(F.col("doc").alias(id_col), fp.alias("simhash"))


def simhash_near_pairs(
    fps: DataFrame, id_col: str, max_hamming: int = 3, chunks: int = 4
) -> DataFrame:
    """Near-dup pairs by Hamming distance <= k on SimHash fingerprints.
    Candidate generation: a band join over ``chunks`` equal bit-chunks
    (never a cross join); verification via bit_count(xor).

    Recall contract, stated precisely: the pigeonhole guarantee — any
    pair within distance k shares at least one exact chunk — holds ONLY
    for ``max_hamming < chunks``. Above that (the default call sites
    use k=8 over 4 chunks, the Manku-style 64-bit web-dedup shape)
    candidate generation is PROBABILISTIC: a pair whose k errors spread
    across every chunk is missed. Guaranteeing k=8 by pigeonhole would
    need 16 4-bit chunks, whose 16-value buckets collide into a
    near-quadratic candidate set — strictly worse at scale than the
    recall-floor-gated 16-bit banding (floor asserted against exact
    Jaccard truth in tests/test_extensions.py)."""
    chunk_bits = 64 // chunks
    mask = (1 << chunk_bits) - 1
    chunked = fps.select(
        F.col(id_col).alias("doc"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned("simhash", i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("ck"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("doc", "simhash", "c.chunk", "c.ck")
    a, b = chunked.alias("a"), chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
