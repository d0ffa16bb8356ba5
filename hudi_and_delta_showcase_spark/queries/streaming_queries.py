"""Structured Streaming queries (SURVEY.md §2.10 upgrade path, M7).

Each query REALLY runs the micro-batch engine: a file-source readStream
over the fixture, ``trigger(availableNow=True)`` to drain it
deterministically, and a memory sink to hand the result back. The DuckDB
oracle expresses the same semantics in ANSI SQL (tumbling = time_bucket,
sliding = shifted-bucket union, sessions = gaps-and-islands, stateful =
plain aggregate), so the correctness gate covers the streaming engine
end-to-end, not a batch stand-in.
"""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hudi_and_delta_showcase_spark.queries.registry import query
from hudi_and_delta_showcase_spark.streaming import (
    apply_cdc_stream,
    read_events_stream,
    run_to_memory,
)
from hudi_and_delta_showcase_spark.streaming.windows import (
    ntz_epoch_instant,
    session_stats,
    sliding_avg,
    stateful_user_stats,
    tumbling_counts,
)


@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart,
           time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS wend,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=("streaming", "window", "agg"),
    bench=True,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts/sums over the events stream, drained with
    availableNow (complete mode -> every window emitted; watermarked
    append-mode eviction is exercised in tests/test_streaming.py — a
    watermark needs an LTZ event-time column, and this engine keeps
    fixture timestamps NTZ for timezone independence)."""
    sdf = read_events_stream(spark, sf_dir)
    agg = tumbling_counts(sdf, window="1 hour")
    return run_to_memory(agg, mode="complete", state_partitions=8)


@query(
    "stream_sliding_avg",
    oracle="""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS wstart, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, value
      FROM events
    )
    SELECT wstart, wstart + INTERVAL 1 HOUR AS wend,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS avg_value
    FROM assigned GROUP BY wstart
    """,
    tags=("streaming", "window", "agg"),
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30min window average. Oracle trick: with duration =
    2 x slide, each event belongs to exactly the two 30-min-aligned
    windows starting at bucket(ts) and bucket(ts)-30min."""
    sdf = read_events_stream(spark, sf_dir)
    agg = sliding_avg(sdf, window="1 hour", slide="30 minutes")
    return run_to_memory(agg, mode="complete", state_partitions=8)


@query(
    "stream_session_windows",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ), g AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id, sid
    """,
    tags=("streaming", "window"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-min inactivity gap) on the streaming
    engine; the oracle is the classic gaps-and-islands rewrite (session
    end = last event + gap, Spark's session_window contract)."""
    sdf = read_events_stream(spark, sf_dir)
    agg = session_stats(sdf, gap="30 minutes")
    return run_to_memory(agg, mode="complete", state_partitions=8)


@query(
    "stream_stateful_user_stats",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           epoch_us(MIN(ts)) AS min_ts_us,
           epoch_us(MAX(ts)) AS max_ts_us
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, distinct types, min/max event time) with explicit
    group state — the escape hatch for semantics window built-ins can't
    express. Single source file -> one micro-batch -> one emission per
    key, so the update-mode output is exactly the final state."""
    sdf = read_events_stream(spark, sf_dir)
    out = stateful_user_stats(sdf)
    return run_to_memory(out, mode="update", state_partitions=8)


@query(
    "stream_watermarked_counts",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1
    ), wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events)
    SELECT epoch_us(ws) AS wstart_us,
           epoch_us(ws + INTERVAL 1 HOUR) AS wend_us,
           n_events, sum_value
    FROM b, wm WHERE ws + INTERVAL 1 HOUR <= w
    """,
    tags=("streaming", "window", "watermark"),
)
def stream_watermarked_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARKED append-mode tumbling counts — the production streaming
    idiom: late rows beyond the 30-min delay are dropped, window state is
    evicted (bounded) and each window is emitted exactly once when the
    watermark passes its end. ``withWatermark`` needs an LTZ event-time
    column; the fixture ``ts`` is NTZ by design, so the event-time instant
    is built timezone-free — wall-clock micros since the NTZ epoch via
    ``timestampdiff``, then ``timestamp_micros`` — NOT a cast (casting
    NTZ->LTZ goes through the session timezone and shifts every window
    under a non-UTC driver session). Output window bounds are epoch
    micros (``unix_micros``) for the same reason. The oracle states the
    eviction contract: exactly the windows whose end <= max(ts) - delay
    (the final watermark after availableNow drains; the trailing
    still-open window is withheld — asserted in
    tests/test_streaming.py::test_watermarked_query_withholds_open_window).
    """
    sdf = read_events_stream(spark, sf_dir)
    ltz = sdf.withColumn("ts_ltz", ntz_epoch_instant("ts"))
    agg = (
        ltz.withWatermark("ts_ltz", "30 minutes")
        .groupBy(F.window("ts_ltz", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("wstart_us"),
            F.unix_micros(F.col("w.end")).alias("wend_us"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, mode="append", state_partitions=8)


@query(
    "stream_watermarked_sessions",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ), g AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    ), s AS (
      SELECT user_id,
             epoch_us(MIN(ts)) AS sstart_us,
             epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS send_us,
             COUNT(*) AS n_events
      FROM g GROUP BY user_id, sid
    ), wm AS (SELECT epoch_us(max(ts) - INTERVAL 30 MINUTE) AS w FROM events)
    SELECT s.* FROM s, wm WHERE s.send_us <= wm.w
    """,
    tags=("streaming", "window", "watermark"),
)
def stream_watermarked_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SESSION windows in append mode — dynamic, data-driven
    window bounds under bounded state: a session closes 30 min after its
    last event and is emitted exactly once when the watermark passes its
    end; trailing still-open sessions are withheld. Same timezone-free
    event-time bridge as ``stream_watermarked_counts``; the oracle is the
    gaps-and-islands session rewrite with the eviction cutoff (session
    end <= max(ts) - delay) applied."""
    sdf = read_events_stream(spark, sf_dir).withColumn(
        "ts_ltz", ntz_epoch_instant("ts")
    )
    agg = (
        sdf.withWatermark("ts_ltz", "30 minutes")
        .groupBy(
            F.session_window("ts_ltz", "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("sstart_us"),
            F.unix_micros(F.col("w.end")).alias("send_us"),
            "n_events",
        )
    )
    return run_to_memory(agg, mode="append", state_partitions=8)


# Golden post-merge state of the reference scenario (README.md:470-552):
# 4-row backfill, then {insert pk5 htc, update pk2 -> 201, soft-delete pk3}.
# updated_at = epoch seconds of the envelope event times.
_GOLDEN_FINAL_SQL = """
SELECT * FROM (VALUES
  (1, 'apple',    10, 1673496060, 'INSERT',        FALSE),
  (2, 'samsung', 201, 1673501401, 'UPDATE-INSERT', FALSE),
  (3, 'dell',     30, 1673501402, 'DELETE',        TRUE),
  (4, 'motorola', 40, 1673496063, 'INSERT',        FALSE),
  (5, 'htc',      50, 1673501400, 'INSERT',        FALSE)
) AS t(pk_id, name, value, updated_at, change_type, is_deleted)
"""


@query(
    "stream_cdc_apply_golden",
    oracle=_GOLDEN_FINAL_SQL,
    tags=("streaming", "cdc", "upsert"),
)
def stream_cdc_apply_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full CDC loop on the streaming engine: golden
    backfill + CDC envelope files dropped into a directory, consumed
    one-file-per-trigger by readStream, each micro-batch flattened,
    normalized, and keyed-upserted into a CoW lakehouse table via
    foreachBatch. Final table state must equal the reference's golden
    post-merge outputs (soft delete RETAINED — README.md:511-531)."""
    from hudi_and_delta_showcase_spark.operators.cdc import (
        golden_backfill,
        golden_cdc_batch,
    )

    root = tempfile.mkdtemp(prefix="cdc_stream_golden_")
    drop = f"{root}/drop"
    # two files, dropped in order: the backfill dump then the binlog batch
    golden_backfill(spark).coalesce(1).write.parquet(f"{drop}/b0")
    golden_cdc_batch(spark).coalesce(1).write.parquet(f"{drop}/b1")
    table = apply_cdc_stream(
        spark,
        drop_dir=f"{drop}/*/",
        table_path=f"{root}/table",
        checkpoint_dir=f"{root}/ckpt",
    )
    return table.read().select(
        "pk_id", "name", "value", "updated_at", "change_type", "is_deleted"
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-bound condition: purchases
    within one hour after a click, per user — both sides are streaming
    sources, matches emitted as both sides arrive (append mode). Drained
    with availableNow, the final output equals the batch join, which is
    exactly what the oracle states. (Production adds watermarks on both
    sides so the join state is bounded; the time-bound condition is what
    makes that eviction possible.)"""
    import pyspark.sql.functions as F

    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id", "user_id", "click_ts", "purchase_ts")
    return run_to_memory(joined, mode="append", state_partitions=8)


@query(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: append-mode ``dropDuplicates`` emits
    each (user_id, event_type) key the FIRST time it arrives and
    suppresses every later duplicate — the streaming twin of exact
    dedup, with seen-keys state in the state store. Output is the key
    set (which row arrived first is micro-batch-order-dependent; the key
    set itself is deterministic). At scale the unbounded seen-set is
    bounded with ``dropDuplicatesWithinWatermark`` — exercised in
    tests/test_streaming.py (watermarks need an LTZ column; fixture
    columns stay NTZ by design)."""
    sdf = read_events_stream(spark, sf_dir)
    deduped = sdf.select("user_id", "event_type").dropDuplicates()
    return run_to_memory(deduped, mode="append", state_partitions=8)


@query(
    "stream_table_changes",
    oracle="""
    SELECT event_id, user_id, ts, event_type, value,
           2 AS change_commits
    FROM (
      SELECT event_id, user_id, ts, event_type, value FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    )
    """,
    tags=("streaming", "cdc", "table"),
)
def stream_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental table read (Hudi streaming read / Delta
    ``readStream``): tail a CoW table's committed changes as a file
    stream — each change delivered exactly once even though CoW
    rewrites copy untouched rows forward (carry-over keeps its old
    instant stamp and is filtered JVM-side; see streaming/
    table_stream.py). The table gets create + upsert + OPTIMIZE
    commits; optimize must stream NOTHING (``change_commits`` pins
    exactly 2 change-bearing instants), and latest-per-key over the
    drained change stream must equal the final batch snapshot — the
    streamed tail reconstructs the table."""
    from hudi_and_delta_showcase_spark.queries.cdc_queries import (
        _FINAL_COLS,
        _make_table,
    )
    from hudi_and_delta_showcase_spark.streaming import (
        read_table_changes_stream,
    )
    from pyspark.sql import Window

    t = _make_table(spark, sf_dir, "cow")  # create(base) + upsert(incr)
    t.optimize(target_files=4)  # file re-org: no logical changes
    changes = run_to_memory(
        read_table_changes_stream(spark, t.path), mode="append",
        state_partitions=8,
    )
    n_instants = changes.select("_hoodie_commit_time").distinct().count()
    w = Window.partitionBy("user_id").orderBy(
        F.desc("_hoodie_commit_time"), F.desc("ts"), F.desc("event_id")
    )
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*_FINAL_COLS)
        .withColumn("change_commits", F.lit(n_instants))
    )


@query(
    "stream_gold_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(32,6))) AS DOUBLE) AS sum_value
    FROM (
      SELECT event_type, value FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    )
    GROUP BY event_type
    """,
    tags=("streaming", "cdc", "incremental", "cdf"),
)
def stream_gold_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental view maintenance, the production
    bootstrap-then-tail pattern: the gold state SEEDS from the bronze
    table's version-0 change feed (one batch ``read_changes(0, 0)`` —
    an add-only commit, so the images are synthesized from its data
    files, Delta CDF's rule; no sidecar bytes exist for it, r7), then
    the sidecar directory streams every LATER commit's changes; each
    micro-batch becomes retraction deltas (+post, -pre) merged into
    the running aggregate in foreachBatch. Retraction algebra is
    commutative, so file-discovery order across commits cannot change
    the result; decimal sums make the drained state EXACTLY equal the
    oracle's from-scratch recompute. This is the retract-stream
    materialized view the batch twin (cdc_incremental_gold_agg) builds
    one commit at a time."""
    from hudi_and_delta_showcase_spark.operators.incremental import (
        agg_delta,
        apply_delta,
    )
    from hudi_and_delta_showcase_spark.queries.cdc_queries import (
        gold_bronze_fixture,
    )

    # the 3-commit CDC-enabled bronze fixture is SHARED with the batch
    # twin (cdc_incremental_gold_agg) and memoized per (process,
    # sf_dir): whichever twin runs second pays zero rebuild
    t = gold_bronze_fixture(spark, sf_dir)

    cdc_glob = f"{t.path}/cdc/*"
    schema = spark.read.parquet(cdc_glob).schema
    # 2 files per trigger: retraction algebra is commutative and
    # grouping-free, so batch composition is purely an overhead knob —
    # the fixture's 5 change files still span 3 micro-batches (the
    # multi-batch accumulation under test) while per-batch engine
    # overhead drops ~3x (measured 3.9s -> 1.3s at sf0.1)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(cdc_glob)
    )
    # bootstrap: version 0's insert images (synthesized — add-only
    # commits write no sidecar) seed the aggregate before the tail
    seed = agg_delta(t.read_changes(0, 0), ["event_type"], ["value"])
    state: dict = {
        "gold": apply_delta(
            None, seed, ["event_type"], ["value"]
        ).localCheckpoint()
    }

    def apply_batch(batch: DataFrame, _bid: int) -> None:
        delta = agg_delta(batch, ["event_type"], ["value"])
        gold = apply_delta(
            state["gold"], delta, ["event_type"], ["value"]
        )
        # truncate lineage so state doesn't re-derive every batch chain
        state["gold"] = gold.localCheckpoint()

    # fixture-scale state sizing, same rationale as run_to_memory's
    # state_partitions: each micro-batch's agg shuffles a handful of
    # rows; 32 near-empty partitions are pure scheduling overhead
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="gold_ckpt_")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    # DECIMAL internally for exact retraction; DOUBLE at the output
    # boundary per the repo-wide aggregate-output convention.
    return state["gold"].select(
        "event_type", "n", F.col("sum_value").cast("double").alias("sum_value")
    )


@query(
    "stream_incremental_dedup",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ')
                            for i in range(1, len(w) - 1)]) AS s
      FROM toks WHERE len(w) >= 3
    ),
    exploded AS (
      SELECT doc_id, UNNEST(s) AS sv FROM sh
    ),
    hashes AS (
      SELECT e.doc_id, h.h AS h,
             MIN(('0x' || substr(md5(e.sv), 1, 12))::BIGINT
                 + h.h * ('0x' || substr(md5(e.sv), 13, 12))::BIGINT) AS mh
      FROM exploded e
      CROSS JOIN (SELECT UNNEST(generate_series(0, 15)) AS h) h
      GROUP BY e.doc_id, h.h
    ),
    bands AS (
      SELECT doc_id, h // 2 AS band,
             md5(string_agg(mh::VARCHAR, '|' ORDER BY h)) AS band_key
      FROM hashes GROUP BY doc_id, h // 2
    ),
    coll AS (
      SELECT a.doc_id, MIN(b.doc_id) AS dup_of
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND b.doc_id < a.doc_id
      GROUP BY a.doc_id
    )
    SELECT d.doc_id,
           CASE WHEN c.dup_of IS NULL THEN 'kept' ELSE 'dropped' END
             AS status,
           c.dup_of
    FROM documents d LEFT JOIN coll c ON d.doc_id = c.doc_id
    """,
    tags=("streaming", "dedup", "incremental"),
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING corpus dedup against the persisted LSH band index
    (late r7) — the continuous-ingest shape of dedup_incremental_index:
    documents arrive as a file stream (one range-ordered file per
    micro-batch), each batch shingles/minhashes ITS OWN rows, probes
    the MoR band index once (an index scan that returns only the
    batch's buckets), computes its verdicts and band minima in Arrow on
    the driver, and folds the minima back in with one keyed upsert
    inside foreachBatch. Three micro-batches must reproduce the one-shot
    oracle verdict for the whole corpus — exactly the property the
    incremental fold guarantees for id-ordered arrivals. At 100 TB
    this is THE dedup ingest loop: work per trigger scales with the
    batch, never the corpus."""
    from hudi_and_delta_showcase_spark.io import load_table
    from hudi_and_delta_showcase_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stage = tempfile.mkdtemp(prefix="docs_stream_") + "/in"
    # range partitioning gives part files whose NAME order equals id
    # order; the file source DISCOVERS by modification time though, and
    # parallel write tasks finish in any order — pin strictly
    # increasing mtimes in name order so micro-batches arrive
    # nondecreasing in doc_id (the incremental contract; an
    # out-of-order arrival stays conservative-correct but diverges
    # from the one-shot oracle)
    docs.repartitionByRange(3, "doc_id").write.parquet(stage)
    import os as _os

    base_t = 1_700_000_000
    for i, fn in enumerate(
        sorted(f for f in _os.listdir(stage) if f.endswith(".parquet"))
    ):
        _os.utime(_os.path.join(stage, fn), (base_t + i, base_t + i))
    idx = D.create_lsh_index(
        spark, tempfile.mkdtemp(prefix="lshidx_stream_") + "/index"
    )
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/part-*")
    )
    state: dict = {"verdicts": None}

    def apply_batch(batch: DataFrame, _bid: int) -> None:
        sh = D.word_shingles(D.tokenize(batch, "text"), "tokens", 3)
        sigs = D.minhash_signatures(
            sh, "doc_id", "shingles", num_hashes=16, hash_fn="md5"
        )
        v = D.incremental_lsh_dedup(idx, sigs, "doc_id")
        state["verdicts"] = (
            v
            if state["verdicts"] is None
            else state["verdicts"].unionByName(v).localCheckpoint()
        )

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix="dedup_ckpt_"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    return state["verdicts"]
