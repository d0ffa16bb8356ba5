"""The reference's own golden scenario (SURVEY.md §5, FIXTURES.md A):
4-row backfill + {insert pk5 htc, update pk2 samsung->201, soft-delete pk3
dell} CDC batch, asserted against the exact post-merge states the README
documents for CoW, MoR `_ro`/`_rt`, compaction, and maintenance."""

from __future__ import annotations

import os

import pytest
import pyspark.sql.functions as F

from hudi_and_delta_showcase_spark.operators.cdc import (
    flatten_envelope,
    golden_backfill,
    golden_cdc_batch,
    latest_change_per_key,
    normalize_timestamps,
    precombine_dedup,
)
from hudi_and_delta_showcase_spark.operators.upsert import merge_routing, upsert
from hudi_and_delta_showcase_spark.tables import LakehouseTable


def _prepare(spark):
    """Reference ingest pipeline: read envelopes -> flatten payload ->
    normalize timestamps to epoch seconds (README.md:264-273)."""
    full = normalize_timestamps(
        flatten_envelope(golden_backfill(spark)), ["updated_at", "created_at"]
    )
    cdc = normalize_timestamps(
        flatten_envelope(golden_cdc_batch(spark)), ["updated_at", "created_at"]
    )
    return full, cdc


def _state(df):
    rows = df.select(
        "pk_id", "name", "value", F.col("source_metadata.is_deleted").alias("deleted")
    ).collect()
    return {r.pk_id: (r.name, r.value, r.deleted) for r in rows}


def test_flatten_envelope_shape(spark):
    flat = flatten_envelope(golden_backfill(spark))
    # payload fields promoted to top level, envelope columns retained
    for col in ["pk_id", "name", "value", "updated_at", "created_at",
                "uuid", "read_method", "source_metadata", "payload"]:
        assert col in flat.columns
    assert flat.count() == 4


def test_normalize_timestamps_epoch(spark):
    flat = flatten_envelope(golden_backfill(spark))
    norm = normalize_timestamps(flat, ["updated_at", "created_at"])
    assert dict(norm.dtypes)["updated_at"] == "bigint"
    # 2023-01-12 04:01:00 UTC
    assert norm.agg(F.min("updated_at")).first()[0] == 1673496060


def test_precombine_dedup_latest_wins(spark):
    _, cdc = _prepare(spark)
    doubled = cdc.unionByName(
        cdc.withColumn("value", F.col("value") + 1000)
        .withColumn("updated_at", F.col("updated_at") - 100)
    )
    deduped = precombine_dedup(doubled, ["pk_id"], "updated_at")
    assert deduped.count() == 3
    # the +1000 rows have OLDER updated_at, so originals win
    assert _state(deduped)[2] == ("samsung", 201, False)


def test_latest_change_per_key_groupby_join_form(spark):
    _, cdc = _prepare(spark)
    out = latest_change_per_key(cdc, ["pk_id"], "updated_at")
    assert out.count() == 3


def test_merge_routing(spark):
    full, cdc = _prepare(spark)
    routed = merge_routing(full, cdc, ["pk_id"])
    actions = {r.pk_id: r.merge_action for r in routed.collect()}
    assert actions == {5: "insert", 2: "update", 3: "update"}


def test_upsert_operator_semantics(spark):
    full, cdc = _prepare(spark)
    merged = upsert(full, cdc, ["pk_id"], precombine="updated_at")
    state = _state(merged)
    # golden post-merge state (README.md:491-552): tombstone row RETAINED
    assert state == {
        1: ("apple", 10, False),
        2: ("samsung", 201, False),
        3: ("dell", 30, True),
        4: ("motorola", 40, False),
        5: ("htc", 50, False),
    }
    # hard-delete variant (whenMatchedDelete, not used by the reference)
    hard = upsert(
        full, cdc, ["pk_id"], precombine="updated_at",
        hard_delete_col="source_metadata.is_deleted",
    )
    assert set(_state(hard)) == {1, 2, 4, 5}


@pytest.fixture()
def table_dir(tmp_path):
    return str(tmp_path / "hudi_delta_test")


def test_cow_golden_scenario(spark, table_dir):
    full, cdc = _prepare(spark)
    t = LakehouseTable.create(
        spark, table_dir, full,
        key_cols=["pk_id"], precombine="updated_at",
        partition_by="created_at", table_type="cow",
    )
    v0 = {r.pk_id: r._hoodie_commit_time for r in t.read().collect()}
    t.upsert(cdc)

    state = _state(t.read())
    assert state == {
        1: ("apple", 10, False),
        2: ("samsung", 201, False),
        3: ("dell", 30, True),
        4: ("motorola", 40, False),
        5: ("htc", 50, False),
    }
    # meta-column contract (README.md:470-491): updated rows carry the new
    # commit time, untouched rows keep the old one
    v1 = {r.pk_id: r._hoodie_commit_time for r in t.read().collect()}
    assert v1[1] == v0[1] and v1[4] == v0[4]
    assert v1[2] > v0[2] and v1[3] > v0[3]
    assert v1[5] == v1[2]
    # meta columns exist (README.md:299-304)
    for c in ["_hoodie_commit_time", "_hoodie_commit_seqno",
              "_hoodie_record_key", "_hoodie_partition_path",
              "_hoodie_file_name"]:
        assert c in t.read().columns

    # C7 time travel: version 0 is the pre-merge state
    old = _state(t.read(version=0))
    assert old[2] == ("samsung", 20, False) and 5 not in old


def test_mor_golden_scenario(spark, table_dir):
    full, cdc = _prepare(spark)
    t = LakehouseTable.create(
        spark, table_dir, full,
        key_cols=["pk_id"], precombine="updated_at", table_type="mor",
    )
    t.upsert(cdc)

    # README.md:920: _ro is stale (samsung 20, no htc); _rt is merged
    ro, rt = _state(t.read_ro()), _state(t.read_rt())
    assert ro[2] == ("samsung", 20, False) and 5 not in ro
    assert rt[2] == ("samsung", 201, False) and rt[5] == ("htc", 50, False)
    assert rt[3] == ("dell", 30, True)  # soft delete retained

    # compaction folds logs into base: _ro catches up (README.md:605,918)
    t.compact()
    ro2 = _state(t.read_ro())
    assert ro2[2] == ("samsung", 201, False) and ro2[5] == ("htc", 50, False)
    assert t._commit(None).log_files == []


def test_incremental_pull_cow(spark, table_dir):
    """Hudi incremental query semantics (README.md:576): pull only the
    latest state of records changed in (begin, end] — begin exclusive,
    end inclusive; carried-over rows are excluded by commit time."""
    full, cdc = _prepare(spark)
    t = LakehouseTable.create(
        spark, table_dir, full,
        key_cols=["pk_id"], precombine="updated_at", table_type="cow",
    )
    t.upsert(cdc)

    inc = _state(t.read_incremental(begin_version=0))
    assert set(inc) == {2, 3, 5}  # update, soft delete, insert — not 1/4
    assert inc[2] == ("samsung", 201, False)
    assert inc[3] == ("dell", 30, True)
    # begin is exclusive: (v0, v0] is empty
    assert t.read_incremental(0, end_version=0).count() == 0

    # third commit touches only pk 2; (v1, v2] sees just that change,
    # (v0, v1] still reads the v1 change set via end_version time travel
    t.upsert(cdc.filter(F.col("pk_id") == 2).withColumn("value", F.lit(999)))
    assert set(_state(t.read_incremental(1))) == {2}
    assert _state(t.read_incremental(1))[2] == ("samsung", 999, False)
    assert set(_state(t.read_incremental(0, end_version=1))) == {2, 3, 5}


def test_incremental_pull_mor(spark, table_dir):
    """MoR incremental resolves through the _rt merge first: the pull
    returns merged winners in the commit range, not raw log rows."""
    full, cdc = _prepare(spark)
    t = LakehouseTable.create(
        spark, table_dir, full,
        key_cols=["pk_id"], precombine="updated_at", table_type="mor",
    )
    t.upsert(cdc)
    inc = _state(t.read_incremental(begin_version=0))
    assert set(inc) == {2, 3, 5}
    assert inc[2] == ("samsung", 201, False)


def test_optimize_and_vacuum(spark, table_dir):
    full, cdc = _prepare(spark)
    t = LakehouseTable.create(
        spark, table_dir, full, key_cols=["pk_id"], precombine="updated_at",
    )
    t.upsert(cdc)
    before_files = len(t._commit(None).files)
    t.optimize(target_files=1)
    assert len(t._commit(None).files) == 1
    assert _state(t.read())[2] == ("samsung", 201, False)

    # vacuum drops files only referenced by old versions
    res = t.vacuum(retain_versions=1)
    assert res["removed_files"] >= before_files
    # newest snapshot still fully readable
    assert t.read().count() == 5
    # time travel to vacuumed versions now fails (like Delta post-VACUUM)
    with pytest.raises(Exception):
        t.read(version=0).collect()


def test_cow_partition_scoped_rewrite(spark, table_dir):
    """C8: only partitions containing upserted keys are rewritten."""
    full, cdc = _prepare(spark)
    # two partitions: put pk 1/2 in one created_at bucket, 3/4 in another
    full2 = full.withColumn(
        "created_at",
        F.when(F.col("pk_id") <= 2, F.lit(1000)).otherwise(F.lit(2000)),
    )
    cdc2 = cdc.filter(F.col("pk_id") == 2).withColumn("created_at", F.lit(1000))
    t = LakehouseTable.create(
        spark, table_dir, full2,
        key_cols=["pk_id"], precombine="updated_at",
        partition_by="created_at",
    )
    commit = t.upsert(cdc2)
    assert commit.stats["carried_over_files"] > 0  # partition 2000 untouched
    assert commit.stats["rewritten_files"] > 0     # partition 1000 rewritten
    state = _state(t.read())
    assert state[2] == ("samsung", 201, False) and state[4] == ("motorola", 40, False)


def test_key_range_file_skipping(spark, sf_dir, tmp_path):
    """Key-level file skipping (Hudi bloom/range index tier): after
    OPTIMIZE clusters the table into files with disjoint record-key
    ranges, an upsert touching a narrow key range must rewrite only the
    intersecting files — and the snapshot must stay exactly correct."""
    import pyspark.sql.functions as F

    from hudi_and_delta_showcase_spark.io import load_table
    from hudi_and_delta_showcase_spark.tables import LakehouseTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), events,
        key_cols=["event_id"], precombine="ts",
    )
    t.optimize(target_files=8, cluster_by=["_hoodie_record_key"])
    commit = t._commit(None)
    assert len(commit.files) == 8
    assert set(commit.key_ranges) == set(commit.files)  # index populated

    # batch touching 3 existing keys (a narrow record-key range)
    ids = sorted(r.event_id for r in events.select("event_id").collect())
    batch = events.filter(F.col("event_id").isin(ids[:3])).withColumn(
        "value", F.lit(-1.0)
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 1000 DAYS"))
    c2 = t.upsert(batch)
    assert c2.stats["key_range_skipped_files"] > 0
    assert c2.stats["rewritten_files"] < 8

    state = {r.event_id: r.value for r in t.read().collect()}
    assert all(state[i] == -1.0 for i in ids[:3])
    assert len(state) == len(ids)
    # ranges carried over for skipped files + fresh for new ones
    assert set(c2.key_ranges) == set(c2.files)


def test_optimize_cluster_by_preserves_data_and_sorts_files(spark, sf_dir, tmp_path):
    """OPTIMIZE with linear clustering: same snapshot content, and rows
    inside each written file are sorted by the cluster key (so parquet
    min/max stats become selective)."""
    import pyspark.sql.functions as F

    from hudi_and_delta_showcase_spark.io import load_table
    from hudi_and_delta_showcase_spark.tables import LakehouseTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), events,
        key_cols=["event_id"], precombine="ts",
    )
    before = sorted(r.event_id for r in t.read().select("event_id").collect())
    t.optimize(target_files=2, cluster_by=["user_id", "ts"])
    after_df = t.read()
    after = sorted(r.event_id for r in after_df.select("event_id").collect())
    assert before == after
    # within each physical file, user_id must be non-decreasing
    per_file = (
        after_df.select("_hoodie_file_name", "user_id")
        .withColumn(
            "prev",
            F.lag("user_id").over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("_hoodie_file_name")
                .orderBy(F.monotonically_increasing_id())
            ),
        )
        .filter(F.col("prev").isNotNull() & (F.col("user_id") < F.col("prev")))
    )
    assert per_file.count() == 0


def test_read_for_keys_prunes_files(spark, sf_dir, tmp_path):
    """Point-lookup path: after clustering, a 3-key lookup must scan a
    strict subset of the table's files (driver-side range pruning) and
    return exactly those keys' rows."""
    import pyspark.sql.functions as F

    from hudi_and_delta_showcase_spark.io import load_table
    from hudi_and_delta_showcase_spark.tables import LakehouseTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), events,
        key_cols=["event_id"], precombine="ts",
    )
    t.optimize(target_files=8, cluster_by=["_hoodie_record_key"])
    ids = sorted(r.event_id for r in events.select("event_id").collect())
    probe = [ids[0], ids[len(ids) // 2], ids[-1]]

    out = t.read_for_keys(probe)
    assert 0 < len(out.inputFiles()) < 8  # pruned, not full scan
    got = sorted(r.event_id for r in out.collect())
    assert got == sorted(probe)

    # missing key -> empty, never an error
    assert t.read_for_keys(["definitely-not-a-key"]).count() == 0

    # MoR path: logs outstanding -> resolves through _rt, still exact
    m = LakehouseTable.create(
        spark, str(tmp_path / "m"), events,
        key_cols=["event_id"], precombine="ts", table_type="mor",
    )
    m.upsert(
        events.filter(F.col("event_id") == probe[0]).withColumn(
            "value", F.lit(-5.0)
        ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 1000 DAYS"))
    )
    rows = m.read_for_keys([probe[0]]).collect()
    assert len(rows) == 1 and rows[0].value == -5.0


def test_delete_operation(spark, table_dir):
    """Hard DELETE by key: rows gone from the snapshot, prior versions
    still time-travelable until vacuum, MoR compacts-then-deletes."""
    full, cdc = _prepare(spark)
    t = LakehouseTable.create(
        spark, table_dir, full,
        key_cols=["pk_id"], precombine="updated_at", table_type="cow",
    )
    t.upsert(cdc)
    t.delete(spark.createDataFrame([(2,), (3,)], "pk_id long"))
    assert set(_state(t.read())) == {1, 4, 5}
    # MVCC: pre-delete version still readable
    assert set(_state(t.read(version=1))) == {1, 2, 3, 4, 5}
    assert t._commit(None).action == "delete"

    m = LakehouseTable.create(
        spark, table_dir + "_mor", full,
        key_cols=["pk_id"], precombine="updated_at", table_type="mor",
    )
    m.upsert(cdc)
    m.delete(spark.createDataFrame([(5,)], "pk_id long"))
    assert set(_state(m.read())) == {1, 2, 3, 4}


def test_optimistic_concurrency_conflict(spark, table_dir):
    """Two writers racing to the same commit version: the second
    append_commit must fail loudly (version file already exists), never
    silently overwrite — the manifest layer's optimistic concurrency."""
    from hudi_and_delta_showcase_spark.tables import manifest as mf

    full, _ = _prepare(spark)
    t = LakehouseTable.create(
        spark, table_dir, full, key_cols=["pk_id"], precombine="updated_at",
    )
    v = t._commit(None).version + 1
    c = mf.Commit(version=v, action="upsert",
                  commit_time=mf.make_commit_time())
    mf.append_commit(t.path, c)
    with pytest.raises(RuntimeError, match="concurrent"):
        mf.append_commit(
            t.path,
            mf.Commit(version=v, action="upsert",
                      commit_time=mf.make_commit_time()),
        )


def test_restore_version(spark, sf_dir, tmp_path):
    """restore(v) rolls the snapshot back as a NEW commit: read() equals
    the old version, history keeps every commit, time travel still sees
    the pre-restore state, and restore refuses when vacuum has removed
    a needed file."""
    from hudi_and_delta_showcase_spark.io import load_table
    from hudi_and_delta_showcase_spark.tables import LakehouseTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    base = events.filter("user_id <= 20")
    incr = events.filter("user_id > 20")
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), base,
        key_cols=["event_id"], precombine="ts",
    )
    t.upsert(incr)
    c = t.restore(0)
    assert c.action == "restore" and c.version == 2
    assert t.read().count() == base.count()
    # pre-restore snapshot still reachable via time travel
    assert t.read(version=1).count() == events.count()
    # restore carried the skipping indexes along
    assert c.key_ranges and c.col_stats
    # the upsert commit maintained both indexes too (carry + new files)
    from hudi_and_delta_showcase_spark.tables import manifest as mf
    up = mf.read_commit(str(tmp_path / "t"), 1)
    assert up.key_ranges and up.col_stats
    # vacuum to latest only -> v1's upsert files are gone -> refuse
    t.vacuum(retain_versions=1)
    with pytest.raises(RuntimeError, match="vacuumed"):
        t.restore(1)


def test_zorder_multidim_skipping(spark, sf_dir, tmp_path):
    """Z-order clustering must make read_where selective on BOTH
    interleaved dimensions, where linear clustering only serves its
    leading column (trailing columns span every file). Results stay
    exact in all cases."""
    from hudi_and_delta_showcase_spark.io import load_table
    from hudi_and_delta_showcase_spark.tables import LakehouseTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    z = LakehouseTable.create(
        spark, str(tmp_path / "z"), events,
        key_cols=["event_id"], precombine="ts",
    )
    z.optimize(target_files=16, zorder_by=["user_id", "value"])
    total = len(z._commit(None).files)
    assert total > 4
    by_val = z.read_where("value", lo=100.0, hi=200.0)
    by_user = z.read_where("user_id", lo=0, hi=3)
    assert 0 < len(by_val.inputFiles()) < total
    assert 0 < len(by_user.inputFiles()) < total
    expect = sorted(
        r.event_id
        for r in events.filter("value between 100 and 200").collect()
    )
    assert sorted(r.event_id for r in by_val.collect()) == expect

    # linear clustering on user_id: value ranges span every file
    lin = LakehouseTable.create(
        spark, str(tmp_path / "lin"), events,
        key_cols=["event_id"], precombine="ts",
    )
    lin.optimize(target_files=16, cluster_by=["user_id"])
    lin_total = len(lin._commit(None).files)
    assert len(
        lin.read_where("value", lo=100.0, hi=200.0).inputFiles()
    ) == lin_total


def test_read_where_data_skipping(spark, sf_dir, tmp_path):
    """Column-stats data skipping: after clustering on a data column, a
    selective range read must scan a strict subset of files and return
    exactly the filtered rows (CoW); MoR with outstanding logs resolves
    through _rt and stays exact."""
    import pyspark.sql.functions as F

    from hudi_and_delta_showcase_spark.io import load_table
    from hudi_and_delta_showcase_spark.tables import LakehouseTable

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), events,
        key_cols=["event_id"], precombine="ts",
    )
    t.optimize(target_files=8, cluster_by=["user_id"])
    out = t.read_where("user_id", lo=1, hi=3)
    assert 0 < len(out.inputFiles()) < 8
    expect = sorted(
        r.event_id
        for r in events.filter("user_id between 1 and 3").collect()
    )
    assert sorted(r.event_id for r in out.collect()) == expect

    # MoR: update one row's value via log, range-read must see the
    # merged (fresh) value
    m = LakehouseTable.create(
        spark, str(tmp_path / "m"), events,
        key_cols=["event_id"], precombine="ts", table_type="mor",
    )
    first = events.filter("user_id = 2").limit(1).collect()[0]
    m.upsert(
        spark.createDataFrame(
            [(first.event_id, first.user_id, first.ts, -9.0)],
            events.schema,
        ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 1000 DAYS"))
    )
    got = {
        r.event_id: r.value
        for r in m.read_where("user_id", lo=2, hi=2).collect()
    }
    assert got[first.event_id] == -9.0


def test_savepoint_survives_vacuum_and_restores(spark, tmp_path):
    """Hudi savepoint: a pinned version's files survive VACUUM retention
    and RESTORE to it succeeds; without the pin the same restore raises;
    releasing the pin re-exposes the files to vacuum."""
    from hudi_and_delta_showcase_spark.tables.lakehouse import LakehouseTable

    df = spark.createDataFrame([(1, 10, 1), (2, 20, 1)], "k int, v int, sq int")
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), df, key_cols=["k"], precombine="sq"
    )
    t.savepoint(0, label="pre-upsert")
    t.upsert(spark.createDataFrame([(1, 11, 2)], "k int, v int, sq int"))
    t.upsert(spark.createDataFrame([(2, 22, 3)], "k int, v int, sq int"))
    t.vacuum(retain_versions=1)
    # v0's files survived the pin -> restore works
    t.restore(0)
    assert {r.v for r in t.read().select("v").collect()} == {10, 20}
    # v1 was NOT savepointed and its unique files were vacuumed
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="vacuumed"):
        t.restore(1)
    assert t.savepoints() == {0: "pre-upsert"}
    # releasing the pin exposes v0's files to the next vacuum
    t.delete_savepoint(0)
    # touch an existing key so v0's only file is rewritten (a new key
    # past the file's key range would be a pure append that keeps it)
    t.upsert(spark.createDataFrame([(1, 12, 9)], "k int, v int, sq int"))
    t.vacuum(retain_versions=1)
    with _pytest.raises(RuntimeError, match="vacuumed"):
        t.restore(0)
