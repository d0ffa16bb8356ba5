"""The CoW rewrite planner (``LakehouseTable._plan_rewrite``): it must
never leave out a file that holds a batch key (soundness, checked by
brute force over the table's rows), and a steady-state upsert must stay
cheap in Spark jobs — the plan itself costs none."""

from __future__ import annotations

import random

import pytest

from hudi_and_delta_showcase_spark.tables import LakehouseTable

_SCHEMA = "k int, region string, category string, v int, sq int"
_REGIONS = (None, "US", "EU", "AS")


def _row(k: int, v: int, sq: int, moved: bool = False):
    # region/category are functions of the key (a null region lands in
    # the hive default partition); ``moved`` relocates the key to other
    # partitions, which only a global index resolves
    return (k, _REGIONS[(k + moved) % 4], "abc"[(k + moved) % 3], v, sq)


def _frame(spark, rows):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), _SCHEMA
    )


@pytest.mark.parametrize("global_index", [False, True])
def test_plan_rewrite_never_drops_a_holding_file(
    spark, tmp_path, global_index
):
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"),
        _frame(spark, [_row(k, k, 1) for k in range(10, 50)]),
        key_cols=["k"], precombine="sq", partition_by="region",
        global_index=global_index,
    )
    t.evolve_partitioning("category")
    # new keys under the new spec, one file per category
    t.upsert(_frame(spark, [_row(k, k, 2) for k in range(50, 80)]))
    prev = t._commit_for_write()
    assert any("__pp=__HIVE_DEFAULT_PARTITION__" in f for f in prev.files)
    assert any("__pp1=" in f for f in prev.files)
    holders: dict[str, set[str]] = {}
    for r in t._read_parquet(prev.files, prev).select(
        "_hoodie_record_key", t._dv_file_col().alias("f")
    ).collect():
        holders.setdefault(r._hoodie_record_key, set()).add(r.f)

    ranges = sorted(prev.key_ranges.values())
    pruned = 0
    for seed in range(4):
        rng = random.Random(seed)
        # a file's own min and max keys (the range check's edges), an
        # old-spec key of the null region, and a new key
        lo, hi = rng.choice(ranges)
        old = {int(lo), int(hi), 4 * rng.randrange(3, 13)}
        batch = [_row(k, -k, 3, moved=global_index) for k in old] + [
            _row(rng.randrange(80, 200), 0, 3)
        ]
        stamped = t._stamp_meta(_frame(spark, batch), "0")
        affected, carried, skipped = t._plan_rewrite(
            prev, t._plan_rows(stamped)
        )
        assert sorted(affected + carried) == sorted(prev.files)
        must = set().union(*(holders.get(str(r[0]), set()) for r in batch))
        assert must <= set(affected), (seed, must - set(affected))
        pruned += len(carried)
    assert pruned > 0, "the planner pruned nothing"

    # keys of the null region only, inside every old-spec file's key
    # range: only the partition tier (null -> hive default) can prune
    batch = [_row(k, 0, 3) for k in (12, 48)]
    affected, _carried, skipped = t._plan_rewrite(
        prev, t._plan_rows(t._stamp_meta(_frame(spark, batch), "0"))
    )
    assert holders["12"] | holders["48"] <= set(affected)
    if global_index:
        assert skipped["partition_skipped_files"] == 0
    else:
        assert set(affected) == {
            f for f in prev.files if "__pp=__HIVE_DEFAULT_PARTITION__" in f
        }
        assert skipped["partition_skipped_files"] > 0


def test_zero_row_file_is_never_rewritten(spark, tmp_path):
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), _frame(spark, []), key_cols=["k"],
    )
    c = t.upsert(_frame(spark, [_row(1, 1, 1)]))
    assert c.stats["rewritten_files"] == 0
    assert {r.k for r in t.read().collect()} == {1}


def _jobs_of(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_steady_state_upsert_jobs_and_pure_append(spark, tmp_path):
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"),
        _frame(spark, [_row(k, k, 1) for k in range(10, 50)]),
        key_cols=["k"], precombine="sq", partition_by="region",
    )
    t.upsert(_frame(spark, [_row(k, -k, 2) for k in (11, 12, 13)]))
    c, jobs = _jobs_of(
        spark, "planner-steady-upsert",
        lambda: t.upsert(
            _frame(spark, [_row(k, -k, 3) for k in (14, 15, 15, 60)])
        ),
    )
    assert c.stats["rewritten_files"] > 0
    assert jobs <= 4, f"steady-state upsert ran {jobs} Spark jobs"

    # inserts whose keys sort past every file's key range: pure append
    before = t._commit_for_write().files
    c = t.upsert(_frame(spark, [_row(k, k, 4) for k in (90, 91, 92, 93)]))
    assert c.stats["rewritten_files"] == 0
    assert set(before) <= set(c.files)
    assert c.stats["carried_over_files"] == len(before)
    got = {r.k: r.v for r in t.read().select("k", "v").collect()}
    assert len(got) == 45 and got[15] == -15 and got[92] == 92
