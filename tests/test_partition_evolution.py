"""Partition-spec evolution (Iceberg `partition evolution`): change the
partition column with a METADATA-ONLY DDL — old files keep their layout,
new files use the new spec, pruning stays exact per-file, rewrites
converge the table to the current spec."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hudi_and_delta_showcase_spark.tables import LakehouseTable
from hudi_and_delta_showcase_spark.tables.manifest import (
    ConcurrentWriteConflict,
)


def _rows(spark, rows):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "k int, region string, category string, v int, sq int",
    )


def _seed(spark, path, **kw):
    base = _rows(
        spark,
        [
            (1, "US", "a", 10, 100),
            (2, "US", "b", 20, 100),
            (3, "EU", "a", 30, 100),
            (4, "EU", "b", 40, 100),
        ],
    )
    return LakehouseTable.create(
        spark,
        path,
        base,
        key_cols=["k"],
        precombine="sq",
        partition_by="region",
        **kw,
    )


def test_evolve_is_metadata_only_and_new_writes_use_new_spec(
    spark, tmp_path
):
    t = _seed(spark, str(tmp_path / "t"))
    files_before = set(t._commit(None).files)
    t.evolve_partitioning("category")
    assert t.partition_by == "category"
    assert t.partition_specs == ["region", "category"]
    # metadata-only: zero files touched
    assert set(t._commit(None).files) == files_before
    assert all(f.split("/")[-2].startswith("__pp=") for f in files_before)

    t.upsert(_rows(spark, [(5, "AS", "c", 50, 101)]))
    new = set(t._commit(None).files) - files_before
    assert new, "insert after evolution wrote no files"
    # new files carry the NEW spec's token (__pp1=) and value
    assert all("__pp1=c" in f for f in new)
    # full read sees both layouts
    assert t.read().count() == 5


def test_reopened_handle_sees_evolved_spec(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _seed(spark, path)
    t.evolve_partitioning("category")
    t2 = LakehouseTable.load(spark, path)
    assert t2.partition_by == "category"
    assert t2.partition_specs == ["region", "category"]


def test_upsert_prunes_old_spec_files_by_their_own_column(
    spark, tmp_path
):
    """A post-evolution upsert prunes OLD-spec files against the batch's
    values of the OLD column — not the new one — so pruning stays exact
    (files in other regions untouched), and updates still land."""
    t = _seed(spark, str(tmp_path / "t"))
    old_files = {
        f: t._partition_spec_value_of(f) for f in t._commit(None).files
    }
    assert set(v for _i, v in old_files.values()) == {"US", "EU"}
    t.evolve_partitioning("category")

    # batch touches only region=US keys (k=1 update) + a new-spec insert
    batch = _rows(
        spark, [(1, "US", "a", 11, 102), (6, "AS", "c", 60, 102)]
    )
    _affected, untouched, skipped = t._plan_rewrite(
        t._commit_for_write(), t._plan_rows(t._stamp_meta(batch, "0"))
    )
    # EU files pruned via their own (old) spec column — by the partition
    # tier itself, not by the key-range tier behind it
    assert all(old_files[f][1] == "EU" for f in untouched)
    assert untouched, "old-spec pruning degraded to scan-everything"
    assert skipped["partition_skipped_files"] == sum(
        v == "EU" for _i, v in old_files.values()
    )

    t.upsert(batch)
    got = {
        (r.k, r.v)
        for r in t.read().select("k", "v").collect()
    }
    assert got == {(1, 11), (2, 20), (3, 30), (4, 40), (6, 60)}


def test_unpartition_and_repartition(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    t.evolve_partitioning(None)
    t.upsert(_rows(spark, [(7, "SA", "d", 70, 103)]))
    flat = [
        f
        for f in t._commit(None).files
        if t._partition_spec_value_of(f)[0] == -1
    ]
    assert flat, "unpartitioned write still produced partition dirs"
    t.evolve_partitioning("category")
    assert t.partition_specs == ["region", None, "category"]
    t.upsert(_rows(spark, [(8, "SA", "d", 80, 104)]))
    assert any("__pp2=d" in f for f in t._commit(None).files)
    assert t.read().count() == 6


def test_rewrite_converges_to_current_spec(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    t.evolve_partitioning("category")
    t.optimize(target_files=2)
    files = t._commit(None).files
    # every live file is now laid out under the CURRENT spec
    assert files and all(
        t._partition_spec_value_of(f)[0] == 1 for f in files
    )
    got = {(r.k, r.v) for r in t.read().select("k", "v").collect()}
    assert got == {(1, 10), (2, 20), (3, 30), (4, 40)}


def test_point_lookup_and_time_travel_span_specs(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    t.evolve_partitioning("category")
    t.upsert(_rows(spark, [(2, "US", "b", 21, 105)]))
    rows = t.read_for_keys([2]).select("k", "v").collect()
    assert [(r.k, r.v) for r in rows] == [(2, 21)]
    # time travel to the pre-evolution version still reads cleanly
    assert t.read(version=0).count() == 4


def test_evolve_validates_column(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="not in table schema"):
        t.evolve_partitioning("nope")
    with pytest.raises(ValueError, match="already"):
        t.evolve_partitioning("region")
    with pytest.raises(ValueError, match="meta column"):
        t.evolve_partitioning("_hoodie_record_key")


def test_drop_column_protects_historical_spec_columns(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    t.rename_column  # ensure attr exists (column mapping surface)
    t.evolve_partitioning("category")
    with pytest.raises(ValueError, match="cannot drop"):
        t.drop_column("region")


def test_cross_spec_concurrent_writers_conflict(spark, tmp_path):
    """Two writers racing across a partition evolution cannot prove
    row-disjointness from partition tokens of DIFFERENT specs — the
    rebase must refuse instead of silently committing both."""
    path = str(tmp_path / "t")
    t1 = _seed(spark, path)
    t2 = LakehouseTable.load(spark, path)
    # t2 evolves and upserts under the NEW spec...
    t2.evolve_partitioning("category")
    t2.upsert(_rows(spark, [(1, "US", "a", 12, 106)]))
    # ...while t1 (stale handle, old spec view) upserts the same key.
    # _refresh_meta at write entry picks up the new spec, so simulate a
    # genuinely stale read-modify-write race at the manifest level: the
    # conflict rule itself is what must hold.
    from hudi_and_delta_showcase_spark.tables.manifest import _check_rebase

    ours = {
        "action": "upsert",
        "files_add": ["data/x/__pp=US/a.parquet"],
        "files_remove": ["data/y/__pp=US/b.parquet"],
        "log_files_add": [],
        "log_files_remove": [],
        "dv_files_add": [],
        "dv_files_remove": [],
        "ri_files_add": [],
        "ri_files_remove": [],
        "txn_set": {},
        "table_schema_set": None,
        "column_mapping_set": {},
        "column_mapping_unset": [],
    }
    theirs = dict(
        ours,
        files_add=["data/z/__pp1=a/c.parquet"],
        files_remove=["data/w/__pp1=b/d.parquet"],
    )
    with pytest.raises(
        ConcurrentWriteConflict, match="different partition specs"
    ):
        _check_rebase(ours, theirs, ["upsert"])
