"""Bucket index (Hudi ``hoodie.index.type=BUCKET``): hash-route rows to
N fixed buckets by record key — upserts/deletes/point-lookups route by
pure arithmetic, no probe scan of table data."""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
import pytest

from hudi_and_delta_showcase_spark.tables import LakehouseTable
from hudi_and_delta_showcase_spark.tables.manifest import (
    ConcurrentWriteConflict,
    _check_rebase,
)

N = 4


def _rows(spark, rows):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), "k int, v int, sq int"
    )


def _seed(spark, path, **kw):
    base = _rows(spark, [(i, i * 10, 100) for i in range(1, 13)])
    return LakehouseTable.create(
        spark,
        path,
        base,
        key_cols=["k"],
        precombine="sq",
        bucket_count=N,
        **kw,
    )


def test_create_lays_out_one_file_per_bucket(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    files = t._commit(None).files
    buckets = {t._bucket_of(f) for f in files}
    assert buckets <= set(range(N))
    assert len(files) == len(buckets), "more than one file per bucket"
    assert t.read().count() == 12


def test_upsert_routes_to_touched_buckets_only(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    before = {f: t._bucket_of(f) for f in t._commit(None).files}
    # single-key batch -> exactly one bucket touched
    c = t.upsert(_rows(spark, [(1, 111, 101)]))
    assert c.stats["bucket_skipped_files"] == len(before) - 1
    assert c.stats["rewritten_files"] == 1
    # untouched buckets' files carried over byte-identical
    touched_bucket = {
        b for f, b in before.items() if f not in c.files
    }
    assert len(touched_bucket) == 1
    got = {(r.k, r.v) for r in t.read().select("k", "v").collect()}
    assert got == {(1, 111)} | {(i, i * 10) for i in range(2, 13)}


def test_routing_matches_write_layout_for_every_key(spark, tmp_path):
    """The router and the writer must agree bucket-for-bucket: upsert
    each key alone and check only its own file's bucket is rewritten."""
    t = _seed(spark, str(tmp_path / "t"))
    for k in (3, 7, 11):
        c = t.upsert(_rows(spark, [(k, k * 100, 102)]))
        assert c.stats["rewritten_files"] == 1, f"key {k} fanned out"
    got = dict(
        (r.k, r.v) for r in t.read().select("k", "v").collect()
    )
    assert got[3] == 300 and got[7] == 700 and got[11] == 1100


def test_delete_routes_by_bucket(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    t.delete(_rows(spark, [(5, 0, 0)]).select("k"))
    assert {r.k for r in t.read().select("k").collect()} == set(
        range(1, 13)
    ) - {5}


def test_point_lookup_prunes_to_key_buckets(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t"))
    rows = t.read_for_keys([4]).select("k", "v").collect()
    assert [(r.k, r.v) for r in rows] == [(4, 40)]


def test_mor_compact_and_optimize_keep_bucket_purity(spark, tmp_path):
    t = _seed(spark, str(tmp_path / "t2"), table_type="mor")
    t.upsert(_rows(spark, [(2, 222, 103), (13, 130, 103)]))
    t.compact()
    files = t._commit(None).files
    assert all(t._bucket_of(f) is not None for f in files)
    buckets = [t._bucket_of(f) for f in files]
    assert len(buckets) == len(set(buckets)), "bucket split across files"
    t.optimize(target_files=2)
    files = t._commit(None).files
    buckets = [t._bucket_of(f) for f in files]
    assert len(buckets) == len(set(buckets))
    got = {(r.k, r.v) for r in t.read().select("k", "v").collect()}
    assert got == {(2, 222), (13, 130)} | {
        (i, i * 10) for i in range(1, 13) if i != 2
    }


def test_bucket_disjoint_writers_commute_same_bucket_conflicts():
    """On an unpartitioned bucket table the __bk= dir is the partition
    token: bucket-disjoint concurrent upserts rebase cleanly; writers
    in the SAME bucket conflict."""
    base = {
        "action": "upsert",
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
    ours = dict(
        base,
        files_add=["data/c1-x/__bk=1/a.parquet"],
        files_remove=["data/c0-x/__bk=1/b.parquet"],
    )
    theirs = dict(
        base,
        files_add=["data/c1-y/__bk=2/c.parquet"],
        files_remove=["data/c0-x/__bk=2/d.parquet"],
    )
    _check_rebase(ours, theirs, ["upsert"])  # disjoint buckets: OK
    clash = dict(
        base,
        files_add=["data/c1-z/__bk=1/e.parquet"],
        files_remove=["data/c0-y/__bk=1/f.parquet"],
    )
    with pytest.raises(ConcurrentWriteConflict):
        _check_rebase(ours, clash, ["upsert"])


def test_scoped_optimize_respects_bucket_layout(spark, tmp_path):
    """OPTIMIZE ... WHERE (and an incremental restack) on a
    bucket-indexed partitioned table must align tasks to buckets like
    full optimize() does — otherwise the
    write's partitionBy(__bk) fans each task across every bucket dir
    (tasks x buckets files), defeating target_files (ADVICE r6)."""
    base = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, i * 10, 100, str(i % 2)) for i in range(1, 41)], 4
        ),
        "k int, v int, sq int, pp string",
    )
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), base,
        key_cols=["k"], precombine="sq", bucket_count=N,
        partition_by="pp",
    )
    # fragment pp=1 with two more commits
    t.upsert(_rows(spark, [(1, 111, 101)]).withColumn("pp", F.lit("1")))
    t.upsert(_rows(spark, [(3, 333, 102)]).withColumn("pp", F.lit("1")))
    before = t._commit(None)
    p1_before = [f for f in before.files if "__pp=1" in f]
    assert len(p1_before) >= N  # spans every bucket
    # cluster intent + target_files > 1 is the regression path: without
    # bucket alignment, repartitionByRange(2, k) crosses 2 tasks with
    # every bucket dir -> up to 2xN files, 2 per bucket
    c = t.optimize(where_partition="1", target_files=2, cluster_by=["k"])
    p1_after = [f for f in c.files if "__pp=1" in f]
    # one file per bucket at most, never tasks x buckets
    assert len(p1_after) <= N
    buckets = {t._bucket_of(f) for f in p1_after}
    assert len(p1_after) == len(buckets), "more than one file per bucket"
    # value-identical
    got = {(r.k, r.v) for r in t.read().select("k", "v").collect()}
    assert got == {(1, 111), (3, 333)} | {
        (i, i * 10) for i in range(2, 41) if i != 3
    }
    # an incremental restack (no clustering generation yet, so every
    # file is stale) aligns to buckets too: 3 range tasks split a
    # partition, yet one new file per (partition, bucket), rows unchanged
    inc = t.optimize(target_files=3, cluster_by=["k"], incremental=True)
    cells = Counter(
        (t._partition_spec_value_of(f)[1], t._bucket_of(f))
        for f in inc.files
        if f not in c.files
    )
    assert max(cells.values()) == 1, "more than one file per bucket"
    assert {(r.k, r.v) for r in t.read().select("k", "v").collect()} == got
