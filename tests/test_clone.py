"""Shallow clone (Delta CREATE TABLE ... SHALLOW CLONE): zero-copy
metadata-only table copy referencing the source's files in place."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from hudi_and_delta_showcase_spark.tables import LakehouseTable


def _seed(spark, path, **kw):
    df = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("part"),
        (F.col("id") * 10).alias("v"),
        F.expr(
            "cast('2024-01-01' as timestamp_ntz)"
            " + make_interval(0,0,0,0,0,0,id)"
        ).alias("ts"),
    )
    return LakehouseTable.create(
        spark, path, df, key_cols=["k"], precombine="ts",
        partition_by="part", **kw,
    )


def _parquet_bytes_under(root):
    total = 0
    for dirpath, _dn, files in os.walk(root):
        total += sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in files if f.endswith(".parquet")
        )
    return total


def test_clone_is_zero_copy_and_reads_equal(spark, tmp_path):
    src = _seed(spark, str(tmp_path / "src"))
    clone = LakehouseTable.clone(
        spark, src.path, str(tmp_path / "clone")
    )
    assert _parquet_bytes_under(clone.path) == 0  # metadata only
    assert sorted(map(tuple, clone.read().select("k", "v").collect())) == \
           sorted(map(tuple, src.read().select("k", "v").collect()))
    c0 = clone._commit(None)
    assert c0.action == "clone" and all(f.startswith("/") for f in c0.files)
    # skipping indexes came along, re-keyed to the references
    assert set(c0.col_stats) == set(c0.files)


def test_clone_diverges_both_ways(spark, tmp_path):
    src = _seed(spark, str(tmp_path / "src"))
    clone = LakehouseTable.clone(spark, src.path, str(tmp_path / "clone"))
    up = spark.createDataFrame(
        [(1, 1, 11111, None)], "k long, part long, v long, ts timestamp_ntz"
    ).withColumn("ts", F.expr("cast('2025-01-01' as timestamp_ntz)"))
    clone.upsert(up)
    assert clone.read().filter("k = 1").first().v == 11111
    assert src.read().filter("k = 1").first().v == 10      # source untouched
    # partition-scoped: only part=1's files were rewritten locally; the
    # other partitions still reference the source
    c1 = clone._commit(None)
    local = [f for f in c1.files if not f.startswith("/" + "..")]
    assert any(not f.startswith("/") for f in c1.files)     # new local files
    assert any(f.startswith("/") for f in c1.files)         # kept references
    src.upsert(
        up.withColumn("v", F.lit(22222))
    )
    assert src.read().filter("k = 1").first().v == 22222
    assert clone.read().filter("k = 1").first().v == 11111  # clone untouched


def test_clone_vacuum_never_touches_source(spark, tmp_path):
    src = _seed(spark, str(tmp_path / "src"))
    clone = LakehouseTable.clone(spark, src.path, str(tmp_path / "clone"))
    up = spark.createDataFrame(
        [(2, 2, 222, None)], "k long, part long, v long, ts timestamp_ntz"
    ).withColumn("ts", F.expr("cast('2025-01-01' as timestamp_ntz)"))
    clone.upsert(up)
    before = _parquet_bytes_under(src.path)
    clone.vacuum(retain_versions=1)
    assert _parquet_bytes_under(src.path) == before
    assert clone.read().count() == 60
    # and source vacuum keeps its own live files (clone still reads)
    src.vacuum(retain_versions=1)
    assert clone.read().count() == 60


def test_clone_materializes_via_optimize(spark, tmp_path):
    src = _seed(spark, str(tmp_path / "src"))
    clone = LakehouseTable.clone(spark, src.path, str(tmp_path / "clone"))
    clone.optimize(target_files=2)
    c = clone._commit(None)
    assert all(not f.startswith("/") for f in c.files)  # fully local now
    assert clone.read().count() == 60


def test_clone_refusals(spark, tmp_path):
    src = _seed(spark, str(tmp_path / "src"))
    LakehouseTable.clone(spark, src.path, str(tmp_path / "clone"))
    with pytest.raises(FileExistsError):
        LakehouseTable.clone(spark, src.path, str(tmp_path / "clone"))
    dv = _seed(spark, str(tmp_path / "dv"), deletion_vectors=True)
    dv.delete(dv.read().filter("k = 5"))
    if dv._commit(None).dv_files:
        with pytest.raises(ValueError, match="deletion vectors"):
            LakehouseTable.clone(spark, dv.path, str(tmp_path / "c2"))


def test_deep_clone_self_contained(spark, tmp_path):
    """Delta DEEP CLONE: live files byte-copy under the same relative
    names (distributed pyarrow-fs job), the clone references NOTHING in
    the source — deleting the source leaves it fully readable — and
    the carried file-skipping indexes still prune."""
    import shutil

    src = LakehouseTable.create(
        spark,
        str(tmp_path / "src"),
        spark.createDataFrame(
            [(1, "a", 1), (2, "b", 1)], "k int, v string, sq int"
        ),
        key_cols=["k"], precombine="sq",
    )
    src.upsert(spark.createDataFrame([(3, "c", 2)], "k int, v string, sq int"))
    c = LakehouseTable.clone(
        spark, src.path, str(tmp_path / "deep"), deep=True
    )
    commit = c._commit(None)
    assert commit.stats["clone_depth"] == "deep"
    # all references are dest-relative (self-contained)
    assert all(not f.startswith("/") and "://" not in f for f in commit.files)
    # indexes carried verbatim under the same names
    assert set(commit.key_ranges) <= set(commit.files) or commit.key_ranges
    shutil.rmtree(src.path)  # the source dies; the deep clone must not care
    assert sorted(
        (r.k, r.v) for r in c.read().select("k", "v").collect()
    ) == [(1, "a"), (2, "b"), (3, "c")]
    # and it writes independently
    c.upsert(spark.createDataFrame([(4, "d", 3)], "k int, v string, sq int"))
    assert c.read().count() == 4


def test_deep_clone_copies_mor_logs(spark, tmp_path):
    src = LakehouseTable.create(
        spark,
        str(tmp_path / "srcm"),
        spark.createDataFrame([(1, "a", 1)], "k int, v string, sq int"),
        key_cols=["k"], precombine="sq", table_type="mor",
    )
    src.upsert(spark.createDataFrame([(1, "a2", 2)], "k int, v string, sq int"))
    c = LakehouseTable.clone(
        spark, src.path, str(tmp_path / "deepm"), deep=True
    )
    import shutil

    shutil.rmtree(src.path)
    got = [(r.k, r.v) for r in c.read_rt().select("k", "v").collect()]
    assert got == [(1, "a2")]


@pytest.mark.parametrize("scheme", ["file:", "file://"])
def test_distributed_copy_and_remove_take_file_uris(spark, tmp_path, scheme):
    """Deep clone and large vacuums run ``_distributed_copy`` /
    ``_distributed_remove`` inside Spark tasks; both must take Hadoop's
    ``file:/x`` root form as well as ``file:///x``."""
    from hudi_and_delta_showcase_spark.tables.lakehouse import (
        _distributed_copy,
        _distributed_remove,
    )

    src = tmp_path / "src.bin"
    src.write_bytes(b"lakehouse" * 1000)
    dst = tmp_path / "out" / "dst.bin"
    _distributed_copy(spark, [(f"{scheme}{src}", f"{scheme}{dst}")])
    assert dst.read_bytes() == src.read_bytes()
    assert _distributed_remove(spark, [f"{scheme}{dst}"]) == 1
    assert not dst.exists()
