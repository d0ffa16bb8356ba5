"""In-place CONVERT (Delta CONVERT TO DELTA / Hudi METADATA_ONLY
bootstrap): adopt an existing parquet directory as a lakehouse table
without copying data; meta columns derive at scan time."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from hudi_and_delta_showcase_spark.tables import LakehouseTable


def _plain_seed(spark, path):
    df = spark.createDataFrame(
        [
            (1, 10, 100), (2, 20, 100),
            (2, 21, 101),             # duplicate key: adopted AS-IS
            (3, 30, 100),
        ],
        "k int, v int, sq int",
    )
    df.coalesce(2).write.parquet(path)
    return df


def test_convert_adopts_files_in_place(spark, tmp_path):
    path = str(tmp_path / "t")
    _plain_seed(spark, path)
    before = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )
    t = LakehouseTable.convert(
        spark, path, key_cols=["k"], precombine="sq"
    )
    c0 = t._commit(None)
    assert c0.action == "convert" and len(c0.files) == len(before)
    # files untouched: same names, nothing rewritten or copied
    after = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    assert after == before
    # duplicates adopted as-is (convert never dedups, like Delta)
    assert t.read().count() == 4
    # column stats harvested at convert -> data skipping live
    assert any("v" in cols for cols in c0.col_stats.values())


def test_convert_scan_time_meta_and_point_lookup(spark, tmp_path):
    path = str(tmp_path / "t")
    _plain_seed(spark, path)
    t = LakehouseTable.convert(spark, path, key_cols=["k"], precombine="sq")
    # the physical frame exposes derived meta columns
    phys = t._read_physical()
    row = phys.filter(F.col("k") == 1).select("_hoodie_record_key").first()
    assert row[0] == "1"
    # point-lookup path (filters on _hoodie_record_key) works
    got = sorted(r.k for r in t.read_for_keys(["1", "3"]).collect())
    assert got == [1, 3]


def test_convert_then_upsert_rewrites_and_stamps(spark, tmp_path):
    path = str(tmp_path / "t")
    _plain_seed(spark, path)
    t = LakehouseTable.convert(
        spark, path, key_cols=["k"], precombine="sq"
    )
    t.upsert(spark.createDataFrame([(2, 99, 200)], "k int, v int, sq int"))
    # the duplicate k=2 rows are BOTH replaced by the upsert
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: 10, 2: 99, 3: 30}
    # time travel back to the converted snapshot
    assert t.read(version=0).count() == 4
    # rewritten files carry REAL meta columns now; survivors of the
    # rewrite resolve identically either way
    assert t.read_for_keys(["2"]).first().v == 99


def test_convert_refuses_tables_and_hive_layouts(spark, tmp_path):
    path = str(tmp_path / "t")
    _plain_seed(spark, path)
    LakehouseTable.convert(spark, path, key_cols=["k"], precombine="sq")
    with pytest.raises(FileExistsError):
        LakehouseTable.convert(spark, path, key_cols=["k"])
    hive = str(tmp_path / "h")
    spark.createDataFrame([(1, "a")], "k int, p string").write.partitionBy(
        "p"
    ).parquet(hive)
    with pytest.raises(ValueError, match="declare partition_by"):
        LakehouseTable.convert(spark, hive, key_cols=["k"])
    with pytest.raises(FileNotFoundError):
        LakehouseTable.convert(
            spark, str(tmp_path / "empty"), key_cols=["k"]
        )
    # a misspelled table type is refused before anything is written
    typo = str(tmp_path / "typo")
    _plain_seed(spark, typo)
    with pytest.raises(ValueError, match="table_type"):
        LakehouseTable.convert(spark, typo, key_cols=["k"], table_type="mro")
    assert not os.path.exists(os.path.join(typo, "_meta.json"))


def test_convert_mor_upsert_merges_logs(spark, tmp_path):
    path = str(tmp_path / "t")
    _plain_seed(spark, path)
    t = LakehouseTable.convert(
        spark, path, key_cols=["k"], precombine="sq", table_type="mor"
    )
    t.upsert(spark.createDataFrame([(3, 77, 200)], "k int, v int, sq int"))
    # rt view merges the log over the converted base (commit order wins)
    got = {r.k: r.v for r in t.read_rt().filter(F.col("k") == 3).collect()}
    assert got == {3: 77}
    # ro view still serves the converted base
    assert t.read_ro().filter(F.col("k") == 3).first().v == 30


# --------------------------------------------------------------------- #
# r6: partitioned (hive-layout) CONVERT — Delta CONVERT TO DELTA ...
# PARTITIONED BY parity; the reference's Hudi tables are partitioned
# (README.md:278,320)
# --------------------------------------------------------------------- #


def _hive_seed(spark, path):
    """A foreign hive-partitioned directory: partition col only in the
    PATHS (Spark's partitionBy drops it from the data files), including
    a null-partition dir."""
    df = spark.createDataFrame(
        [
            (1, 10, 100, "2023-01-01"),
            (2, 20, 100, "2023-01-01"),
            (3, 30, 100, "2023-01-02"),
            (4, 40, 100, "2023-01-02"),
            (5, 50, 100, None),
        ],
        "k int, v int, sq int, dt string",
    )
    df.repartition(1).write.partitionBy("dt").parquet(path)
    return df


def test_partitioned_convert_roundtrip_and_pruning(spark, tmp_path):
    path = str(tmp_path / "h")
    src = _hive_seed(spark, path)
    t = LakehouseTable.convert(
        spark, path, key_cols=["k"], precombine="sq",
        partition_by="dt", partition_type="string",
    )
    got = t.read().select("k", "v", "dt").orderBy("k")
    assert [tuple(r) for r in got.collect()] == [
        (1, 10, "2023-01-01"), (2, 20, "2023-01-01"),
        (3, 30, "2023-01-02"), (4, 40, "2023-01-02"),
        (5, 50, None),
    ]
    # partition pruning on the adopted layout: read_where skips files
    # via the seeded col_stats (driver-side), so only one partition's
    # files are scanned
    c0 = t._commit(None)
    pruned = t.read_where("dt", lo="2023-01-02", hi="2023-01-02")
    assert sorted(r.k for r in pruned.collect()) == [3, 4]
    stats_files = [
        f for f in c0.files if c0.col_stats.get(f, {}).get("dt")
    ]
    assert stats_files  # partition values seeded into the stats index
    # rewrite scoping: an upsert touching only 2023-01-01 must leave
    # the other partitions' adopted files untouched
    up = spark.createDataFrame(
        [(1, 11, 101, "2023-01-01")], "k int, v int, sq int, dt string"
    )
    t.upsert(up)
    c1 = t._commit(None)
    untouched = [f for f in c1.files if f in c0.files]
    assert any(f.startswith("dt=2023-01-02") for f in untouched)
    assert not any(f.startswith("dt=2023-01-01") for f in untouched)
    after = {(r.k, r.v) for r in t.read().select("k", "v").collect()}
    assert (1, 11) in after and (3, 30) in after and (5, 50) in after
    # time travel still sees the pre-upsert adopted state
    assert t.read(version=0).filter(F.col("k") == 1).first().v == 10


def test_partitioned_convert_typed_partition(spark, tmp_path):
    """Declared non-string partition type: hive dir strings cast at
    scan time, typed values seeded into col_stats (so range pruning
    compares numerically, not lexically)."""
    path = str(tmp_path / "h")
    df = spark.createDataFrame(
        [(i, i * 10, b) for i, b in [(1, 2), (2, 2), (3, 10), (4, 10)]],
        "k int, v int, bucket int",
    )
    df.repartition(1).write.partitionBy("bucket").parquet(path)
    t = LakehouseTable.convert(
        spark, path, key_cols=["k"],
        partition_by="bucket", partition_type="int",
    )
    assert dict(t.read().select("k", "bucket").collect()) == {
        1: 2, 2: 2, 3: 10, 4: 10
    }
    assert t.read().schema["bucket"].dataType.simpleString() == "int"
    c0 = t._commit(None)
    vals = {
        c0.col_stats[f]["bucket"][0]
        for f in c0.files if "bucket" in c0.col_stats.get(f, {})
    }
    assert vals == {2, 10}  # typed, not "10" < "2" lexical strings
    # numeric range skip: bucket >= 10 keeps only the bucket=10 file
    assert sorted(r.k for r in t.read_where("bucket", lo=10).collect()) == [
        3, 4,
    ]


def test_partitioned_convert_validations(spark, tmp_path):
    # declaring only ONE column of a two-level layout is refused
    deep = str(tmp_path / "deep")
    spark.createDataFrame(
        [(1, "a", "x")], "k int, p string, q string"
    ).write.partitionBy("p", "q").parquet(deep)
    with pytest.raises(ValueError, match="layout"):
        LakehouseTable.convert(
            spark, deep, key_cols=["k"], partition_by="p"
        )
    # wrong column name refused
    flat = str(tmp_path / "flat")
    spark.createDataFrame([(1, "a")], "k int, p string").write.partitionBy(
        "p"
    ).parquet(flat)
    with pytest.raises(ValueError, match="layout"):
        LakehouseTable.convert(
            spark, flat, key_cols=["k"], partition_by="wrong"
        )
    # wrong NESTING ORDER refused
    with pytest.raises(ValueError, match="layout"):
        LakehouseTable.convert(
            spark, deep, key_cols=["k"],
            partition_by=["q", "p"], partition_type=["string", "string"],
        )
    # one type per column enforced
    with pytest.raises(ValueError, match="one partition_type"):
        LakehouseTable.convert(
            spark, deep, key_cols=["k"],
            partition_by=["p", "q"], partition_type="string",
        )


def test_multi_column_partitioned_convert(spark, tmp_path):
    """r7 (verdict #7): k1=v1/k2=v2 nesting adopts; reads derive BOTH
    columns from paths and read_where prunes on EITHER level from the
    seeded col_stats."""
    root = str(tmp_path / "multi")
    df = spark.createDataFrame(
        [(i, i % 2, str(i % 3), i * 10) for i in range(1, 13)],
        "k int, p int, q string, v int",
    )
    df.write.partitionBy("p", "q").parquet(root)
    t = LakehouseTable.convert(
        spark, root, key_cols=["k"],
        partition_by=["p", "q"], partition_type=["int", "string"],
    )
    got = sorted(
        (r.k, r.p, r.q, r.v)
        for r in t.read().select("k", "p", "q", "v").collect()
    )
    assert got == [(i, i % 2, str(i % 3), i * 10) for i in range(1, 13)]
    all_files = len(t._commit(None).files)
    # pruning on the FIRST level
    r1 = t.read_where("p", lo=1, hi=1)
    assert sorted(r.k for r in r1.collect()) == [1, 3, 5, 7, 9, 11]
    assert 0 < len(r1.inputFiles()) < all_files
    # pruning on the SECOND level
    r2 = t.read_where("q", lo="2", hi="2")
    assert sorted(r.k for r in r2.collect()) == [2, 5, 8, 11]
    assert 0 < len(r2.inputFiles()) < all_files
    # the adopted table stays a full citizen: upsert + read back
    t.upsert(spark.createDataFrame(
        [(1, 1, "1", 999)], "k int, p int, q string, v int"))
    assert t.read().filter("k = 1").collect()[0].v == 999
