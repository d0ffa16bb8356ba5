"""CONVERT FROM DELTA: metadata-only adoption of a _delta_log snapshot
— orphans excluded, partitions derived from paths, and everything a
metadata-only adoption cannot represent refused loudly."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from hudi_and_delta_showcase_spark.tables import LakehouseTable
from hudi_and_delta_showcase_spark.tables.delta_log import (
    read_delta_table,
    write_delta_table,
)

_SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            {"name": "g", "type": "integer", "nullable": True, "metadata": {}},
        ],
    }
)


def _rows(df):
    return sorted((r.k, r.v) for r in df.select("k", "v").collect())


def test_convert_adopts_live_snapshot_not_orphans(spark, tmp_path):
    """Overwritten files stay on disk awaiting VACUUM; adoption must
    take the LOG's live set, not a directory walk."""
    root = str(tmp_path / "dl")
    df1 = spark.createDataFrame([(1, "a", 0), (2, "b", 0)], "k int, v string, g int")
    df2 = spark.createDataFrame([(3, "c", 0), (4, "d", 0)], "k int, v string, g int")
    write_delta_table(df1.coalesce(1), root)
    write_delta_table(df2.coalesce(1), root, mode="overwrite")
    want = _rows(read_delta_table(spark, root))
    assert want == [(3, "c"), (4, "d")]

    t = LakehouseTable.convert_delta(spark, root, key_cols=["k"])
    assert _rows(t.read()) == want
    assert t._commit(None).stats["source_format"] == "delta"

    # the adopted table is a full citizen: upsert on top works
    t.upsert(spark.createDataFrame([(3, "c2", 0)], "k int, v string, g int"))
    assert _rows(t.read()) == [(3, "c2"), (4, "d")]
    # and the orphaned v0 files were never resurrected
    assert 1 not in {r.k for r in t.read().collect()}


def test_convert_records_an_empty_schema_not_none(spark, tmp_path):
    """A non-widened table converts with ``table_schema == ""``, so its
    first upsert records no schema change: a spurious ``None -> ""``
    change would make two concurrent first writes conflict as
    "concurrent schema changes" instead of being checked on files."""
    root = str(tmp_path / "dl")
    write_delta_table(
        spark.createDataFrame([(1, "a", 0)], "k int, v string, g int"), root
    )
    t = LakehouseTable.convert_delta(spark, root, key_cols=["k"])
    assert t._commit(0).table_schema == ""
    t.upsert(spark.createDataFrame([(2, "b", 0)], "k int, v string, g int"))
    with open(os.path.join(root, "_commits", "00000001.json")) as fh:
        assert json.load(fh)["table_schema_set"] is None


def _foreign_partitioned_delta(spark, root: str) -> None:
    """A partitioned _delta_log the way delta-spark lays it out:
    col=value dirs, partition column ABSENT from the data files."""
    os.makedirs(os.path.join(root, "_delta_log"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = {}
    for g, ks in ((0, [1, 2]), (1, [3])):
        rel = f"g={g}/part-00000-0000000{g}-c000.snappy.parquet"
        os.makedirs(os.path.join(root, f"g={g}"), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(ks, pa.int32()),
                    "v": pa.array([f"v{k}" for k in ks]),
                }
            ),
            os.path.join(root, rel),
        )
        files[rel] = g
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "0f000000-0000-4000-8000-000000000001",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _SCHEMA,
                "partitionColumns": ["g"],
                "configuration": {},
            }
        },
    ] + [
        {
            "add": {
                "path": rel,
                "partitionValues": {"g": str(g)},
                "size": 500,
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        }
        for rel, g in files.items()
    ]
    with open(
        os.path.join(root, "_delta_log", "00000000000000000000.json"), "w"
    ) as fh:
        fh.write("\n".join(json.dumps(a) for a in actions))


def test_convert_partitioned_delta_derives_column(spark, tmp_path):
    root = str(tmp_path / "dlp")
    _foreign_partitioned_delta(spark, root)
    t = LakehouseTable.convert_delta(spark, root, key_cols=["k"])
    got = sorted((r.k, r.v, r.g) for r in t.read().select("k", "v", "g").collect())
    assert got == [(1, "v1", 0), (2, "v2", 0), (3, "v3", 1)]
    # partition pruning works from version 0 via the seeded col_stats
    pruned = t.read_where("g", lo=1, hi=1)
    assert sorted(r.k for r in pruned.collect()) == [3]


def test_convert_adopts_deletion_vectors(spark, tmp_path):
    """r7: a DV-bearing snapshot (modern delta-spark's default) adopts
    in place — the foreign DV translates into the engine's own sidecar
    at version 0, no data rewritten, and post-adoption deletes keep
    extending DVs."""
    from hudi_and_delta_showcase_spark.tables import delta_dv

    root = str(tmp_path / "dl")
    write_delta_table(
        spark.createDataFrame(
            [(k, f"v{k}", 0) for k in range(1, 6)], "k int, v string, g int"
        ).coalesce(1).sortWithinPartitions("k"),
        root,
    )
    log = os.path.join(root, "_delta_log")
    v0 = open(os.path.join(log, "00000000000000000000.json")).read().splitlines()
    add = next(json.loads(l) for l in v0 if '"add"' in l)["add"]
    # delete rows at positions 1 and 3 (k=2, k=4) the Delta way
    dv_add = dict(add)
    dv_add["deletionVector"] = delta_dv.write_dv_file(root, [1, 3], prefix="ab")
    with open(os.path.join(log, "00000000000000000001.json"), "w") as fh:
        fh.write(json.dumps({"add": dv_add}))

    assert _rows(read_delta_table(spark, root)) == [
        (1, "v1"), (3, "v3"), (5, "v5")]
    before_files = set()
    t = LakehouseTable.convert_delta(spark, root, key_cols=["k"])
    c = t._commit(None)
    assert c.dv_files and c.stats["adopted_dv_files"] == 1
    assert _rows(t.read()) == [(1, "v1"), (3, "v3"), (5, "v5")]
    # adoption rewrote nothing: the original data file still serves
    assert c.files == [add["path"]]
    # post-adoption deletes keep the DV discipline (no base rewrite)
    c2 = t.delete(spark.createDataFrame([(3,)], "k int"))
    assert c2.files == c.files
    assert _rows(t.read()) == [(1, "v1"), (5, "v5")]


def test_convert_adopts_column_mapping(spark, tmp_path):
    """r7: columnMapping.mode=name adopts — physical file columns stay
    put, the manifest's column_mapping serves logical names (the same
    machinery rename_column maintains)."""
    root = str(tmp_path / "dl")
    write_delta_table(
        spark.createDataFrame(
            [(1, "a", 0), (2, "b", 0)], "k int, v string, g int"
        ).coalesce(1),
        root,
    )
    mapped_schema = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "key_id", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "k",
                          "delta.columnMapping.id": 1}},
            {"name": "val", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "v",
                          "delta.columnMapping.id": 2}},
            {"name": "g", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "g",
                          "delta.columnMapping.id": 3}},
        ],
    })
    with open(
        os.path.join(root, "_delta_log", "00000000000000000001.json"), "w"
    ) as fh:
        fh.write(json.dumps({"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": mapped_schema, "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"},
        }}))
    # the foreign read serves LOGICAL names
    got = read_delta_table(spark, root)
    assert got.columns == ["key_id", "val", "g"]
    # adoption: logical key_cols in, logical columns out
    t = LakehouseTable.convert_delta(spark, root, key_cols=["key_id"])
    assert sorted(
        (r.key_id, r.val) for r in t.read().select("key_id", "val").collect()
    ) == [(1, "a"), (2, "b")]
    # rename machinery still composable on top
    t.rename_column("val", "value")
    assert "value" in t.read().columns


def test_still_refuses_unknown_features_and_id_mapping(spark, tmp_path):
    for i, (patch, msg) in enumerate(
        [
            (
                {"metaData": {
                    "id": "x", "format": {"provider": "parquet", "options": {}},
                    "schemaString": _SCHEMA, "partitionColumns": [],
                    "configuration": {"delta.columnMapping.mode": "id"},
                }},
                "columnMapping.mode",
            ),
            (
                # v2Checkpoint/typeWidening/variantType graduated to
                # supported (r8); checkpointProtection is a real Delta
                # feature still beyond us
                {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                              "readerFeatures": ["checkpointProtection"]}},
                "reader features",
            ),
            (
                {"protocol": {"minReaderVersion": 4, "minWriterVersion": 7}},
                "protocol",
            ),
        ]
    ):
        root = str(tmp_path / f"dl{i}")
        write_delta_table(
            spark.createDataFrame(
                [(1, "a", 0)], "k int, v string, g int"
            ).coalesce(1),
            root,
        )
        with open(
            os.path.join(root, "_delta_log", "00000000000000000001.json"), "w"
        ) as fh:
            fh.write(json.dumps(patch))
        with pytest.raises(RuntimeError, match=msg):
            LakehouseTable.convert_delta(spark, root, key_cols=["k"])


def test_convert_multi_column_partitioned_delta(spark, tmp_path):
    """r7: a Delta snapshot with TWO partitionColumns adopts — both
    columns derive from paths, pruning works on either level."""
    root = str(tmp_path / "dlm")
    os.makedirs(os.path.join(root, "_delta_log"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "g", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "h", "type": "string", "nullable": True, "metadata": {}},
        ],
    })
    adds = []
    for g in (0, 1):
        for h in ("x", "y"):
            rel = f"g={g}/h={h}/part-0000{g}-{h}-c000.snappy.parquet"
            os.makedirs(os.path.dirname(os.path.join(root, rel)),
                        exist_ok=True)
            ks = [g * 10 + (1 if h == "x" else 2)]
            pq.write_table(
                pa.table({"k": pa.array(ks, pa.int32())}),
                os.path.join(root, rel),
            )
            adds.append({"add": {
                "path": rel, "partitionValues": {"g": str(g), "h": h},
                "size": 400, "modificationTime": 1700000000000,
                "dataChange": True}})
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "af000000-0000-4000-8000-000000000009",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema, "partitionColumns": ["g", "h"],
            "configuration": {}}},
    ] + adds
    with open(os.path.join(root, "_delta_log",
                           "00000000000000000000.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions))

    got = read_delta_table(spark, root)
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, 0, "x"), (2, 0, "y"), (11, 1, "x"), (12, 1, "y")]

    t = LakehouseTable.convert_delta(spark, root, key_cols=["k"])
    assert sorted(
        (r.k, r.g, r.h) for r in t.read().select("k", "g", "h").collect()
    ) == [(1, 0, "x"), (2, 0, "y"), (11, 1, "x"), (12, 1, "y")]
    all_files = len(t._commit(None).files)
    r1 = t.read_where("g", lo=1, hi=1)
    assert sorted(r.k for r in r1.collect()) == [11, 12]
    assert 0 < len(r1.inputFiles()) < all_files
    r2 = t.read_where("h", lo="y", hi="y")
    assert sorted(r.k for r in r2.collect()) == [2, 12]
    assert 0 < len(r2.inputFiles()) < all_files
