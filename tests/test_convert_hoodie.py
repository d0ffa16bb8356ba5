"""CONVERT FROM HOODIE: metadata-only adoption of a .hoodie timeline —
stale file slices excluded; MoR timelines adopt via the HoodieLogFormat
reader (r7), log-only file groups refused."""

from __future__ import annotations

import os

import pytest

from hudi_and_delta_showcase_spark.tables import LakehouseTable
from hudi_and_delta_showcase_spark.tables.hoodie_timeline import (
    append_log_commit,
    latest_file_slices_rt,
    read_hoodie_table,
    write_hoodie_table,
)


def _rows(df):
    return sorted((r.k, r.v) for r in df.select("k", "v").collect())


def test_adopts_live_slices_not_stale_groups(spark, tmp_path):
    root = str(tmp_path / "ht")
    decoy = spark.createDataFrame([(9, "stale")], "k int, v string")
    live = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    write_hoodie_table(decoy.coalesce(1), root)
    write_hoodie_table(live.coalesce(1), root, mode="overwrite")
    assert _rows(read_hoodie_table(spark, root)) == [(1, "a"), (2, "b")]

    t = LakehouseTable.convert_hoodie(spark, root, key_cols=["k"])
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    assert t._commit(None).stats["source_format"] == "hoodie"
    # adopted table serves keyed upserts immediately
    t.upsert(spark.createDataFrame([(2, "b2"), (3, "c")], "k int, v string"))
    assert _rows(t.read()) == [(1, "a"), (2, "b2"), (3, "c")]


def _mor_fixture(spark, root: str):
    """Foreign .hoodie MoR table: one base file group + two delta
    commits of HoodieLogFormat Avro blocks."""
    from hudi_and_delta_showcase_spark.avro_ocf import spark_schema_to_avro

    base = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 100), (3, "c", 100)],
        "k long, v string, sq long",
    )
    write_hoodie_table(base.coalesce(1), root)
    ((fid, s),) = latest_file_slices_rt(root).items()
    schema = spark_schema_to_avro(base.schema)
    append_log_commit(
        root, fid, s["base_instant"],
        [{"k": 2, "v": "b2", "sq": 101}, {"k": 4, "v": "d", "sq": 100}],
        schema,
    )
    # later commit with an OLDER precombine still wins (commit order
    # first — the engine's CoW==MoR pinned discipline, Hudi's default
    # overwrite-with-latest payload)
    append_log_commit(
        root, fid, s["base_instant"], [{"k": 2, "v": "b3", "sq": 99}], schema
    )
    return fid, s


def test_adopts_mor_timeline(spark, tmp_path):
    """r7 (verdict #2): a foreign MoR timeline adopts — base files stay
    byte-identical, surviving log blocks materialize as engine log
    files, and the _rt merge resolves exactly like Hudi's realtime
    view."""
    root = str(tmp_path / "ht")
    _mor_fixture(spark, root)
    t = LakehouseTable.convert_hoodie(
        spark, root, key_cols=["k"], precombine="sq"
    )
    assert t.table_type == "mor"
    c = t._commit(None)
    assert c.log_files and c.stats["adopted_log_files"] == 2
    # the adopted records land in one log file, run after run
    assert len(c.log_files) == 1
    got = sorted(
        (r.k, r.v, r.sq) for r in t.read().select("k", "v", "sq").collect()
    )
    assert got == [(1, "a", 100), (2, "b3", 99), (3, "c", 100),
                   (4, "d", 100)]
    # RO view: base only, exactly Hudi's _ro staleness
    assert _rows(t.read_ro()) == [(1, "a"), (2, "b"), (3, "c")]
    # compaction folds; upserts keep working on top
    t.compact()
    assert t._commit(None).log_files == []
    t.upsert(spark.createDataFrame([(1, "a9", 200)],
                                   "k long, v string, sq long"))
    assert _rows(t.read()) == [(1, "a9"), (2, "b3"), (3, "c"), (4, "d")]


def test_mor_rollback_block_drops_target_instant(spark, tmp_path):
    """A COMMAND/rollback block invalidates earlier blocks of its
    target instant — Hudi's crash-undo, applied at decode time."""
    from hudi_and_delta_showcase_spark.avro_ocf import spark_schema_to_avro
    from hudi_and_delta_showcase_spark.tables import hoodie_log as hl
    from hudi_and_delta_showcase_spark.tables import fsio

    root = str(tmp_path / "ht")
    fid, s = _mor_fixture(spark, root)
    # roll back the LAST delta commit (the b3 block): Hudi APPENDS the
    # rollback command block to the group's latest log file
    logs = latest_file_slices_rt(root)[fid]["logs"]
    last = fsio.join(root, logs[-1])
    last_blob = fsio.read_bytes(last)
    last_instant = hl.parse_log_blob(last_blob)[0]["header"][hl.INSTANT_TIME]
    fsio.write_bytes_atomic(
        last,
        last_blob + hl.rollback_block(last_instant, "20990101000000000"),
    )
    from hudi_and_delta_showcase_spark.tables.hoodie_timeline import (
        read_hoodie_table_rt,
    )

    rt = read_hoodie_table_rt(spark, root, key_fields=["k"],
                              precombine="sq")
    got = sorted((r.k, r.v) for r in rt.select("k", "v").collect())
    assert got == [(1, "a"), (2, "b2"), (3, "c"), (4, "d")]


def test_log_only_file_group_adopts_and_serves(spark, tmp_path):
    """A LOG-ONLY file group (inserts routed straight to logs, no base
    yet) reads and adopts: its records union into the merge like any
    others (r7 — the engine's MoR logs are table-wide)."""
    from hudi_and_delta_showcase_spark.avro_ocf import spark_schema_to_avro
    from hudi_and_delta_showcase_spark.tables.hoodie_timeline import (
        read_hoodie_table_rt,
    )

    root = str(tmp_path / "ht")
    base = spark.createDataFrame([(1, "a", 100)], "k long, v string, sq long")
    write_hoodie_table(base.coalesce(1), root)
    schema = spark_schema_to_avro(base.schema)
    append_log_commit(
        root, "orphan-fid", "20240101000000000",
        [{"k": 9, "v": "x", "sq": 1}], schema,
    )
    rt = read_hoodie_table_rt(spark, root, key_fields=["k"], precombine="sq")
    assert sorted((r.k, r.v) for r in rt.select("k", "v").collect()) == [
        (1, "a"), (9, "x")]
    t = LakehouseTable.convert_hoodie(
        spark, root, key_cols=["k"], precombine="sq"
    )
    assert _rows(t.read()) == [(1, "a"), (9, "x")]


def test_all_log_table_still_refused(spark, tmp_path):
    """A table with NO base file at all has no schema-bearing slice —
    refuse loudly rather than guess a schema."""
    import os as _os

    from hudi_and_delta_showcase_spark.avro_ocf import spark_schema_to_avro
    from hudi_and_delta_showcase_spark.tables.hoodie_timeline import (
        read_hoodie_table_rt,
    )
    from pyspark.sql.types import StructType

    root = str(tmp_path / "ht")
    _os.makedirs(_os.path.join(root, ".hoodie"))
    schema = spark_schema_to_avro(
        StructType.fromDDL("k long, v string, sq long")
    )
    append_log_commit(
        root, "only-fid", "20240101000000000",
        [{"k": 1, "v": "a", "sq": 1}], schema,
    )
    with pytest.raises(FileNotFoundError, match="no base files"):
        read_hoodie_table_rt(spark, root, key_fields=["k"])
    with pytest.raises(FileNotFoundError, match="no base files"):
        LakehouseTable.convert_hoodie(spark, root, key_cols=["k"])


def test_refuses_double_adoption(spark, tmp_path):
    root = str(tmp_path / "ht")
    write_hoodie_table(
        spark.createDataFrame([(1, "a")], "k int, v string").coalesce(1), root
    )
    LakehouseTable.convert_hoodie(spark, root, key_cols=["k"])
    with pytest.raises(FileExistsError):
        LakehouseTable.convert_hoodie(spark, root, key_cols=["k"])


def test_mor_delete_block_rt_and_adopt(spark, tmp_path):
    """r8 (verdict r7 #1): a foreign MoR table whose logs carry
    HoodieDeleteBlock tombstones — the normal state of a CDC-fed table
    that hard-deleted since its last compaction — reads via _rt and
    adopts: the killed base row becomes an engine deletion-vector
    entry, killed log records are not materialized, and a LATER data
    block revives its key (delete-then-reinsert)."""
    root = str(tmp_path / "ht")
    fid, s = _mor_fixture(spark, root)  # base 1/2/3 + upsert k2, insert k4
    from hudi_and_delta_showcase_spark.avro_ocf import spark_schema_to_avro
    from pyspark.sql.types import StructType

    schema = spark_schema_to_avro(
        StructType.fromDDL("k long, v string, sq long")
    )
    # hard-delete k3 (base row) and k4 (log-inserted row)
    append_log_commit(
        root, fid, s["base_instant"], [], schema,
        deletes=[
            {"recordKey": "3", "orderingVal": 100},
            {"recordKey": "4", "orderingVal": 100},
        ],
    )
    # reinsert k4 — a later data block revives the key
    append_log_commit(
        root, fid, s["base_instant"], [{"k": 4, "v": "d2", "sq": 102}],
        schema,
    )
    from hudi_and_delta_showcase_spark.tables.hoodie_timeline import (
        read_hoodie_table_rt,
    )

    rt = read_hoodie_table_rt(spark, root, key_fields=["k"], precombine="sq")
    assert sorted((r.k, r.v) for r in rt.select("k", "v").collect()) == [
        (1, "a"), (2, "b3"), (4, "d2")]

    t = LakehouseTable.convert_hoodie(
        spark, root, key_cols=["k"], precombine="sq"
    )
    c = t._commit(None)
    assert c.dv_files, "killed base row must become a DV entry"
    assert c.stats["adopted_tombstone_keys"] == 2
    assert _rows(t.read()) == [(1, "a"), (2, "b3"), (4, "d2")]
    # compaction folds logs + DVs; upserts keep working on top
    t.compact()
    t.upsert(spark.createDataFrame([(3, "c9", 200)],
                                   "k long, v string, sq long"))
    assert _rows(t.read()) == [(1, "a"), (2, "b3"), (3, "c9"), (4, "d2")]


def test_mor_legacy_kryo_delete_block_rt_and_adopt(spark, tmp_path, monkeypatch):
    """A pre-0.14 foreign MoR table whose delete block is the legacy
    kryo DeleteRecord[] payload (content v2) reads via _rt and adopts
    exactly like a modern v3 block (r10, verdict r8/r9 #4). The block
    bytes are authored by the test-side Kryo 4 writer in
    test_hoodie_log.py and decoded by hoodie_log._kryo_delete_records."""
    from hudi_and_delta_showcase_spark.avro_ocf import spark_schema_to_avro
    from hudi_and_delta_showcase_spark.tables import hoodie_log as hl
    from hudi_and_delta_showcase_spark.tables.hoodie_timeline import (
        read_hoodie_table_rt,
    )
    from pyspark.sql.types import StructType

    from tests.test_hoodie_log import _delete_block_legacy, _kryo_v2_payload

    root = str(tmp_path / "ht")
    fid, s = _mor_fixture(spark, root)  # base 1/2/3 + upsert k2, insert k4
    schema = spark_schema_to_avro(
        StructType.fromDDL("k long, v string, sq long")
    )

    def legacy_delete_block(deletes, instant):
        payload = _kryo_v2_payload(
            [(d.get("partitionPath"), d["recordKey"], d.get("orderingVal"))
             for d in deletes]
        )
        return _delete_block_legacy(payload, 2, instant)

    monkeypatch.setattr(hl, "delete_block", legacy_delete_block)
    append_log_commit(
        root, fid, s["base_instant"], [], schema,
        deletes=[
            {"recordKey": "3", "orderingVal": 100},
            {"recordKey": "4", "orderingVal": 100},
        ],
    )
    monkeypatch.undo()

    rt = read_hoodie_table_rt(spark, root, key_fields=["k"], precombine="sq")
    assert sorted((r.k, r.v) for r in rt.select("k", "v").collect()) == [
        (1, "a"), (2, "b3")]
    t = LakehouseTable.convert_hoodie(
        spark, root, key_cols=["k"], precombine="sq"
    )
    assert t._commit(None).stats["adopted_tombstone_keys"] == 2
    assert _rows(t.read()) == [(1, "a"), (2, "b3")]


def test_mor_delete_block_same_instant_order(spark, tmp_path):
    """Within one delta commit the in-file block sequence breaks the
    tie: data-then-delete kills the row; the tombstone's orderingVal
    rides the precombine column so cross-commit precombine rules still
    see it."""
    from hudi_and_delta_showcase_spark.avro_ocf import spark_schema_to_avro
    from hudi_and_delta_showcase_spark.tables import fsio
    from hudi_and_delta_showcase_spark.tables import hoodie_log as hl
    from hudi_and_delta_showcase_spark.tables.hoodie_timeline import (
        read_hoodie_table_rt,
    )

    root = str(tmp_path / "ht")
    base = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 100)], "k long, v string, sq long"
    )
    write_hoodie_table(base.coalesce(1), root)
    ((fid, s),) = latest_file_slices_rt(root).items()
    schema = spark_schema_to_avro(base.schema)
    # one commit: data block upserting k1, THEN a delete block for k1
    instant = append_log_commit(
        root, fid, s["base_instant"], [{"k": 1, "v": "a2", "sq": 105}],
        schema, deletes=[{"recordKey": "1", "orderingVal": 105}],
    )
    assert instant
    rt = read_hoodie_table_rt(spark, root, key_fields=["k"], precombine="sq")
    assert sorted((r.k, r.v) for r in rt.select("k", "v").collect()) == [
        (2, "b")]


def test_mor_parquet_log_block_rt_and_adopt(spark, tmp_path):
    """r8: a foreign MoR table whose delta commit wrote a PARQUET data
    block (hoodie.logfile.data.block.format=parquet) reads via _rt and
    adopts exactly like the Avro shape."""
    from hudi_and_delta_showcase_spark.avro_ocf import spark_schema_to_avro
    from hudi_and_delta_showcase_spark.tables.hoodie_timeline import (
        read_hoodie_table_rt,
    )

    root = str(tmp_path / "ht")
    base = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 100)], "k long, v string, sq long"
    )
    write_hoodie_table(base.coalesce(1), root)
    ((fid, s),) = latest_file_slices_rt(root).items()
    schema = spark_schema_to_avro(base.schema)
    append_log_commit(
        root, fid, s["base_instant"],
        [{"k": 2, "v": "b2", "sq": 101}, {"k": 3, "v": "c", "sq": 100}],
        schema, block_format="parquet",
    )
    rt = read_hoodie_table_rt(spark, root, key_fields=["k"], precombine="sq")
    assert sorted((r.k, r.v) for r in rt.select("k", "v").collect()) == [
        (1, "a"), (2, "b2"), (3, "c")]
    t = LakehouseTable.convert_hoodie(
        spark, root, key_cols=["k"], precombine="sq"
    )
    assert t.table_type == "mor"
    assert _rows(t.read()) == [(1, "a"), (2, "b2"), (3, "c")]
