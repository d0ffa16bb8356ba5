"""Iceberg v1 metadata export / read-back (tables/iceberg_meta.py).

Same three-gate strategy as the Delta/Hudi protocol tests:
value-verified round trips (snapshot + time travel), a structure-pinned
golden of the emitted metadata tree (volatile fields normalized), and a
conditional read-back through the real engine (pyiceberg) that skips
where the package is absent.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from hudi_and_delta_showcase_spark.avro_ocf import ocf_decode
from hudi_and_delta_showcase_spark.tables import LakehouseTable
from hudi_and_delta_showcase_spark.tables.iceberg_meta import (
    export_iceberg_metadata,
    iceberg_snapshots,
    read_iceberg_metadata,
    read_iceberg_table,
)

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


def _fixture_table(spark, path):
    df = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k int, v string, sq int"
    ).coalesce(1)
    t = LakehouseTable.create(spark, path, df, key_cols=["k"], precombine="sq")
    t.upsert(
        spark.createDataFrame([(2, "b2", 2)], "k int, v string, sq int")
        .coalesce(1)
    )
    return t


def _rows(df):
    return sorted((r.k, r.v) for r in df.select("k", "v").collect())


# --------------------------------------------------------------------- #
# value round trips
# --------------------------------------------------------------------- #


def test_snapshot_roundtrip_and_time_travel(spark, tmp_path):
    t = _fixture_table(spark, str(tmp_path / "t"))
    assert export_iceberg_metadata(t) == 2
    assert _rows(read_iceberg_table(spark, t.path)) == [(1, "a"), (2, "b2")]
    snaps = iceberg_snapshots(t.path)
    assert len(snaps) == 2
    assert _rows(
        read_iceberg_table(spark, t.path, snapshot_id=snaps[0]["snapshot-id"])
    ) == [(1, "a"), (2, "b")]
    # parent link + operation classification
    assert snaps[1]["parent-snapshot-id"] == snaps[0]["snapshot-id"]
    assert snaps[0]["summary"]["operation"] == "append"
    assert snaps[1]["summary"]["operation"] == "overwrite"  # CoW rewrite
    assert snaps[1]["summary"]["total-records"] == "2"


def test_incremental_idempotent_export(spark, tmp_path):
    t = _fixture_table(spark, str(tmp_path / "t"))
    assert export_iceberg_metadata(t) == 2
    tree = sorted(os.listdir(os.path.join(t.path, "metadata")))
    # second call: nothing new to export, no files touched
    assert export_iceberg_metadata(t) == 2
    assert sorted(os.listdir(os.path.join(t.path, "metadata"))) == tree
    # a third commit exports exactly one more snapshot
    t.upsert(
        spark.createDataFrame([(3, "c", 3)], "k int, v string, sq int")
        .coalesce(1)
    )
    assert export_iceberg_metadata(t) == 3
    assert len(iceberg_snapshots(t.path)) == 3
    assert _rows(read_iceberg_table(spark, t.path)) == [
        (1, "a"), (2, "b2"), (3, "c"),
    ]


def test_existing_entries_carry_stable_counts(spark, tmp_path):
    """Files carried over between snapshots are EXISTING entries that
    keep the record counts and adding snapshot-id from the first
    export — no re-scan of old files on incremental export."""
    df = spark.createDataFrame(
        [(1, "p0", "a", 1)], "k int, p string, v string, sq int"
    )
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), df,
        key_cols=["k"], precombine="sq", partition_by="p",
    )
    export_iceberg_metadata(t)
    # second commit lands in a DIFFERENT partition: the CoW rewrite is
    # partition-scoped, so p0's file carries over as EXISTING
    t.upsert(
        spark.createDataFrame(
            [(9, "p1", "z", 1)], "k int, p string, v string, sq int"
        )
    )
    export_iceberg_metadata(t)
    meta = read_iceberg_metadata(t.path)
    snap = meta["snapshots"][-1]
    _, manifests = ocf_decode(
        open(snap["manifest-list"], "rb").read()
    )
    assert manifests[0]["existing_data_files_count"] == 1
    assert manifests[0]["added_data_files_count"] == 1
    _, entries = ocf_decode(open(manifests[0]["manifest_path"], "rb").read())
    by_status = {e["data_file"]["file_path"]: e for e in entries}
    sids = {e["snapshot_id"] for e in entries}
    # at least one entry was added by the FIRST snapshot (carried over)
    assert meta["snapshots"][0]["snapshot-id"] in sids
    assert all(e["data_file"]["record_count"] >= 1 for e in by_status.values())


def test_export_takes_new_file_counts_from_the_manifest(
    spark, tmp_path, monkeypatch
):
    """New data files take their record counts from the manifest's
    ``row_counts``: an export over recorded commits opens no footer,
    and every data entry's count is its file's footer count."""
    from hudi_and_delta_showcase_spark.tables import fsio

    footers = []
    read_footer = fsio.read_footer
    monkeypatch.setattr(
        fsio, "read_footer", lambda p: footers.append(p) or read_footer(p)
    )
    schema = "k int, p string, v string, sq int"
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame(
            [(i, f"p{i % 3}", "v", 1) for i in range(12)], schema
        ),
        key_cols=["k"], precombine="sq", partition_by="p",
    )
    for c in (1, 2):
        t.upsert(spark.createDataFrame(
            [(i, f"p{i % 3}", f"v{c}", c + 1) for i in range(c, 16, 5)],
            schema,
        ))
    footers.clear()
    export_iceberg_metadata(t)
    assert footers == []
    meta = read_iceberg_metadata(t.path)
    assert len(meta["snapshots"]) == 3
    checked = 0
    for snap in meta["snapshots"]:
        _, manifests = ocf_decode(open(snap["manifest-list"], "rb").read())
        for m in manifests:
            _, entries = ocf_decode(open(m["manifest_path"], "rb").read())
            for e in entries:
                f = e["data_file"]
                assert f["record_count"] == read_footer(
                    f["file_path"]
                ).num_rows
                checked += 1
    assert checked


def test_refuses_uncompacted_mor(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 1)], "k int, v string, sq int")
    t = LakehouseTable.create(
        spark, str(tmp_path / "mor"), df,
        key_cols=["k"], precombine="sq", table_type="mor",
    )
    t.upsert(spark.createDataFrame([(1, "a2", 2)], "k int, v string, sq int"))
    with pytest.raises(RuntimeError, match="compact"):
        export_iceberg_metadata(t)
    t.compact()
    assert export_iceberg_metadata(t) >= 1


# --------------------------------------------------------------------- #
# spec conformance
# --------------------------------------------------------------------- #


def test_metadata_json_spec_fields(spark, tmp_path):
    t = _fixture_table(spark, str(tmp_path / "t"))
    export_iceberg_metadata(t)
    meta = read_iceberg_metadata(t.path)
    for key in (
        "format-version", "table-uuid", "location", "last-updated-ms",
        "last-column-id", "schema", "schemas", "current-schema-id",
        "partition-spec", "partition-specs", "default-spec-id",
        "sort-orders", "default-sort-order-id", "properties",
        "current-snapshot-id", "snapshots", "snapshot-log",
    ):
        assert key in meta, key
    assert meta["format-version"] == 1
    # every schema field carries an id; ids are unique and dense
    ids = [f["id"] for f in meta["schema"]["fields"]]
    assert ids == sorted(set(ids))
    assert meta["last-column-id"] >= max(ids)
    # version-hint points at the latest metadata file
    hint = open(os.path.join(t.path, "metadata", "version-hint.text")).read()
    assert os.path.exists(
        os.path.join(t.path, "metadata", f"v{int(hint)}.metadata.json")
    )


def test_manifest_avro_headers_and_field_ids(spark, tmp_path):
    t = _fixture_table(spark, str(tmp_path / "t"))
    export_iceberg_metadata(t)
    snap = iceberg_snapshots(t.path)[-1]
    schema_ml, manifests = ocf_decode(open(snap["manifest-list"], "rb").read())
    assert all("field-id" in f for f in schema_ml["fields"])
    raw = open(manifests[0]["manifest_path"], "rb").read()
    assert manifests[0]["manifest_length"] == len(raw)
    schema_m, entries = ocf_decode(raw)
    assert all("field-id" in f for f in schema_m["fields"])
    # header metadata: decode manually to check the iceberg keys
    from hudi_and_delta_showcase_spark.avro_ocf import MAGIC, _Reader

    r = _Reader(raw)
    assert r.read(4) == MAGIC
    hdr = {}
    while True:
        n = r.read_long()
        if n == 0:
            break
        for _ in range(abs(n)):
            k = r.read_bytes().decode()
            hdr[k] = r.read_bytes()
    for key in ("schema", "partition-spec", "partition-spec-id",
                "format-version", "content"):
        assert key in hdr, key
    assert hdr["format-version"] == b"1"
    json.loads(hdr["schema"])  # a valid Iceberg schema document
    # data_file invariants
    for e in entries:
        df_rec = e["data_file"]
        assert df_rec["file_format"] == "PARQUET"
        assert df_rec["record_count"] >= 1
        assert df_rec["file_size_in_bytes"] > 0


# --------------------------------------------------------------------- #
# structure golden
# --------------------------------------------------------------------- #

_UUID_RE = re.compile(
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
)
_INSTANT_RE = re.compile(r"\b20\d{15}\b")
_PART_RE = re.compile(r"part-[0-9a-zA-Z\-]+(?:\.snappy)?\.parquet")
_COMMIT_DIR_RE = re.compile(r"(c\d{5})-[0-9a-f]+")


def _normalize(obj, root=""):
    if isinstance(obj, (bytes, bytearray)):  # bounds values
        return "0x" + bytes(obj).hex()
    if isinstance(obj, dict):
        out = {}
        for k, v in sorted(obj.items()):
            if k in ("last-updated-ms", "timestamp-ms", "manifest_length",
                     "file_size_in_bytes"):
                out[k] = "<num>" if isinstance(v, int) else v
            else:
                out[k] = _normalize(v, root)
        return out
    if isinstance(obj, list):
        return [_normalize(v, root) for v in obj]
    if isinstance(obj, str):
        s = obj.replace(root, "<root>") if root else obj
        s = _PART_RE.sub("<part>", s)
        s = _COMMIT_DIR_RE.sub(r"\1-<hex>", s)
        s = _UUID_RE.sub("<uuid>", s)
        s = _INSTANT_RE.sub("<instant>", s)
        return s
    if isinstance(obj, int) and obj > 10**16:  # snapshot ids (instants)
        return "<instant>"
    return obj


def _pin(name: str, got) -> None:
    path = os.path.join(GOLDEN_DIR, name)
    if not os.path.exists(path):  # pragma: no cover - fixture generation
        with open(path, "w") as fh:
            json.dump(got, fh, indent=1, sort_keys=True)
        pytest.skip(f"golden {name} written; rerun to enforce")
    want = json.load(open(path))
    if got != want:  # drop the full structure where a human can diff it
        with open(f"/tmp/{name}.got.json", "w") as fh:
            json.dump(got, fh, indent=1, sort_keys=True)
    assert got == want, (
        f"exported protocol structure drifted from {name} — if the "
        "change is INTENTIONAL, delete the golden and rerun to re-pin "
        f"(actual structure dumped to /tmp/{name}.got.json)"
    )


def test_iceberg_export_structure_pinned(spark, tmp_path):
    # the golden encodes the rewrite's output FILE COUNT, which follows
    # the session's shuffle-partition/AQE state — pin it to one file so
    # the structure is identical standalone and mid-suite
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "1")
    t = _fixture_table(s, str(tmp_path / "t"))
    export_iceberg_metadata(t)
    root = os.path.abspath(t.path)
    meta_dir = os.path.join(t.path, "metadata")
    # normalized names collide (both manifests become <uuid>-m0.avro), so
    # each name maps to the LIST of its files' normalized contents, sorted
    # canonically — deterministic across runs regardless of uuid order
    tree: dict[str, list] = {}
    for fn in sorted(os.listdir(meta_dir)):
        key = _normalize(fn, root)
        full = os.path.join(meta_dir, fn)
        if fn.endswith(".metadata.json"):
            content = _normalize(json.load(open(full)), root)
        elif fn.endswith(".avro"):
            schema, records = ocf_decode(open(full, "rb").read())
            content = {
                "schema": _normalize(schema, root),
                "records": _normalize(records, root),
            }
        else:
            content = _normalize(open(full).read(), root)
        tree.setdefault(key, []).append(content)
    for key in tree:
        tree[key].sort(key=lambda c: json.dumps(c, sort_keys=True))
    _pin("iceberg_export_golden.json", tree)


# --------------------------------------------------------------------- #
# real-engine read-back (runs only where pyiceberg exists)
# --------------------------------------------------------------------- #


def test_pyiceberg_reads_export(spark, tmp_path):
    """If the real pyiceberg package is present, its StaticTable must
    load our metadata.json and scan the current snapshot (mirror of the
    delta-spark/hudi-jar read-backs; the golden above is the
    package-less gate)."""
    pytest.importorskip("pyiceberg")
    from pyiceberg.table import StaticTable

    t = _fixture_table(spark, str(tmp_path / "t"))
    n = export_iceberg_metadata(t)
    st = StaticTable.from_metadata(
        os.path.join(t.path, "metadata", f"v{n}.metadata.json")
    )
    got = sorted(
        (r["k"], r["v"])
        for r in st.scan().to_arrow().select(["k", "v"]).to_pylist()
    )
    assert got == [(1, "a"), (2, "b2")]


def test_partitioned_identity_spec(spark, tmp_path):
    """Partitioned tables export a real identity partition spec and
    typed per-file partition values in the manifest entries."""
    df = spark.createDataFrame(
        [(1, 10, "a", 1), (2, 20, "b", 1)], "k int, p int, v string, sq int"
    )
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), df,
        key_cols=["k"], precombine="sq", partition_by="p",
    )
    export_iceberg_metadata(t)
    meta = read_iceberg_metadata(t.path)
    spec = meta["partition-specs"][0]["fields"]
    assert spec == [
        {
            "name": "p",
            "transform": "identity",
            "source-id": next(
                f["id"] for f in meta["schema"]["fields"] if f["name"] == "p"
            ),
            "field-id": 1000,
        }
    ]
    assert meta["last-partition-id"] == 1000
    snap = iceberg_snapshots(t.path)[-1]
    _, manifests = ocf_decode(open(snap["manifest-list"], "rb").read())
    raw = open(manifests[0]["manifest_path"], "rb").read()
    schema_m, entries = ocf_decode(raw)
    # typed partition tuple per file: int values 10 and 20
    assert sorted(e["data_file"]["partition"]["p"] for e in entries) == [10, 20]
    # spec header present and non-empty
    from hudi_and_delta_showcase_spark.avro_ocf import MAGIC, _Reader

    r = _Reader(raw)
    assert r.read(4) == MAGIC
    hdr = {}
    while True:
        n = r.read_long()
        if n == 0:
            break
        for _ in range(abs(n)):
            key = r.read_bytes().decode()
            hdr[key] = r.read_bytes()
    assert json.loads(hdr["partition-spec"]) == spec
    # read-back still value-complete (identity column lives in the files)
    got = sorted(
        (r2.k, r2.p, r2.v)
        for r2 in read_iceberg_table(spark, t.path).select("k", "p", "v").collect()
    )
    assert got == [(1, 10, "a"), (2, 20, "b")]


# --------------------------------------------------------------------- #
# foreign-authored trees (reader pin, v2)
# --------------------------------------------------------------------- #


def _foreign_v2_tree(root: str) -> tuple[int, int]:
    """Author an Iceberg v2 tree the way iceberg-java writes it:
    catalog-style ``00001-<uuid>.metadata.json`` naming with NO
    version-hint, deflate-coded manifests with the v2 columns
    (sequence numbers, data_file.content), absolute locations.
    Returns (snapshot_id_v1, snapshot_id_v2)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hudi_and_delta_showcase_spark.avro_ocf import ocf_encode

    os.makedirs(os.path.join(root, "data"))
    os.makedirs(os.path.join(root, "metadata"))
    f0 = os.path.join(root, "data", "00000-0-dat-a.parquet")
    f1 = os.path.join(root, "data", "00001-0-dat-b.parquet")
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int32()), "v": pa.array(["a", "b"])}),
        f0,
    )
    pq.write_table(
        pa.table({"k": pa.array([3], pa.int32()), "v": pa.array(["c"])}), f1
    )

    def opt(name, t, fid):
        return {"name": name, "type": ["null", t], "default": None,
                "field-id": fid}

    data_file = {
        "type": "record", "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition",
             "type": {"type": "record", "name": "r102", "fields": []},
             "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        ],
    }
    entry_schema = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            opt("snapshot_id", "long", 1),
            opt("sequence_number", "long", 3),
            opt("file_sequence_number", "long", 4),
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }
    mlist_schema = {
        "type": "record", "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long", "field-id": 516},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_data_files_count", "type": "int", "field-id": 504},
            {"name": "existing_data_files_count", "type": "int", "field-id": 505},
            {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
        ],
    }

    def entry(status, sid, seq, path, rows):
        return {
            "status": status, "snapshot_id": sid, "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 0, "file_path": path, "file_format": "PARQUET",
                "partition": {}, "record_count": rows,
                "file_size_in_bytes": os.path.getsize(path),
            },
        }

    sid1, sid2 = 4910595700949954304, 6713521412982384639
    m1 = os.path.join(root, "metadata", "aaa-1111-m0.avro")
    b1 = ocf_encode(entry_schema, [entry(1, sid1, 1, f0, 2)], codec="deflate")
    open(m1, "wb").write(b1)
    m2 = os.path.join(root, "metadata", "bbb-2222-m0.avro")
    b2 = ocf_encode(
        entry_schema,
        [entry(0, sid1, 1, f0, 2), entry(1, sid2, 2, f1, 1)],
        codec="deflate",
    )
    open(m2, "wb").write(b2)

    def mfile(path, blob, content, seq, sid, a, e):
        return {
            "manifest_path": path, "manifest_length": len(blob),
            "partition_spec_id": 0, "content": content,
            "sequence_number": seq, "min_sequence_number": 1,
            "added_snapshot_id": sid,
            "added_data_files_count": a, "existing_data_files_count": e,
            "deleted_data_files_count": 0,
        }

    l1 = os.path.join(root, "metadata", f"snap-{sid1}-1-ccc.avro")
    open(l1, "wb").write(
        ocf_encode(mlist_schema, [mfile(m1, b1, 0, 1, sid1, 1, 0)],
                   codec="deflate")
    )
    l2 = os.path.join(root, "metadata", f"snap-{sid2}-1-ddd.avro")
    open(l2, "wb").write(
        ocf_encode(mlist_schema, [mfile(m2, b2, 0, 2, sid2, 1, 1)],
                   codec="deflate")
    )

    schema = {
        "type": "struct", "schema-id": 0,
        "fields": [
            {"id": 1, "name": "k", "required": False, "type": "int"},
            {"id": 2, "name": "v", "required": False, "type": "string"},
        ],
    }
    meta = {
        "format-version": 2, "table-uuid": "9c3b1712-0000-4000-8000-000000000001",
        "location": root, "last-sequence-number": 2,
        "last-updated-ms": 1700000100000, "last-column-id": 2,
        "current-schema-id": 0, "schemas": [schema], "schema": schema,
        "default-spec-id": 0, "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999, "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}], "properties": {},
        "current-snapshot-id": sid2,
        "snapshots": [
            {"sequence-number": 1, "snapshot-id": sid1,
             "timestamp-ms": 1700000000000,
             "summary": {"operation": "append"}, "manifest-list": l1,
             "schema-id": 0},
            {"sequence-number": 2, "snapshot-id": sid2,
             "parent-snapshot-id": sid1, "timestamp-ms": 1700000100000,
             "summary": {"operation": "append"}, "manifest-list": l2,
             "schema-id": 0},
        ],
        "snapshot-log": [], "metadata-log": [],
    }
    with open(
        os.path.join(
            root, "metadata",
            "00002-7a1f0000-0000-4000-8000-000000000002.metadata.json",
        ),
        "w",
    ) as fh:
        json.dump(meta, fh)
    return sid1, sid2


def test_reads_foreign_v2_tree(spark, tmp_path):
    """A v2 tree as iceberg-java writes it — catalog metadata naming,
    no version-hint, deflate manifests with sequence-number columns —
    must serve the correct snapshot and time travel."""
    root = str(tmp_path / "ice_foreign")
    sid1, sid2 = _foreign_v2_tree(root)
    assert _rows(read_iceberg_table(spark, root)) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    assert _rows(read_iceberg_table(spark, root, snapshot_id=sid1)) == [
        (1, "a"), (2, "b"),
    ]


def test_reads_relocated_foreign_tree(spark, tmp_path):
    """A copied table (absolute paths recorded under the OLD root) must
    re-anchor metadata and data locations under the new root."""
    import shutil

    src = str(tmp_path / "orig")
    _foreign_v2_tree(src)
    dst = str(tmp_path / "copied")
    shutil.copytree(src, dst)
    shutil.rmtree(src)  # the recorded absolute locations are now dead
    assert _rows(read_iceberg_table(spark, dst)) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def _add_equality_delete_snapshot(root: str, sid2: int) -> int:
    """Extend the foreign v2 tree with snapshot 3 (sequence 3), the
    Flink-CDC upsert shape: one EQUALITY delete file on k (field id 1)
    naming k in {2, 3}, plus a NEW data file at the SAME sequence
    re-inserting k=3 — the strict ``data_seq < delete_seq`` rule must
    kill the old k=2/k=3 rows and keep the re-insert."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hudi_and_delta_showcase_spark.avro_ocf import ocf_decode as dec
    from hudi_and_delta_showcase_spark.avro_ocf import ocf_encode as enc

    sid3 = 7713521412982384640
    eqf = os.path.join(root, "data", "00002-0-eq-deletes.parquet")
    pq.write_table(pa.table({"k": pa.array([2, 3], pa.int32())}), eqf)
    newf = os.path.join(root, "data", "00003-0-dat-c.parquet")
    pq.write_table(
        pa.table({"k": pa.array([3], pa.int32()), "v": pa.array(["c2"])}),
        newf,
    )
    # reuse the tree's own entry/list writer schemas, + equality_ids
    m2 = os.path.join(root, "metadata", "bbb-2222-m0.avro")
    entry_schema, old_entries = dec(open(m2, "rb").read())
    df_schema = next(
        f["type"] for f in entry_schema["fields"] if f["name"] == "data_file"
    )
    df_schema["fields"].append(
        {"name": "equality_ids",
         "type": ["null", {"type": "array", "items": "int"}],
         "default": None, "field-id": 135}
    )
    for e in old_entries:
        e["data_file"]["equality_ids"] = None

    def entry(status, sid, seq, path, rows, content, eq_ids=None):
        return {
            "status": status, "snapshot_id": sid, "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": content, "file_path": path,
                "file_format": "PARQUET", "partition": {},
                "record_count": rows,
                "file_size_in_bytes": os.path.getsize(path),
                "equality_ids": eq_ids,
            },
        }

    # data manifest: both prior files EXISTING + the re-insert ADDED
    m3 = os.path.join(root, "metadata", "ccc-3333-m0.avro")
    carried = [dict(e, status=0) for e in old_entries]
    b3 = enc(
        entry_schema,
        carried + [entry(1, sid3, 3, newf, 1, content=0)],
        codec="deflate",
    )
    open(m3, "wb").write(b3)
    # equality-delete manifest (list content=1, data_file content=2)
    m3d = os.path.join(root, "metadata", "ccc-3333-m1.avro")
    b3d = enc(
        entry_schema,
        [entry(1, sid3, 3, eqf, 2, content=2, eq_ids=[1])],
        codec="deflate",
    )
    open(m3d, "wb").write(b3d)

    mlist_path = os.path.join(root, "metadata", f"snap-{sid2}-1-ddd.avro")
    mlist_schema, _rows = dec(open(mlist_path, "rb").read())

    def mfile(path, blob, content, seq, a, e):
        return {
            "manifest_path": path, "manifest_length": len(blob),
            "partition_spec_id": 0, "content": content,
            "sequence_number": seq, "min_sequence_number": 1,
            "added_snapshot_id": sid3,
            "added_data_files_count": a, "existing_data_files_count": e,
            "deleted_data_files_count": 0,
        }

    l3 = os.path.join(root, "metadata", f"snap-{sid3}-1-eee.avro")
    open(l3, "wb").write(
        enc(
            mlist_schema,
            [mfile(m3, b3, 0, 3, 1, 2), mfile(m3d, b3d, 1, 3, 1, 0)],
            codec="deflate",
        )
    )
    meta_path = os.path.join(
        root, "metadata",
        "00002-7a1f0000-0000-4000-8000-000000000002.metadata.json",
    )
    meta = json.load(open(meta_path))
    meta["snapshots"].append(
        {"sequence-number": 3, "snapshot-id": sid3,
         "parent-snapshot-id": sid2, "timestamp-ms": 1700000200000,
         "summary": {"operation": "overwrite"}, "manifest-list": l3,
         "schema-id": 0}
    )
    meta["current-snapshot-id"] = sid3
    meta["last-sequence-number"] = 3
    with open(
        os.path.join(
            root, "metadata",
            "00003-7a1f0000-0000-4000-8000-000000000003.metadata.json",
        ),
        "w",
    ) as fh:
        json.dump(meta, fh)
    return sid3


def test_reads_v2_equality_deletes(spark, tmp_path):
    """r7 (verdict #3): EQUALITY deletes — the Flink CDC writer shape —
    apply on read: rows matching the delete file's equality_ids columns
    die when their data sequence is STRICTLY below the delete's; a row
    re-inserted at the delete's own sequence survives (that strictness
    is what makes Flink's delete+insert upserts correct)."""
    root = str(tmp_path / "ice_eq")
    sid1, sid2 = _foreign_v2_tree(root)
    sid3 = _add_equality_delete_snapshot(root, sid2)
    got = sorted(
        tuple(r) for r in read_iceberg_table(spark, root).collect()
    )
    # base had (1,a),(2,b) @seq1 and (3,c) @seq2; eq-delete k in {2,3}
    # @seq3 kills both; re-insert (3,c2) @seq3 survives the strict <
    assert got == [(1, "a"), (3, "c2")]
    # time travel BEFORE the delete still sees the old rows
    tt = sorted(
        tuple(r)
        for r in read_iceberg_table(spark, root, snapshot_id=sid2).collect()
    )
    assert tt == [(1, "a"), (2, "b"), (3, "c")]


def test_equality_delete_without_ids_fails_loudly(spark, tmp_path):
    root = str(tmp_path / "ice_eq2")
    _sid1, sid2 = _foreign_v2_tree(root)
    _add_equality_delete_snapshot(root, sid2)
    # strip the equality_ids -> the reader must refuse, never undelete
    from hudi_and_delta_showcase_spark.avro_ocf import ocf_decode as dec
    from hudi_and_delta_showcase_spark.avro_ocf import ocf_encode as enc

    m3d = os.path.join(root, "metadata", "ccc-3333-m1.avro")
    schema, recs = dec(open(m3d, "rb").read())
    for r in recs:
        r["data_file"]["equality_ids"] = None
    open(m3d, "wb").write(enc(schema, recs, codec="deflate"))
    with pytest.raises(ValueError, match="equality_ids"):
        read_iceberg_table(spark, root).collect()


def test_manifest_bounds_match_data(spark, tmp_path):
    """lower/upper bounds in the manifest entries carry the engine's
    col-stats index in Iceberg single-value binary form — exact for the
    numeric columns, absent for strings (parquet footer string stats
    may be writer-truncated; a truncated upper bound would overstate
    skipping safety)."""
    import struct

    df = spark.createDataFrame(
        [(5, "a", 1.5, 1), (9, "b", -2.25, 1)], "k int, v string, x double, sq int"
    ).coalesce(1)
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), df, key_cols=["k"], precombine="sq"
    )
    export_iceberg_metadata(t)
    snap = iceberg_snapshots(t.path)[-1]
    _, manifests = ocf_decode(open(snap["manifest-list"], "rb").read())
    _, entries = ocf_decode(open(manifests[0]["manifest_path"], "rb").read())
    meta = read_iceberg_metadata(t.path)
    fid = {f["name"]: f["id"] for f in meta["schema"]["fields"]}
    e = entries[0]["data_file"]
    lo = {b["key"]: b["value"] for b in e["lower_bounds"]}
    hi = {b["key"]: b["value"] for b in e["upper_bounds"]}
    assert bytes(lo[fid["k"]]) == struct.pack("<i", 5)
    assert bytes(hi[fid["k"]]) == struct.pack("<i", 9)
    assert bytes(lo[fid["x"]]) == struct.pack("<d", -2.25)
    assert bytes(hi[fid["x"]]) == struct.pack("<d", 1.5)
    # no string bounds exported (truncation risk)
    assert fid["v"] not in lo and fid["v"] not in hi


# --------------------------------------------------------------------- #
# CONVERT from Iceberg (incoming XTable direction)
# --------------------------------------------------------------------- #


def test_convert_iceberg_adopts_current_snapshot(spark, tmp_path):
    """convert_iceberg adopts the CURRENT snapshot's live files
    metadata-only — dead files from older snapshots are ignored, and
    the adopted table upserts like a native one afterwards."""
    import shutil

    t = _fixture_table(spark, str(tmp_path / "t"))
    export_iceberg_metadata(t)
    # strip the engine's own metadata: what remains is a pure Iceberg
    # table (data files + metadata/ tree)
    os.remove(os.path.join(t.path, "_meta.json"))
    shutil.rmtree(os.path.join(t.path, "_commits"))

    adopted = LakehouseTable.convert_iceberg(
        spark, t.path, key_cols=["k"], precombine="sq"
    )
    assert _rows(adopted.read()) == [(1, "a"), (2, "b2")]
    # version-0 commit lists exactly the LIVE snapshot files (the CoW
    # rewrite's superseded file stays on disk but is not adopted)
    c0 = adopted.history()[0]
    assert c0.action == "convert"
    assert c0.stats["source_format"] == "iceberg"
    from hudi_and_delta_showcase_spark.tables.iceberg_meta import (
        _snapshot_entries,
    )

    live = {
        e["data_file"]["file_path"].rsplit("/", 1)[-1]
        for e in _snapshot_entries(t.path, iceberg_snapshots(t.path)[-1])
    }
    assert {f.rsplit("/", 1)[-1] for f in c0.files} == live
    # post-adoption writes work natively
    adopted.upsert(
        spark.createDataFrame([(1, "a9", 9)], "k int, v string, sq int")
    )
    assert _rows(adopted.read()) == [(1, "a9"), (2, "b2")]


def test_convert_foreign_iceberg_v2_tree(spark, tmp_path):
    """A foreign-authored v2 tree (no lakehouse metadata at all)
    adopts directly."""
    root = str(tmp_path / "ice_foreign")
    _foreign_v2_tree(root)
    adopted = LakehouseTable.convert_iceberg(
        spark, root, key_cols=["k"]
    )
    assert _rows(adopted.read()) == [(1, "a"), (2, "b"), (3, "c")]


def test_read_iceberg_where_prunes_on_bounds(spark, tmp_path):
    """read_iceberg_where skips files purely on manifest bounds: two
    disjoint-range files, a selective range touches exactly one."""
    from hudi_and_delta_showcase_spark.tables.iceberg_meta import (
        read_iceberg_where,
    )

    lo_df = spark.createDataFrame(
        [(i, "lo", 1) for i in range(1, 11)], "k int, v string, sq int"
    ).coalesce(1)
    hi_df = spark.createDataFrame(
        [(i, "hi", 1) for i in range(100, 111)], "k int, v string, sq int"
    ).coalesce(1)
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), lo_df, key_cols=["k"], precombine="sq",
        partition_by="v",
    )
    t.upsert(hi_df)
    export_iceberg_metadata(t)
    out = read_iceberg_where(spark, t.path, "k", lo=100, hi=105)
    # correct rows...
    assert sorted(r.k for r in out.collect()) == list(range(100, 106))
    # ...from a scan that lists ONLY the matching file
    assert len(out.inputFiles()) == 1
    # empty intersection: zero rows, schema preserved
    none = read_iceberg_where(spark, t.path, "k", lo=50, hi=60)
    assert none.count() == 0
    assert [f.name for f in none.schema.fields][:2] == ["k", "v"]


def test_record_counts_distinguish_same_basename_files(spark, tmp_path):
    """A single write task reuses its part-file name across every
    partition directory (part-00000-<uuid> in BOTH __pp dirs), so
    record counts must key by root-relative path, never basename."""
    df = spark.createDataFrame(
        [(1, "p0", 1), (2, "p0", 1), (3, "p1", 1), (4, "p1", 1), (5, "p1", 1)],
        "k int, p string, sq int",
    ).coalesce(1)  # ONE task -> identical basenames in both partition dirs
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), df,
        key_cols=["k"], precombine="sq", partition_by="p",
    )
    export_iceberg_metadata(t)
    snap = iceberg_snapshots(t.path)[-1]
    _, manifests = ocf_decode(open(snap["manifest-list"], "rb").read())
    _, entries = ocf_decode(open(manifests[0]["manifest_path"], "rb").read())
    counts = {
        e["data_file"]["partition"]["p"]: e["data_file"]["record_count"]
        for e in entries
    }
    basenames = {
        e["data_file"]["file_path"].rsplit("/", 1)[-1] for e in entries
    }
    assert len(entries) == 2
    assert len(basenames) == 1, "fixture must hit the shared-basename case"
    assert counts == {"p0": 2, "p1": 3}


# --------------------------------------------------------------------- #
# snapshot expiration
# --------------------------------------------------------------------- #


def test_expire_snapshots_metadata_only(spark, tmp_path):
    from hudi_and_delta_showcase_spark.tables.iceberg_meta import (
        expire_iceberg_snapshots,
    )

    t = _fixture_table(spark, str(tmp_path / "t"))
    t.upsert(spark.createDataFrame([(3, "c", 3)], "k int, v string, sq int"))
    export_iceberg_metadata(t)
    snaps = iceberg_snapshots(t.path)
    assert len(snaps) == 3
    data_before = sorted(
        f for _, _, fs in os.walk(os.path.join(t.path, "data")) for f in fs
    )
    res = expire_iceberg_snapshots(t.path, keep_last=1)
    assert res["expired"] == 2
    assert len(res["deleted_files"]) == 4  # 2 manifest-lists + 2 manifests
    # current snapshot still serves; expired ids are gone
    assert _rows(read_iceberg_table(spark, t.path)) == [
        (1, "a"), (2, "b2"), (3, "c"),
    ]
    kept = iceberg_snapshots(t.path)
    assert len(kept) == 1 and "parent-snapshot-id" not in kept[0]
    with pytest.raises(ValueError, match="unknown snapshot-id"):
        read_iceberg_table(spark, t.path, snapshot_id=snaps[0]["snapshot-id"])
    # METADATA-ONLY: every data file untouched
    data_after = sorted(
        f for _, _, fs in os.walk(os.path.join(t.path, "data")) for f in fs
    )
    assert data_after == data_before
    # idempotent / no-op below the floor
    assert expire_iceberg_snapshots(t.path, keep_last=1) == {
        "expired": 0, "deleted_files": [],
    }
    # incremental export continues cleanly after expiration
    t.upsert(spark.createDataFrame([(4, "d", 4)], "k int, v string, sq int"))
    export_iceberg_metadata(t)
    assert len(iceberg_snapshots(t.path)) == 2


def test_expire_keeps_shared_manifests(spark, tmp_path):
    """A manifest referenced by BOTH an expired and a kept snapshot
    (iceberg-java reuses manifests across snapshots) must survive."""
    from hudi_and_delta_showcase_spark.avro_ocf import ocf_decode as dec
    from hudi_and_delta_showcase_spark.avro_ocf import ocf_encode as enc
    from hudi_and_delta_showcase_spark.tables.iceberg_meta import (
        expire_iceberg_snapshots,
    )

    root = str(tmp_path / "ice")
    sid1, sid2 = _foreign_v2_tree(root)
    # rewrite snapshot 2's manifest list to ALSO reference snapshot 1's
    # manifest (the reuse pattern), and give the tree a version hint so
    # expire accepts it
    l1 = os.path.join(root, "metadata", f"snap-{sid1}-1-ccc.avro")
    l2 = os.path.join(root, "metadata", f"snap-{sid2}-1-ddd.avro")
    s1, r1 = dec(open(l1, "rb").read())
    s2, r2 = dec(open(l2, "rb").read())
    shared = r1[0]["manifest_path"]
    open(l2, "wb").write(enc(s2, r2 + [r1[0]], codec="deflate"))
    import glob

    meta_file = glob.glob(os.path.join(root, "metadata", "*.metadata.json"))[0]
    os.rename(meta_file, os.path.join(root, "metadata", "v1.metadata.json"))
    open(os.path.join(root, "metadata", "version-hint.text"), "w").write("1")

    res = expire_iceberg_snapshots(root, keep_last=1)
    assert res["expired"] == 1
    assert os.path.exists(shared), "shared manifest must survive"
    assert not os.path.exists(l1), "expired-only manifest list is deleted"


def test_mixed_spec_table_exports_unpartitioned_until_converged(
    spark, tmp_path
):
    """After a partition-spec evolution, live files span two layouts —
    the single-spec export must go UNPARTITIONED (a current-spec
    attribution of old-spec path values would let a foreign reader
    mis-prune). Once maintenance converges every live file to the
    current spec, the identity spec comes back."""
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(1, 10, "a", 1), (2, 20, "b", 1)], 1
        ),
        "k int, p int, v string, sq int",
    )
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), df,
        key_cols=["k"], precombine="sq", partition_by="p",
    )
    t.evolve_partitioning("v")
    t.upsert(
        spark.createDataFrame(
            spark.sparkContext.parallelize([(3, 30, "c", 2)], 1),
            "k int, p int, v string, sq int",
        )
    )
    export_iceberg_metadata(t)
    meta = read_iceberg_metadata(t.path)
    assert meta["partition-specs"][0]["fields"] == []
    # converge the layout, re-export: identity spec on the NEW column
    t.optimize(target_files=1)
    export_iceberg_metadata(t)
    meta = read_iceberg_metadata(t.path)
    fields = meta["partition-specs"][-1]["fields"]
    assert [f["name"] for f in fields] == ["v"]
    got = sorted(
        (r.k, r.p, r.v)
        for r in read_iceberg_table(spark, t.path)
        .select("k", "p", "v")
        .collect()
    )
    assert got == [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")]
    # each converged file's partition value is its own ``v`` in both
    # exports (the current spec's ``__pp1=`` dirs, not an empty value)
    v_of = {}
    for f, cols in t._commit(None).col_stats.items():
        lo, hi = cols["v"]
        assert lo == hi
        v_of[f] = lo
    assert sorted(v_of.values()) == ["a", "b", "c"]
    from hudi_and_delta_showcase_spark.tables.delta_log import (
        export_delta_log,
    )
    from hudi_and_delta_showcase_spark.tables.iceberg_meta import (
        _snapshot_entries,
    )

    ice = {
        os.path.relpath(e["data_file"]["file_path"], t.path):
        e["data_file"]["partition"]["v"]
        for e in _snapshot_entries(t.path, iceberg_snapshots(t.path)[-1])
    }
    assert ice == v_of
    export_delta_log(t)
    log_dir = os.path.join(t.path, "_delta_log")
    logs = sorted(f for f in os.listdir(log_dir) if re.match(r"\d+\.json$", f))
    actions = [
        [json.loads(line) for line in open(os.path.join(log_dir, f))]
        for f in logs
    ]
    part_cols = [
        a["metaData"]["partitionColumns"]
        for commit in actions
        for a in commit
        if "metaData" in a
    ]
    assert part_cols[-1] == ["v"]
    adds = {
        a["add"]["path"]: a["add"]["partitionValues"]
        for a in actions[-1]
        if "add" in a
    }
    assert adds == {f: {"v": v} for f, v in v_of.items()}


def test_schema_history_per_snapshot(spark, tmp_path):
    """r7 (verdict #6): the exported metadata carries the FULL schemas
    list with per-snapshot schema-id — a snapshot written before a
    schema evolution references the OLD schema, not the current one."""
    df = spark.createDataFrame(
        [(1, 10, 1)], "k int, v int, sq int"
    ).coalesce(1)
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), df, key_cols=["k"], precombine="sq"
    )
    export_iceberg_metadata(t)
    # upserting a WIDER batch evolves the table schema (typeWidening)
    t.upsert(
        spark.createDataFrame(
            [(2, 2**40, 2)], "k int, v long, sq int"
        ).coalesce(1)
    )
    export_iceberg_metadata(t)
    meta = read_iceberg_metadata(t.path)
    ids = {s["schema-id"] for s in meta["schemas"]}
    assert len(meta["schemas"]) == 2 and len(ids) == 2
    snap_ids = [s["schema-id"] for s in meta["snapshots"]]
    # v0 (int) schema, then the widened (long) schema on later snaps
    assert snap_ids[0] != snap_ids[-1]
    assert meta["current-snapshot-id"] == meta["snapshots"][-1]["snapshot-id"]
    assert meta["current-schema-id"] == snap_ids[-1]
    by_id = {s["schema-id"]: s for s in meta["schemas"]}
    old_v = next(
        f["type"] for f in by_id[snap_ids[0]]["fields"] if f["name"] == "v"
    )
    new_v = next(
        f["type"] for f in by_id[snap_ids[-1]]["fields"] if f["name"] == "v"
    )
    assert (old_v, new_v) == ("int", "long")
    # an UNCHANGED schema on the next commit reuses its id (no growth)
    t.upsert(spark.createDataFrame(
        [(3, 3, 3)], "k int, v long, sq int").coalesce(1))
    export_iceberg_metadata(t)
    meta2 = read_iceberg_metadata(t.path)
    assert len(meta2["schemas"]) == 2
    assert meta2["snapshots"][-1]["schema-id"] == snap_ids[-1]


def test_clustering_exports_as_sort_order(spark, tmp_path):
    """r11: an optimize(cluster_by=...) generation exports as a real
    identity ASC sort order (order-id 1, default), so foreign planners
    know the clustered files are range-ordered; unclustered tables keep
    the spec's unsorted order 0 only."""
    import json as _json

    from hudi_and_delta_showcase_spark.tables import LakehouseTable
    from hudi_and_delta_showcase_spark.tables.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_metadata,
    )

    df = spark.createDataFrame(
        [(k, f"v{k}") for k in range(40)], "k int, v string"
    ).coalesce(2)
    t = LakehouseTable.create(spark, str(tmp_path / "t"), df,
                              key_cols=["k"])
    export_iceberg_metadata(t)
    meta = read_iceberg_metadata(t.path)
    assert meta["default-sort-order-id"] == 0
    t.optimize(cluster_by=["k"], target_files=2)
    export_iceberg_metadata(t)
    meta = read_iceberg_metadata(t.path)
    assert meta["default-sort-order-id"] == 1
    order = next(o for o in meta["sort-orders"] if o["order-id"] == 1)
    kid = next(
        f["id"] for f in meta["schema"]["fields"] if f["name"] == "k"
    )
    assert order["fields"] == [{
        "transform": "identity", "source-id": kid,
        "direction": "asc", "null-order": "nulls-first",
    }]
    # the unsorted order 0 stays present, per spec
    assert any(o["order-id"] == 0 for o in meta["sort-orders"])
    # a later plain commit KEEPS the declared order (resume path reads
    # the spec back from already-exported versions)
    t.upsert(spark.createDataFrame([(100, "x")], "k int, v string"))
    export_iceberg_metadata(t)
    meta = read_iceberg_metadata(t.path)
    assert meta["default-sort-order-id"] == 1
    _json.dumps(meta)  # round-trippable
