"""Commit invariants across every writer that derives a commit from its
parent (``manifest.next_commit``, ``LakehouseTable._commit_rewrite``):
index entries only for live files, idempotent-writer watermarks that
survive every action, schema and column mapping carried unless the
action changes them, and no deletion vector or record-index sidecar of
the parent surviving a full rewrite. ``next_commit`` is the only
commit builder: no module but ``tables/manifest.py`` constructs a
``Commit``. Likewise ``tables/fsio.py`` is the one parquet footer
reader: no other module resolves a pyarrow filesystem or opens a
footer."""

from __future__ import annotations

import ast
import os
import pathlib

from hudi_and_delta_showcase_spark.tables import LakehouseTable
from hudi_and_delta_showcase_spark.tables import fsio
from hudi_and_delta_showcase_spark.tables import manifest as mf

_SCHEMA_ACTIONS = {"rename", "drop_column", "restore"}


def _label(c: mf.Commit) -> str:
    """The writer behind a commit (several share an action name)."""
    if c.action == "delete":
        return "dv_delete" if "dv_files_added" in c.stats else "delete"
    if c.action == "optimize":
        if "optimize_where" in c.stats:
            return "optimize_partition"
        if c.stats.get("mode") == "incremental":
            return "optimize_incremental"
    if c.action == "upsert" and "log_files_added" in c.stats:
        return "mor_upsert"
    return c.action


def _check_history(path: str, app: str) -> list[str]:
    """Assert the invariants on every commit after the txn upsert (v1);
    returns the writer labels seen."""
    labels = []
    for v in range(1, mf.latest_version(path) + 1):
        parent, c = mf.read_commit(path, v - 1), mf.read_commit(path, v)
        label = _label(c)
        labels.append(label)
        for name in mf._INDEX_FIELDS:
            assert set(getattr(c, name)) <= set(c.files), (label, name)
        assert c.txn.get(app) == 1, label
        if c.action not in _SCHEMA_ACTIONS:
            assert c.column_mapping == parent.column_mapping, label
            assert c.table_schema == parent.table_schema, label
        if label in ("compact", "optimize"):
            assert c.dv_files == [], label
            assert not set(c.ri_files) & set(parent.ri_files), label
    return labels


def test_every_derived_commit_keeps_the_invariants(spark, tmp_path):
    cols = "k int, v string, p int"
    # partitioned CoW with deletion vectors and a record index: one
    # file per partition, even keys in p=0, odd keys in p=1
    cow_path = str(tmp_path / "cow")
    cow = LakehouseTable.create(
        spark, cow_path,
        spark.createDataFrame(
            [(k, f"v{k}", k % 2) for k in range(40)], cols
        ).coalesce(1),
        key_cols=["k"], partition_by="p",
        deletion_vectors=True, record_index=True,
    )
    cow.upsert(spark.createDataFrame([(1, "x", 1)], cols),
               txn_app_id="app", txn_version=1)
    cow.delete(spark.createDataFrame(
        [(k, 0) for k in range(0, 20, 2)] + [(3, 1)], "k int, p int"))
    cow.rename_column("v", "w")
    cow.optimize(where_partition=1)
    cow.reorg_purge(min_deleted_ratio=0.25)
    cow.optimize(cluster_by=["k"], incremental=True)
    cow.drop_column("w")
    cow.optimize()
    cow.restore(2)
    os.remove(fsio.resolve(cow.path, cow._commit(None).files[0]))
    assert cow.fsck()["repaired"]

    mor_path = str(tmp_path / "mor")
    mor = LakehouseTable.create(
        spark, mor_path,
        spark.createDataFrame([(k, f"v{k}", 0) for k in range(10)], cols),
        key_cols=["k"], table_type="mor",
    )
    mor.upsert(spark.createDataFrame([(1, "x", 0)], cols),
               txn_app_id="app", txn_version=1)
    # a delete compacts the pending log first, then rewrites
    mor.delete(spark.createDataFrame([(3,)], "k int"))

    labels = _check_history(cow_path, "app") + _check_history(mor_path, "app")
    assert set(labels) == {
        "upsert", "mor_upsert", "delete", "dv_delete", "rename",
        "drop_column", "optimize_partition", "optimize_incremental",
        "optimize", "purge", "compact", "restore", "fsck",
    }
    # the restore took v2's files, schema and mapping, not the drop's
    restored = mf.read_commit(cow_path, mf.latest_version(cow_path) - 1)
    v2 = mf.read_commit(cow_path, 2)
    assert restored.action == "restore" and restored.files == v2.files
    assert restored.column_mapping == v2.column_mapping == {}
    assert restored.table_schema == v2.table_schema


def _package_nodes(owner: str):
    """``(file:line, node)`` for every ast node of the package's
    modules except ``owner``'s."""
    pkg = pathlib.Path(mf.__file__).resolve().parents[1]
    owner_path = pathlib.Path(owner).resolve()
    for path in sorted(pkg.rglob("*.py")):
        if path == owner_path:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            yield f"{path.relative_to(pkg)}:{getattr(node, 'lineno', 0)}", node


def test_commit_is_built_only_in_the_manifest_module():
    """Every writer derives its commits through ``mf.next_commit``
    (version 0 from the empty table): a ``Commit(...)`` or
    ``x.Commit(...)`` call anywhere else in the package is a second
    commit builder."""
    offenders = [
        where
        for where, node in _package_nodes(mf.__file__)
        if isinstance(node, ast.Call) and (
            getattr(node.func, "id", None) == "Commit"
            or getattr(node.func, "attr", None) == "Commit"
        )
    ]
    assert offenders == []


def test_parquet_files_open_only_in_fsio():
    """``tables/fsio.py`` is the one module that resolves a pyarrow
    filesystem or opens a parquet footer: an ``import pyarrow.fs``
    (or ``from pyarrow import fs``), a ``ParquetFile(...)`` or a
    ``read_schema(...)``/``read_metadata(...)`` call anywhere else in
    the package is a second footer reader. Reading a parquet blob
    from memory (``pq.read_table(BytesIO)``) is not a file open."""

    def opens(node) -> bool:
        if isinstance(node, ast.Import):
            return any(a.name == "pyarrow.fs" for a in node.names)
        if isinstance(node, ast.ImportFrom):
            return node.module == "pyarrow.fs" or (
                node.module == "pyarrow"
                and any(a.name == "fs" for a in node.names)
            )
        if isinstance(node, ast.Call):
            name = getattr(node.func, "id", None) or getattr(
                node.func, "attr", None
            )
            return name in ("ParquetFile", "read_schema", "read_metadata")
        return False

    offenders = [
        where for where, node in _package_nodes(fsio.__file__) if opens(node)
    ]
    assert offenders == []
