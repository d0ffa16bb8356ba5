"""The one parquet footer reader (``fsio.arrow_fs`` / ``read_footer`` /
``footer_bounds``) and the policies its callers keep on top of it, on
pyarrow-written files: no SparkSession."""

from __future__ import annotations

import datetime as dt
import json
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hudi_and_delta_showcase_spark.tables import delta_log as dl
from hudi_and_delta_showcase_spark.tables import fsio
from hudi_and_delta_showcase_spark.tables.lakehouse import LakehouseTable

NAN = float("nan")


def _write(path, row_group_size=2, **kw) -> None:
    """Six rows in three row groups: ``n``'s first group is all null,
    ``d``'s middle group is all NaN, ``d2`` holds NaN beside numbers
    in every group, ``st`` is a struct whose leaf is never indexed."""
    pq.write_table(
        pa.table({
            "i": pa.array([5, 2, 3, 4, 1, 6], pa.int64()),
            "n": pa.array([None, None, 3, 4, None, 6], pa.int64()),
            "d": pa.array([1.5, 0.5, NAN, NAN, -2.0, 3.0]),
            "d2": pa.array([NAN, 1.5, NAN, 2.5, -2.0, NAN]),
            "ts": pa.array(
                # naive values are UTC instants; the column is tz-aware
                [dt.datetime(2024, 1, 1, h) for h in (3, 1, 2, 0, 5, 4)],
                pa.timestamp("us", tz="America/New_York"),
            ),
            "day": pa.array([dt.date(2024, 2, d) for d in (6, 2, 3, 4, 5, 1)]),
            "s": pa.array(["f", "e", "d", "c", "b", "a"]),
            "st": pa.array([{"s": i} for i in range(6)]),
        }),
        str(path),
        row_group_size=row_group_size,
        **kw,
    )


def test_footer_bounds_fold_row_groups(tmp_path):
    path = tmp_path / "f.parquet"
    _write(path)
    md = fsio.read_footer(str(path))
    assert md.num_row_groups == 3
    n, bounds = fsio.footer_bounds(md)
    assert n == 6
    utc = dt.timezone.utc
    assert bounds == {
        "i": (1, 6),
        # the all-null first group contributes nothing
        "n": (3, 6),
        # NaN never enters parquet statistics
        "d2": (-2.0, 2.5),
        "ts": (
            dt.datetime(2024, 1, 1, 0, tzinfo=utc),
            dt.datetime(2024, 1, 1, 5, tzinfo=utc),
        ),
        "day": (dt.date(2024, 2, 1), dt.date(2024, 2, 6)),
        "s": ("a", "f"),
    }
    # ``d``: the all-NaN group has values but no min/max -> unindexed;
    # ``st.s`` is a nested leaf, never recorded under its leaf name
    assert fsio.footer_bounds(md, 2) == (6, {"i": (1, 6), "n": (3, 6)})


def test_every_uri_form_opens_the_same_footer(tmp_path):
    path = tmp_path / "a%3Ab c" / "f.parquet"  # hive-escaped dir, literal
    path.parent.mkdir()
    _write(path)
    forms = [str(path), f"file:{path}", f"file://{path}"]
    for p in forms:
        fs, inner = fsio.arrow_fs(p)
        assert inner == str(path)
    footers = [fsio.footer_bounds(fsio.read_footer(p)) for p in forms]
    assert footers[0] == footers[1] == footers[2]


def test_unindexed_without_stats(tmp_path):
    path = tmp_path / "f.parquet"
    _write(path, write_statistics=["i", "s"])
    assert fsio.footer_bounds(fsio.read_footer(str(path))) == (
        6, {"i": (1, 6), "s": ("a", "f")}
    )


def test_truncated_file_raises_narrow_and_stays_unindexed(tmp_path):
    good, bad = tmp_path / "good.parquet", tmp_path / "bad.parquet"
    _write(good)
    bad.write_bytes(good.read_bytes()[:-40])
    with pytest.raises(ValueError):
        fsio.read_footer(str(bad))
    with pytest.raises(OSError):
        fsio.read_footer(str(tmp_path / "missing.parquet"))
    table = types.SimpleNamespace(path=f"file://{tmp_path}")
    counts, stats = LakehouseTable._file_column_stats(
        table, ["good.parquet", "bad.parquet", "missing.parquet"]
    )
    assert counts == {"good.parquet": 6}
    # lakehouse policy: ISO temporal bounds as naive UTC, JSON scalars
    assert stats == {"good.parquet": {
        "i": [1, 6],
        "n": [3, 6],
        "d2": [-2.0, 2.5],
        "ts": ["2024-01-01T00:00:00", "2024-01-01T05:00:00"],
        "day": ["2024-02-01", "2024-02-06"],
        "s": ["a", "f"],
    }}
    assert dl._footer_stats_json(str(bad)) is None
    delta = json.loads(dl._footer_stats_json(str(good)))
    assert delta["numRecords"] == 6
    # Delta policy: the same bounds minus NaN-bearing ones (none here)
    lake = stats["good.parquet"]
    assert delta["minValues"] == {c: v[0] for c, v in lake.items()}
    assert delta["maxValues"] == {c: v[1] for c, v in lake.items()}


def test_nested_leaf_never_shadows_a_top_level_column(tmp_path):
    """A struct leaf shares its name with a later top-level column: the
    top-level column's own bounds are recorded, never the leaf's (a
    leaf's bounds under the column's name would skip files that hold
    the looked-up value)."""
    pq.write_table(
        pa.table({
            "st": pa.array([{"k": 100}, {"k": 200}]),
            "k": pa.array([1, 2], pa.int64()),
        }),
        str(tmp_path / "f.parquet"),
    )
    table = types.SimpleNamespace(path=str(tmp_path))
    assert LakehouseTable._file_column_stats(table, ["f.parquet"]) == (
        {"f.parquet": 2}, {"f.parquet": {"k": [1, 2]}}
    )
    delta = json.loads(dl._footer_stats_json(str(tmp_path / "f.parquet")))
    assert (delta["minValues"], delta["maxValues"]) == ({"k": 1}, {"k": 2})
