"""Point lookups (``read_for_keys``) pick their files with the writers'
planner: lookup keys encode exactly like the stamped record key, and
MoR tables with outstanding logs prune their base files by key range
before the `_rt` merge. The keyed probe behind incremental LSH dedup
(``_latest_rows``) serves what ``read()`` would."""

from __future__ import annotations

import datetime

import pytest

from hudi_and_delta_showcase_spark.tables import LakehouseTable


def test_lookup_keys_encode_like_the_writers_record_key(spark, tmp_path):
    """The writer's ``concat_ws("|", cast(part as string))`` skips null
    parts, prints booleans as true/false, doubles like Java and
    timestamps without trailing fraction zeros; a lookup must build the
    same string. Record-key strings still pass through."""
    comp = LakehouseTable.create(
        spark, str(tmp_path / "comp"),
        spark.createDataFrame(
            [(1, None, "x"), (2, "b", "y")], "a int, b string, v string"
        ).coalesce(1),
        key_cols=["a", "b"],
    )
    assert [r.v for r in comp.read_for_keys([(1, None)]).collect()] == ["x"]
    assert [r.v for r in comp.read_for_keys(["2|b"]).collect()] == ["y"]
    flag = LakehouseTable.create(
        spark, str(tmp_path / "flag"),
        spark.createDataFrame(
            [(True, "t"), (False, "f")], "flag boolean, v string"
        ).coalesce(1),
        key_cols=["flag"],
    )
    assert [r.v for r in flag.read_for_keys([True]).collect()] == ["t"]
    assert [r.v for r in flag.read_for_keys(["false"]).collect()] == ["f"]
    # doubles print as Java's Double.toString (1.0E20, not 1e+20) and
    # timestamps drop the fraction's trailing zeros (.5, not .500000)
    doubles = [1e20, 12345678.0, 1e-4, 2e23, float("nan"), float("inf")]
    dbl = LakehouseTable.create(
        spark, str(tmp_path / "dbl"),
        spark.createDataFrame(
            list(zip(doubles, range(6))), "d double, i int"
        ).coalesce(1),
        key_cols=["d"],
    )
    assert sorted(r.i for r in dbl.read_for_keys(doubles).collect()) == [
        0, 1, 2, 3, 4, 5
    ]
    stamps = [
        datetime.datetime(2024, 1, 1, 0, 0, 0, 500000),
        datetime.datetime(2024, 1, 1, 0, 0, 1),
        datetime.datetime(2024, 1, 1, 0, 0, 2, 123456),
    ]
    ntz = LakehouseTable.create(
        spark, str(tmp_path / "ntz"),
        spark.createDataFrame(
            list(zip(stamps, range(3))), "t timestamp_ntz, i int"
        ).coalesce(1),
        key_cols=["t"],
    )
    assert sorted(r.i for r in ntz.read_for_keys(stamps).collect()) == [
        0, 1, 2
    ]


def test_mor_lookup_with_outstanding_logs_prunes_base_files(spark, tmp_path):
    df = spark.createDataFrame(
        [(k, f"v{k}") for k in range(400)], "k int, v string"
    ).repartitionByRange(8, "k")
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"), df, key_cols=["k"], table_type="mor"
    )
    t.upsert(spark.createDataFrame([(7, "new7")], "k int, v string"))
    c = t._commit(None)
    assert len(c.files) == 8 and c.log_files
    out = t.read_for_keys([7, 203])
    assert sorted((r.k, r.v) for r in out.collect()) == [
        (7, "new7"), (203, "v203")
    ]
    base = [f for f in out.inputFiles() if "/data/" in f]
    assert 0 < len(base) < len(c.files)


def test_mor_lookup_of_log_only_and_missing_keys(spark, tmp_path):
    """A key that lives only in a log, past every base file's key range,
    leaves no base file to scan; the lookup still serves the log row,
    and a key held nowhere serves no row. A converted table carries no
    recorded schema, so an empty base file list must never reach the
    schema-inferring scan."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10, 100), (2, 20, 100), (3, 30, 100)], "k int, v int, sq int"
    ).coalesce(2).write.parquet(path)
    t = LakehouseTable.convert(
        spark, path, key_cols=["k"], precombine="sq", table_type="mor"
    )
    t.upsert(spark.createDataFrame([(9, 90, 200)], "k int, v int, sq int"))
    c = t._commit(None)
    assert c.log_files and not c.table_schema
    assert [(r.k, r.v) for r in t.read_for_keys([9]).collect()] == [(9, 90)]
    assert sorted(
        (r.k, r.v) for r in t.read_for_keys([9, 2]).collect()
    ) == [(2, 20), (9, 90)]
    assert t.read_for_keys([42]).collect() == []
    assert t.read_for_keys([]).collect() == []
    # a predicate read whose stats prune every base file merges the same way
    got = t.read_matching([("v", "=", 90)]).collect()
    assert [(r.k, r.v) for r in got] == [(9, 90)]


def test_latest_rows_equals_read_semi_joined_to_the_keys(spark, tmp_path):
    """``_latest_rows`` semi-joins the keys below the `_rt` merge and
    merges in Arrow: it must serve exactly ``read()`` semi-joined to the
    same keys. Key 1 sits in the base and in both logs, and the later
    log wins with an OLDER precombine value; key 2 is log-only, key 99
    is held nowhere; then the same after a compaction left no log."""
    schema = "k int, sq int, tb string, v string"
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame(
            [(k, 5, "a", f"base{k}") for k in (1, 3, 4)], schema
        ).coalesce(1),
        key_cols=["k"], precombine="sq", tiebreakers=["tb"],
        table_type="mor",
    )
    t.upsert(spark.createDataFrame(
        [(1, 9, "b", "log1"), (2, 1, "a", "log1"), (2, 1, "b", "log1b")],
        schema,
    ))
    t.upsert(spark.createDataFrame([(1, 3, "a", "log2")], schema))
    keys = spark.createDataFrame([(1,), (2,), (3,), (99,)], "k int")
    cols = ["k", "v", "sq"]

    def both():
        got = t._latest_rows(keys, cols)
        assert got.column_names == cols
        want = t.read().join(keys, "k", "left_semi").select(*cols)
        return (
            sorted(zip(*[got[c].to_pylist() for c in cols])),
            sorted(tuple(r) for r in want.collect()),
        )

    assert len(t._commit(None).log_files) == 2
    got, want = both()
    assert got == want == [(1, "log2", 3), (2, "log1b", 1), (3, "base3", 5)]
    t.compact()
    assert not t._commit(None).log_files
    got, want = both()
    assert got == want
    # a semi-join on a non-key column could keep a stale row of a key
    with pytest.raises(ValueError, match="not resolution columns"):
        t._latest_rows(spark.createDataFrame([("log2",)], "v string"), cols)
