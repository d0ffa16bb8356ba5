"""Engine-table multi-conjunct predicate reads (r10):
``read_matching(predicate)`` — the engine's own leg of the predicate
API every foreign reader takes — prunes files on the manifest's
col-stats (any provably-disjoint conjunct skips the file), probes
per-column blooms on equality conjuncts, and applies exact filters on
the surviving scan (post-merge on MoR)."""

from __future__ import annotations

import pytest

from hudi_and_delta_showcase_spark.tables import LakehouseTable


def _mk(spark, path, **kw):
    df = spark.createDataFrame(
        [(k, f"v{k}", "a" if k < 20 else "b", k * 10) for k in range(40)],
        "k int, v string, g string, ts long",
    ).coalesce(2)
    return LakehouseTable.create(
        spark, path, df, key_cols=["k"], precombine="ts", **kw
    )


def test_conjuncts_prune_files_and_match_filter(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), partition_by="g")
    full = t.read()
    out = t.read_matching([("g", "=", "a"), ("k", ">=", 5)])
    assert len(out.inputFiles()) < len(full.inputFiles())
    got = sorted((r.k, r.g) for r in out.select("k", "g").collect())
    assert got == [(k, "a") for k in range(5, 20)]
    assert got == sorted(
        (r.k, r.g)
        for r in full.filter("g = 'a' AND k >= 5").select("k", "g").collect()
    )


def test_sql_string_and_in_op(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    out = t.read_matching("k IN (3, 25) AND v > 'v'")
    assert sorted(r.k for r in out.collect()) == [3, 25]


def test_empty_result_schema_stable(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    out = t.read_matching([("k", ">", 10_000)])
    assert out.count() == 0
    assert out.schema == t.read().schema


def test_mor_filters_post_merge(spark, tmp_path):
    """An update that moves a row OUT of the predicate range must
    shadow its in-range base version — MoR logs are never pruned and
    the filter applies after the merge."""
    t = _mk(spark, str(tmp_path / "t"), table_type="mor")
    t.upsert(spark.createDataFrame(
        [(3, "moved", "a", 900)], "k int, v string, g string, ts long"
    ))
    out = t.read_matching([("ts", "<=", 400)])
    ks = sorted(r.k for r in out.collect())
    assert 3 not in ks  # latest version of k=3 has ts=900
    assert ks == [k for k in range(40) if k * 10 <= 400 and k != 3]


def test_bloom_equality_probe_prunes(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), bloom_columns=["v"])
    c = t._commit(None)
    assert all("v" in c.column_blooms.get(f, {}) for f in c.files)
    out = t.read_matching([("v", "=", "v7")])
    assert [r.k for r in out.collect()] == [7]
    # v-values are unique per file half; the bloom kills the other file
    assert len(out.inputFiles()) <= 1


def test_timestamp_range_skipping_end_to_end(spark, tmp_path):
    """r12: timestamp columns data-skip — footer stats record as ISO
    strings in the manifest (INT96 writes carried no stats at all;
    the session now writes TIMESTAMP_MICROS), the shared compare
    coerces them against datetime literals, and the skip carries
    through every export dialect's read path."""
    from datetime import datetime

    import pyspark.sql.functions as F

    from hudi_and_delta_showcase_spark.tables import LakehouseTable
    from hudi_and_delta_showcase_spark.tables.iceberg_meta import (
        _interval_can_match,
    )

    rows = [
        (i, datetime(2024, 1, 1 + i // 20, 6), float(i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"),
        df.repartitionByRange(5, F.col("ts")), key_cols=["k"],
    )
    c = t._commit(None)
    ts_stats = [v.get("ts") for v in c.col_stats.values()]
    assert all(s is not None for s in ts_stats), "ts must be indexed"
    assert all(isinstance(s[0], str) for s in ts_stats)  # ISO strings
    got = t.read_matching([("ts", ">=", datetime(2024, 1, 5))])
    assert len(got.inputFiles()) == 1  # THE PIN: 1 of 5 files
    assert got.count() == 20
    got = t.read_where(
        "ts", lo=datetime(2024, 1, 2), hi=datetime(2024, 1, 2, 23)
    )
    assert len(got.inputFiles()) == 1 and got.count() == 20
    # the shared compare's coercion rules directly: ISO strings,
    # epoch micros (Hudi TimestampMicrosWrapper), epoch days (dates)
    assert not _interval_can_match(
        "2024-01-01T06:00:00", "2024-01-02T06:00:00",
        ">=", datetime(2024, 1, 5),
    )
    micros = int(datetime(2024, 1, 2).timestamp() * 1_000_000)
    assert not _interval_can_match(
        micros, micros, ">=", datetime(2024, 1, 5)
    )
    assert _interval_can_match(
        micros, micros, "<=", datetime(2024, 1, 5)
    )
    from datetime import date

    assert not _interval_can_match(19723, 19724, ">=", date(2024, 1, 10))
    assert _interval_can_match(19731, 19733, "=", date(2024, 1, 10))
    # unreadable bounds prove nothing
    assert _interval_can_match("not-a-date", "zzz", "=", datetime(2024, 1, 1))


def test_timestamp_skipping_through_export_dialects(spark, tmp_path):
    """The same ts predicate prunes through the Hudi col_stats export,
    the Delta stats export, and the Iceberg bounds export (r12 —
    timestamp bounds now serialize in all three dialects)."""
    from datetime import datetime

    import pyspark.sql.functions as F

    from hudi_and_delta_showcase_spark.tables import LakehouseTable
    from hudi_and_delta_showcase_spark.tables.delta_log import (
        export_delta_log,
        read_delta_table,
    )
    from hudi_and_delta_showcase_spark.tables.hoodie_metadata import (
        export_hoodie_metadata,
    )
    from hudi_and_delta_showcase_spark.tables.hoodie_timeline import (
        export_hoodie_timeline,
        read_hoodie_table,
    )
    from hudi_and_delta_showcase_spark.tables.iceberg_meta import (
        export_iceberg_metadata,
        read_iceberg_table,
    )

    rows = [
        (i, datetime(2024, 1, 1 + i // 20, 6), float(i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    t = LakehouseTable.create(
        spark, str(tmp_path / "t"),
        df.repartitionByRange(5, F.col("ts")), key_cols=["k"],
    )
    export_hoodie_timeline(t)
    export_hoodie_metadata(t)
    export_delta_log(t)
    export_iceberg_metadata(t)
    pred = "ts >= TIMESTAMP '2024-01-05 00:00:00'"
    for reader in (read_hoodie_table, read_delta_table, read_iceberg_table):
        pruned = reader(spark, t.path, predicate=pred)
        assert len(pruned.inputFiles()) == 1, reader.__name__
        assert pruned.count() == 20, reader.__name__


@pytest.mark.parametrize("zone", ["America/Los_Angeles", "Asia/Tokyo"])
def test_read_where_datetime_bounds_under_non_utc_session(spark, tmp_path, zone):
    """``read_where`` is ``read_matching``'s single-column form, so its
    exact filter takes the timezone-safe temporal literals: datetime
    bounds on a ``timestamp_ntz`` column select the same wall-clock rows
    whatever the session zone (a raw ``F.col(c) >= datetime`` compare
    shifted them by the zone offset and returned nothing)."""
    from datetime import datetime

    df = spark.sql(
        "SELECT CAST(id AS INT) AS k, timestampadd(HOUR, CAST(id AS INT), "
        "TIMESTAMP_NTZ'2024-01-01 00:00:00') AS ts FROM range(10)"
    ).coalesce(2)
    t = LakehouseTable.create(spark, str(tmp_path / "t"), df, key_cols=["k"])
    lo, hi = datetime(2024, 1, 1, 5), datetime(2024, 1, 1, 7)
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        got = sorted(r.k for r in t.read_where("ts", lo, hi).collect())
        point = [r.k for r in t.read_where("ts", lo, lo).collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    assert got == [5, 6, 7]
    assert point == [5]
