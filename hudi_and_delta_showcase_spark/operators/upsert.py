"""Keyed upsert / MERGE semantics (SURVEY.md §2.9 C2/C4/C6, §2.3 J2/J3).

The reference expresses this twice:
* Hudi UPSERT — record key + precombine + matched-replace/unmatched-insert
  (/root/reference/README.md:448-461)
* Delta ``MERGE INTO ... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
  THEN INSERT *`` (/root/reference/README.md:1213-1224)

Here it is a pure-Spark desugaring: precombine the source, then route
target rows through a LEFT ANTI join against source keys (rows to keep)
and union the source batch. One shuffle-or-broadcast join + a union; no
window over the combined data.

Soft deletes (C4): the reference UPSERTS tombstone rows rather than
removing them (pk 3 'dell' survives with ``is_deleted=true`` markers,
README.md:511-531,1222-1224) — so deletes need no special handling here.
``hard_delete_col`` opts into the ``WHEN MATCHED AND cond THEN DELETE``
variant the reference never uses.

Scale notes: the source batch in CDC workloads is orders of magnitude
smaller than the target — ``auto_broadcast`` hints it so the target never
shuffles. At 100 TB the target side additionally prunes to affected
partitions before this operator runs (see tables/cow.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from hudi_and_delta_showcase_spark.operators.cdc import precombine_dedup


def _quote_ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def key_match(cols: list[str], left: str = "t", right: str = "s") -> Column:
    """Null-safe equality of ``cols`` between the ``left`` and ``right``
    aliases: a null key must MATCH a null key (plain ``=`` never
    matches null, so a null-keyed old row would escape an anti-join
    and duplicate its key). One SQL-text expression: the same
    condition built node by node through the Column API costs a py4j
    round trip per node."""
    lq, rq = _quote_ident(left), _quote_ident(right)
    return F.expr(" AND ".join(
        f"{lq}.{_quote_ident(c)} <=> {rq}.{_quote_ident(c)}" for c in cols
    ))


def upsert(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    precombine: str | None = None,
    tiebreakers: list[str] | None = None,
    hard_delete_col: str | None = None,
    auto_broadcast: bool = True,
) -> DataFrame:
    """Merge ``source`` into ``target`` by key: matched keys take the
    source row, unmatched source rows insert, unmatched target rows
    persist (C2/C6). Column sets must be union-compatible; source may add
    new columns (schema evolution -> nulls on old rows)."""
    if precombine is not None:
        source = precombine_dedup(source, key_cols, precombine, tiebreakers)

    source_keys = source.select(*key_cols).distinct().alias("s")
    if auto_broadcast:
        source_keys = F.broadcast(source_keys)
    kept = target.alias("t").join(
        source_keys, key_match(key_cols), "left_anti"
    )
    merged = kept.unionByName(source, allowMissingColumns=True)

    if hard_delete_col is not None:
        merged = merged.filter(
            ~F.coalesce(F.col(hard_delete_col), F.lit(False))
        )
    return merged


def merge_routing(
    target: DataFrame, source: DataFrame, key_cols: list[str]
) -> DataFrame:
    """J3 diagnostics: tag each source row 'update' (key exists in target)
    or 'insert' (new key) — the routing step inside Hudi's upsert
    (README.md:449-453, index probe semantics)."""
    target_keys = target.select(*key_cols).distinct().withColumn(
        "__exists", F.lit(True)
    )
    return source.join(target_keys, key_cols, "left").withColumn(
        "merge_action",
        F.when(F.col("__exists"), F.lit("update")).otherwise(F.lit("insert")),
    ).drop("__exists")
