"""Expected results computed without the engine: DuckDB over the
generator's parquet files, and plain Python over its ground truth."""

from __future__ import annotations

import duckdb
import pandas as pd

#: data columns of a CDC table row (engine meta columns excluded)
CDC_COLS = [
    "pk_id", "name", "value", "updated_at", "created_at", "created_day",
    "change_type", "is_deleted",
]


class CdcOracle:
    """Latest-per-key state of a base file plus envelope batches.

    ``state(n)`` is the expected table after the base and the first ``n``
    batches were applied: for each key the event with the greatest
    ``updated_at``, soft-delete rows kept (``is_deleted`` true).
    """

    def __init__(self, base_path: str, batch_paths: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            f"CREATE TABLE base AS SELECT {', '.join(CDC_COLS)}, -1 AS b "
            f"FROM read_parquet('{base_path}')"
        )
        self.con.execute(
            "CREATE TABLE ev (pk_id INTEGER, name VARCHAR, "
            "value INTEGER, updated_at BIGINT, created_at BIGINT, "
            "created_day VARCHAR, change_type VARCHAR, is_deleted BOOLEAN, "
            "b INTEGER)"
        )
        for i, p in enumerate(batch_paths):
            self.con.execute(
                "INSERT INTO ev SELECT payload.pk_id, payload.name, "
                "payload.value, epoch_ms(payload.updated_at) // 1000, "
                "epoch_ms(payload.created_at) // 1000, payload.created_day, "
                "source_metadata.change_type, source_metadata.is_deleted, "
                f"{i} FROM read_parquet('{p}')"
            )

    def state(self, n: int) -> str:
        """Create (once) and name a table holding ``state(n)``."""
        name = f"state_{n}"
        self.con.execute(
            f"CREATE TABLE IF NOT EXISTS {name} AS "
            f"SELECT {', '.join(CDC_COLS)} FROM ("
            "  SELECT *, row_number() OVER ("
            "    PARTITION BY pk_id, created_day ORDER BY updated_at DESC) AS rn"
            f"  FROM (SELECT * FROM base UNION ALL SELECT * FROM ev WHERE b < {n})"
            ") WHERE rn = 1"
        )
        return name

    def diff_rows(self, n: int, actual: pd.DataFrame) -> int:
        """Rows in exactly one of ``state(n)`` and ``actual`` (multiset)."""
        table = self.state(n)
        self.con.register("actual_df", actual[CDC_COLS])
        cols = ", ".join(CDC_COLS)
        missing = self.con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM {table} "
            f"EXCEPT ALL SELECT {cols} FROM actual_df)"
        ).fetchone()[0]
        extra = self.con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM actual_df "
            f"EXCEPT ALL SELECT {cols} FROM {table})"
        ).fetchone()[0]
        self.con.unregister("actual_df")
        return int(missing) + int(extra)

    def lookup(self, n: int, keys: list[int]) -> list[tuple]:
        table = self.state(n)
        return sorted(
            self.con.execute(
                f"SELECT {', '.join(CDC_COLS)} FROM {table} "
                f"WHERE pk_id IN ({', '.join(str(k) for k in keys)})"
            ).fetchall()
        )

    def range_digest(self, n: int, lo: int, hi: int) -> tuple:
        table = self.state(n)
        return tuple(
            self.con.execute(
                f"SELECT count(*), coalesce(sum(pk_id), 0), "
                f"coalesce(sum(value), 0) FROM {table} "
                f"WHERE updated_at BETWEEN {lo} AND {hi}"
            ).fetchone()
        )

    def day_aggregate(self, n: int) -> dict:
        table = self.state(n)
        return {
            d: (c, s)
            for d, c, s in self.con.execute(
                f"SELECT created_day, count(*), sum(value) FROM {table} "
                "WHERE NOT is_deleted GROUP BY created_day"
            ).fetchall()
        }

    def digest(self, n: int) -> tuple:
        table = self.state(n)
        return tuple(
            self.con.execute(
                f"SELECT count(*), sum(value), sum(pk_id) FROM {table}"
            ).fetchone()
        )

    def close(self) -> None:
        self.con.close()


#: rules ``dedup_failures`` checks
DEDUP_CHECKS = 5


def dedup_failures(
    verdicts: dict[int, list[str]],
    generated: list[int],
    planted: dict[int, tuple[int, str]],
    short: set[int],
    corpus_ids: list[int],
) -> list[str]:
    """Check a dedup run against the generator's ground truth.

    ``verdicts`` maps each doc id to every status the pipeline gave it;
    ``generated`` lists every doc id the generator made. Every doc that
    passes the quality filter gets a verdict, every planted exact
    duplicate is dropped, no doc receives more than one verdict, docs
    failing the quality filter receive none, and the corpus holds exactly
    the kept docs, once each.
    """
    out = []
    lost = [d for d in generated if d not in short and d not in verdicts]
    if lost:
        out.append(f"{len(lost)} docs got no verdict")
    twice = [d for d, v in verdicts.items() if len(v) != 1]
    if twice:
        out.append(f"{len(twice)} docs got more than one verdict")
    missed = [
        d for d, (_, kind) in planted.items()
        if kind == "exact" and "dropped" not in verdicts.get(d, [])
    ]
    if missed:
        out.append(f"{len(missed)} planted exact duplicates kept")
    judged_short = short & set(verdicts)
    if judged_short:
        out.append(f"{len(judged_short)} low-quality docs passed the filter")
    kept = sorted(d for d, v in verdicts.items() if v == ["kept"])
    if sorted(corpus_ids) != kept:
        out.append(
            f"corpus holds {len(corpus_ids)} docs, expected {len(kept)} kept"
        )
    return out
