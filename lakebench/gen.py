"""Seeded input generator for the lakehouse benchmark.

Every input a workload consumes is derived from ``--seed`` alone, so the
same seed gives byte-identical parquet files (same pyarrow, same rows,
same writer settings). Ground truth is kept beside the inputs: the CDC
events themselves are the oracle's input, and the document generator
records which documents were planted as duplicates of which.

Three generators:

* ``CdcGen`` -- a base table plus Datastream change-envelope batches.
  ``updated_at`` is a global event clock advancing one whole second per
  event, so every key's ``updated_at`` increases strictly across its
  events (the engine truncates to epoch seconds and breaks precombine
  ties only on ``change_type``; a tie would make the expected state
  ambiguous).
* ``read_probes`` -- the seeded parameters of the reads a traced
  ``cdc_ingest`` run issues against its table.
* ``DocGen`` -- document batches with planted exact and near duplicates.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
DAY0 = dt.datetime(2024, 1, 1)
DAYS = 4
DAY_S = 86_400
#: first key: every key has the same number of digits, so the engine's
#: string key ranges order like the integers
PK0 = 1_000_000
DOC0 = 10_000_000
#: events start one day after the newest base day
EVENT_T0 = int((DAY0 - EPOCH).total_seconds()) + (DAYS + 1) * DAY_S

PAYLOAD_SCHEMA = pa.struct(
    [
        ("pk_id", pa.int32()),
        ("name", pa.string()),
        ("value", pa.int32()),
        ("updated_at", pa.timestamp("us")),
        ("created_at", pa.timestamp("us")),
        ("created_day", pa.string()),
    ]
)
SOURCE_METADATA_SCHEMA = pa.struct(
    [
        ("table", pa.string()),
        ("database", pa.string()),
        ("primary_keys", pa.list_(pa.string())),
        ("log_file", pa.string()),
        ("log_position", pa.int64()),
        ("change_type", pa.string()),
        ("is_deleted", pa.bool_()),
    ]
)
ENVELOPE_SCHEMA = pa.schema(
    [
        ("uuid", pa.string()),
        ("read_timestamp", pa.timestamp("us")),
        ("source_timestamp", pa.timestamp("us")),
        ("object", pa.string()),
        ("read_method", pa.string()),
        ("stream_name", pa.string()),
        ("schema_key", pa.string()),
        (
            "sort_keys",
            pa.list_(pa.struct([("member0", pa.string()), ("member1", pa.int64())])),
        ),
        ("source_metadata", SOURCE_METADATA_SCHEMA),
        ("payload", PAYLOAD_SCHEMA),
    ]
)
#: the flat row shape ``normalize_cdc_batch`` produces from an envelope,
#: which is also the base table's shape
ROW_SCHEMA = pa.schema(
    [
        ("pk_id", pa.int32()),
        ("name", pa.string()),
        ("value", pa.int32()),
        ("updated_at", pa.int64()),
        ("created_at", pa.int64()),
        ("created_day", pa.string()),
        ("change_type", pa.string()),
        ("is_deleted", pa.bool_()),
    ]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` with fixed settings; returns the file's bytes."""
    pq.write_table(table, path, compression="snappy", write_statistics=True)
    return os.path.getsize(path)


#: ``created_day`` partition values, oldest first
DAY_LABELS = np.array(
    [(DAY0 + dt.timedelta(days=d)).strftime("%Y-%m-%d") for d in range(DAYS)]
)


#: ``CdcGen``: updates and deletes that land on the newest days' keys,
#: how many newest days those are, and the share of a batch's updates
#: that repeat a key already changed in the same batch
CDC_RECENT_SHARE = 0.8
CDC_RECENT_DAYS = 1
CDC_REPEAT_SHARE = 0.1

#: ``DocGen``: vocabulary size; per-batch shares of exact copies, near
#: copies and docs too short for the quality filter; share of a near
#: copy's tokens replaced
DOC_VOCAB = 50_000
DOC_EXACT_SHARE = 0.08
DOC_NEAR_SHARE = 0.08
DOC_SHORT_SHARE = 0.04
DOC_EDIT_SHARE = 0.05


def _names(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.char.mod("n%06x", rng.integers(0, 1 << 24, n))


class CdcGen:
    """Base table + change batches for one keyed CDC source.

    Keys are autoincrement-like: a newer key has a larger ``pk_id`` and a
    newer ``created_day``. Events mix about 70% UPDATE-INSERT, 20% INSERT
    and 10% soft DELETE; ``CDC_RECENT_SHARE`` of updates and deletes land
    on the keys of the newest ``CDC_RECENT_DAYS`` days, the rest uniformly
    on live keys, and about ``CDC_REPEAT_SHARE`` of a batch's updates hit
    a key already changed earlier in the same batch so that precombine has
    work to do.
    """

    def __init__(self, seed: int, base_rows: int, batch_events: int):
        self.rng = np.random.default_rng([seed, 1])
        self.base_rows = base_rows
        self.batch_events = batch_events
        day = np.arange(base_rows) * DAYS // base_rows
        within = np.arange(base_rows) - np.searchsorted(day, day)
        base_s = int((DAY0 - EPOCH).total_seconds())
        # per-key state, indexed by pk_id - PK0; inserts append
        self.day_of = day.tolist()
        self.created = (base_s + day * DAY_S + within).tolist()
        self.alive = [True] * base_rows
        self.recent_lo = int(np.searchsorted(day, DAYS - CDC_RECENT_DAYS))
        self.clock = EVENT_T0
        self.batches = 0

    # -- base ------------------------------------------------------------
    def base_table(self) -> pa.Table:
        n = self.base_rows
        created = np.array(self.created[:n], dtype=np.int64)
        return pa.table(
            {
                "pk_id": pa.array(PK0 + np.arange(n), pa.int32()),
                "name": pa.array(_names(self.rng, n), pa.string()),
                "value": pa.array(self.rng.integers(0, 100_000, n), pa.int32()),
                "updated_at": pa.array(created, pa.int64()),
                "created_at": pa.array(created, pa.int64()),
                "created_day": pa.array(
                    DAY_LABELS[np.array(self.day_of[:n])], pa.string()
                ),
                "change_type": pa.array(["INSERT"] * n, pa.string()),
                "is_deleted": pa.array(np.zeros(n, dtype=bool), pa.bool_()),
            },
            schema=ROW_SCHEMA,
        )

    # -- batches ---------------------------------------------------------
    def _pick_live(self) -> int:
        """A live key, from the recent days or else from all days."""
        lo = self.recent_lo if self.rng.random() < CDC_RECENT_SHARE else 0
        while True:
            k = int(self.rng.integers(lo, len(self.alive)))
            if self.alive[k]:
                return k

    def next_batch(self) -> pa.Table:
        """The next batch as a Datastream envelope table."""
        rng = self.rng
        n = self.batch_events
        kinds = rng.choice(3, size=n, p=[0.7, 0.2, 0.1])  # upd, ins, del
        idx = np.empty(n, dtype=np.int64)
        touched: list[int] = []
        for i, kind in enumerate(kinds):
            if kind == 1:
                k = len(self.alive)
                self.alive.append(True)
                self.day_of.append(DAYS - 1)
                self.created.append(self.clock + i)
            elif kind == 0 and touched and rng.random() < CDC_REPEAT_SHARE:
                k = touched[int(rng.integers(0, len(touched)))]
                if not self.alive[k]:
                    k = self._pick_live()
            else:
                k = self._pick_live()
            if kind == 2:
                self.alive[k] = False
            idx[i] = k
            touched.append(k)
        t = self.clock + np.arange(n, dtype=np.int64)
        self.clock += n
        created = np.array([self.created[k] for k in idx], dtype=np.int64)
        days = [self.day_of[k] for k in idx]
        change = np.array(["UPDATE-INSERT", "INSERT", "DELETE"])[kinds]
        pos = self.batches * n + np.arange(n)
        self.batches += 1
        us = lambda s: pa.array(s * 1_000_000, pa.int64()).cast(pa.timestamp("us"))
        payload = pa.StructArray.from_arrays(
            [
                pa.array(PK0 + idx, pa.int32()),
                pa.array(_names(rng, n), pa.string()),
                pa.array(rng.integers(0, 100_000, n), pa.int32()),
                us(t),
                us(created),
                pa.array(DAY_LABELS[np.array(days)], pa.string()),
            ],
            fields=list(PAYLOAD_SCHEMA),
        )
        meta = pa.StructArray.from_arrays(
            [
                pa.array(["orders"] * n, pa.string()),
                pa.array(["shop"] * n, pa.string()),
                pa.array([["pk_id"]] * n, pa.list_(pa.string())),
                pa.array([f"binlog.{self.batches:06d}"] * n, pa.string()),
                pa.array(pos, pa.int64()),
                pa.array(change, pa.string()),
                pa.array(kinds == 2, pa.bool_()),
            ],
            fields=list(SOURCE_METADATA_SCHEMA),
        )
        uuids = [
            hashlib.md5(f"{p}".encode()).hexdigest() for p in pos.tolist()
        ]
        return pa.table(
            {
                "uuid": pa.array(uuids, pa.string()),
                "read_timestamp": us(t + 1),
                "source_timestamp": us(t),
                "object": pa.array(["shop_orders"] * n, pa.string()),
                "read_method": pa.array(["mysql-cdc-binlog"] * n, pa.string()),
                "stream_name": pa.array(["orders-stream"] * n, pa.string()),
                "schema_key": pa.array(["v1"] * n, pa.string()),
                "sort_keys": pa.array(
                    [[{"member0": "binlog", "member1": int(p)}] for p in pos],
                    ENVELOPE_SCHEMA.field("sort_keys").type,
                ),
                "source_metadata": meta,
                "payload": payload,
            },
            schema=ENVELOPE_SCHEMA,
        )


def envelope_rows(batch: pa.Table) -> pa.Table:
    """The flat rows an envelope batch normalizes to (the oracle's view
    of ``normalize_cdc_batch``): payload fields, timestamps as epoch
    seconds, plus the change markers."""
    p = batch.column("payload").combine_chunks()
    m = batch.column("source_metadata").combine_chunks()
    secs = lambda a: pa.array(
        a.cast(pa.int64()).to_numpy(zero_copy_only=False) // 1_000_000, pa.int64()
    )
    return pa.table(
        {
            "pk_id": p.field("pk_id"),
            "name": p.field("name"),
            "value": p.field("value"),
            "updated_at": secs(p.field("updated_at")),
            "created_at": secs(p.field("created_at")),
            "created_day": p.field("created_day"),
            "change_type": m.field("change_type"),
            "is_deleted": m.field("is_deleted"),
        },
        schema=ROW_SCHEMA,
    )


# ---------------------------------------------------------------------------
# reads of the ingested table
# ---------------------------------------------------------------------------


def read_probes(
    seed: int, count: int, key_count: int, t_lo: int, t_hi: int
) -> list[dict]:
    """``count`` seeded read parameter sets for a table whose keys start
    at ``PK0`` and whose base ``updated_at`` spans ``[t_lo, t_hi]``: the
    1-8 keys of a point lookup, drawn Zipf-skewed toward the newest of the
    first ``key_count`` keys, and a ~0.5%-selective ``updated_at`` range.
    Drawn from a stream of their own, so reading never changes the
    batches."""
    rng = np.random.default_rng([seed, 2])
    width = max(1, int((t_hi - t_lo) * 0.005))
    probes = []
    for _ in range(count):
        m = int(rng.integers(1, 9))
        ranks = np.minimum(rng.zipf(1.3, m) - 1, key_count - 1)
        lo = int(rng.integers(t_lo, max(t_lo + 1, t_hi - width)))
        probes.append({
            "keys": sorted({PK0 + key_count - 1 - int(r) for r in ranks}),
            "lo": lo,
            "hi": lo + width,
        })
    return probes


# ---------------------------------------------------------------------------
# doc_dedup documents
# ---------------------------------------------------------------------------

class DocGen:
    """Document batches with planted duplicates.

    Originals draw words uniformly from a large random vocabulary, so two
    originals share almost no word trigrams (a Zipf draw over a small
    vocabulary makes unrelated documents collide in LSH buckets). Of each
    batch, about ``DOC_EXACT_SHARE`` are exact copies and
    ``DOC_NEAR_SHARE`` near copies (``DOC_EDIT_SHARE`` of the tokens
    replaced) of an earlier original; about ``DOC_SHORT_SHARE`` are too
    short to pass the quality filter. Ids increase across batches, so
    each copy has a larger id than its source.
    """

    def __init__(self, seed: int, batch_docs: int):
        self.rng = np.random.default_rng([seed, 3])
        lens = self.rng.integers(4, 10, DOC_VOCAB)
        letters = self.rng.integers(
            0, 26, (DOC_VOCAB, 9), dtype=np.uint8
        ) + ord("a")
        self.vocab = np.array(
            [row[:k].tobytes().decode() for row, k in zip(letters, lens)]
        )
        self.batch_docs = batch_docs
        self.next_id = DOC0
        #: every doc id generated so far
        self.ids: list[int] = []
        #: planted copy id -> (source id, "exact" | "near")
        self.planted: dict[int, tuple[int, str]] = {}
        self.short: set[int] = set()
        self._originals: list[tuple[int, np.ndarray]] = []

    def next_batch(self) -> pa.Table:
        rng = self.rng
        ids, texts = [], []
        ex, near, short = DOC_EXACT_SHARE, DOC_NEAR_SHARE, DOC_SHORT_SHARE
        for _ in range(self.batch_docs):
            doc_id = self.next_id
            self.next_id += 1
            u = rng.random()
            if self._originals and u < ex + near:
                src_id, words = self._originals[
                    int(rng.integers(0, len(self._originals)))
                ]
                if u < ex:
                    self.planted[doc_id] = (src_id, "exact")
                else:
                    words = words.copy()
                    k = max(1, int(round(len(words) * DOC_EDIT_SHARE)))
                    at = rng.choice(len(words), k, replace=False)
                    words[at] = self.vocab[rng.integers(0, len(self.vocab), k)]
                    self.planted[doc_id] = (src_id, "near")
            elif u < ex + near + short:
                words = self.vocab[rng.integers(0, len(self.vocab), 5)]
                self.short.add(doc_id)
            else:
                words = self.vocab[
                    rng.integers(0, len(self.vocab), int(rng.integers(60, 120)))
                ]
                self._originals.append((doc_id, words))
            ids.append(doc_id)
            texts.append(" ".join(words.tolist()))
        self.ids += ids
        return pa.table(
            {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)},
            schema=DOC_SCHEMA,
        )
