"""The benchmark's two workloads.

Each workload builds its tables and warms up in ``setup`` (timed whole as
part of ``setup_s``), and then runs commit ``i`` of a closed loop in
``op(i)``. Commits come in cycles of ``cycle``; after the last commit of
each cycle the loop runs ``maintain()``, timed on its own. ``check``
compares what the engine returned against the oracles after the loop and
returns ``(checks made, failures)``.

Calls into the engine go through its public functions only; the
``Tracer`` spans around them give the per-layer numbers of a traced run.
"""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

import gen
import oracle
from probe import tree_bytes

from hudi_and_delta_showcase_spark.operators import dedup, text
from hudi_and_delta_showcase_spark.operators.cdc import (
    envelope_schema,
    precombine_dedup,
)
from hudi_and_delta_showcase_spark.streaming.cdc_stream import normalize_cdc_batch
from hudi_and_delta_showcase_spark.tables import manifest as mf
from hudi_and_delta_showcase_spark.tables.lakehouse import LakehouseTable

# A commit takes ~1-2 s on a 4-core host, most of it Spark job
# scheduling rather than data, so the tables are small and a run of 25 s
# holds 16 or more commits.

#: ``cdc_ingest`` base rows and events per batch
CDC_BASE_ROWS = 20_000
CDC_BATCH_EVENTS = 200
#: optimize + vacuum run after every ``CDC_CYCLE``-th commit
CDC_CYCLE = 4
#: read parameter sets drawn for a traced ``cdc_ingest`` run; a run that
#: outlasts them starts over
CDC_READ_PROBES = 500
#: ``doc_dedup`` documents per batch; the LSH index is compacted after
#: every ``DOC_CYCLE``-th batch
DOC_BATCH = 100
DOC_CYCLE = 3
DOC_MIN_TOKENS = 20
LSH_BANDS = 8

CDC_KEYS = ["pk_id"]
CDC_TABLE_OPTS = dict(
    key_cols=CDC_KEYS,
    precombine="updated_at",
    tiebreakers=["change_type"],
    partition_by="created_day",
)


def _noop(df) -> None:
    """Materialize a lazy frame without keeping it (traced runs only)."""
    df.write.format("noop").mode("overwrite").save()


#: the Datastream envelope around a ``gen.PAYLOAD_SCHEMA`` row
ENVELOPE_TYPE = envelope_schema(
    StructType(
        [
            StructField("pk_id", IntegerType()),
            StructField("name", StringType()),
            StructField("value", IntegerType()),
            StructField("updated_at", TimestampNTZType()),
            StructField("created_at", TimestampNTZType()),
            StructField("created_day", StringType()),
        ]
    )
)


class Workload:
    """Common state: the Spark session, a work directory, the tracer."""

    name = ""
    cycle = 1
    #: input rows (events, documents) one commit applies
    rows_per_commit = 0

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.batch_bytes = 0  # input bytes of the current operation
        self.input_bytes = 0
        self.written_bytes = 0
        self.layer: dict[str, list[float]] = {}
        self._before: dict[str, int] = {}

    def note(self, metric: str, value: float) -> None:
        """Record one per-layer sample (traced operations only)."""
        self.layer.setdefault(metric, []).append(float(value))

    def span(self, name: str):
        return self.tracer.span(name)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def roots(self) -> list[str]:
        return []

    def warm_up(self) -> None:
        """One untimed cycle of commits and maintenance: a fresh JVM runs
        its first cycle up to twice as slowly while it compiles the
        loop's code."""
        for _ in range(self.cycle):
            self.prepare(-1)
            self.op(-1)
        self.maintain()

    def prepare(self, i: int) -> None:
        """Untimed work before commit ``i``: generate its input."""
        if self.traced:
            self._before = {}
            for r in self.roots():
                self._before.update(tree_bytes(r))

    def observe(self, i: int) -> None:
        """Untimed readings after a traced operation ``i``."""
        self.input_bytes += self.batch_bytes
        new = 0
        for r in self.roots():
            for p, b in tree_bytes(r).items():
                if p not in self._before:
                    new += b
        self.written_bytes += new

    def space_amp(self) -> float:
        """Bytes under the table roots ÷ bytes of the latest commits' live
        files."""
        under = live = 0
        for r in self.roots():
            under += sum(tree_bytes(r).values())
            c = mf.latest_commit(r)
            for f in c.files + c.log_files:
                live += os.path.getsize(os.path.join(r, f))
        return under / live if live else 0.0


# ---------------------------------------------------------------------------
# cdc_ingest
# ---------------------------------------------------------------------------


class CdcIngest(Workload):
    """The paper's write path: envelope batch -> normalize -> CoW upsert,
    with optimize + vacuum after every ``CDC_CYCLE`` commits.

    After each traced commit, untimed, the table is also read the way an
    independent reader would: it is opened afresh with
    ``LakehouseTable.load`` for a point lookup, a timestamp range, a
    grouped full scan and (unless the commit vacuumed the version before
    it) time travel to the previous version. These reads give the read
    path's per-layer numbers; the oracle checks every one of them."""

    name = "cdc_ingest"
    cycle = CDC_CYCLE
    rows_per_commit = CDC_BATCH_EVENTS

    def setup(self) -> None:
        """Build the table, then warm up."""
        self.dir = os.path.join(self.work, "cdc")
        os.makedirs(self.dir)
        self.gen = gen.CdcGen(self.seed, CDC_BASE_ROWS, CDC_BATCH_EVENTS)
        self.base = os.path.join(self.dir, "base.parquet")
        gen.write_parquet(self.gen.base_table(), self.base)
        self.path = os.path.join(self.dir, "table")
        LakehouseTable.create(
            self.spark, self.path, self.spark.read.parquet(self.base),
            **CDC_TABLE_OPTS,
        )
        #: table version -> batches applied in it
        self.applied = {mf.latest_commit(self.path).version: 0}
        base = pq.read_table(self.base, columns=["updated_at"]).column(0)
        self.probes = gen.read_probes(
            self.seed, CDC_READ_PROBES, CDC_BASE_ROWS,
            int(pc.min(base).as_py()), int(pc.max(base).as_py()),
        )
        #: (kind, probe, batches applied in the version read, rows)
        self.reads: list[tuple[str, dict, int, list]] = []
        self.batches: list[str] = []
        self.vacuumed = False
        self.warm_up()

    def roots(self) -> list[str]:
        return [self.path]

    def prepare(self, i: int) -> None:
        p = os.path.join(self.dir, f"b{len(self.batches):05d}.parquet")
        self.batch_bytes = gen.write_parquet(self.gen.next_batch(), p)
        self.batches.append(p)
        super().prepare(i)

    def op(self, i: int) -> None:
        path = self.batches[-1]
        self.vacuumed = False
        with self.span("lakehouse.load"):
            table = LakehouseTable.load(self.spark, self.path)
        with self.span("cdc_stream.normalize"):
            rows = normalize_cdc_batch(
                self.spark.read.schema(ENVELOPE_TYPE).parquet(path)
            )
            if self.traced:
                _noop(rows)
        if self.traced:
            with self.span("cdc.precombine"):
                kept = precombine_dedup(
                    rows, CDC_KEYS + ["created_day"], "updated_at",
                    ["change_type"],
                ).count()
            self.note("cdc.keep_ratio", kept / CDC_BATCH_EVENTS)
        with self.span("lakehouse.upsert"):
            self.commit = table.upsert(rows)
        self.applied[self.commit.version] = len(self.batches)

    def maintain(self) -> None:
        table = LakehouseTable.load(self.spark, self.path)
        with self.span("lakehouse.optimize"):
            c = table.optimize()
        self.applied[c.version] = len(self.batches)
        with self.span("lakehouse.vacuum"):
            table.vacuum(retain_versions=1)
        self.vacuumed = True

    def observe(self, i: int) -> None:
        super().observe(i)
        c = self.commit
        prev = mf.read_commit(self.path, c.version - 1)
        rewritten = set(prev.files) - set(c.files)
        for k in ("rewritten_files", "carried_over_files",
                  "key_range_skipped_files", "written_files"):
            self.note(f"lakehouse.{k}", c.stats.get(k, 0))
        self.note(
            "lakehouse.rewrite_row_ratio",
            sum(prev.row_counts.get(f, 0) for f in rewritten)
            / CDC_BATCH_EVENTS,
        )
        cdir = mf.commits_dir(self.path)
        self.note(
            "manifest.commit_bytes",
            os.path.getsize(os.path.join(cdir, f"{c.version:08d}.json")),
        )
        ckpts = sorted(
            f for f in os.listdir(cdir) if f.endswith(".checkpoint.json")
        )
        self.note(
            "manifest.checkpoint_bytes",
            os.path.getsize(os.path.join(cdir, ckpts[-1])) if ckpts else 0,
        )
        latest = mf.latest_commit(self.path)
        self.note("manifest.live_files", len(latest.files))
        # the reads are spans of an operation of their own, so they count
        # toward no commit's jobs
        self.tracer.op_id = f"read-{i}"
        probe = self.probes[i % len(self.probes)]
        kinds = ["lookup", "range", "scan"]
        if not self.vacuumed:
            kinds.append("travel")
        for kind in kinds:
            v = latest.version - 1 if kind == "travel" else latest.version
            rows = self._read(kind, probe, v, latest)
            self.reads.append((kind, probe, self.applied[v], rows))

    def _read(self, kind: str, probe: dict, version: int, latest) -> list:
        with self.span(
            "manifest.travel_resolve" if kind == "travel"
            else "manifest.resolve"
        ):
            if kind == "travel":
                mf.read_commit(self.path, version)
            else:
                mf.latest_commit(self.path)
        with self.span(f"lakehouse.{kind}_plan"):
            table = LakehouseTable.load(self.spark, self.path)
            if kind == "lookup":
                df = table.read_for_keys(probe["keys"])
            elif kind == "range":
                df = table.read_where("updated_at", probe["lo"], probe["hi"])
            elif kind == "scan":
                df = (
                    table.read()
                    .filter(~F.col("is_deleted"))
                    .groupBy("created_day")
                    .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
                )
            else:
                df = table.read(version=version).agg(
                    F.count("*"), F.sum("value"), F.sum("pk_id")
                )
        if kind in ("lookup", "range"):
            df = df.select(*oracle.CDC_COLS)
        with self.span(f"spark.{kind}_exec"):
            rows = df.collect()
        if kind in ("lookup", "range"):
            scanned = len(df.inputFiles())
            self.note(f"lakehouse.{kind}_files_scanned", scanned)
            self.note(
                f"lakehouse.{kind}_prune_ratio",
                scanned / max(1, len(latest.files) + len(latest.log_files)),
            )
        return rows

    def check(self) -> tuple[int, list[str]]:
        actual = (
            LakehouseTable.load(self.spark, self.path)
            .read()
            .select(*oracle.CDC_COLS)
            .toPandas()
        )
        orc = oracle.CdcOracle(self.base, self.batches)
        bad = []
        try:
            n = orc.diff_rows(len(self.batches), actual)
            if n:
                bad.append(f"final state differs from the oracle in {n} rows")
            for kind, probe, n, rows in self.reads:
                if kind == "lookup":
                    ok = sorted(tuple(r) for r in rows) == orc.lookup(
                        n, probe["keys"]
                    )
                elif kind == "range":
                    got = (
                        len(rows),
                        sum(r.pk_id for r in rows),
                        sum(r.value for r in rows),
                    )
                    ok = got == orc.range_digest(n, probe["lo"], probe["hi"])
                elif kind == "scan":
                    got = {r.created_day: (r.n, r.v) for r in rows}
                    ok = got == orc.day_aggregate(n)
                else:
                    ok = tuple(rows[0]) == orc.digest(n)
                if not ok:
                    bad.append(f"{kind} read {probe} after {n} batches "
                               "differs from the oracle")
        finally:
            orc.close()
        return 1 + len(self.reads), bad


# ---------------------------------------------------------------------------
# doc_dedup
# ---------------------------------------------------------------------------


class DocDedup(Workload):
    """LLM-curation dedup: quality filter -> MinHash signatures ->
    incremental LSH dedup against a MoR band index -> insert-only upsert
    of the kept docs into a CoW corpus; the index is compacted after
    every ``DOC_CYCLE`` batches."""

    name = "doc_dedup"
    cycle = DOC_CYCLE
    rows_per_commit = DOC_BATCH

    def setup(self) -> None:
        """Create the index and the corpus, then warm up."""
        d = os.path.join(self.work, "doc")
        os.makedirs(d)
        self.dir = d
        self.gen = gen.DocGen(self.seed, DOC_BATCH)
        self.index_path = os.path.join(d, "index")
        self.index = dedup.create_lsh_index(self.spark, self.index_path)
        self.corpus_path = os.path.join(d, "corpus")
        self.corpus = LakehouseTable.create(
            self.spark, self.corpus_path,
            self.spark.createDataFrame([], "doc_id long, text string"),
            key_cols=["doc_id"],
        )
        self.verdicts: dict[int, list[str]] = {}
        self.n_batches = 0
        self.warm_up()

    def roots(self) -> list[str]:
        return [self.index_path, self.corpus_path]

    def prepare(self, i: int) -> None:
        self.batch_path = os.path.join(self.dir, f"d{self.n_batches:05d}.parquet")
        self.batch_bytes = gen.write_parquet(self.gen.next_batch(), self.batch_path)
        self.n_batches += 1
        super().prepare(i)

    def op(self, i: int) -> None:
        docs = self.spark.read.parquet(self.batch_path)
        with self.span("text.quality"):
            good = text.quality_scores(
                docs, "doc_id", "text", keep=("text",)
            ).filter(F.col("n_tokens") >= DOC_MIN_TOKENS)
            if self.traced:
                _noop(good)
        with self.span("dedup.sign"):
            sigs = dedup.minhash_signatures(
                dedup.word_shingles(dedup.tokenize(good, "text"), "tokens", 3),
                "doc_id", "shingles",
            )
            if self.traced:
                _noop(sigs)
        if self.traced:
            with self.span("lakehouse.index_rt_read"):
                _noop(self.index.read())
        with self.span("dedup.lsh"):
            verdict = dedup.incremental_lsh_dedup(
                self.index, sigs, "doc_id", bands=LSH_BANDS
            )
        with self.span("lakehouse.corpus_append"):
            kept = verdict.filter(F.col("status") == "kept").select("doc_id")
            self.commit = self.corpus.upsert(kept.join(docs, "doc_id"))
        for r in verdict.collect():
            self.verdicts.setdefault(r.doc_id, []).append(r.status)

    def maintain(self) -> None:
        with self.span("lakehouse.compact"):
            self.index.compact()

    def observe(self, i: int) -> None:
        super().observe(i)
        self.note(
            "lakehouse.corpus_rewritten_files",
            self.commit.stats.get("rewritten_files", 0),
        )
        self.note(
            "lakehouse.index_log_files",
            len(mf.latest_commit(self.index_path).log_files),
        )

    def recall(self) -> tuple[float, float]:
        """(planted duplicates dropped ÷ planted, originals dropped ÷
        originals) over the docs judged so far."""
        planted = [d for d in self.gen.planted if d in self.verdicts]
        originals = [
            d for d in self.verdicts
            if d not in self.gen.planted and d not in self.gen.short
        ]
        hit = sum("dropped" in self.verdicts[d] for d in planted)
        false = sum("dropped" in self.verdicts[d] for d in originals)
        return hit / max(1, len(planted)), false / max(1, len(originals))

    def check(self) -> tuple[int, list[str]]:
        ids = [
            r.doc_id
            for r in LakehouseTable.load(self.spark, self.corpus_path)
            .read()
            .select("doc_id")
            .collect()
        ]
        return oracle.DEDUP_CHECKS, oracle.dedup_failures(
            self.verdicts, self.gen.ids, self.gen.planted, self.gen.short, ids
        )


WORKLOADS = {w.name: w for w in (CdcIngest, DocDedup)}
