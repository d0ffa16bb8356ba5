"""Copy-on-Write / Merge-on-Read lakehouse tables on plain Parquet +
JSON manifests (SURVEY.md §2.9 C1-C8, §2.1 S2/S5-S9, §2.8 D7/D8).

The reference materializes ACID tables two ways (README.md:254-256):
* **CoW** — updates rewrite the affected Parquet base files; untouched
  rows keep their old commit time (README.md:470-491).
* **MoR** — updates append to row-oriented log files; ``_ro`` reads serve
  the stale base, ``_rt`` reads merge base∪log per key at scan time, and
  compaction folds logs into a new base (README.md:605-607,918-920).

This implementation is Spark-first: every read is a declarative parquet
scan over the manifest's live-file list (predicate pushdown + row-group
skipping free), the `_rt` merge view is a window latest-per-key, and the
CoW rewrite is partition-scoped — only partitions containing upserted keys
are rewritten ("the CDC data corresponding to the updated partition only
would be affected", README.md:1240).

Meta columns (§1.5, README.md:299-304): Hudi's five ``_hoodie_*`` columns
are stamped as ordinary derived columns at write time
(``_hoodie_file_name`` at read time via the scan's ``_metadata.file_name``).

Scale notes (100 TB):
* Partition layout is hive-style (``__pp=value`` dirs) with the partition
  column ALSO stored in the data files, so snapshot reads are plain
  file-list scans — no basePath/partition-inference coupling across
  commits.
* Upsert cost is O(files actually holding the batch's keys), not
  O(table), and the file choice costs no Spark job: the batch is
  materialized once, its keys, partition values and bucket ids are
  collected as Arrow in one job, and ``_plan_rewrite`` prunes the
  manifest's file list on the driver — partition, bucket, then each file's
  record-key [min, max] from the commit manifest (Hudi's range index
  tier), checked exactly against the sorted batch keys. A batch whose
  keys no live file can hold (inserts past every key range) is a pure
  append: only the batch is written, every file carries over.
* The source side of an upsert broadcasts (CDC batches are small, and
  its keys already went through the driver to plan); the rewrite never
  shuffles the un-affected part of the table — those files are carried
  over by reference in the manifest.
"""

from __future__ import annotations

import bisect
import copy
import dataclasses
import datetime
import json
import os
import re
import time
import urllib.parse
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hudi_and_delta_showcase_spark.operators.cdc import precombine_dedup
from hudi_and_delta_showcase_spark.operators.upsert import (
    _quote_ident,
    key_match,
)
from hudi_and_delta_showcase_spark.tables import delta_log as dl
from hudi_and_delta_showcase_spark.tables import fsio
from hudi_and_delta_showcase_spark.tables import manifest as mf

META_COLS = (
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
)

COPY_ON_WRITE = "cow"
MERGE_ON_READ = "mor"

#: Spark/Hive's directory token for a null partition value.
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

#: engine partition-dir token: ``__pp`` (spec 0) / ``__pp{i}`` (spec i
#: after partition evolution — see ``evolve_partitioning``).
_PP_TOKEN_RE = re.compile(r"^__pp(\d*)$")

#: age beyond which a ``_meta.lock`` is judged a crashed DDL's wreckage
#: and broken by the next waiter (a DDL holds it for milliseconds).
META_LOCK_TAKEOVER_SECONDS = 30.0


def _distributed_copy(spark, pairs: list[tuple[str, str]]) -> None:
    """Byte-copy (src, dst) file pairs as a Spark job — one partition
    per slice of files, ``fsio.arrow_fs`` inside the task (py4j/Hadoop
    is driver-only; pyarrow's filesystems work in executors for
    file/s3/gcs/hdfs). Parent dirs are created per task; 8 MiB chunked
    streaming keeps executor memory flat on arbitrarily large files."""
    if not pairs:
        return

    def copy_slice(it):
        for src, dst in it:
            sfs, sp = fsio.arrow_fs(src)
            dfs, dp = fsio.arrow_fs(dst)
            parent = dp.rsplit("/", 1)[0]
            dfs.create_dir(parent, recursive=True)
            with sfs.open_input_stream(sp) as r:
                with dfs.open_output_stream(dp) as w:
                    while True:
                        chunk = r.read(8 << 20)
                        if not chunk:
                            break
                        w.write(chunk)
        return iter(())

    n = min(len(pairs), 64)
    spark.sparkContext.parallelize(pairs, n).mapPartitions(
        copy_slice
    ).count()


#: removable-file count past which VACUUM deletes as a Spark job
#: instead of a driver loop. A serial driver loop is fine locally, but
#: on an object store it is O(files) sequential DELETE round-trips —
#: vacuuming 100k expired files at ~50 ms RPC is ~80 minutes serial
#: and seconds distributed.
VACUUM_DISTRIBUTED_THRESHOLD = 64


def _distributed_remove(spark, paths: list[str]) -> int:
    """Delete files as a Spark job — same executor-side ``arrow_fs``
    pattern as ``_distributed_copy``. Already-missing files are
    tolerated (a racing vacuum or lifecycle rule got there first; the
    outcome is identical)."""
    if not paths:
        return 0

    def rm_slice(it):
        for p in it:
            fs, pp = fsio.arrow_fs(p)
            try:
                fs.delete_file(pp)
            except FileNotFoundError:
                pass
        return iter(())

    n = min(len(paths), 64)
    spark.sparkContext.parallelize(paths, n).mapPartitions(rm_slice).count()
    return len(paths)


def _parse_partition_value(v: str, partition_type: str):
    """Hive dir value string -> a JSON-stable typed value for the
    col_stats index (mirrors the scan-time cast in ``_repair_meta``)."""
    t = partition_type.lower()
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return int(v)
    if t in ("float", "double"):
        return float(v)
    if t == "boolean":
        return v.lower() == "true"
    return v


def _record_key_of(key, jvm) -> str:
    """The record key the writer stamps for a lookup key (a scalar or a
    tuple of key-column values): ``concat_ws("|", cast(part as
    string))`` skips null parts, prints booleans as ``true`` /
    ``false``, doubles as the running JVM's ``Double.toString``
    (``1.0E20``, ``NaN``; no Spark job) and timestamps without the
    fraction's trailing zeros. A record-key string passes through
    unchanged."""

    def cast(v) -> str:
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, float):
            return jvm.java.lang.Double.toString(float(v))
        if isinstance(v, datetime.datetime) and v.tzinfo is None:
            return str(v).rstrip("0") if v.microsecond else str(v)
        return str(v)

    parts = key if isinstance(key, (tuple, list)) else (key,)
    return "|".join(cast(v) for v in parts if v is not None)


class _SortedKeys:
    """A sorted Arrow string array that ``bisect`` can search: only the
    O(log n) keys a search probes become Python strings."""

    def __init__(self, keys) -> None:
        self._keys = keys

    def __len__(self) -> int:
        return len(self._keys)

    def __getitem__(self, i: int) -> str:
        return self._keys[i].as_py()


class LakehouseTable:
    """A keyed, versioned, partitioned table on parquet + manifests."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = fsio.absolutize(path)
        #: write-planning snapshot cache (Delta's post-commit snapshot):
        #: holds the manifest this handle last published (or first
        #: resolved for a write). Read paths never consult it — only
        #: ``_commit_for_write`` / ``_publish`` below.
        self._latest_commit: mf.Commit | None = None
        self._load_meta(
            json.loads(
                fsio.read_pointer_text(fsio.join(self.path, "_meta.json"))
            )
        )

    def _load_meta(self, meta: dict) -> None:
        self.key_cols: list[str] = meta["key_cols"]
        self.precombine: str | None = meta.get("precombine")
        self.tiebreakers: list[str] = meta.get("tiebreakers", [])
        self.partition_by: str | None = meta.get("partition_by")
        #: partition-spec HISTORY (Iceberg spec-evolution model): entry i
        #: is the partition column files written under spec i used (None
        #: = unpartitioned). ``partition_by`` is always the LAST entry —
        #: the spec new writes use. Tables that never evolved have no
        #: meta key and collapse to the single-spec fast path.
        specs = meta.get("partition_specs")
        self.partition_specs: list[str | None] = (
            list(specs) if specs else [self.partition_by]
        )
        self.table_type: str = meta["table_type"]
        self.cdc_enabled: bool = meta.get("cdc_enabled", False)
        self.global_index: bool = meta.get("global_index", False)
        self.bloom_index: bool = meta.get("bloom_index", False)
        self.bloom_columns: list[str] = meta.get("bloom_columns", [])
        self.deletion_vectors: bool = meta.get("deletion_vectors", False)
        self.record_index: bool = meta.get("record_index", False)
        self.bucket_count: int | None = meta.get("bucket_count")
        self.constraints: dict[str, str] = meta.get("constraints", {})
        self.generated_columns: dict[str, str] = meta.get(
            "generated_columns", {}
        )
        #: Delta row tracking: rows carry a stable _row_id that UPDATE
        #: (upsert), OPTIMIZE, and RESTORE preserve (CoW only)
        self.row_tracking: bool = meta.get("row_tracking", False)
        #: set when a foreign hive layout was adopted by ``convert``:
        #: the partition column exists only in adopted file PATHS and
        #: is derived at scan time with this declared type.
        self.adopted_partition_type: str | None = meta.get(
            "adopted_partition_type"
        )
        #: adopted multi-column hive layouts (r7): columns BEYOND the
        #: first, {name -> declared type}. The first column is the
        #: engine's partition_by (rewrite scoping, OPTIMIZE WHERE);
        #: the extras exist only in adopted file paths — derived at
        #: scan time and seeded into col_stats for pruning.
        self.adopted_extra_partitions: dict[str, str] = meta.get(
            "adopted_extra_partitions", {}
        )
        try:
            self._meta_identity = fsio.stat_identity(
                fsio.join(self.path, "_meta.json")
            )
        except FileNotFoundError:  # create() loads before the write
            self._meta_identity = None

    def _refresh_meta(self) -> None:
        """Re-read ``_meta.json`` if it changed since this handle loaded
        it — called at write entry points so a handle opened BEFORE a
        concurrent DDL (``add_constraint`` / ``enable_cdc``) still
        enforces the new table properties, the way Delta writers resolve
        metadata per-transaction rather than per-handle. One stat call
        when nothing changed."""
        meta_path = fsio.join(self.path, "_meta.json")
        try:
            identity = fsio.stat_identity(meta_path)
        except FileNotFoundError:
            return
        if identity != self._meta_identity:
            self._load_meta(json.loads(fsio.read_pointer_text(meta_path)))

    # ------------------------------------------------------------------ #
    # creation / loading
    # ------------------------------------------------------------------ #

    @staticmethod
    def _unclaimed(
        path: str, table_type: str = COPY_ON_WRITE, overwrite: bool = False
    ) -> str:
        """The absolute root for a new table at ``path``: checks
        ``table_type`` and refuses an existing table (or clears it when
        ``overwrite``) — every bootstrap calls this before it reads
        foreign metadata or writes anything."""
        if table_type not in (COPY_ON_WRITE, MERGE_ON_READ):
            raise ValueError(
                f"table_type must be {COPY_ON_WRITE!r} or "
                f"{MERGE_ON_READ!r}, got {table_type!r}"
            )
        path = fsio.absolutize(path)
        if fsio.exists(fsio.join(path, "_meta.json")):
            if not overwrite:
                raise FileExistsError(f"already a lakehouse table: {path}")
            fsio.rmtree(path)
        return path

    @classmethod
    def _claim(
        cls, spark: SparkSession, path: str, overwrite: bool = False, **meta
    ) -> "LakehouseTable":
        """Claim a new table root (``_unclaimed``) and write its
        ``_meta.json`` with only the properties given — ``_load_meta``
        supplies every default. Returns the handle; version 0 follows
        through ``_publish_v0``."""
        path = cls._unclaimed(path, meta["table_type"], overwrite)
        fsio.makedirs(path)
        fsio.write_atomic(
            fsio.join(path, "_meta.json"), json.dumps(meta, indent=1)
        )
        return cls(spark, path)

    def _publish_v0(
        self,
        action: str,
        files: list[str],
        stats: dict,
        seeds: dict | None = None,
        **fields,
    ) -> "LakehouseTable":
        """Publish version 0, derived from the empty table by
        ``mf.next_commit``. The index entries of ``files`` come from
        ``_index_fields`` unless ``fields`` carries them; ``seeds``
        (``{file: {col: [min, max]}}``, see ``_adopt_hive_layout``)
        adds path-derived column stats."""
        if not fields.keys() & set(mf._INDEX_FIELDS):
            fields.update(self._index_fields(files))
        for f, cols in (seeds or {}).items():
            fields["col_stats"].setdefault(f, {}).update(cols)
        mf.append_commit(
            self.path,
            mf.next_commit(None, action, stats, files=files, **fields),
        )
        return self

    @staticmethod
    def _adopt_hive_layout(
        files: list[str],
        part_cols: list[str],
        part_types: list[str],
        hint: str = "",
    ) -> tuple[dict, dict]:
        """Adopt a foreign ``col=value`` layout whose partition columns
        exist only in file paths (``convert``, ``convert_delta``): every
        file must sit under exactly ``part_cols``' segments, in order.
        Returns the ``_meta.json`` properties (the first column is the
        engine's ``partition_by``; reads derive all of them at scan time
        with the declared types) and each file's ``[v, v]`` col_stats
        seed, so partition pruning works from version 0 though no
        footer carries the columns."""
        if not part_cols:
            return {}, {}
        bad = [
            f for f in files
            if f.count("/") != len(part_cols)
            or any(
                not seg.startswith(f"{c}=")
                for seg, c in zip(f.split("/"), part_cols)
            )
        ]
        if bad:
            raise ValueError(
                f"expected a {'/'.join(c + '=<v>' for c in part_cols)} "
                f"layout for every file; offending: {bad[:3]}{hint}"
            )
        seeds: dict[str, dict] = {}
        for f in files:
            for seg, c, t in zip(f.split("/"), part_cols, part_types):
                v = urllib.parse.unquote(seg.split("=", 1)[1])
                if v and v != HIVE_DEFAULT_PARTITION:
                    typed = _parse_partition_value(v, t)
                    seeds.setdefault(f, {})[c] = [typed, typed]
        props = {
            "partition_by": part_cols[0],
            "adopted_partition_type": part_types[0],
        }
        if len(part_cols) > 1:
            props["adopted_extra_partitions"] = dict(
                zip(part_cols[1:], part_types[1:])
            )
        return props, seeds

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        key_cols: list[str],
        precombine: str | None = None,
        tiebreakers: list[str] | None = None,
        partition_by: str | None = None,
        table_type: str = COPY_ON_WRITE,
        mode: str = "error",
        cdc_enabled: bool = False,
        global_index: bool = False,
        bloom_index: bool = False,
        deletion_vectors: bool = False,
        record_index: bool = False,
        bucket_count: int | None = None,
        bloom_columns: list[str] | None = None,
        constraints: dict[str, str] | None = None,
        generated_columns: dict[str, str] | None = None,
        row_tracking: bool = False,
        extra_stats: dict | None = None,
    ) -> "LakehouseTable":
        """C1 bulk insert: write batch as version 0, stamp meta columns
        (the reference's initial hudi insert, README.md:276-291).

        ``cdc_enabled`` opts the table into the change data feed
        (Delta ``delta.enableChangeDataFeed`` / Hudi
        ``hoodie.table.cdc.enabled``): upsert/delete then write
        O(changes) CDC sidecar files consumed by ``read_changes`` —
        opt-in because classification costs the writer a key probe.

        ``global_index`` makes the record key unique across the WHOLE
        table instead of per partition (Hudi GLOBAL_BLOOM /
        ``hoodie.bloom.index.update.partition.path=true``): an upserted
        key whose partition value changed RELOCATES — the old
        partition's row is removed and the row lands in the new
        partition — where the default non-global index would keep both
        rows. The trade-off is Hudi's: candidate files for a global
        upsert span every partition (key-range pruning still applies,
        so cluster global tables by key), while non-global rewrites
        only source partitions.

        ``bloom_index`` (Hudi ``hoodie.index.type=BLOOM``) additionally
        stores an 8 KiB key bloom per file in the commit manifest and
        probes it during upsert/delete — prunes candidate files even
        when key min/max ranges fully overlap (unclustered tables,
        where the range tier declines). Opt-in: building blooms
        re-scans each commit's newly written files once.

        ``deletion_vectors`` (Delta deletion vectors / Iceberg position
        deletes) changes DELETE from copy-on-write to merge-on-read:
        instead of rewriting every file holding a matched key, the
        delete writes an O(deleted rows) parquet sidecar of
        ``(file_name, pos)`` row positions and leaves the base files
        untouched. Readers anti-join the (small) DV set against the
        scan's native ``(_metadata.file_name, _metadata.row_index)``.
        At 100 TB this turns a delete touching 10k files from a
        multi-TB rewrite into a megabyte append; the rewrite cost is
        deferred to the next upsert/compaction of each file, which
        materializes the deletes and drops the vectors.

        ``constraints`` (Delta ``ALTER TABLE ... ADD CONSTRAINT CHECK``)
        maps constraint name -> SQL predicate every written row must
        satisfy. Standard CHECK semantics: a row violates only when the
        predicate evaluates to FALSE (NULL passes — add an explicit
        ``IS NOT NULL`` term for non-null enforcement). ``create`` and
        ``upsert`` REJECT batches containing violations (Delta
        behavior); ``upsert_quarantine`` instead applies the valid rows
        and hands the violating rows back — the data-pipeline idiom
        where bad records route to a quarantine sink instead of failing
        the load. Validation is a map-only filter fused into the write
        scan: zero extra shuffles at any scale.

        ``bucket_count`` (Hudi ``hoodie.index.type=BUCKET`` with
        ``hoodie.bucket.index.num.buckets``) hash-routes every row to
        one of N fixed buckets by record key (``pmod(xxhash64(key),
        N)``, encoded in each file's ``__bk=`` dir). Upserts and point
        lookups then route by PURE ARITHMETIC — candidate files are
        the batch's buckets, no footer/bloom/index probe JOB at all —
        which at 100 TB removes the probe scan entirely and bounds
        file-group count at N per partition. The trade-offs are
        Hudi's: N is fixed at creation (pick for target file size at
        expected volume), and a batch spraying all N buckets rewrites
        the whole partition (bucket indexes shine on key-skewed,
        incremental workloads). OCC bonus: on unpartitioned tables the
        bucket dir doubles as the partition token, so bucket-disjoint
        concurrent upserts COMMUTE under the rebase rules instead of
        conflicting. Composes with range/bloom tiers (they prune
        further within the routed buckets).

        ``bloom_columns`` (Delta ``delta.bloomFilter.enabled`` column
        indexes / Hudi's any-column bloom) stores an 8 KiB bloom per
        file per NAMED DATA COLUMN, serving EQUALITY reads
        (``read_where(col, v, v)``) on unclustered high-cardinality
        columns — exactly where min/max stats decline because every
        file spans most of the value range. Build cost: one extra scan
        of each commit's new files per indexed column."""
        if row_tracking and table_type == MERGE_ON_READ:
            # a MoR log row has no pre-image to inherit from until
            # compaction resolves it; Delta (the feature's origin) has
            # no MoR either — refuse rather than track approximately
            raise ValueError("row_tracking requires a copy-on-write table")
        table = cls._claim(
            spark,
            path,
            overwrite=mode == "overwrite",
            key_cols=key_cols,
            precombine=precombine,
            tiebreakers=tiebreakers or [],
            partition_by=partition_by,
            table_type=table_type,
            cdc_enabled=cdc_enabled,
            global_index=global_index,
            bloom_index=bloom_index,
            deletion_vectors=deletion_vectors,
            record_index=record_index,
            bucket_count=bucket_count,
            bloom_columns=bloom_columns or [],
            constraints=constraints or {},
            generated_columns=generated_columns or {},
            row_tracking=row_tracking,
        )
        commit_time = mf.make_commit_time()
        df = table._apply_generated(df)
        if precombine is not None:
            df = precombine_dedup(
                df, table._resolution_cols(), precombine, tiebreakers
            )
        df = table._enforce_constraints(df)
        stamped = table._bucket_align(table._stamp_meta(df, commit_time))
        files = table._write_files(stamped, f"c{0:05d}")
        # record the physical read schema in the commit (Delta's
        # metaData action): upserts reconcile types against THIS instead
        # of sweeping every file footer, and widenings evolve it as
        # metadata. All-nullable — parquet reads are nullable anyway.
        from pyspark.sql.types import StructField, StructType

        schema_json = json.dumps(
            StructType(
                [
                    StructField(f.name, f.dataType, True)
                    for f in stamped.schema.fields
                ]
            ).jsonValue()
        )
        # Delta CDF's add-only rule (r7): a blind insert writes NO
        # change sidecar — read_changes synthesizes the insert images
        # from the commit's own data files, so a CDC-enabled bulk load
        # costs ONE write of the batch, not two.
        return table._publish_v0(
            "insert",
            files,
            {"written_files": len(files),
             **({"cdc_add_only": True} if cdc_enabled else {}),
             **(extra_stats or {})},
            commit_time=commit_time,
            ri_files=table._write_record_index(files, 0),
            table_schema=schema_json,
        )

    @classmethod
    def convert(
        cls,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        precombine: str | None = None,
        tiebreakers: list[str] | None = None,
        table_type: str = COPY_ON_WRITE,
        partition_by: str | None = None,
        partition_type: str = "string",
    ) -> "LakehouseTable":
        """Delta ``CONVERT TO DELTA`` / Hudi METADATA_ONLY bootstrap:
        adopt an EXISTING parquet directory as a lakehouse table
        in place — version 0 is a metadata-only commit referencing the
        original files byte-identically; nothing is copied or
        rewritten. At 100 TB this is the difference between an import
        that finishes in seconds and one that rewrites the corpus.

        Imported files carry no Hudi meta columns; reads derive them at
        scan time (``_repair_meta``: record key from the key columns,
        commit time from the convert commit), so every path — snapshot,
        time travel, point lookup, upsert rewrite, MoR merge — behaves
        as if the files had been written by this engine. Rewrites
        materialize real meta columns as files cycle. Footer column
        stats are harvested at convert (data-skipping works
        immediately); record-key ranges don't exist yet, so key-level
        file skipping is conservative until the first rewrite of each
        file.

        Duplicates are adopted as-is (convert never dedups, exactly
        like Delta's CONVERT).

        Hive-partitioned layouts (``col=value`` directories — the
        reference's own Hudi tables are partitioned, README.md:278,320)
        are adopted by declaring ``partition_by`` + ``partition_type``,
        mirroring Delta's ``CONVERT TO DELTA ... PARTITIONED BY (col
        type)`` (the type must be declared because hive dirs carry only
        strings). The partition COLUMN exists only in the paths of
        adopted files, so reads derive it at scan time from
        ``_metadata.file_path`` (``_repair_meta`` — same discipline as
        the derived Hudi meta columns; rows from post-adoption engine
        writes keep their stored column), rewrite scoping maps foreign
        ``col=value`` dirs alongside the engine's own ``__pp=`` dirs,
        and the convert commit seeds ``col_stats`` with each file's
        partition value so partition pruning via ``read_where`` works
        from version 0.

        r7 (verdict #7): MULTI-COLUMN hive nesting
        (``k1=v1/k2=v2/...``) adopts too — pass lists for
        ``partition_by``/``partition_type``. The FIRST column becomes
        the engine's partition column (rewrite scoping, OPTIMIZE
        WHERE); the rest derive at scan time and seed ``col_stats``,
        so ``read_where`` prunes on EVERY level from version 0.
        Post-adoption engine writes lay files out under ``__pp=<k1>``
        only — the extra columns live in the data files from then on,
        where footer stats keep the pruning exact."""
        path = cls._unclaimed(path, table_type)
        files = sorted(
            fsio.relpath(p, path) for p in fsio.walk_files(path, ".parquet")
        )
        if not files:
            raise FileNotFoundError(f"no parquet files to convert: {path}")
        partitioned = [f for f in files if "=" in f.split("/")[0]]
        if partitioned and partition_by is None:
            raise ValueError(
                "hive-partitioned layout: declare partition_by (and "
                "partition_type), like Delta's CONVERT TO DELTA ... "
                "PARTITIONED BY"
            )
        part_cols = (
            [partition_by]
            if isinstance(partition_by, str)
            else list(partition_by or [])
        )
        part_types = (
            [partition_type]
            if isinstance(partition_type, str)
            else list(partition_type or [])
        )
        if part_cols and len(part_types) != len(part_cols):
            raise ValueError(
                "declare one partition_type per partition_by column"
            )
        props, seeds = cls._adopt_hive_layout(files, part_cols, part_types)
        table = cls._claim(
            spark,
            path,
            key_cols=key_cols,
            precombine=precombine,
            tiebreakers=tiebreakers or [],
            table_type=table_type,
            **props,
        )
        return table._publish_v0(
            "convert", files, {"converted_files": len(files)}, seeds
        )

    @classmethod
    def convert_hoodie(
        cls,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        precombine: str | None = None,
        tiebreakers: list[str] | None = None,
        table_type: str = COPY_ON_WRITE,
    ) -> "LakehouseTable":
        """``convert`` for a ``.hoodie``-layout Hudi table, completing
        the adoption matrix in BOTH directions for all three protocols
        (export: delta/hoodie/iceberg; adopt: hive/delta/hoodie/
        iceberg): adopt the current timeline snapshot in place,
        metadata-only.

        The live set is the timeline's latest file slice per file
        group (``hoodie_timeline.latest_file_slices_rt`` — the same
        replay the foreign-authored-timeline reader pins: overwrite
        barriers, replacecommit ``replacedFileIds``), so superseded
        slices awaiting Hudi's cleaner are ignored, never resurrected.
        Real-Hudi data files already carry the ``_hoodie_*`` meta
        columns, so adopted reads serve them as written; files from
        this engine's own ``export_hoodie_timeline`` behave
        identically.

        r7 (verdict #2): MERGE-ON-READ timelines adopt too. Each file
        group's surviving HoodieLogFormat Avro blocks (rollback command
        blocks honored) decode EXECUTOR-side and materialize as this
        engine's parquet log files — O(log records), i.e. O(changes
        since the last Hudi compaction), never O(table); base files
        stay byte-identical in place. Rows keep their delta commit's
        instant as ``_hoodie_commit_time``, so the ``_rt`` merge
        (commit order first, precombine second) resolves exactly as
        Hudi's realtime view; base rows without stored meta columns
        take their slice instant from the file-group naming convention
        (``_repair_meta``). Log-only file groups adopt too. DELETE
        blocks (r8, verdict r7 #1) fold as engine state at version 0:
        killed log records are simply not materialized, killed base
        rows become deletion-vector entries — zero base rewrites.
        HFile/parquet data blocks and legacy kryo delete blocks refuse
        loudly (``hoodie_log``). A MoR timeline forces
        ``table_type='mor'``."""
        from hudi_and_delta_showcase_spark.tables import (
            hoodie_timeline as ht,
        )

        path = cls._unclaimed(path, table_type)
        slices = ht.latest_file_slices_rt(path)
        files = sorted(s["base"] for s in slices.values() if s["base"])
        # log-only file groups (no base yet) adopt too: their records
        # materialize into the engine's log files like any others —
        # the engine's MoR logs are table-wide, not group-scoped (r7)
        log_paths = sorted(p for s in slices.values() for p in s["logs"])
        if not files:
            raise FileNotFoundError(
                f"no base files under {path}; compact at least one "
                "slice with Hudi so a schema-bearing base exists"
            )
        table = cls._claim(
            spark,
            path,
            key_cols=key_cols,
            precombine=precombine,
            tiebreakers=tiebreakers or [],
            table_type=MERGE_ON_READ if log_paths else table_type,
        )
        log_files: list[str] = []
        dv_files: list[str] = []
        n_tombstones = 0
        if log_paths:
            from hudi_and_delta_showcase_spark.tables import (
                hoodie_log as hl,
            )

            base_schema = spark.read.parquet(
                *[fsio.join(path, f) for f in files]
            ).schema
            logs = hl.read_log_records_df(
                spark, path, log_paths, base_schema,
                valid_instants=frozenset(
                    i for i, _k in ht._completed_instants(path)
                ),
                key_fields=key_cols, precombine=precombine,
            )
            # DELETE-block tombstones (r8, verdict r7 #1) materialize
            # as engine state at version 0: a tombstone kills every log
            # record at-or-before its (instant, seq) for the same key
            # — a LATER data block revives the key — and the base row,
            # which is always older than any log entry of its slice,
            # becomes a deletion-vector entry. Tombstones are O(deletes
            # since last compaction), so both sides broadcast.
            # (Keys are assumed unique per partition — Hudi's
            # record-key contract — matching the engine's table-wide
            # MoR merge.)
            # one decode pass total: the tombstone probe caches the
            # decoded log rows the materializing write then reuses
            logs = logs.persist()
            tomb = logs.filter(F.col("_hl_deleted"))
            last_tomb = tomb.groupBy(*key_cols).agg(
                F.max(F.struct("_hl_instant", "_hl_seq")).alias("__t")
            )
            n_tombstones = last_tomb.count()
            data = logs.filter(~F.col("_hl_deleted"))
            if n_tombstones:
                data = (
                    data.join(F.broadcast(last_tomb), key_cols, "left")
                    .filter(
                        F.col("__t").isNull()
                        | (F.struct("_hl_instant", "_hl_seq") > F.col("__t"))
                    )
                    .drop("__t")
                )
                hits = (
                    spark.read.parquet(
                        *[fsio.join(path, f) for f in files]
                    )
                    .withColumn("__file", table._dv_file_col())
                    .withColumn("__pos", F.col("_metadata.row_index"))
                    .join(
                        F.broadcast(last_tomb.select(*key_cols)),
                        key_cols,
                        "left_semi",
                    )
                    .select(
                        F.col("__file").alias("file_name"),
                        F.col("__pos").alias("pos"),
                    )
                )
                dv_files = table._write_dv_files(hits, "c00000")
            data = data.drop("_hl_seq", "_hl_deleted")
            if "_hoodie_commit_time" in base_schema.fieldNames():
                data = data.withColumn(
                    "_hoodie_commit_time",
                    F.coalesce(
                        F.col("_hoodie_commit_time"), F.col("_hl_instant")
                    ),
                ).drop("_hl_instant")
            else:
                data = data.withColumnRenamed(
                    "_hl_instant", "_hoodie_commit_time"
                )
            # one task writes the few adopted records: one log file
            log_files = table._write_files(
                data.coalesce(1), "l00000", log=True
            )
            logs.unpersist()
        stats = {"converted_files": len(files), "source_format": "hoodie"}
        if log_paths:
            stats["adopted_log_files"] = len(log_paths)
        if n_tombstones:
            stats["adopted_tombstone_keys"] = n_tombstones
        return table._publish_v0(
            "convert", files, stats, log_files=log_files, dv_files=dv_files
        )

    @classmethod
    def convert_delta(
        cls,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        precombine: str | None = None,
        tiebreakers: list[str] | None = None,
        table_type: str = COPY_ON_WRITE,
    ) -> "LakehouseTable":
        """``convert`` for a Delta table (CONVERT FROM DELTA — the
        inverse of ``delta_log.export_delta_log``, completing the
        adoption matrix: hive-parquet, Iceberg, Delta): adopt the
        CURRENT ``_delta_log`` snapshot in place, metadata-only.

        The live-file list comes from log replay (checkpoint-aware),
        so files Delta has removed — old CoW versions awaiting VACUUM
        — are correctly ignored, not resurrected; they stay on disk
        untouched.

        r7, closing the round-6 verdict's #1 gap: snapshots carrying
        **deletion vectors** (default-on in modern Databricks writers)
        and **columnMapping.mode=name** adopt cleanly instead of
        refusing. DVs translate at convert time into the engine's own
        ``(file_name, pos)`` parquet sidecar — decoded EXECUTOR-side
        (``delta_dv.dv_rows_df``), O(deleted rows), zero data-file
        rewrites — so from version 0 every read path applies them via
        the normal ``_apply_dvs`` anti-join and the first rewrite of
        each file materializes them, exactly like native DV tables.
        Column mapping seeds the manifest's ``column_mapping``
        (physical -> logical), the same machinery ``rename_column``
        maintains; ``key_cols``/``precombine``/``tiebreakers`` are
        given in LOGICAL names and stored physical, since every engine
        internal addresses physical names. Partitioned Delta tables
        adopt with the same path-derived mechanism as hive-layout
        ``convert`` — Delta data files never CONTAIN the partition
        column, only the ``col=value`` dirs name it — including the
        version-0 ``col_stats`` seed so partition pruning works
        immediately (single partition column; multi-column layouts are
        refused, same bound as ``convert``). What still refuses:
        reader features beyond {deletionVectors, columnMapping,
        timestampNtz} and ``columnMapping.mode=id``
        (``delta_log.adopt_delta_snapshot``); column-mapped tables
        whose physical layout drops the hive dirs adopt only
        unpartitioned (their partition record lives in
        ``partitionValues``, which ``convert``'s path-derived reads
        cannot see)."""
        path = cls._unclaimed(path, table_type)
        meta_d, files, adds = dl.adopt_delta_snapshot(path)
        if not files:
            raise FileNotFoundError(f"current snapshot lists no files: {path}")
        mapping = dl.column_mapping_of(meta_d)  # physical -> logical
        if dl._mapping_mode(meta_d) == "id":
            # id-mapped adoption rides the physicalName map (assigned
            # once, never renamed), which is only sound while every
            # file's columns are actually NAMED by their physicalName
            # — true for delta-spark id-mode writers. Verify per file
            # (footer-only reads, the same O(files) driver class as
            # the stats harvest below) and refuse divergence loudly:
            # the engine's post-adoption reads match by name.
            phys_names = {
                f.name for f in dl._physical_schema(meta_d)[1].fields
            }
            for f in sorted(files):
                have = dl.parquet_column_names(fsio.join(path, f))
                missing = phys_names - have
                if missing:
                    raise RuntimeError(
                        f"id-mapped file {f} stores columns {sorted(have)}"
                        f" without physicalNames {sorted(missing)}; read "
                        "it via read_delta_table (field-id resolution) "
                        "instead of adopting"
                    )
        to_phys = {log: phys for phys, log in mapping.items()}
        key_cols = [to_phys.get(c, c) for c in key_cols]
        precombine = to_phys.get(precombine, precombine)
        tiebreakers = [to_phys.get(c, c) for c in (tiebreakers or [])]
        part_cols_logical = meta_d.get("partitionColumns") or []
        part_types: list[str] = []
        if part_cols_logical:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(
                json.loads(meta_d["schemaString"])
            )
            part_types = [
                schema[c].dataType.simpleString()
                for c in part_cols_logical
            ]
        props, seeds = cls._adopt_hive_layout(
            sorted(files),
            [to_phys.get(c, c) for c in part_cols_logical],
            part_types,
            hint=" (a partitioned delta snapshot without hive-style dirs,"
            " e.g. column-mapped, records partitions only in "
            "partitionValues: read it via read_delta_table instead)",
        )
        dv_map = {
            f: a["deletionVector"]
            for f, a in adds.items()
            if a.get("deletionVector")
        }
        table = cls._claim(
            spark,
            path,
            key_cols=key_cols,
            precombine=precombine,
            tiebreakers=tiebreakers,
            table_type=table_type,
            # live foreign DVs keep working post-adoption: the flag
            # turns on the engine's DV machinery so later deletes
            # extend the sidecars instead of rewriting
            deletion_vectors=bool(dv_map),
            **props,
        )
        dv_files: list[str] = []
        if dv_map:
            from hudi_and_delta_showcase_spark.tables import delta_dv

            dv_files = table._write_dv_files(
                delta_dv.dv_rows_df(spark, path, dv_map), "c00000"
            )
        # foreign TYPE-WIDENED table (r8, typeWidening reader feature):
        # fields carrying delta.typeChanges metadata mean legacy files
        # are narrower than the current schema — pin the commit's
        # table_schema (physical names) so every engine read declares
        # the widened schema and Spark's parquet reader upcasts, the
        # same mechanism the engine's own widen_column uses.
        widened_schema = ""
        if any(
            (f.get("metadata") or {}).get("delta.typeChanges")
            for f in json.loads(meta_d["schemaString"])["fields"]
        ):
            widened_schema = json.dumps(
                dl._physical_schema(meta_d)[1].jsonValue()
            )
        stats = {"converted_files": len(files), "source_format": "delta"}
        if dv_map:
            stats["adopted_dv_files"] = len(dv_map)
        return table._publish_v0(
            "convert",
            sorted(files),
            stats,
            seeds,
            table_schema=widened_schema,
            dv_files=dv_files,
            column_mapping=dict(mapping),
        )

    @classmethod
    def convert_iceberg(
        cls,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        precombine: str | None = None,
        tiebreakers: list[str] | None = None,
        table_type: str = COPY_ON_WRITE,
    ) -> "LakehouseTable":
        """``convert`` for an Apache Iceberg table (the incoming XTable
        direction, complementing ``iceberg_meta.export_iceberg_metadata``):
        adopt the CURRENT Iceberg snapshot in place, metadata-only.

        Unlike the directory-walk convert, the live file set comes from
        the Iceberg metadata itself (metadata.json -> manifest-list ->
        manifests), so files orphaned by Iceberg's own history — dead
        snapshots not yet expired — are correctly ignored rather than
        resurrected; they stay on disk untouched (this engine's vacuum
        only ever deletes files its own commits referenced).

        r7: snapshots carrying v2 DELETE files adopt too — their whole
        delete state (position deletes directly; equality deletes via
        the same sequence-ordered null-safe join the read path uses)
        materializes as the engine's ``(file_name, pos)`` DV sidecar
        at version 0 (``iceberg_meta.deleted_positions_df``): data
        files stay byte-identical, O(deleted rows) sidecar IO plus one
        scan of the equality-candidate files, and every read path
        applies the sidecar through the normal ``_apply_dvs``
        anti-join. Identity-partitioned Iceberg tables keep their
        partition column in the data files, so they adopt as
        unpartitioned lakehouse tables: reads are value-complete; only
        rewrite scoping loses partition granularity until files
        cycle."""
        from hudi_and_delta_showcase_spark.tables import iceberg_meta as im

        path = cls._unclaimed(path, table_type)
        meta = im.read_iceberg_metadata(path)
        snap = {s["snapshot-id"]: s for s in meta["snapshots"]}[
            meta["current-snapshot-id"]
        ]
        entries, pos_dels, eq_dels = im._snapshot_entries(
            path, snap, with_deletes=True
        )
        files = sorted(
            fsio.relpath(
                im._resolve(path, e["data_file"]["file_path"]), path
            )
            for e in entries
        )
        if not files:
            raise FileNotFoundError(f"current snapshot lists no files: {path}")
        deletes = bool(pos_dels or eq_dels)
        if deletes and any(f.startswith("..") for f in files):
            # DV sidecar identity is the file's path RELATIVE to the
            # table root; a delete-bearing tree whose recorded data
            # paths resolve OUTSIDE the root (a live duplicate of the
            # source tree) cannot carry that identity — refuse instead
            # of silently resurrecting rows, BEFORE any adoption
            # metadata lands. Relocate (move/copy the whole tree,
            # retire the source) and adopt again.
            outside = next(f for f in files if f.startswith(".."))
            raise RuntimeError(
                "delete-bearing snapshot references data files "
                f"outside the table root (e.g. {outside!r}); "
                "relocate the tree before adoption"
            )
        table = cls._claim(
            spark,
            path,
            key_cols=key_cols,
            precombine=precombine,
            tiebreakers=tiebreakers or [],
            table_type=table_type,
            # adopted delete state lives in DV sidecars; the flag keeps
            # later deletes on the same discipline
            deletion_vectors=deletes,
        )
        dv_files: list[str] = []
        stats = {
            "converted_files": len(files),
            "source_format": "iceberg",
            "source_snapshot_id": meta["current-snapshot-id"],
        }
        if deletes:
            dv_files = table._write_dv_files(
                im.deleted_positions_df(
                    spark, path, entries, pos_dels, eq_dels, meta
                ),
                "c00000",
            )
            stats["adopted_delete_files"] = len(pos_dels) + len(eq_dels)
        return table._publish_v0("convert", files, stats, dv_files=dv_files)

    @classmethod
    def clone(
        cls,
        spark: SparkSession,
        src_path: str,
        dest_path: str,
        deep: bool = False,
    ) -> "LakehouseTable":
        """Delta ``CREATE TABLE ... SHALLOW CLONE``: a zero-copy table
        whose version 0 REFERENCES the source's current files (as
        absolute paths — ``fsio.resolve`` passes them through), copying
        only metadata: O(1) data IO however big the table. The clone
        then diverges independently — upserts rewrite only the
        partitions they touch (rewritten data lands under the clone;
        untouched source files stay referenced), ``optimize()``
        materializes it fully, and ``vacuum`` on either table never
        deletes the other's files (vacuum only walks its OWN root; a
        clone's references into the source dir are invisible to the
        source's vacuum, so vacuum the source only after its clones are
        materialized or dropped — Delta documents the same hazard).

        The file-skipping indexes (key ranges, column stats, blooms)
        come along re-keyed to the absolute references; the record
        index does not (its rows name source-relative paths) — the
        probe tier is conservative until the clone's own writes rebuild
        it. Change-data-feed history is NOT inherited (the clone's feed
        starts at its own version 1, like Delta). Tables with
        outstanding deletion vectors must ``optimize()`` first (DV
        entries name source-relative files)."""
        src = cls(spark, src_path)
        prev = src._commit(None)
        if prev.dv_files:
            raise ValueError(
                "cannot shallow-clone a table with outstanding deletion "
                "vectors: run optimize() on the source first"
            )
        dest = cls._claim(
            spark,
            dest_path,
            **json.loads(
                fsio.read_pointer_text(fsio.join(src.path, "_meta.json"))
            ),
        )
        if deep:
            # Delta DEEP CLONE: byte-copy the source's LIVE files (base
            # + MoR logs) under the same relative names, one task per
            # file slice — a DISTRIBUTED pyarrow-fs copy, never a
            # driver-side loop (the copy is the operation; O(live data)
            # cluster IO is its floor). Relative names surviving means
            # every file-skipping index entry carries over verbatim.
            _distributed_copy(
                spark,
                [
                    (fsio.resolve(src.path, f), fsio.join(dest.path, f))
                    for f in [*prev.files, *prev.log_files]
                ],
            )

            def ref(f: str) -> str:
                return f  # self-contained: dest-relative names

        else:

            def ref(f: str) -> str:
                return fsio.resolve(src.path, f)

        return dest._publish_v0(
            "clone",
            [ref(f) for f in prev.files],
            {
                "cloned_from": src.path,
                "source_version": prev.version,
                "clone_depth": "deep" if deep else "shallow",
            },
            log_files=[ref(f) for f in prev.log_files],
            table_schema=prev.table_schema,
            column_mapping=dict(prev.column_mapping),
            **{
                name: {ref(f): v for f, v in getattr(prev, name).items()}
                for name in mf._INDEX_FIELDS
            },
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakehouseTable":
        return cls(spark, path)

    # ------------------------------------------------------------------ #
    # reads (S2/S5: snapshot, read-optimized, real-time)
    # ------------------------------------------------------------------ #

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot view. CoW: latest base files. MoR: the real-time view
        (base∪log merged), matching Hudi's default snapshot semantics.
        Columns come back under the version's LOGICAL names (column
        mapping, see ``rename_column``)."""
        commit = self._commit(version)
        return self._logical(self._read_physical(version), commit)

    def _read_physical(self, version: int | None = None) -> DataFrame:
        """Snapshot under PHYSICAL (on-disk) column names — the shape
        every internal write/maintenance path works in."""
        commit = self._commit(version)
        return self._serve_pruned(commit, commit.files)

    def read_ro(self, version: int | None = None) -> DataFrame:
        """S5 read-optimized: base files only — serves stale values between
        upsert and compaction (samsung still 20, README.md:920,958)."""
        commit = self._commit(version)
        return self._logical(self._read_base(commit), commit)

    def read_rt(self, version: int | None = None) -> DataFrame:
        """S5 real-time: base ∪ logs resolved latest-per-key at scan time
        (HoodieParquetRealtimeInputFormat semantics, README.md:689).

        Resolution order: commit time DESC FIRST — a later upsert batch
        overwrites the stored row even if its precombine value is older,
        exactly like the CoW write path (Hudi's default overwrite-with-
        latest payload: precombine dedups WITHIN a batch, commits apply
        in order ACROSS batches; divergence found by
        tests/test_properties.py::test_cow_equals_mor_rt). Then
        precombine DESC + tiebreakers within a commit. One window over
        the unioned scan, shuffled once on the record key.

        Index semantics: NON-GLOBAL (Hudi's default) — the record key is
        unique PER PARTITION, so the resolution window includes the
        partition column. A key that re-arrives under a new partition
        value becomes a new row in that partition and the old partition's
        row survives, identically in CoW (partition-scoped rewrite) and
        MoR `_rt` (per-partition window)."""
        return self.read(version)

    def read_for_keys(
        self, keys: list, version: int | None = None
    ) -> DataFrame:
        """Point-lookup read path: ``keys`` are key-column values (a
        tuple per composite key) or record-key strings. The writers'
        planner picks the files: the key-range tier on the driver, then,
        only where more than one file is left, the bucket, record-index
        and bloom tiers of ``_rewrite_candidates`` (a Spark job each).
        Files with unknown ranges are scanned conservatively. MoR base
        files are pruned too — by key range alone while logs are
        outstanding, so planning stays job-free — and merged with every
        log (unindexed until compaction, as in Hudi) before the exact
        key filter."""
        import pyarrow as pa

        commit = self._commit(version)
        rks = sorted({_record_key_of(k, self.spark._jvm) for k in keys})
        rows = pa.table({"_hoodie_record_key": pa.array(rks, pa.string())})
        keep = self._plan_rewrite(commit, rows)[0]
        mor_logs = self.table_type == MERGE_ON_READ and commit.log_files
        indexed = self.bucket_count or self.record_index or self.bloom_index
        if len(keep) > 1 and indexed and not mor_logs:
            kdf = self.spark.createDataFrame(
                [(k,) for k in rks], "_hoodie_record_key string"
            )
            if self.bucket_count:
                rows = self._plan_rows(kdf)
            keep = self._rewrite_candidates(
                dataclasses.replace(commit, files=keep), kdf, rows
            )[0]
        return self._logical(
            self._serve_pruned(commit, keep).filter(
                F.col("_hoodie_record_key").isin(*rks)
            ),
            commit,
        )

    def history(self) -> list[mf.Commit]:
        """C7: the commit timeline (Hudi `.hoodie` / Delta `_delta_log`)."""
        return [mf.read_commit(self.path, v) for v in mf.list_versions(self.path)]

    def detail(self) -> dict:
        """Delta ``DESCRIBE DETAIL``: one metadata-only summary of the
        current snapshot — latest-commit read plus ``_meta.json``, zero
        data IO and zero listings. ``num_rows`` comes from the
        manifest's per-file footer counts and is None when it cannot be
        exact — a live file lacks a footer count (adopted files before
        their first rewrite) or unmerged MoR log files hold rows the
        footers don't see. Live deletion vectors are subtracted via the
        same O(deleted rows) sidecar count ``metadata_agg`` uses —
        absent beats wrong."""
        c = self._commit(None)
        rc = [c.row_counts.get(f) for f in c.files]
        num_rows = None
        if not any(r is None for r in rc) and not c.log_files:
            num_rows = sum(rc)
            if c.dv_files and num_rows:
                num_rows -= sum(self._dv_counts(c).values())
        return {
            "format": "lakehouse",
            "location": self.path,
            "table_type": self.table_type,
            "version": c.version,
            "last_commit_time": c.commit_time,
            "num_files": len(c.files),
            "num_log_files": len(c.log_files),
            "num_rows": num_rows,
            "partition_columns": (
                [self.partition_by] if self.partition_by else []
            ),
            "key_columns": list(self.key_cols),
            "features": sorted(
                name
                for name, on in (
                    ("cdc", self.cdc_enabled),
                    ("deletion_vectors", self.deletion_vectors),
                    ("global_index", self.global_index),
                    ("bloom_index", self.bloom_index),
                    ("record_index", self.record_index),
                    ("bucket_index", bool(self.bucket_count)),
                    ("row_tracking", self.row_tracking),
                    ("constraints", bool(self.constraints)),
                    ("generated_columns", bool(self.generated_columns)),
                )
                if on
            ),
        }

    # ------------------------------------------------------------------ #
    # column mapping (Delta columnMapping.mode=name)
    # ------------------------------------------------------------------ #

    def _logical(self, df: DataFrame, commit: mf.Commit) -> DataFrame:
        """Physical -> logical column names for the given version.
        SIMULTANEOUS rename (one select of aliases): a rename chain that
        permutes names — v->metric then sq->v, so logical 'v' now means
        the old 'sq' — would make sequential withColumnRenamed collide
        on the intermediate duplicate name."""
        mapping = commit.column_mapping
        if not mapping:
            return df
        return df.select(
            *[df[c].alias(mapping.get(c, c)) for c in df.columns]
        )

    def _physical(self, df: DataFrame) -> DataFrame:
        """Logical -> physical names (latest mapping) on a write input.
        Simultaneous, like ``_logical``."""
        inverse = {
            log: phys
            for phys, log in self._commit_for_write().column_mapping.items()
        }
        if not inverse:
            return df
        return df.select(
            *[df[c].alias(inverse.get(c, c)) for c in df.columns]
        )

    def _phys_name(self, logical: str, commit: mf.Commit) -> str:
        return next(
            (
                p
                for p, l in commit.column_mapping.items()
                if l == logical
            ),
            logical,
        )

    def rename_column(self, old: str, new: str) -> mf.Commit:
        """Delta ``ALTER TABLE ... RENAME COLUMN`` under column mapping:
        a METADATA-ONLY commit updating the physical->logical name map —
        zero data files touched, O(1) regardless of table size (the
        alternative, a full rewrite, is petabytes at 100 TB). The map
        lives in the commit record, so time travel to a pre-rename
        version sees the old name, and every read path translates at
        the public boundary. Key/partition/precombine internals keep
        addressing physical names; constraint predicates keep their
        creation-time (physical) spelling."""
        prev = self._commit(None)
        logical_cols = [
            prev.column_mapping.get(c, c)
            for c in self._read_base(prev).columns
        ]
        if old not in logical_cols:
            raise ValueError(f"no such column: {old!r}")
        if new in logical_cols or new.startswith("_hoodie_"):
            raise ValueError(f"column name already in use: {new!r}")
        mapping = dict(prev.column_mapping)
        phys = self._phys_name(old, prev)
        if phys == new:
            mapping.pop(phys, None)
        else:
            mapping[phys] = new
        return self._publish(
            mf.next_commit(
                prev,
                "rename",
                {"renamed_from": old, "renamed_to": new},
                column_mapping=mapping,
            )
        )

    def drop_column(self, name: str) -> mf.Commit:
        """Delta ``ALTER TABLE ... DROP COLUMN`` under column mapping:
        a METADATA-ONLY commit — the field leaves the commit's read
        schema, so every subsequent scan simply never reads it (zero
        files rewritten; the bytes are physically reclaimed as rewrites
        and vacuum naturally cycle the files). Time travel to a
        pre-drop version shows the column; RESTORE restores it. The
        physical name is tombstoned in the column mapping so a later
        batch carrying the same name is REFUSED instead of silently
        resurrecting old file data — re-introduce the concept under a
        new name (or rename first), exactly the discipline Delta's
        column-mapping ids enforce. Key/partition/precombine/
        tiebreaker columns cannot be dropped."""
        prev = self._commit(None)
        phys = self._phys_name(name, prev)
        protected = set(
            self.key_cols
            # every HISTORICAL spec column stays protected: files written
            # under an old spec still partition-prune against it
            + [s for s in self.partition_specs if s]
            + ([self.precombine] if self.precombine else [])
            + self.tiebreakers
        )
        if phys in protected or phys.startswith("_hoodie_"):
            raise ValueError(f"cannot drop column {name!r}")
        for cname, pred in self.constraints.items():
            if phys in pred:
                raise ValueError(
                    f"cannot drop {name!r}: referenced by constraint "
                    f"{cname!r} ({pred!r})"
                )
        # generated columns: dropping the column itself would leave its
        # meta entry re-adding it on every write straight into the
        # tombstone refusal (permanently wedging writes); dropping an
        # INPUT of a generated expression breaks every future write's
        # F.expr resolution. Refuse both, mirroring the constraint check.
        if name in self.generated_columns or phys in self.generated_columns:
            raise ValueError(
                f"cannot drop generated column {name!r} "
                "(remove the generated-column definition first)"
            )
        for gcol, gexpr in self.generated_columns.items():
            if phys in gexpr or name in gexpr:
                raise ValueError(
                    f"cannot drop {name!r}: referenced by generated "
                    f"column {gcol!r} ({gexpr!r})"
                )
        schema = self._commit_schema(prev)
        if schema is None:  # legacy table: derive once
            schema = self.spark.read.option("mergeSchema", "true").parquet(
                *[fsio.resolve(self.path, f)
                  for f in prev.files + prev.log_files]
            ).schema
        if phys not in schema.fieldNames():
            raise ValueError(f"no such column: {name!r}")
        from pyspark.sql.types import StructType

        new_schema = StructType(
            [f for f in schema.fields if f.name != phys]
        )
        mapping = dict(prev.column_mapping)
        mapping[phys] = f"__dropped_v{prev.version + 1}"
        return self._publish(
            mf.next_commit(
                prev,
                "drop_column",
                {"dropped_column": name, "physical_name": phys},
                table_schema=json.dumps(new_schema.jsonValue()),
                column_mapping=mapping,
            )
        )

    # ------------------------------------------------------------------ #
    # table-property evolution (Delta ALTER TABLE ... SET TBLPROPERTIES /
    # ADD CONSTRAINT): _meta.json holds table-level properties; these
    # mutate it atomically and take effect from the NEXT write.
    # ------------------------------------------------------------------ #

    def _update_meta(self, transform) -> None:
        """Serialized read-modify-write of ``_meta.json``: an exclusive
        ``_meta.lock`` (the same put-if-absent primitive commits use)
        brackets read -> ``transform(meta)`` -> write, so two
        concurrent DDLs compose instead of silently losing one change —
        the property Delta gets by putting metadata in the commit
        protocol. ``transform`` mutates/validates against the FRESH
        on-disk meta (a handle's cached view may be stale) and may
        raise to abort. The handle's fields are refreshed from the
        result."""
        meta_path = fsio.join(self.path, "_meta.json")
        lock = fsio.join(self.path, "_meta.lock")
        deadline = time.time() + 10.0
        while True:
            try:
                fsio.publish_exclusive(lock, uuid.uuid4().hex)
                break
            except FileExistsError:
                # stale-lock takeover: a DDL is a sub-second metadata
                # write, so a lock older than the takeover window can
                # only be a crashed holder's wreckage — break it
                # (removal is idempotent if two waiters race to break)
                try:
                    mtime, _size = fsio.stat_identity(lock)
                    age = time.time() - (
                        mtime / 1000.0
                        if fsio.is_remote(lock)
                        else mtime / 1e9
                    )
                    if age > META_LOCK_TAKEOVER_SECONDS:
                        fsio.remove(lock)
                        continue
                except (FileNotFoundError, OSError):
                    continue  # holder released (or a waiter broke it)
                if time.time() > deadline:
                    raise RuntimeError(
                        f"timed out acquiring {lock!r} — another DDL is "
                        "in flight (crashed holders are broken "
                        f"automatically after {META_LOCK_TAKEOVER_SECONDS}s)"
                    ) from None
                time.sleep(0.05)
        try:
            meta = json.loads(fsio.read_pointer_text(meta_path))
            transform(meta)
            fsio.write_atomic(meta_path, json.dumps(meta, indent=1))
        finally:
            fsio.remove(lock)
        self._load_meta(meta)

    def enable_cdc(self) -> None:
        """Delta ``SET TBLPROPERTIES (delta.enableChangeDataFeed=true)``
        on an existing table: change capture begins with the NEXT
        commit — earlier versions have no change files, exactly Delta's
        behavior (``table_changes`` from a pre-enablement version
        errors). Works on MoR too (r6): pre-images resolve through the
        key-pruned ``_rt`` view at write time, Hudi's
        ``hoodie.table.cdc.enabled`` semantics."""
        self._update_meta(lambda meta: meta.update(cdc_enabled=True))

    def add_constraint(self, name: str, predicate: str) -> None:
        """Delta ``ALTER TABLE ... ADD CONSTRAINT name CHECK (pred)``:
        validates the EXISTING snapshot first (one scan — Delta refuses
        the constraint if any current row violates it), then enforces
        on every future write. Standard CHECK semantics: NULL passes.
        The predicate uses the table's physical column spelling, like
        create-time constraints."""
        if name in self.constraints:
            raise ValueError(f"constraint exists: {name!r}")
        violating = (
            self._read_physical()
            .filter(~F.coalesce(F.expr(predicate), F.lit(True)))
            .limit(1)
            .count()
        )
        if violating:
            raise ValueError(
                f"cannot add constraint {name!r}: existing rows violate "
                f"{predicate!r}"
            )

        def transform(meta):
            cons = meta.get("constraints", {})
            if name in cons:  # re-check against FRESH meta inside lock
                raise ValueError(f"constraint exists: {name!r}")
            cons[name] = predicate
            meta["constraints"] = cons

        self._update_meta(transform)

    def drop_constraint(self, name: str) -> None:
        """Delta ``ALTER TABLE ... DROP CONSTRAINT``."""
        if name not in self.constraints:
            raise ValueError(f"no such constraint: {name!r}")

        def transform(meta):
            cons = meta.get("constraints", {})
            if name not in cons:
                raise ValueError(f"no such constraint: {name!r}")
            del cons[name]
            meta["constraints"] = cons

        self._update_meta(transform)

    def evolve_partitioning(self, column: str | None) -> None:
        """Iceberg-style partition-spec evolution (Iceberg spec
        `ALTER TABLE ... REPLACE PARTITION FIELD`): a METADATA-ONLY DDL
        that changes the partition column for writes going FORWARD —
        zero existing files are rewritten. ``None`` un-partitions.

        Why this is safe without a rewrite (the Iceberg argument,
        re-expressed on this engine's layout):

        * Every spec column also lives IN the data files (the hive dirs
          duplicate it), so readers never depend on the layout — scans
          are explicit file lists and all read-side pruning
          (``read_where``) is per-file column STATS, spec-agnostic.
        * Each file's own spec is encoded in its directory token
          (``__pp=`` for spec 0, ``__pp{i}=`` for spec i — see
          ``_partition_spec_value_of``), so upsert partition pruning
          and the non-global index's partition matching evaluate each
          file against the BATCH VALUES OF THAT FILE'S OWN COLUMN:
          pruning stays exact across the evolution instead of
          degrading to scan-everything.
        * Rewrite commits (compact / optimize) emit output under the
          CURRENT spec, so maintenance naturally converges the table
          to the new layout — Iceberg's migration story (spec-id per
          manifest entry), with zero upfront IO.
        * OCC: two concurrent writers whose touched partitions belong
          to DIFFERENT specs cannot prove disjointness, so the rebase
          rules treat cross-spec overlap as a conflict (conservative,
          and only in the brief window around an evolution).

        Like the single-spec engine (and Hudi's non-global index), the
        exactness of partition pruning assumes a record's value for
        each HISTORICAL spec column is stable per key; a key whose old
        spec-column value changed routes like a new record in old-spec
        files (standard non-global-index semantics). Tables needing
        key moves across partitions use ``global_index=True``, which
        never partition-prunes."""
        if column is not None:
            cols = set(self.read().columns)
            if column not in cols:
                raise ValueError(
                    f"partition column {column!r} not in table schema"
                )
            if column.startswith("_hoodie"):
                raise ValueError("cannot partition by a meta column")

        def transform(meta):
            cur = meta.get("partition_by")
            if column == cur:
                raise ValueError(
                    f"partition spec is already {column!r}"
                )
            specs = list(meta.get("partition_specs") or [cur])
            specs.append(column)
            meta["partition_specs"] = specs
            meta["partition_by"] = column

        self._update_meta(transform)

    def version_as_of(self, instant: str) -> int:
        """Delta ``TIMESTAMP AS OF`` / Hudi ``as.of.instant``: the latest
        version whose commit time is <= ``instant`` (Hudi-style
        ``yyyyMMddHHmmssSSS``; any prefix works — '20240101' means that
        day's midnight). Driver-side metadata scan of the timeline, no
        Spark job. Raises if the instant precedes the first commit."""
        digits = "".join(ch for ch in instant if ch.isdigit()).ljust(17, "0")
        best = None
        for c in self.history():
            if c.commit_time <= digits:
                best = c.version
        if best is None:
            raise ValueError(
                f"no commit at or before {instant!r} "
                f"(first commit: {self.history()[0].commit_time})"
            )
        return best

    def read_incremental(
        self, begin_version: int, end_version: int | None = None
    ) -> DataFrame:
        """Hudi incremental query (the reference's "Snapshot and
        Incremental Data", README.md:576): the LATEST state of records
        changed in commits ``(begin_version, end_version]`` — begin
        exclusive, end inclusive, like Hudi's
        ``hoodie.datasource.read.begin.instanttime``.

        Works because the CoW rewrite PRESERVES ``_hoodie_commit_time``
        on carried-over rows (only upserted rows are re-stamped), so the
        snapshot filtered by commit-time range is exactly the incremental
        change set. MoR resolves through the ``_rt`` merge first, then
        filters the winning rows — a record whose latest change predates
        ``begin`` is excluded even if it has unmerged log entries.

        Scale: the commit-time predicate is an ordinary pushed-down
        parquet filter; with time-ordered commit file layout most base
        files are skipped by row-group min/max stats — an incremental
        pull reads O(changed data), never O(table)."""
        begin_time = self._commit(begin_version).commit_time
        end = self._commit(end_version)
        snap = self._read_physical(end.version)
        return self._logical(
            snap.filter(
                (F.col("_hoodie_commit_time") > F.lit(begin_time))
                & (F.col("_hoodie_commit_time") <= F.lit(end.commit_time))
            ),
            end,
        )

    # ------------------------------------------------------------------ #
    # writes
    # ------------------------------------------------------------------ #

    def upsert(
        self,
        source: DataFrame,
        _validated: bool = False,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
        extra_stats: dict | None = None,
    ) -> mf.Commit:
        """C2 (CoW) / C3 (MoR) keyed upsert with precombine dedup.

        CoW: the batch is materialized once, and ``_plan_rewrite``
        picks on the driver the files that can hold its keys
        (partition, bucket, exact key-range check; record-index and
        bloom probes when enabled). Only those are rewritten; the rest
        carry over (their rows keep the old commit time —
        README.md:470-491). When no file can hold a batch key the
        commit is a pure append of the batch. MoR: appends the batch
        as log files; base untouched until compact()
        (README.md:896-916).

        ``txn_app_id``/``txn_version`` make the upsert IDEMPOTENT per
        writer (Delta ``txnAppId``/``txnVersion``): if this (app,
        version) is at or below the table's recorded watermark the call
        is a no-op returning the current commit — the contract a
        foreachBatch streaming writer needs so a micro-batch replayed
        after a crash (table commit landed, stream checkpoint didn't)
        cannot double-apply."""
        self._refresh_meta()
        commit_time = mf.make_commit_time()
        prev = self._commit_for_write()
        if txn_app_id is not None and txn_version is not None:
            last = prev.txn.get(txn_app_id)
            if last is not None and txn_version <= last:
                return prev  # replayed batch: already applied
        new_txn = dict(prev.txn)
        if txn_app_id is not None and txn_version is not None:
            new_txn[txn_app_id] = txn_version
        source = self._apply_generated(self._physical(source))
        source, table_schema = self._reconcile_schema(source, prev)
        if self.precombine is not None:
            source = precombine_dedup(
                source, self._resolution_cols(), self.precombine,
                self.tiebreakers,
            )
        if not _validated:
            source = self._enforce_constraints(source)
        stamped = self._stamp_meta(source, commit_time)
        version = prev.version + 1

        if self.table_type == MERGE_ON_READ:
            new_logs = self._write_files(stamped, f"l{version:05d}", log=True)
            mor_cdc: list[str] = []
            if self.cdc_enabled:
                # Hudi MoR CDC (hoodie.table.cdc.enabled): pre-images
                # are the RT-RESOLVED current rows holding the batch's
                # keys — base scan filtered on the record key (pushed
                # down; logs are unindexed until compaction, as in
                # Hudi), NOT a full-table diff. Post/insert split by
                # the same key probe the CoW branch uses.
                pre_source = self._read_physical().drop(
                    "_hoodie_file_name"
                )
                mor_cdc = self._classify_upsert_cdc(
                    pre_source, stamped, version, commit_time
                )
            return self._publish(
                mf.next_commit(
                    prev,
                    "upsert",
                    {"log_files_added": len(new_logs),
                     **(extra_stats or {})},
                    commit_time=commit_time,
                    log_files=prev.log_files + new_logs,
                    cdc_files=mor_cdc,
                    txn=new_txn,
                    table_schema=table_schema,
                )
            )

        # ---- CoW: rewrite only the files that can hold a batch key ----
        # The batch feeds the plan, the merge, the write and (CDC) the
        # change split: materialize it once, which also freezes the
        # monotonically_increasing_id in _hoodie_commit_seqno. The lazy
        # checkpoint is filled by the plan collect itself — one job.
        stamped = stamped.localCheckpoint(eager=False)
        affected, untouched, skipped = self._rewrite_candidates(
            prev, stamped, self._plan_rows(stamped)
        )
        cdc_added: list[str] = []
        add_only_cdc = False
        if affected:
            # apply DVs before the rewrite so rows already deleted via
            # deletion vectors don't resurrect into the new files
            target = self._apply_dvs(
                self._read_parquet(affected, prev), prev
            )
            if self.cdc_enabled:
                # CDC consumes target TWICE (kept anti-join + pre-image
                # semi-join): a lazy localCheckpoint scans the affected
                # files once instead of twice
                target = target.localCheckpoint(eager=False)
            target = target.alias("t")
            keys = self._resolution_cols()
            if self.row_tracking:
                # Delta row tracking: an UPDATE keeps the logical row's
                # identity — matched batch rows inherit the pre-image's
                # _row_id via one key-probe join against the rows the
                # rewrite is reading anyway; unmatched (insert) rows
                # keep their freshly-stamped id. Runs BEFORE the merge
                # and CDC classify so post-images carry the stable id.
                pre = target.select(
                    *[F.col(f"t.{c}") for c in keys],
                    F.col("t._row_id").alias("__old_rid"),
                ).alias("p")
                stamped = (
                    stamped.alias("s")
                    .join(pre, key_match(keys, "p", "s"), "left")
                    .select("s.*", "__old_rid")
                    .withColumn(
                        "_row_id", F.coalesce("__old_rid", "_row_id")
                    )
                    .drop("__old_rid")
                )
            # precombine already made the keys unique, and a left-anti
            # join ignores duplicates anyway: no distinct
            source_keys = F.broadcast(stamped.select(*keys).alias("s"))
            # null-safe: a null partition value must match the incoming
            # null, or the old row would survive and duplicate the key
            kept = target.join(source_keys, key_match(keys), "left_anti")
            merged = kept.unionByName(stamped, allowMissingColumns=True)
            if self.cdc_enabled:
                # change data feed (Delta CDF): matched old rows are
                # update pre-images; source rows split update/insert by
                # the same key probe. O(changes) extra IO, opt-in.
                cdc_added = self._classify_upsert_cdc(
                    target.select(
                        *[
                            c
                            for c in target.columns
                            if c != "_hoodie_file_name"
                        ]
                    ),
                    stamped,
                    version,
                    commit_time,
                )
        else:
            merged = stamped
            # every source row is an insert (no affected files): the
            # commit's new data files ARE the change set — Delta CDF's
            # add-only rule, read_changes synthesizes (r7)
            add_only_cdc = self.cdc_enabled
        new_files = self._write_files(
            self._bucket_align(merged), f"c{version:05d}"
        )
        return self._commit_rewrite(
            prev,
            "upsert",
            new_files,
            untouched,
            {
                "rewritten_files": len(affected),
                "carried_over_files": len(untouched),
                **skipped,
                "written_files": len(new_files),
                **({"cdc_add_only": True} if add_only_cdc else {}),
                **(extra_stats or {}),
            },
            commit_time=commit_time,
            txn=new_txn,
            cdc_files=cdc_added,
            table_schema=table_schema,
        )

    def upsert_quarantine(
        self, source: DataFrame
    ) -> tuple[mf.Commit, DataFrame]:
        """Constraint-quarantine upsert: rows satisfying every CHECK
        constraint are applied as a normal upsert; violating rows are
        RETURNED (with a ``violated_constraints`` name array) instead of
        failing the batch — the pipeline idiom where bad records route
        to a quarantine sink rather than abort the load. One map-only
        predicate split; no extra shuffle."""
        self._refresh_meta()
        source = self._apply_generated(self._physical(source))
        if self.precombine is not None:
            source = precombine_dedup(
                source, self._resolution_cols(), self.precombine,
                self.tiebreakers,
            )
        valid, bad = self._split_constraints(source)
        return self.upsert(valid, _validated=True), bad

    def _split_constraints(
        self, df: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """(valid rows, violating rows + violated_constraints names).
        Standard CHECK semantics: a row violates only when a predicate
        is FALSE; NULL passes."""
        checks = {n: F.expr(p) for n, p in self.constraints.items()}
        ok = F.lit(True)
        for c in checks.values():
            ok = ok & F.coalesce(c, F.lit(True))
        names = F.array_compact(
            F.array(
                *[
                    F.when(~F.coalesce(c, F.lit(True)), F.lit(n))
                    for n, c in checks.items()
                ]
            )
        )
        if not checks:
            names = F.array().cast("array<string>")
        return (
            df.filter(ok),
            df.filter(~ok).withColumn("violated_constraints", names),
        )

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        """Delta GENERATED ALWAYS AS columns: absent generated columns
        are COMPUTED from their expression (one codegen'd projection —
        how a generated partition column derives on every write);
        provided values are VALIDATED against the expression and the
        batch is rejected on any mismatch, exactly Delta's contract.
        Expressions keep their creation-time (physical) spelling, like
        constraints."""
        for col, expr in self.generated_columns.items():
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr))
            else:
                bad = df.filter(
                    ~F.col(col).eqNullSafe(F.expr(expr))
                ).limit(1)
                if bad.count() > 0:
                    raise ValueError(
                        f"generated column {col!r} provided with values "
                        f"that do not match its expression {expr!r}: "
                        f"batch rejected"
                    )
        return df

    def _enforce_constraints(self, df: DataFrame) -> DataFrame:
        """Delta CHECK-constraint behavior: reject the whole batch if
        any written row violates a constraint."""
        if not self.constraints:
            return df
        _valid, bad = self._split_constraints(df)
        sample = bad.select("violated_constraints").limit(1).collect()
        if sample:
            raise ValueError(
                "CHECK constraint violation "
                f"{sorted(set(sample[0][0]))}: batch rejected "
                f"(constraints: {self.constraints})"
            )
        return df

    def delete(self, keys: DataFrame) -> mf.Commit:
        """Hard delete by key (Hudi DELETE operation / Delta DELETE):
        rewrite only the files that can hold the keys (same partition +
        key-range pruning as upsert), anti-joining the keys out.
        Physical erasure of prior versions then requires ``vacuum`` —
        the MVCC property the reference calls out (README.md:1240).

        MoR tables compact first (folding logs into a base) so the
        delete is a base-file rewrite — equivalent to Hudi deleting via
        a compaction-scheduled plan; a log-tombstone fast path would be
        the next refinement if delete latency ever matters."""
        self._refresh_meta()
        prev = self._commit_for_write()
        if self.table_type == MERGE_ON_READ and prev.log_files:
            self.compact()
            prev = self._commit_for_write()  # the compaction commit
        commit_time = mf.make_commit_time()
        version = prev.version + 1
        kcols = self._resolution_cols()
        # the caller's key frame is often a full table-read pipeline
        # (delete WHERE <pred> passes t.read().filter(...)); it is
        # consumed by the plan and by the delete join — one lazy
        # localCheckpoint materializes the O(deleted keys) distinct set
        # on first use instead of re-running the caller's scan per
        # consumer (at scale each re-evaluation is a full scan)
        keys = (
            self._physical(keys).select(*kcols).distinct()
            .localCheckpoint(eager=False)
        )
        stamped = self._stamp_meta(keys, commit_time)
        affected, untouched, skipped = self._rewrite_candidates(
            prev, stamped, self._plan_rows(stamped)
        )
        cond = key_match(kcols)

        if self.deletion_vectors:
            # merge-on-read delete: no base file is rewritten — record
            # the matched ROW POSITIONS as an O(deleted rows) sidecar.
            # The pruned `affected` scan reads only key columns +
            # _metadata (column pruning), so the write cost is
            # O(candidate files' keys), the commit is an append.
            dv_added: list[str] = []
            cdc_added: list[str] = []
            if affected:
                # project the row position BEFORE the DV anti-join —
                # _metadata resolves on the scan's project chain, not
                # reliably through a join's output
                target = self._apply_dvs(
                    self._read_parquet(affected, prev)
                    .withColumn("__file", self._dv_file_col())
                    .withColumn("__pos", F.col("_metadata.row_index")),
                    prev,
                )
                matched = target.alias("t").join(
                    F.broadcast(keys.alias("s")), cond, "left_semi"
                )
                hits = matched.select(
                    F.col("__file").alias("file_name"),
                    F.col("__pos").alias("pos"),
                )
                dv_added = self._write_dv_files(hits, f"c{version:05d}")
                if self.cdc_enabled:
                    cdc_added = self._write_cdc_files(
                        matched.drop("__file", "__pos").withColumn(
                            "_change_type", F.lit("delete")
                        ),
                        version,
                        commit_time,
                    )
            return self._publish(
                mf.next_commit(
                    prev,
                    "delete",
                    {
                        "rewritten_files": 0,
                        "dv_candidate_files": len(affected),
                        "dv_files_added": len(dv_added),
                        **skipped,
                    },
                    commit_time=commit_time,
                    dv_files=prev.dv_files + dv_added,
                    cdc_files=cdc_added,
                )
            )

        new_files: list[str] = []
        cdc_added = []
        if affected:
            target = self._apply_dvs(
                self._read_parquet(affected, prev), prev
            ).alias("t")
            kept = target.join(
                F.broadcast(keys.alias("s")), cond, "left_anti"
            )
            new_files = self._write_files(kept, f"c{version:05d}")
            if self.cdc_enabled:
                cdc_added = self._write_cdc_files(
                    target.join(
                        F.broadcast(keys.alias("s")), cond, "left_semi"
                    ).withColumn("_change_type", F.lit("delete")),
                    version,
                    commit_time,
                )
        return self._commit_rewrite(
            prev,
            "delete",
            new_files,
            untouched,
            {"rewritten_files": len(affected), **skipped},
            commit_time=commit_time,
            cdc_files=cdc_added,
        )

    def compact(self) -> mf.Commit:
        """MoR compaction: fold log files into a fresh base (the async
        compaction the reference schedules, README.md:605,918)."""
        if self.table_type != MERGE_ON_READ:
            raise ValueError("compact() applies to merge-on-read tables")
        prev = self._commit_for_write()
        if not prev.log_files:
            return prev
        return self._restack(
            prev, "compact", prev.files, None,
            {"compacted_log_files": len(prev.log_files)},
        )

    # ------------------------------------------------------------------ #
    # maintenance (D7 / D8)
    # ------------------------------------------------------------------ #

    def optimize(
        self,
        target_files: int | None = None,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        incremental: bool = False,
        where_partition=None,
    ) -> mf.Commit:
        """D8 OPTIMIZE: compact small files (the reference's
        file-compaction maintenance, README.md:1240). Unclustered, a
        rewrite spanning several partitions is hashed by whole
        partition value into ``target_files`` tasks, so it writes one
        file per partition value whatever ``target_files`` is; a
        single-partition or unpartitioned rewrite coalesces into at
        most ``target_files`` files. Clustered (``cluster_by`` or
        ``zorder_by``), the rows are range-partitioned into about
        ``target_files`` files in total, not per partition.
        ``cluster_by`` additionally sorts rows within files (linear
        clustering): parquet row-group min/max stats on the clustered
        columns become selective, so point/range scans on them skip
        most of the table. ``zorder_by`` instead interleaves
        MULTIPLE numeric dimensions (Delta ``ZORDER BY``): each column
        is quantile-bucketed (driver-side ``approxQuantile`` — bounded
        Greenwald-Khanna sketch, the same sampling family the range
        partitioner uses) and the bucket bits interleaved into a Morton
        key; files then carry tight [min,max] on EVERY z-dimension, so
        ``read_where`` prunes on any of them — linear clustering can
        only ever serve its leading column.

        ``where_partition`` (Delta ``OPTIMIZE t WHERE part = v``):
        rewrite ONE partition's files, carry every other file with its
        skipping indexes intact — at 100 TB the difference between
        touching the hot partition and rewriting the table. Deletion
        vectors on the rewritten files materialize (their old entries
        reference dead file names and simply never match again); DVs on
        carried files stay live. MoR log files must be compacted first
        (they are unindexed by partition), and spec-evolved tables are
        refused — a value means different things under different specs.

        ``incremental=True`` (Delta liquid-clustering economics, with
        ``cluster_by`` or ``zorder_by``): restack ONLY the files not
        produced by a prior clustering commit with the same spec —
        O(new data) per maintenance run instead of O(table), the
        difference between a nightly touch-up and a multi-PB rewrite at
        100 TB. Each run adds one internally-disjoint file GENERATION; a
        selective read then hits ~1 file per generation (vs 1 after a
        full recluster), and a periodic full ``optimize(cluster_by=...)``
        collapses the generations. Already-clustered files are carried
        over with their skipping indexes; deletion vectors on them stay
        live. The z-order variant reuses the quantile boundaries
        recorded by the last FULL z-order commit, so every generation
        buckets on the same Morton curve (fresh boundaries would put the
        same value in different buckets across generations, quietly
        breaking the files' z-range disjointness). CoW only — compact
        MoR logs first (the log fold would force a full-table window
        anyway)."""
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are exclusive")
        prev = self._commit_for_write()
        # callers address cluster/z-order columns by LOGICAL name
        by = [self._phys_name(c, prev) for c in cluster_by or zorder_by or []]
        spec_key = "zorder_spec" if zorder_by else "cluster_spec"
        zbounds = {} if zorder_by else None
        if where_partition is not None:
            if incremental:
                raise ValueError(
                    "where_partition and incremental are exclusive "
                    "(a scoped restack is not a clustering generation)"
                )
            if not self.partition_by:
                raise ValueError(
                    "where_partition requires a partitioned table"
                )
            if len(self.partition_specs) > 1:
                raise ValueError(
                    "where_partition on a spec-evolved table is ambiguous; "
                    "run a full optimize to converge the layout first"
                )
            if prev.log_files:
                raise RuntimeError("compact() MoR log files before a scoped "
                                   "optimize")
            value = str(where_partition)
            files = [
                f for f in prev.files
                if self._partition_spec_value_of(f)[1] == value
            ]
            if not files:
                return prev
            stats = {"optimize_where": f"{self.partition_by}={value}"}
        elif incremental:
            if not by:
                raise ValueError("incremental optimize requires cluster_by")
            if prev.log_files:
                raise RuntimeError(
                    "incremental optimize on a MoR table with pending log "
                    "files — run compact() first"
                )
            key, spec, clustered, zbounds = self._clustering()
            if (key, spec) != (spec_key, ",".join(by)):
                clustered, zbounds = set(), None
            if zorder_by and zbounds is None:
                raise RuntimeError(
                    "incremental z-order needs a prior full "
                    "optimize(zorder_by=...) to pin the quantile boundaries"
                )
            files = [f for f in prev.files if f not in clustered]
            if not files:
                return prev  # clustering is already current: zero-IO no-op
            stats = {"mode": "incremental", "restacked_files": len(files)}
        else:
            files, stats = prev.files, {}
        if by and where_partition is None:
            # a clustering generation: _restack records its files
            stats[spec_key] = ",".join(by)
        return self._restack(
            prev, "optimize", files, target_files or 1, stats, by, zbounds
        )

    def reorg_purge(self, min_deleted_ratio: float = 0.05):
        """Delta ``REORG TABLE ... APPLY (PURGE)``: materialize
        deletion vectors ONLY for files whose deleted-row fraction has
        crossed ``min_deleted_ratio`` — the compaction half of the DV
        lifecycle. A DV keeps each delete O(deleted rows) at write
        time, but a mostly-dead file keeps paying full scan IO for
        rows the anti-join discards; purge rewrites exactly those
        files with their vectors applied, drops the now-dead vector
        rows from the sidecar set, and carries every sparse file (and
        its live DVs) untouched. O(purged bytes + deleted rows), never
        O(table) — at 100 TB the difference between a nightly
        touch-up and a full rewrite. Files without a recorded row
        count (rare adopted edges) are conservatively left alone.
        Returns ``None`` without committing when nothing crosses the
        threshold, so schedulers can call it unconditionally."""
        if not 0 < min_deleted_ratio <= 1:
            raise ValueError("min_deleted_ratio must be in (0, 1]")
        self._refresh_meta()
        prev = self._commit_for_write()
        if not prev.dv_files:
            return None
        per_file = self._dv_counts(prev)
        victims = sorted(
            f
            for f, dead in per_file.items()
            if prev.row_counts.get(f)
            and dead / prev.row_counts[f] >= min_deleted_ratio
        )
        if not victims:
            return None
        # shed the purged vectors: keep only rows naming surviving
        # files (Delta's purge drops the DV descriptors with the
        # rewrite) — one O(deleted rows) filter, empty set drops the
        # sidecars entirely
        kept = sorted(set(per_file) - set(victims))
        dvs = self._dv_rows(prev).filter(F.col("file_name").isin(kept))
        new_dvs = []
        if kept:
            new_dvs = self._write_dv_files(dvs, f"c{prev.version + 1:05d}")
        dead = sum(per_file[f] for f in victims)
        return self._restack(
            prev, "purge", victims, None,
            {"purged_files": len(victims), "purged_dv_rows": dead},
            dv_files=new_dvs,
        )

    def _restack(
        self,
        prev: mf.Commit,
        action: str,
        files: list[str],
        n: int | None,
        stats: dict,
        by: list[str] = (),
        zbounds: dict | None = None,
        **changes,
    ) -> mf.Commit:
        """The one read, layout, write and commit of every maintenance
        writer: rewrite ``files`` (live DVs applied), carry the rest.
        MoR logs fold into the new files, except on a purge, which
        carries them. Clustered (``by``): range-partition into ``n`` on
        the partition column plus ``by``, or plus the Morton key of
        ``by`` on ``zbounds`` ({} = fresh), sorted within files; else
        hash ``n`` ways on the partition column when ``files`` span
        several partitions, or coalesce (None keeps the read's layout).
        A clustering spec in ``stats`` gets the new files as its
        ``clustered_output``."""
        commit_time = mf.make_commit_time()
        fold = action != "purge"
        df = self._serve_pruned(
            prev if fold else dataclasses.replace(prev, log_files=[]), files
        )
        part = [self.partition_by] if self.partition_by else []
        if by:
            # range-partition so FILES get disjoint (partition, by)
            # ranges and their stats prune; a sort alone would leave
            # every file spanning the whole key space
            keys, tail = part + list(by), []
            if zbounds is not None:
                z, zbounds = self._morton_key(df, by, bounds_by_col=zbounds)
                df, keys, tail = df.withColumn("__z", z), part + ["__z"], by
            df = (
                df.repartitionByRange(n, *keys)
                .sortWithinPartitions(*keys, *tail)
                .drop("__z")
            )
        elif n is not None:
            spread = {self._partition_spec_value_of(f) for f in files}
            df = (
                df.repartition(n, F.col(self.partition_by))
                if part and len(spread) > 1
                else df.coalesce(n)
            )
        new_files = self._write_files(
            self._bucket_align(df, n, by), f"c{prev.version + 1:05d}"
        )
        if "cluster_spec" in stats or "zorder_spec" in stats:
            stats["clustered_output"] = new_files
            if zbounds is not None:
                stats["zorder_bounds"] = zbounds
        picked = set(files)
        carried = [f for f in prev.files if f not in picked]
        if not carried:
            changes.setdefault("dv_files", [])
        if fold:
            changes["log_files"] = []
        stats.update(
            rewritten_files=len(files),
            carried_over_files=len(carried),
            written_files=len(new_files),
        )
        return self._commit_rewrite(
            prev, action, new_files, carried, stats,
            commit_time=commit_time, **changes,
        )

    def _clustering(self):
        """The latest clustering spec on the timeline as ``(spec_key,
        spec)`` (``cluster_spec`` or ``zorder_spec``, PHYSICAL column
        names), the files of that spec's generations (its optimize
        commits' ``clustered_output``) and its recorded z-order bounds.
        An optimize under another spec starts over: it rewrote every
        file the older generations held."""
        key = spec = bounds = None
        files: set[str] = set()
        for c in self.history():
            for k in ("cluster_spec", "zorder_spec"):
                if c.action == "optimize" and c.stats.get(k):
                    if (k, c.stats[k]) != (key, spec):
                        key, spec, files, bounds = k, c.stats[k], set(), None
                    files |= set(c.stats.get("clustered_output", ()))
                    bounds = c.stats.get("zorder_bounds") or bounds
        return key, spec, files, bounds

    _Z_BITS = 4  # quantile buckets per dimension = 2**_Z_BITS

    def _morton_key(
        self,
        df: DataFrame,
        cols: list[str],
        bounds_by_col: dict[str, list[float]] | None = None,
    ):
        """Morton (Z-order) key: quantile-bucket each numeric column
        into ``2**_Z_BITS`` ranks, then interleave the rank bits. The
        quantile boundaries come from ONE driver-side ``approxQuantile``
        pass (mergeable sketch, O(1) driver memory at any scale); the
        per-row bucket/interleave math is pure codegen'd JVM column
        arithmetic. Nulls land in bucket 0. Bucketing by rank (not raw
        value) makes the curve robust to skewed distributions — every
        bucket holds ~1/16th of the rows regardless of the value
        histogram."""
        nbuckets = 1 << self._Z_BITS
        probs = [i / nbuckets for i in range(1, nbuckets)]
        zsum = F.lit(0)
        out_bounds: dict[str, list[float]] = {}
        for j, c in enumerate(cols):
            dcol = F.col(c).cast("double")
            if bounds_by_col is not None and c in bounds_by_col:
                bounds = list(bounds_by_col[c])
            else:
                qs = df.select(dcol.alias("v")).approxQuantile(
                    "v", probs, 0.01
                )
                # strictly-increasing boundary subset (ties collapse
                # buckets)
                bounds = []
                for q in qs:
                    if not bounds or q > bounds[-1]:
                        bounds.append(q)
            out_bounds[c] = bounds
            bucket = F.lit(0)
            for b in bounds:
                bucket = bucket + F.when(dcol >= F.lit(b), 1).otherwise(0)
            for i in range(self._Z_BITS):
                bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1))
                zsum = zsum + F.shiftleft(bit, i * len(cols) + j)
        return zsum, out_bounds

    def _savepoints_path(self) -> str:
        return fsio.join(self.path, "_savepoints.json")

    def savepoints(self) -> dict[int, str]:
        """version -> label of every live savepoint."""
        try:
            return {
                int(k): v
                for k, v in json.loads(
                    fsio.read_pointer_text(self._savepoints_path(), attempts=2)
                ).items()
            }
        except FileNotFoundError:
            return {}

    def savepoint(self, version: int | None = None, label: str = "") -> int:
        """Hudi savepoint: pin a version so VACUUM never collects the
        files it references — the restore point that survives retention.
        Metadata-only (a JSON entry); ``restore`` to a savepointed
        version is then guaranteed to succeed regardless of vacuum
        history. ``delete_savepoint`` releases the pin."""
        if version is None:
            version = self._commit(None).version
        if version not in mf.list_versions(self.path):
            raise ValueError(f"no such version: {version}")
        sp = self.savepoints()
        sp[version] = label
        fsio.write_atomic(
            self._savepoints_path(),
            json.dumps({str(k): v for k, v in sp.items()}),
        )
        return version

    def delete_savepoint(self, version: int) -> None:
        sp = self.savepoints()
        sp.pop(version, None)
        fsio.write_atomic(
            self._savepoints_path(),
            json.dumps({str(k): v for k, v in sp.items()}),
        )

    def vacuum(
        self,
        retain_versions: int = 1,
        dry_run: bool = False,
        retain_hours: float | None = None,
    ) -> dict:
        """D7 VACUUM: physically delete data files not referenced by the
        newest ``retain_versions`` commits (README.md:1240: old files
        remain until vacuum) — nor by any SAVEPOINTED version (Hudi
        savepoint semantics: pinned versions survive retention).
        ``dry_run`` (Delta ``VACUUM ... DRY RUN``) lists what WOULD be
        deleted without touching anything.

        ``retain_hours`` (Delta ``VACUUM ... RETAIN n HOURS``, default
        retention ``delta.deletedFileRetentionDuration``): additionally
        retains every version whose commit time falls within the last
        n hours — the time-travel-safety contract Delta enforces so
        readers as-of a recent timestamp never lose their files. The
        retention sets UNION (a version survives if either rule keeps
        it): versions, hours, and savepoints."""
        versions = mf.list_versions(self.path)
        retained = versions[-max(1, retain_versions):]
        if retain_hours is not None:
            cutoff_ms = int(time.time() * 1000) - int(
                retain_hours * 3600 * 1000
            )
            cutoff = (
                time.strftime(
                    "%Y%m%d%H%M%S", time.gmtime(cutoff_ms / 1000)
                )
                + f"{cutoff_ms % 1000:03d}"
            )
            retained += [
                v
                for v in versions
                if mf.read_commit(self.path, v).commit_time >= cutoff
            ]
        retained = sorted(set(retained) | set(self.savepoints()))
        keep: set[str] = set()
        for v in retained:
            c = mf.read_commit(self.path, v)
            keep.update(c.files)
            keep.update(c.log_files)
            keep.update(c.cdc_files)
            keep.update(c.dv_files)
            keep.update(c.ri_files)
        doomed: list[str] = []
        would_remove: list[str] = []
        for sub in ("data", "log", "cdc", "dv", "_index"):
            root = fsio.join(self.path, sub)
            for full in fsio.walk_files(root, ".parquet"):
                rel = fsio.relpath(full, self.path)
                if rel not in keep:
                    would_remove.append(rel)
                    doomed.append(full)
        if dry_run:
            return {
                "would_remove_files": sorted(would_remove),
                "retained_versions": retained,
            }
        if len(doomed) > VACUUM_DISTRIBUTED_THRESHOLD:
            # large expirations delete executor-side: O(files/slices)
            # wall time instead of O(files) serial driver RPCs
            removed = _distributed_remove(self.spark, doomed)
        else:
            for full in doomed:
                fsio.remove(full)
            removed = len(doomed)
        return {"removed_files": removed, "retained_versions": retained}

    def fsck(self, dry_run: bool = False) -> dict:
        """Delta ``FSCK REPAIR TABLE``: find live-snapshot manifest
        entries whose underlying files have VANISHED (deleted behind the
        table's back — lifecycle rules, manual cleanup, a partial
        restore) and, unless ``dry_run``, publish a repair commit that
        drops the dead references so snapshot reads stop failing with
        ``FileNotFoundException``. Rows that lived only in a vanished
        file are lost — exactly Delta's FSCK contract — but every
        surviving file keeps serving, and history is preserved (the
        repair is an ordinary commit; time travel BEFORE it still sees
        the dead references, as in Delta).

        Discovery is LISTING-driven for table-rooted entries — one
        recursive listing per storage subdir, the same object-store
        prefix-LIST economics as ``vacuum`` (O(files/page) RPCs), never
        a HEAD per manifest entry; only entries resolving OUTSIDE the
        table root (shallow-clone references into a source table) fall
        back to a per-file existence probe, and those are rare by
        construction. Skipping indexes (key ranges, col stats, row
        counts, blooms) are pruned alongside their files so
        metadata-only aggregation can never answer from a dead entry."""
        prev = self._commit_for_write()
        present: set[str] = set()
        for sub in ("data", "log", "dv", "_index", "cdc"):
            for full in fsio.walk_files(fsio.join(self.path, sub)):
                present.add(fsio.relpath(full, self.path))

        def _missing(entries: list[str]) -> list[str]:
            out = []
            for e in entries:
                if fsio.is_external_entry(e):
                    if not fsio.exists(fsio.resolve(self.path, e)):
                        out.append(e)
                elif e not in present:
                    out.append(e)
            return out

        dead = {
            "files": _missing(prev.files),
            "log_files": _missing(prev.log_files),
            "dv_files": _missing(prev.dv_files),
            "ri_files": _missing(prev.ri_files),
        }
        # CDF sidecars are per-HISTORICAL-commit references that
        # `read_changes` replays; a vanished one can't be dropped from
        # the live snapshot (history is immutable), so FSCK REPORTS it
        # — the operator learns which version ranges read_changes will
        # refuse — but never counts it toward the repair commit.
        cdc_refs = sorted(
            {
                f
                for v in mf.list_versions(self.path)
                for f in mf.read_commit(self.path, v).cdc_files
            }
        )
        dead_cdc = _missing(cdc_refs)
        n_dead = sum(len(v) for v in dead.values())
        dead["cdc_files"] = dead_cdc
        if dry_run or n_dead == 0:
            return {"missing": dead, "repaired": False}
        surviving = {
            name: [f for f in getattr(prev, name) if f not in set(dead[name])]
            for name in ("files", "log_files", "dv_files", "ri_files")
        }
        self._publish(
            mf.next_commit(
                prev,
                "fsck",
                {"fsck_removed": n_dead,
                 **{k: v for k, v in dead.items() if v}},
                **surviving,
            )
        )
        return {"missing": dead, "repaired": True}

    def restore(self, version: int) -> mf.Commit:
        """Delta ``RESTORE TABLE ... VERSION AS OF`` / Hudi
        savepoint-rollback: append a NEW commit that points back at an
        earlier version's file set. History is preserved — the restore
        is itself a commit, so it can be time-traveled past or restored
        again — and no data files are copied: restore is O(1) metadata
        regardless of table size. The file-skipping indexes (key ranges
        + column stats) come along from the target commit. Raises if
        vacuum already removed any file the target version references
        (Delta errors identically)."""
        target = mf.read_commit(self.path, version)
        missing = [
            f
            for f in [*target.files, *target.log_files, *target.dv_files]
            if not fsio.exists(fsio.resolve(self.path, f))
        ]
        if missing:
            raise RuntimeError(
                f"cannot restore {self.path} to version {version}: "
                f"{len(missing)} referenced file(s) vacuumed, "
                f"e.g. {missing[0]}"
            )
        prev = self._commit(None)
        # the target's state (files, indexes, and schema plus column
        # mapping: Delta RESTORE restores data AND schema), but writer
        # watermarks never rewind: carry the LATEST txn map (stream
        # progress is not data)
        base = dataclasses.replace(target, version=prev.version, txn=prev.txn)
        return self._publish(
            mf.next_commit(base, "restore", {"restored_version": version})
        )

    # ------------------------------------------------------------------ #
    # internals
    # ------------------------------------------------------------------ #

    def _resolution_cols(self) -> list[str]:
        """Key columns for upsert/merge resolution. Non-global index
        (default): the partition column participates, so key uniqueness
        is scoped to the partition (Hudi SIMPLE/BLOOM index semantics).
        Global index: the record key alone resolves, table-wide — the
        anti-join, MoR `_rt` window, and precombine dedup all ignore the
        partition, which is what makes partition-change relocation
        work."""
        if self.global_index:
            return list(self.key_cols)
        if self.partition_by and self.partition_by not in self.key_cols:
            return [*self.key_cols, self.partition_by]
        return list(self.key_cols)

    def _resolution_order(self) -> list[str]:
        """The columns that pick the latest row of a key in the MoR
        `_rt` merge, each compared DESCENDING, nulls last: commit time
        first, then precombine, then the tiebreakers (see ``read_rt``).
        ``_serve_pruned``'s window and ``_latest_rows``' Arrow merge
        both sort by it."""
        order = ["_hoodie_commit_time", self.precombine, *self.tiebreakers]
        return [c for c in order if c]

    def _commit(self, version: int | None) -> mf.Commit:
        if version is None:
            commit = mf.latest_commit(self.path)
            if commit is None:
                raise RuntimeError(f"no commits in {self.path}")
            return commit
        return mf.read_commit(self.path, version)

    def _commit_for_write(self) -> mf.Commit:
        """Write-planning snapshot: the cached post-commit snapshot when
        this handle has resolved/published before, else one fresh
        resolution. Staleness is safe BY CONSTRUCTION under OCC —
        planning against an old base only means the prepared version
        collides at publish and rebases (or raises
        ``ConcurrentWriteConflict``), the exact window any concurrent
        writer already occupies between read and publish. The payoff is
        object-store economics: a steady-state writer (a foreachBatch
        loop) does ZERO ``_last_checkpoint`` reads and ZERO directory
        LISTs per commit — the put-if-absent publish itself is the
        coherence point. Read paths (``read``/``read_rt``/
        ``read_changes``/``version_as_of``) never use this; they keep
        per-query fresh resolution."""
        if self._latest_commit is None:
            self._latest_commit = self._commit(None)
        # deep copy, same contract as manifest._snapshot_cache: callers
        # feed the dict/list fields straight into their next Commit
        return copy.deepcopy(self._latest_commit)

    def _publish(self, commit: mf.Commit) -> mf.Commit:
        """Publish through OCC and remember the result as the next
        write-planning base. On conflict the cache is dropped so a
        caller's retry starts from a fresh read."""
        try:
            final = mf.append_commit_rebase(self.path, commit)
        except Exception:
            self._latest_commit = None
            raise
        self._latest_commit = copy.deepcopy(final)
        return final

    def _commit_rewrite(
        self,
        prev: mf.Commit,
        action: str,
        new_files: list[str],
        carried: list[str],
        stats: dict,
        **changes,
    ) -> mf.Commit:
        """Publish a commit that replaces some of ``prev``'s files with
        ``new_files`` and keeps ``carried``: index entries for the new
        files, a record-index sidecar for them, and the rest through
        ``mf.next_commit``. Record-index sidecars carry over only with a
        carried file: when nothing is carried every old entry names a
        dead file, so the list restarts. Deletion vectors carry over
        unless the caller passes ``dv_files``: entries naming rewritten
        files are inert, but the exporters replay the DV history, so
        only the restacks, which materialize vectors, pass a new list
        (empty when they carry no file; purge keeps the survivors')."""
        ri = self._write_record_index(new_files, prev.version + 1)
        index = self._index_fields(new_files)
        return self._publish(
            mf.next_commit(
                prev,
                action,
                stats,
                files=carried + new_files,
                ri_files=(prev.ri_files if carried else []) + ri,
                **{k: {**getattr(prev, k), **v} for k, v in index.items()},
                **changes,
            )
        )

    def _bucket_align(
        self, df: DataFrame, n: int | None = None, sort_cols=()
    ) -> DataFrame:
        """On bucket-index tables, align write tasks to buckets (at most
        ``n`` tasks) so ``_write_files``' ``partitionBy(__bk)`` emits ONE
        file per bucket: a range- or hash-repartitioned df would cross
        every task with every bucket dir (tasks x buckets files).
        Cluster/z-order intent (``sort_cols``) degrades to
        sort-within-bucket. Other tables pass through unchanged."""
        if not self.bucket_count:
            return df
        buckets = int(self.bucket_count)
        df = df.withColumn("__bko", self._bucket_expr()).repartition(
            buckets if n is None else min(n, buckets), F.col("__bko")
        )
        if sort_cols:
            df = df.sortWithinPartitions("__bko", *sort_cols)
        return df.drop("__bko")

    def _stamp_meta(self, df: DataFrame, commit_time: str) -> DataFrame:
        """§1.5: Hudi's meta columns as ordinary derived columns, in one
        projection whose expressions are SQL text: ~30 py4j round trips,
        where Column-API expressions and a ``withColumn`` per column
        cost ~95."""
        key = ", ".join(
            f"cast({_quote_ident(k)} as string)" for k in self.key_cols
        )
        # a global-index delete stamps a keys-only frame that carries no
        # partition column; its _hoodie_partition_path is never read
        pp = (
            f"cast({_quote_ident(self.partition_by)} as string)"
            if self.partition_by and self.partition_by in df.columns
            else "''"
        )
        out = df.withColumns({
            "_hoodie_commit_time": F.lit(commit_time),
            "_hoodie_commit_seqno": F.expr(
                f"concat_ws('_', '{commit_time}', monotonically_increasing_id())"
            ),
            "_hoodie_record_key": F.expr(f"concat_ws('|', {key})"),
            "_hoodie_partition_path": F.expr(pp),
        })
        if self.row_tracking:
            # fresh id at birth (globally unique: commit_time + per-write
            # monotonic id); the upsert merge OVERWRITES this for matched
            # rows with the pre-image's id — Delta row-tracking semantics
            out = out.withColumn("_row_id", F.col("_hoodie_commit_seqno"))
        return out

    def _write_files(
        self, df: DataFrame, commit_dir: str, log: bool = False
    ) -> list[str]:
        # _hoodie_file_name is a READ-time column (_metadata.file_name);
        # persisting it would accrete a stale column on every rewrite.
        if "_hoodie_file_name" in df.columns:
            df = df.drop("_hoodie_file_name")
        part_tokens: list[str] = []
        if self.partition_by and not log:
            # duplicate the partition column into hive-style dirs (__pp=v)
            # while keeping it in the data files -> reads stay plain
            # file-list scans and pruning is a path-prefix filter. After
            # a partition-spec evolution the token carries the spec
            # index (__pp{i}=v) so every file self-identifies which
            # spec laid it out (see evolve_partitioning).
            idx = len(self.partition_specs) - 1
            tok = "__pp" if idx == 0 else f"__pp{idx}"
            df = df.withColumn(tok, F.col(self.partition_by).cast("string"))
            part_tokens.append(tok)
        if self.bucket_count and not log:
            # bucket-index layout: every file belongs to exactly one
            # hash bucket of the record key (__bk= dir). Routing is
            # then arithmetic — see create()'s bucket_count docs.
            df = df.withColumn("__bk", self._bucket_expr())
            part_tokens.append("__bk")
        return self._write_dir(
            df, f"{'log' if log else 'data'}/{commit_dir}", part_tokens
        )

    def _write_dir(
        self, df: DataFrame, prefix: str, partition_by: list[str] = ()
    ) -> list[str]:
        """Write ``df`` as parquet into a fresh ``<prefix>-<uuid8>`` dir
        under the table root (hive-partitioned by ``partition_by``) and
        return the written files' table-relative paths, sorted. The
        prefix joins with "/", not ``os.path.join``: these paths are
        recorded in the MANIFEST, which must be byte-stable across host
        OSes."""
        out = fsio.join(self.path, f"{prefix}-{uuid.uuid4().hex[:8]}")
        writer = df.write.mode("error")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)
        return sorted(
            fsio.relpath(p, self.path)
            for p in fsio.walk_files(out, ".parquet")
        )

    def _index_fields(self, new_files: list[str]) -> dict:
        """The file-skipping index entries of ``new_files`` only, one
        dict per ``mf._INDEX_FIELDS`` name: footer stats (one pass
        each) plus, on ``bloom_index`` / ``bloom_columns`` tables, the
        blooms (one extra scan of just-written data). Carried files
        keep their entries through ``mf.next_commit``."""
        row_counts, col_stats = self._file_column_stats(new_files)
        key_ranges = {
            f: c["_hoodie_record_key"]
            for f, c in col_stats.items()
            if "_hoodie_record_key" in c
        }
        key_blooms: dict[str, str] = {}
        column_blooms: dict[str, dict[str, str]] = {}
        cols = (["_hoodie_record_key"] if self.bloom_index else []) + list(
            self.bloom_columns
        )
        if cols and new_files:
            from hudi_and_delta_showcase_spark.tables.bloom import (
                build_file_blooms,
            )

            wanted = set(new_files)
            root_path = fsio.uri_path(self.path)
            for col in cols:
                # blooms by the scan's FULL file path, not the basename:
                # a partitioned write reuses one task's part-file name
                # across every partition directory
                scan = self.spark.read.option("mergeSchema", "true").parquet(
                    *[fsio.join(self.path, f) for f in new_files]
                ).select(F.col("_metadata.file_path").alias("__fp"), col)
                # xxhash64 is TYPE-dependent, so each column bloom records
                # the hashed type beside the bitmap; the probe replays the
                # literal under each recorded type — blooms stay valid
                # across type-widening evolution (legacy narrow files
                # keep narrow-typed blooms, new wide files get wide ones)
                t_str = scan.schema[col].dataType.simpleString()
                for uri, b64 in build_file_blooms(
                    scan, key_col=col, file_col="__fp"
                ).items():
                    local = urllib.parse.unquote(
                        urllib.parse.urlparse(uri).path
                    )
                    rel = os.path.relpath(local, root_path)
                    if rel not in wanted:
                        continue
                    if col == "_hoodie_record_key":
                        key_blooms[rel] = b64
                    else:
                        column_blooms.setdefault(rel, {})[col] = [t_str, b64]
        return {
            "key_ranges": key_ranges,
            "col_stats": col_stats,
            "row_counts": row_counts,
            "key_blooms": key_blooms,
            "column_blooms": column_blooms,
        }

    def _file_column_stats(
        self, rel_files: list[str]
    ) -> tuple[dict[str, int], dict[str, dict[str, list]]]:
        """``({file: row count}, {file: {column: [min, max]}})`` of
        ``rel_files`` from one footer read each: the exact row counts
        (metadata-only COUNT(*)) and the column-stats index (Hudi
        col-stats / Delta data skipping) over the first 32 columns.
        Bounds record as ``dl._json_bound`` scalars, timestamps and
        dates as ISO-8601 strings (coerced back at compare time by
        ``_interval_can_match``'s temporal rule); other types, and
        every column of a file whose footer cannot be read, are left
        unindexed and scanned conservatively."""
        counts: dict[str, int] = {}
        out: dict[str, dict[str, list]] = {}
        for rel in rel_files:
            try:
                md = fsio.read_footer(fsio.resolve(self.path, rel))
            except (OSError, ValueError):
                continue
            counts[rel], bounds = fsio.footer_bounds(md, 32)
            per_col = {}
            for col, (lo, hi) in bounds.items():
                lo, hi = dl._json_bound(lo), dl._json_bound(hi)
                if lo is not None:
                    per_col[col] = [lo, hi]
            if per_col:
                out[rel] = per_col
        return counts, out

    def read_where(
        self,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned range read, the single-column form of
        ``read_matching``: ``[(col, "=", lo)]`` when ``lo == hi`` (the
        column blooms answer too), otherwise a ``>=`` / ``<=`` conjunct
        per non-None bound. Files whose footer [min, max] for ``col``
        cannot intersect [lo, hi] are skipped; after
        ``optimize(cluster_by=[col])`` a selective range reads
        O(matching files). ``col`` is the LOGICAL name."""
        if lo is not None and lo == hi:
            return self.read_matching([(col, "=", lo)], version)
        bounds = ((">=", lo), ("<=", hi))
        return self.read_matching(
            [(col, op, v) for op, v in bounds if v is not None], version
        )

    def _serve_pruned(self, commit: "mf.Commit", keep: list[str]):
        """Serve a pruned subset of ``commit``'s base files PHYSICALLY
        (caller applies exact filters, then ``_logical``), live DVs
        applied. MoR with outstanding logs merges the base against ALL
        logs (log rows are never pruned) — the `_rt` merge, see
        ``read_rt``. An empty keep set reads all base files' schema
        and no rows (zero files may have no schema to infer)."""
        base = (
            self._read_base(dataclasses.replace(commit, files=keep))
            if keep
            else self._read_base(commit).limit(0).filter(F.lit(False))
        )
        if not (self.table_type == MERGE_ON_READ and commit.log_files):
            return base
        log = self._read_parquet(commit.log_files, commit)
        df = base.unionByName(log, allowMissingColumns=True)
        w = Window.partitionBy(*self._resolution_cols()).orderBy(
            *[F.desc(c) for c in self._resolution_order()]
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _latest_rows(self, keys: DataFrame, cols: list[str]):
        """``cols`` (logical names) of the latest snapshot's rows whose
        ``keys.columns`` values appear in ``keys``, as an Arrow table:
        ``read()`` semi-joined to ``keys``, for a small key set. Base
        and log files are scanned in one job with the broadcast
        semi-join below the merge, so nothing is shuffled and only
        matching rows reach the driver; the `_rt` merge then keeps each
        key's latest row in Arrow, by ``_resolution_order`` like
        ``_serve_pruned``'s window. Every file is still scanned. The
        key columns must be resolution columns: a semi-join on any other
        column could keep an older row of a key and drop its latest."""
        import pyarrow as pa
        import pyarrow.compute as pc

        commit = self._commit(None)
        phys = {c: self._phys_name(c, commit) for c in [*keys.columns, *cols]}
        keys = keys.select(*[F.col(c).alias(phys[c]) for c in keys.columns])
        if not set(keys.columns) <= set(self._resolution_cols()):
            raise ValueError(
                f"probe keys {keys.columns} are not resolution columns "
                f"{self._resolution_cols()}"
            )
        df = self._read_base(commit)
        merge = self.table_type == MERGE_ON_READ and bool(commit.log_files)
        need = [phys[c] for c in cols]
        if merge:
            df = df.unionByName(
                self._read_parquet(commit.log_files, commit),
                allowMissingColumns=True,
            )
            need += self._resolution_cols() + self._resolution_order()
        rows = (
            df.join(F.broadcast(keys), keys.columns, "left_semi")
            .select(*dict.fromkeys(need))
            .toArrow()
        )
        if merge:
            rows = rows.take(pc.sort_indices(
                rows, [(c, "descending") for c in self._resolution_order()]
            ))
            rows = rows.append_column(
                "__i", pa.array(range(rows.num_rows), pa.int64())
            )
            first = rows.group_by(self._resolution_cols()).aggregate(
                [("__i", "min")]
            )
            rows = rows.take(first["__i_min"])
        return rows.select([phys[c] for c in cols]).rename_columns(cols)

    def read_matching(
        self, predicate, version: int | None = None
    ) -> DataFrame:
        """Multi-conjunct stats-pruned read (r10): the engine table's
        own leg of the predicate API every foreign reader takes —
        ``[(col, op, value), ...]`` tuples (op in =,<,<=,>,>=,in) or a
        conjunct-only SQL string. Files are skipped when ANY conjunct
        is provably disjoint with their footer [min, max] (driver-side
        against the commit's ``col_stats``); equality conjuncts
        additionally probe the per-column blooms where recorded; the
        exact filters (``_predicate_filter``: temporal literals are
        timezone-safe) land on the surviving scan for row-group
        skipping. ``read_where`` is the single-column form."""
        from hudi_and_delta_showcase_spark.tables.iceberg_meta import (
            _interval_can_match,
            _normalize_predicate,
            _predicate_filter,
        )

        commit = self._commit(version)
        conjuncts = _normalize_predicate(predicate)
        phys = [
            (self._phys_name(c, commit), op, v) for c, op, v in conjuncts
        ]
        keep = []
        for f in commit.files:
            ok = True
            for col, op, val in phys:
                rng = commit.col_stats.get(f, {}).get(col)
                if rng is None or rng[0] is None or rng[1] is None:
                    continue
                if not _interval_can_match(rng[0], rng[1], op, val):
                    ok = False
                    break
            if ok:
                keep.append(f)
        for col, op, val in phys:
            if op != "=" or not keep:
                continue
            by_type: dict[str, dict[str, str]] = {}
            for f in keep:
                ent = commit.column_blooms.get(f, {}).get(col)
                if ent is not None:
                    by_type.setdefault(ent[0], {})[f] = ent[1]
            if not by_type:
                continue
            from hudi_and_delta_showcase_spark.tables.bloom import (
                probe_blooms,
                typed_literal_df,
            )

            hits: set[str] = set()
            for t_str, blooms in by_type.items():
                keys_df = typed_literal_df(self.spark, col, val, t_str)
                hits |= probe_blooms(
                    self.spark, keys_df, blooms, key_col=col
                )
            keep = [
                f
                for f in keep
                if col not in commit.column_blooms.get(f, {}) or f in hits
            ]
        df = self._logical(self._serve_pruned(commit, keep), commit)
        return _predicate_filter(df, conjuncts)

    def metadata_agg(
        self,
        cols: list[str] | tuple = (),
        version: int | None = None,
        require_metadata_only: bool = False,
    ) -> DataFrame:
        """Metadata-only aggregation (Delta's OptimizeMetadataOnlyQuery /
        ``numRecords``-based COUNT): answer ``COUNT(*)`` and per-column
        ``MIN``/``MAX`` from the manifest's footer indexes with ZERO
        data-file IO — at 100 TB the difference between milliseconds of
        driver arithmetic and a full scan. Returns one row:
        ``count_rows`` then ``min_<col>``/``max_<col>`` per requested
        logical column, identically shaped on both paths.

        The metadata path is used only when it is provably EXACT:

        * no unmerged MoR log files (log rows add/overwrite),
        * every live file has a recorded footer row count,
        * min/max only for numeric/boolean columns (parquet writers may
          TRUNCATE string footer stats, which widens bounds — safe for
          skipping, wrong for answers) with stats on every non-empty
          live file, and only when no deletion vectors are live
          (removing rows can tighten a column's true min/max),
        * live deletion vectors reduce COUNT via their exact sidecar
          cardinality — an O(deleted rows) sidecar scan, never a data
          scan.

        Anything short of that falls back to one ordinary scan-side
        aggregate (or raises when ``require_metadata_only``), so
        callers always get the exact answer."""
        from pyspark.sql import types as Ty

        commit = self._commit(version)
        df = self.read(version)  # logical schema source + scan fallback
        numeric_ok = (
            Ty.ByteType, Ty.ShortType, Ty.IntegerType, Ty.LongType,
            Ty.FloatType, Ty.DoubleType, Ty.BooleanType,
        )
        reasons: list[str] = []
        if self.table_type == MERGE_ON_READ and commit.log_files:
            reasons.append("unmerged MoR log files")
        if any(f not in commit.row_counts for f in commit.files):
            reasons.append("live file(s) without a footer row count")
        # empty files can't carry column stats; they don't affect min/max
        stat_files = [
            f for f in commit.files if commit.row_counts.get(f, 1) != 0
        ]
        col_vals: dict[str, tuple] = {}
        for c in cols:
            phys = self._phys_name(c, commit)
            dt = df.schema[c].dataType
            if not isinstance(dt, numeric_ok):
                reasons.append(
                    f"{c}: {dt.simpleString()} footer stats may be "
                    "truncated; only numeric/boolean are exact"
                )
                continue
            if commit.dv_files:
                reasons.append(f"{c}: live deletion vectors")
                continue
            entries = [
                commit.col_stats.get(f, {}).get(phys) for f in stat_files
            ]
            if any(e is None for e in entries):
                reasons.append(f"{c}: live file(s) without footer stats")
            elif entries:
                col_vals[c] = (
                    min(e[0] for e in entries),
                    max(e[1] for e in entries),
                )
            else:
                col_vals[c] = (None, None)
        if not reasons:
            n = sum(commit.row_counts[f] for f in commit.files)
            if commit.dv_files and n:
                n -= sum(self._dv_counts(commit).values())
            schema = Ty.StructType(
                [Ty.StructField("count_rows", Ty.LongType(), False)]
                + [
                    fld
                    for c in cols
                    for fld in (
                        Ty.StructField(f"min_{c}", df.schema[c].dataType),
                        Ty.StructField(f"max_{c}", df.schema[c].dataType),
                    )
                ]
            )
            row = tuple([n] + [v for c in cols for v in col_vals[c]])
            return self.spark.createDataFrame([row], schema)
        if require_metadata_only:
            raise ValueError(
                "metadata-only aggregation is not exact here: "
                + "; ".join(reasons)
            )
        aggs = [F.count(F.lit(1)).cast("long").alias("count_rows")] + [
            a
            for c in cols
            for a in (F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}"))
        ]
        return df.agg(*aggs)

    def _write_record_index(
        self, new_files: list[str], version: int
    ) -> list[str]:
        """Record-level index maintenance (Hudi 1.0 record index): one
        extra scan of the just-written files emits skinny
        ``(_hoodie_record_key, file)`` rows — O(new rows) per commit,
        the same opt-in economics as the bloom tier. Entries for files
        that later die are filtered against the live set at probe time;
        commits that carry no file over reset the sidecar list."""
        if not self.record_index or not new_files:
            return []
        scan = self.spark.read.parquet(
            *[fsio.join(self.path, f) for f in new_files]
        ).select(
            F.col("_hoodie_record_key"), self._dv_file_col().alias("file")
        )
        return self._write_dir(scan, f"_index/ri-c{version:05d}")

    def _ri_scan(self, commit: mf.Commit) -> DataFrame:
        """The commit's record-index sidecar rows under their pinned
        ``(_hoodie_record_key string, file string)`` schema — no
        footer-inference job."""
        return self.spark.read.schema(
            "_hoodie_record_key string, file string"
        ).parquet(*[fsio.resolve(self.path, f) for f in commit.ri_files])

    def _probe_ri_hits(
        self,
        affected: list[str],
        prev: mf.Commit,
        stamped: DataFrame,
    ) -> tuple[list[str], list[str]]:
        """Exact key->file probe via the record index: scan the skinny
        index sidecar, semi-join it against the batch's broadcast keys,
        and keep only affected files that actually hold a batch key.
        The scan is O(index), the broadcast O(batch), the collected hit
        list O(files hit) — never O(table data). Unlike the range/bloom
        tiers this has no false positives from overlapping ranges, so
        it prunes even unclustered tables."""
        if len(affected) <= 1 or not prev.ri_files:
            return affected, []
        keys = stamped.select(F.col("_hoodie_record_key").alias("__k"))
        hits = {
            r.file
            for r in self._ri_scan(prev)
            .join(
                F.broadcast(keys),
                F.col("_hoodie_record_key") == F.col("__k"),
                "left_semi",
            )
            .select("file")
            .distinct()
            .collect()
        }
        hit = [f for f in affected if f in hits]
        return hit, [f for f in affected if f not in hits]

    def _rewrite_candidates(
        self, prev: mf.Commit, stamped: DataFrame, plan_rows
    ) -> tuple[list[str], list[str], dict[str, int]]:
        """(files to rewrite, files carried over, ``<tier>_skipped_files``
        counts) for a CoW upsert or delete of the ``stamped`` batch —
        or the files a point lookup of its keys must scan: the
        driver-side plan over ``plan_rows`` (see ``_plan_rows``), then
        the opt-in record-index and bloom probes over what the plan
        left."""
        affected, carried, skipped = self._plan_rewrite(prev, plan_rows)
        ri_missed: list[str] = []
        bloom_missed: list[str] = []
        if self.record_index:
            affected, ri_missed = self._probe_ri_hits(
                affected, prev, stamped
            )
        if self.bloom_index:
            affected, bloom_missed = self._probe_bloom_hits(
                affected, prev.key_blooms, stamped
            )
        skipped["record_index_skipped_files"] = len(ri_missed)
        skipped["bloom_skipped_files"] = len(bloom_missed)
        return affected, carried + ri_missed + bloom_missed, skipped

    def _plan_rows(self, stamped: DataFrame):
        """The planner's view of a batch as an Arrow table, collected in
        one job: each row's ``_hoodie_record_key``, its value of every
        live partition-spec column as the string its partition dir
        encodes, and its bucket id (``__bk``) on bucketed tables."""
        cols = [F.col("_hoodie_record_key")]
        if self.partition_by and not self.global_index:
            cols += [
                F.col(c).cast("string").alias(c)
                for c in dict.fromkeys(s for s in self.partition_specs if s)
                if c in stamped.columns
            ]
        if self.bucket_count:
            cols.append(self._bucket_expr().alias("__bk"))
        return stamped.select(*cols).toArrow()

    def _plan_rewrite(
        self, prev: mf.Commit, plan_rows
    ) -> tuple[list[str], list[str], dict[str, int]]:
        """Split ``prev.files`` into (files that can hold a batch key,
        files carried over, skipped counts per tier) on the driver —
        no Spark job. ``plan_rows`` is the Arrow table of
        ``_plan_rows``; keys stay in Arrow, sorted once per partition.
        Tiers, in order; a file a tier knows nothing about stays a
        candidate:

        * partition — a file written under spec column ``c`` (its own
          spec, see ``evolve_partitioning``) needs a batch row with its
          ``c`` value; null values match the hive default partition.
          A global index skips this tier: a key's old row may live in
          any partition.
        * bucket — the file's ``__bk=`` id is one of the batch's (when
          ``plan_rows`` carries ``__bk``).
        * key range — some batch key of the file's partition (every
          batch key when the file is not partition-matched) lies in the
          file's manifest [min, max], found by bisecting the sorted
          keys; a file whose recorded row count is 0 holds no key, and
          an empty batch has none to hold.
        """
        import pyarrow.compute as pc

        spec_cols = [
            c for c in plan_rows.column_names
            if c not in ("_hoodie_record_key", "__bk")
        ]
        key_col = plan_rows["_hoodie_record_key"].combine_chunks()
        all_keys = _SortedKeys(key_col.sort())
        part_keys: dict[tuple[str, str], _SortedKeys] = {}
        for c in spec_cols:
            # sort by (value, key) once: each value's keys are one run
            order = pc.sort_indices(
                plan_rows,
                [(c, "ascending"), ("_hoodie_record_key", "ascending")],
            )
            by_value = key_col.take(order)
            runs = pc.run_end_encode(
                plan_rows[c].combine_chunks().take(order)
            )
            start = 0
            for v, end in zip(
                runs.values.to_pylist(), runs.run_ends.to_pylist()
            ):
                v = HIVE_DEFAULT_PARTITION if v is None else v
                part_keys[(c, v)] = _SortedKeys(
                    by_value.slice(start, end - start)
                )
                start = end
        buckets = (
            set(plan_rows["__bk"].unique().to_pylist())
            if "__bk" in plan_rows.column_names else None
        )
        affected: list[str] = []
        carried: list[str] = []
        skipped = dict.fromkeys(
            ("partition_skipped_files", "bucket_skipped_files",
             "key_range_skipped_files"), 0,
        )

        def skip(f: str, tier: str) -> None:
            carried.append(f)
            skipped[f"{tier}_skipped_files"] += 1

        for f in prev.files:
            keys = all_keys
            idx, pv = self._partition_spec_value_of(f)
            if idx >= 0 and self.partition_specs[idx] in spec_cols:
                keys = part_keys.get((self.partition_specs[idx], pv))
                if keys is None:
                    skip(f, "partition")
                    continue
            if buckets is not None and self._bucket_of(f) not in (
                None, *buckets
            ):
                skip(f, "bucket")
                continue
            span = prev.key_ranges.get(f)
            if not keys or prev.row_counts.get(f) == 0 or (
                span is not None
                and bisect.bisect_left(keys, span[0])
                == bisect.bisect_right(keys, span[1])
            ):
                skip(f, "key_range")
                continue
            affected.append(f)
        return affected, carried, skipped

    def _probe_bloom_hits(
        self,
        affected: list[str],
        blooms: dict[str, str],
        stamped: DataFrame,
    ) -> tuple[list[str], list[str]]:
        """Bloom tier of file skipping: of the still-affected files,
        keep those whose key bloom claims at least one batch key.
        Applies where the range tier is weakest — overlapping key spans
        on unclustered tables. Files without a bloom are conservative
        hits; a skipped file is a DEFINITE miss (blooms have no false
        negatives), so correctness never depends on the filter."""
        if len(affected) <= 1:
            return affected, []
        with_bloom = {f: blooms[f] for f in affected if f in blooms}
        if not with_bloom:
            return affected, []
        from hudi_and_delta_showcase_spark.tables.bloom import probe_blooms

        hits = probe_blooms(self.spark, stamped, with_bloom)
        kept = [f for f in affected if f not in with_bloom or f in hits]
        skipped = [f for f in affected if f in with_bloom and f not in hits]
        return kept, skipped

    def _bucket_expr(self) -> F.Column:
        """The bucket id of each row: ``pmod(xxhash64(record_key), N)``
        — pure codegen arithmetic, identical on the write path, the
        upsert router and the point-lookup router."""
        return F.pmod(
            F.xxhash64(F.col("_hoodie_record_key")),
            F.lit(self.bucket_count),
        ).cast("int")

    def _bucket_of(self, rel_file: str) -> int | None:
        """Bucket id encoded in a file's ``__bk=`` dir, or None for
        files written before bucketing existed (conservative: such a
        file is a candidate for every batch)."""
        for seg in rel_file.split("/"):
            if seg.startswith("__bk="):
                try:
                    return int(seg[5:])
                except ValueError:
                    return None
        return None

    def _partition_spec_value_of(self, rel_file: str) -> tuple[int, str]:
        """(spec index, partition value) a file's path encodes: ``__pp=``
        is spec 0, ``__pp{i}=`` spec i (see ``evolve_partitioning``);
        adopted foreign layouts use the declared column's own
        ``col=value`` dir. Spec index -1 = no partition dir / unknown
        spec — such a file is NEVER partition-pruned (conservative)."""
        for seg in rel_file.split("/"):
            if "=" not in seg or seg.endswith(".parquet"):
                continue
            k, v = seg.split("=", 1)
            m = _PP_TOKEN_RE.match(k)
            if m:
                idx = int(m.group(1)) if m.group(1) else 0
                if idx >= len(self.partition_specs):
                    return (-1, "")  # foreign/newer token: conservative
                return (idx, urllib.parse.unquote(v))
            if k in self.partition_specs:
                return (
                    self.partition_specs.index(k),
                    urllib.parse.unquote(v),
                )
        return (-1, "")

    #: allowed type widenings (Delta ``typeWidening`` lattice, the
    #: subset parquet scans can upcast natively): integer chain,
    #: float->double, integers->double.
    _WIDEN = {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"), ("int", "bigint"),
        ("float", "double"),
        ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
    }

    def _reconcile_schema(self, source: DataFrame, prev: mf.Commit):
        """Type-widening schema evolution (Delta ``typeWidening``):
        reconcile the incoming batch's types with the table's.

        * source column WIDER than the table's (e.g. bigint vs int):
          the table schema widens — a METADATA-only change recorded in
          the commit's ``table_schema``; legacy narrow files are
          upcast at scan time, zero files rewritten.
        * source column NARROWER: the batch upcasts on write (the
          normal case — new data fits the table type).
        * anything else mismatched: refused loudly; silent coercion
          between e.g. string and int is how tables rot.

        Returns (possibly-cast source, table_schema JSON for the new
        commit). Tables carry their schema from create() (Delta's
        metaData action), so reconciliation is a pure metadata
        comparison; only LEGACY tables (created before schemas rode in
        commits) pay a one-off mergeSchema footer sweep per upsert, and
        only until their first widening records one.
        """
        cur = self._commit_schema(prev)
        if cur is None:
            if not prev.files and not prev.log_files:
                return source, prev.table_schema
            cur = self.spark.read.option("mergeSchema", "true").parquet(
                *[fsio.resolve(self.path, f)
                  for f in prev.files + prev.log_files]
            ).schema
        fields = {f.name: f.dataType for f in cur.fields}
        tombstoned = {
            p
            for p, logical in prev.column_mapping.items()
            if str(logical).startswith("__dropped_")
        }
        widened = False
        for f in source.schema.fields:
            if f.name in tombstoned:
                raise ValueError(
                    f"column {f.name!r} was dropped; re-introduce it "
                    f"under a new name (old file data must not "
                    f"resurrect)"
                )
            have = fields.get(f.name)
            if have is None:
                fields[f.name] = f.dataType  # additive evolution
            elif have != f.dataType:
                pair = (have.simpleString(), f.dataType.simpleString())
                if pair in self._WIDEN:
                    fields[f.name] = f.dataType
                    widened = True
                elif (pair[1], pair[0]) in self._WIDEN:
                    source = source.withColumn(
                        f.name, F.col(f.name).cast(have)
                    )
                else:
                    raise ValueError(
                        f"incompatible type for column {f.name!r}: table "
                        f"has {have.simpleString()}, batch has "
                        f"{f.dataType.simpleString()} (not a supported "
                        f"widening)"
                    )
        if not widened and not prev.table_schema:
            return source, ""  # feature not activated: keep inference
        from pyspark.sql.types import StructField, StructType

        out = StructType(
            [StructField(n, t, True) for n, t in fields.items()]
        )
        return source, json.dumps(out.jsonValue())

    def _commit_schema(self, commit: mf.Commit | None):
        """The explicit read schema a commit carries once type widening
        activated (``table_schema``), else None (infer + mergeSchema)."""
        if commit is None or not commit.table_schema:
            return None
        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(commit.table_schema))

    def _read_parquet(
        self, rel_files: list[str], commit: mf.Commit | None = None
    ) -> DataFrame:
        paths = [fsio.resolve(self.path, f) for f in rel_files]
        schema = self._commit_schema(commit)
        if schema is not None:
            # type-widened table: declare the current schema so legacy
            # narrow files (int32/float) upcast at scan time — exactly
            # how Delta reads under the typeWidening feature. mergeSchema
            # would refuse to merge int with bigint.
            df = self.spark.read.schema(schema).parquet(*paths)
            return self._repair_meta(df).withColumn(
                "_hoodie_file_name", F.col("_metadata.file_name")
            )
        # mergeSchema: files may span commits with (additively) evolved
        # schemas
        df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
        # _hoodie_file_name from the scan's native _metadata column, NOT
        # input_file_name(): the latter is non-deterministic, and a
        # Project containing it BLOCKS predicate pushdown into the scan
        # (turning incremental pulls / point lookups into full scans at
        # 100 TB — caught by test_incremental_pull_pushes_commit_time_filter).
        return self._repair_meta(df).withColumn(
            "_hoodie_file_name", F.col("_metadata.file_name")
        )

    @property
    def _convert_time(self) -> str | None:
        """Commit time of an in-place CONVERT (version 0 with action
        'convert'), or None for normally-created tables. Cached — one
        tiny metadata read per table handle."""
        if not hasattr(self, "__convert_time"):
            try:
                v0 = mf.read_commit(self.path, 0)
                ct = v0.commit_time if v0.action == "convert" else None
            except FileNotFoundError:
                ct = None
            setattr(self, "__convert_time", ct)
        return getattr(self, "__convert_time")

    def _repair_meta(self, df: DataFrame) -> DataFrame:
        """Derive the Hudi meta columns AT SCAN TIME for files imported
        by ``convert`` (which are left byte-identical on disk and carry
        no meta columns). They are pure derivations: the record key from
        the key columns, the commit time from the convert commit. Rows
        from normally-written files keep their stored values
        (coalesce); tables never converted skip this entirely — zero
        overhead on the normal path."""
        if self._convert_time is None:
            return df
        # adopted files were laid out under the ORIGINAL spec — after a
        # partition evolution that column is partition_specs[0], not
        # partition_by.
        adopted_col = self.partition_specs[0]
        adopted = []
        if adopted_col and self.adopted_partition_type:
            adopted.append((adopted_col, self.adopted_partition_type))
        adopted.extend(self.adopted_extra_partitions.items())
        for col, ptype in adopted:
            # adopted hive layout: the partition column(s) live only in
            # the PATHS of adopted files — derive them from the scan's
            # native _metadata.file_path (stays inside codegen, no
            # per-partition union of scans). Engine-written files carry
            # the real columns; coalesce keeps their stored values.
            import re as _re

            seg = F.regexp_extract(
                F.col("_metadata.file_path"),
                f"/{_re.escape(col)}=([^/]+)/",
                1,
            )
            val = F.when(seg == "", F.lit(None)).otherwise(F.url_decode(seg))
            val = (
                F.when(val == HIVE_DEFAULT_PARTITION, F.lit(None))
                .otherwise(val)
                .cast(ptype)
            )
            if col in df.columns:
                df = df.withColumn(col, F.coalesce(F.col(col), val))
            else:
                df = df.withColumn(col, val)
        key = F.concat_ws(
            "|", *[F.col(k).cast("string") for k in self.key_cols]
        )
        pp = (
            F.col(self.partition_by).cast("string")
            if self.partition_by and self.partition_by in df.columns
            else F.lit("")
        )
        # adopted files following Hudi's file-group naming convention
        # (<fileId>_<writeToken>_<instant>.parquet) keep their SLICE
        # instant — an adopted MoR table's log rows (stamped with their
        # delta commit instant) must outrank base rows in the _rt merge,
        # and the convert time (now) would outrank everything. Files
        # without the convention (plain hive parquet) fall back to the
        # convert commit time, as before. Anchored on the FULL
        # convention — writeToken digits included — so a plain-hive
        # dump that merely ends in a timestamp-like digit run
        # (events_20240101123045.parquet) is NOT mistaken for a file
        # group (r8, r7-advice #3).
        name_instant = F.regexp_extract(
            F.col("_metadata.file_name"),
            r"_\d+-\d+-\d+_(\d{14,17})\.parquet$", 1,
        )
        ct = F.when(name_instant != "", name_instant).otherwise(
            F.lit(self._convert_time)
        )
        derived = {
            "_hoodie_commit_time": ct,
            "_hoodie_commit_seqno": F.concat_ws("_", ct, key),
            "_hoodie_record_key": key,
            "_hoodie_partition_path": pp,
        }
        for name, expr in derived.items():
            if name not in df.columns:
                df = df.withColumn(name, expr)
            else:
                df = df.withColumn(name, F.coalesce(F.col(name), expr))
        return df

    def _dv_file_col(self):
        """Table-RELATIVE file path of each scanned row, from the native
        ``_metadata.file_path`` URI. The bare ``_metadata.file_name``
        is NOT unique here: with ``partitionBy`` one write task emits
        identically-named part files into every partition dir it sees.
        Computing the relative path against the CURRENT table root on
        both the write and read side also keeps DVs valid if the table
        directory is relocated. The marker is the table root's PATH
        component (scheme/authority stripped): ``_metadata.file_path``
        reports a normalized URI whose scheme form may differ from the
        configured root (``file:///x`` vs ``file:/x``), but the path
        component is stable across both."""
        return F.substring_index(
            F.col("_metadata.file_path"), fsio.uri_path(self.path) + "/", -1
        )

    def _dv_rows(self, commit: mf.Commit) -> DataFrame:
        """The commit's DV sidecar rows. Sidecars are engine-written
        with exactly ``(file_name string, pos long)``: the pinned
        schema spares Spark's footer-inference job on every read."""
        return self.spark.read.schema("file_name string, pos long").parquet(
            *[fsio.resolve(self.path, f) for f in commit.dv_files]
        )

    def _dv_counts(self, commit: mf.Commit) -> dict[str, int]:
        """Rows the commit's deletion vectors remove from each LIVE
        file (what its footer row count overstates): distinct
        positions, O(deleted rows) in, O(files) out."""
        live = set(commit.files)
        return {
            r["file_name"]: r["n"]
            for r in self._dv_rows(commit)
            .groupBy("file_name")
            .agg(F.count_distinct("pos").alias("n"))
            .collect()
            if r["file_name"] in live
        }

    def _apply_dvs(self, df: DataFrame, commit: mf.Commit) -> DataFrame:
        """Filter out rows marked deleted by the commit's deletion
        vectors: anti-join the scan's native (relative file path,
        ``_metadata.row_index``) against the DV sidecar ``(file_name,
        pos)`` rows. The DV side is a parquet scan with known size
        stats, so Catalyst broadcasts it while it is small (the normal
        case — deleted rows, not table rows) and AQE falls back to a
        shuffle join if a table accumulates huge vectors; either way
        the base scan itself is untouched: pushdown, pruning, and
        row-group skipping all still apply. DV entries naming files no
        longer in the live set simply never match."""
        if not commit.dv_files:
            return df
        dv = self._dv_rows(commit)
        return (
            df.withColumn("__dv_file", self._dv_file_col())
            .withColumn("__dv_pos", F.col("_metadata.row_index"))
            .join(
                dv,
                (F.col("__dv_file") == dv["file_name"])
                & (F.col("__dv_pos") == dv["pos"]),
                "left_anti",
            )
            .drop("__dv_file", "__dv_pos")
        )

    def _classify_upsert_cdc(
        self,
        target: DataFrame,
        stamped: DataFrame,
        version: int,
        commit_time: str,
    ) -> list[str]:
        """Split an upsert batch into CDF rows: ``target`` rows whose
        key matches the batch are update pre-images; batch rows are
        update post-images when a pre-image shares their key, else
        inserts. One broadcast of the batch's DISTINCT keys finds the
        pre-images; the post/insert split is a window over the union's
        keys (r8) — O(changes) rows through one hash exchange instead
        of a second broadcast build+probe, one fewer job per CDC
        commit. O(changes) total, never O(table)."""
        from pyspark.sql import Window

        keys = self._resolution_cols()
        source_keys = F.broadcast(stamped.select(*keys).distinct().alias("s"))
        pre = target.alias("t").join(source_keys, key_match(keys), "left_semi")
        tagged = pre.withColumn("__cdc_src", F.lit("t")).unionByName(
            stamped.withColumn("__cdc_src", F.lit("s")),
            allowMissingColumns=True,
        )
        # window partitioning groups null keys together — the same
        # null-safe match discipline as the eqNullSafe probes
        n_pre = F.sum(
            F.when(F.col("__cdc_src") == "t", 1).otherwise(0)
        ).over(Window.partitionBy(*keys))
        classified = tagged.withColumn(
            "_change_type",
            F.when(F.col("__cdc_src") == "t", F.lit("update_preimage"))
            .when(n_pre > 0, F.lit("update_postimage"))
            .otherwise(F.lit("insert")),
        ).drop("__cdc_src")
        return self._write_cdc_files(classified, version, commit_time)

    def _write_cdc_files(
        self, changes: DataFrame, version: int, commit_time: str
    ) -> list[str]:
        """Write a commit's change-data-feed sidecar (Delta CDF change
        files): full row images + ``_change_type``, stamped with the
        commit version/instant so ``read_changes`` needs no join."""
        if "_hoodie_file_name" in changes.columns:
            changes = changes.drop("_hoodie_file_name")
        changes = changes.withColumn(
            "_commit_version", F.lit(version)
        ).withColumn("_cdc_commit_time", F.lit(commit_time))
        return self._write_dir(changes, f"cdc/c{version:05d}")

    def read_changes(
        self, begin_version: int = 0, end_version: int | None = None
    ) -> DataFrame:
        """Change data feed (Delta ``table_changes`` / Hudi CDC query):
        every row-level change committed in versions ``[begin_version,
        end_version]`` with ``_change_type`` in {insert,
        update_preimage, update_postimage, delete}, plus the commit
        version/instant. Pre-images make downstream RETRACTION possible
        — incremental aggregate maintenance subtracts the pre-image and
        adds the post-image instead of rescanning the table.

        Reads ONLY the O(changes) sidecar files of the requested
        commits; file re-org commits (compact/optimize/restore)
        contribute nothing, exactly like Delta CDF. ADD-ONLY commits
        (bulk insert, upsert that matched no existing key) carry no
        sidecar at all — their insert images are synthesized here from
        the commit's own new data files (Delta CDF's exact rule), so a
        CDC-enabled load never writes its batch twice (r7)."""
        if not self.cdc_enabled:
            raise ValueError(
                "change data feed requires cdc_enabled=True at create()"
            )
        end = (
            self._commit(None).version
            if end_version is None
            else end_version
        )
        files: list[str] = []
        parts: list[DataFrame] = []
        prior_files: set[str] = set()
        for v in mf.list_versions(self.path):
            if v > end:
                break
            c = mf.read_commit(self.path, v)
            if v >= begin_version:
                files.extend(c.cdc_files)
                if c.stats.get("cdc_add_only"):
                    new = [f for f in c.files if f not in prior_files]
                    if new:
                        parts.append(
                            self._read_parquet(new, c)
                            .drop("_hoodie_file_name")
                            .withColumn("_change_type", F.lit("insert"))
                            .withColumn("_commit_version", F.lit(v))
                            .withColumn(
                                "_cdc_commit_time", F.lit(c.commit_time)
                            )
                        )
            prior_files = set(c.files)
        if files:
            paths = [fsio.resolve(self.path, f) for f in files]
            # pin the sidecar schema when the table records one (r14
            # opt): CDC files carry the stamped data schema plus the
            # three CDF columns; older files from before an additive
            # evolution read null for new columns exactly as
            # mergeSchema would, and legacy narrow files upcast under
            # a widened schema natively. Tables without a recorded
            # schema (legacy/converted) keep the mergeSchema sweep.
            pinned = self._commit_schema(self._commit(end))
            if pinned is not None:
                from pyspark.sql.types import (
                    IntegerType,
                    StringType,
                    StructField,
                    StructType,
                )

                pinned = StructType(
                    [
                        f
                        for f in pinned.fields
                        if f.name != "_hoodie_file_name"
                    ]
                    + [
                        StructField("_change_type", StringType(), True),
                        StructField("_commit_version", IntegerType(), True),
                        StructField("_cdc_commit_time", StringType(), True),
                    ]
                )
                parts.append(self.spark.read.schema(pinned).parquet(*paths))
            else:
                parts.append(
                    self.spark.read.option("mergeSchema", "true").parquet(
                        *paths
                    )
                )
        if not parts:
            raise ValueError(
                f"no change files in versions [{begin_version}, {end}]"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return self._logical(out, self._commit(end))

    def _write_dv_files(self, hits: DataFrame, commit_dir: str) -> list[str]:
        """Write ``(file_name, pos)`` rows as a DV sidecar under dv/."""
        return self._write_dir(hits, f"dv/{commit_dir}")

    def _read_base(self, commit: mf.Commit) -> DataFrame:
        return self._apply_dvs(self._read_parquet(commit.files, commit), commit)


def maintenance_plan(
    table: LakehouseTable,
    max_log_files: int = 8,
    max_unclustered_fraction: float = 0.3,
    retain_versions: int = 10,
) -> dict:
    """Hudi table-services style advisor: inspect the latest commit and
    recommend which maintenance actions pay for themselves right now.
    Pure metadata — O(commits) driver work, no Spark job — so it can run
    on every ingest cycle; ``run_maintenance`` executes the plan.

    * ``compact``   — MoR log files outstanding >= ``max_log_files``
      (each `_rt` read pays a window merge over all of them).
    * ``cluster``   — a clustering spec was established by a previous
      ``optimize`` and more than ``max_unclustered_fraction`` of live
      files arrived after the last clustering generation (incremental
      restack is O(those files)).
    * ``vacuum``    — more than ``retain_versions`` versions on the
      timeline (dead files beyond retention keep disk + confuse
      restores; savepointed versions survive regardless).
    """
    prev = table._commit(None)
    plan: dict = {"compact": False, "cluster": None, "vacuum": False}
    if table.table_type == MERGE_ON_READ and len(prev.log_files) >= max_log_files:
        plan["compact"] = True
    spec_key, spec, clustered, _ = table._clustering()
    if spec and prev.files:
        stale = [f for f in prev.files if f not in clustered]
        if len(stale) / len(prev.files) > max_unclustered_fraction:
            # optimize() records the spec under PHYSICAL names; resolve
            # to logical here so run_maintenance can hand them back to
            # optimize(), which maps logical->physical — otherwise a
            # post-optimize rename could cluster the wrong column.
            logical = [
                prev.column_mapping.get(c, c) for c in spec.split(",")
            ]
            plan["cluster"] = {
                "mode": "incremental",
                ("zorder_by" if spec_key == "zorder_spec" else "cluster_by"):
                    logical,
                "stale_files": len(stale),
            }
    if len(mf.list_versions(table.path)) > retain_versions:
        plan["vacuum"] = True
    return plan


def run_maintenance(table: LakehouseTable, plan: dict | None = None,
                    retain_versions: int = 10) -> dict:
    """Execute a ``maintenance_plan`` (or compute one): compaction
    first (folds logs into indexed base files), then incremental
    clustering (restacks the arrivals), then vacuum (collects what the
    previous steps orphaned beyond retention). Returns what ran."""
    plan = plan or maintenance_plan(table, retain_versions=retain_versions)
    ran: dict = {}
    if plan.get("compact"):
        ran["compact"] = table.compact().version
    if plan.get("cluster"):
        spec = dict(plan["cluster"])
        spec.pop("stale_files", None)
        spec.pop("mode", None)
        ran["cluster"] = table.optimize(incremental=True, **spec).version
    if plan.get("vacuum"):
        ran["vacuum"] = table.vacuum(retain_versions=retain_versions)
    return ran
