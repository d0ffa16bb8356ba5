"""Commit-log manifests: the engine's MVCC substrate (SURVEY.md C7).

Plays the role of Hudi's ``.hoodie`` timeline / Delta's ``_delta_log``
(/root/reference/README.md:334,1235): every commit is a JSON file
describing the table's live base files and log files after that commit,
giving snapshot isolation + time travel ("the delta log has information
regarding the schema and the latest files after each commit",
README.md:1235).

On-disk format (Delta-style incremental actions + checkpoints): commit
``v > 0`` stores only the DELTA against commit ``v-1`` — files/log
files/DVs added and removed, per-file index entries set and unset,
transaction-watermark and column-mapping upserts — so a commit is
O(changed files), never O(table files). Every ``CHECKPOINT_INTERVAL``
commits a full snapshot checkpoint (``{v}.checkpoint.json``) is written
beside the delta and ``_last_checkpoint`` is updated (exactly Delta's
``_delta_log`` contract), bounding snapshot resolution to replaying at
most ``CHECKPOINT_INTERVAL`` tiny JSON deltas from the nearest
checkpoint. Version 0 is inherently a full snapshot. The in-process
API is unchanged: callers hand ``append_commit`` a full ``Commit``
and get full ``Commit`` snapshots back from ``read_commit`` — the
delta encoding is invisible above this module. Pre-checkpointing
tables (full snapshot per commit) read back transparently.

Derivation: every commit is built by ``next_commit`` from its parent
(version 0 from the empty table, ``prev=None``), so this module alone
decides which fields are cumulative state (carried over unless a
writer changes them) and which are per-commit (``stats``,
``cdc_files``, ``commit_time``). The per-file index entries
(``_INDEX_FIELDS``) are restricted to the commit's live ``files``: an
entry naming a rewritten or vanished file never outlives it.

Scale: at 100 TB / millions of files the old full-list-per-commit
design made every commit O(table); here steady-state commit IO is
O(delta) + one O(table-files) checkpoint per ``CHECKPOINT_INTERVAL``
commits, amortizing to Delta's cost model. Replay states are memoized
per (path, version, file identity) so repeated snapshot resolution —
history scans, time travel, streaming instant resolution — reads each
delta once per process.

Atomicity: commit files are PUBLISHED PUT-IF-ABSENT through the
pluggable commit coordinator (``fsio.publish_exclusive`` /
``fsio.set_commit_coordinator`` — POSIX hard-link locally, temp +
exclusive FileContext rename on HDFS, conditional create on object
stores, or an external lock table), so two genuinely concurrent
writers racing for the same version get exactly one winner and the
loser a ``concurrent write detected`` error that feeds the OCC rebase
loop; readers never see a torn commit. Defense in depth for misdeployed
backends: readers retry-then-flag unparseable commit files
(``_read_json_record``) and writers quarantine stale wreckage
(``_quarantine_if_torn``) so a crashed publish can never permanently
wedge a version. All metadata IO routes through ``fsio``: plain-path
tables keep the zero-overhead POSIX fast path, while ``scheme://``
table roots (gs/s3a/hdfs/file) use the active SparkSession's Hadoop
connectors — the reference's own deployment keeps this log-equivalent
on GCS (/root/reference/README.md:1170-1181).
"""

from __future__ import annotations

import copy
import dataclasses
import json
import time
import uuid
from dataclasses import asdict, dataclass, field

from hudi_and_delta_showcase_spark.tables import fsio


@dataclass
class Commit:
    version: int
    action: str  # insert|upsert|delete|compact|optimize|overwrite|restore
    commit_time: str  # Hudi-style yyyyMMddHHmmssSSS (README.md:470)
    files: list[str] = field(default_factory=list)  # live base files (relative)
    log_files: list[str] = field(default_factory=list)  # MoR log files (relative)
    stats: dict = field(default_factory=dict)
    #: per-file [min, max] of ``_hoodie_record_key`` (parquet footer
    #: stats) — the key-level file-skipping index (Hudi BLOOM/SIMPLE
    #: index's range pruning tier). Absent entries mean "unknown range"
    #: and are treated as always-matching (conservative rewrite).
    key_ranges: dict = field(default_factory=dict)
    #: per-file {column: [min, max]} for scalar data columns — the
    #: column-stats index behind ``read_where`` data skipping (Delta
    #: stats / Hudi col-stats-index role). Same conservative contract.
    col_stats: dict = field(default_factory=dict)
    #: per-file EXACT row counts from the parquet footer (Delta's
    #: per-AddFile ``numRecords``) — the input to metadata-only
    #: aggregation (``LakehouseTable.metadata_agg``): COUNT(*) answered
    #: from the manifest with zero data IO. Absent entries mean
    #: "unknown" and force the scan fallback for count queries.
    row_counts: dict = field(default_factory=dict)
    #: per-file key bloom bitmaps (base64) — the third skipping tier
    #: (Hudi BLOOM index), built only for tables created with
    #: ``bloom_index=True``. Prunes candidate files even when key
    #: ranges fully overlap (unclustered tables). Absent entries are
    #: conservatively treated as hits.
    key_blooms: dict = field(default_factory=dict)
    #: per-file, per-column bloom bitmaps (base64) for NON-key data
    #: columns (Delta's ``delta.bloomFilter.enabled`` column indexes /
    #: Hudi's any-column bloom tier): ``{file: {physical_col: b64}}``,
    #: built only for columns named in the table's ``bloom_columns``
    #: meta. Serves EQUALITY lookups on unclustered columns where
    #: min/max ranges fully overlap. Same conservative contract as
    #: ``key_blooms``: trusted to SKIP, absent entries always hit.
    column_blooms: dict = field(default_factory=dict)
    #: change-data-feed sidecar files for THIS commit (Delta CDF change
    #: files / Hudi CDC supplemental log) — post-images + change types,
    #: O(changes) extra write IO, written only when the table has
    #: ``cdc_enabled``. Empty for file re-org commits.
    cdc_files: list[str] = field(default_factory=list)
    #: deletion-vector sidecar files (Delta deletion vectors / Iceberg
    #: position deletes): parquet rows ``(file_name, pos)`` — table-
    #: relative file path + row position — marking rows of live base
    #: files as deleted WITHOUT rewriting them. Cumulative — the full DV
    #: set as of this commit; readers anti-join it against the scan's
    #: native (relative ``_metadata.file_path``, ``row_index``). Reset
    #: to empty by file-rewriting commits (compact/optimize), which
    #: materialize the deletes.
    dv_files: list[str] = field(default_factory=list)
    #: idempotent-writer watermarks (Delta SetTransaction /
    #: ``txnAppId``+``txnVersion``): app id -> highest transaction
    #: version already applied. Carried cumulatively on every commit so
    #: a streaming writer replaying a micro-batch after a crash (commit
    #: landed, checkpoint didn't) sees its own watermark IN the same
    #: atomic record and skips — exactly-once at the commit level.
    txn: dict = field(default_factory=dict)
    #: record-level-index sidecar parquet files (Hudi 1.0 record index
    #: in the metadata table): rows ``(_hoodie_record_key, file)`` for
    #: every base file written since the last full rewrite, cumulative.
    #: Entries naming dead files are filtered against the live-file set
    #: at resolution time; rewrites that carry no file over (compact,
    #: full optimize, any rewrite of every live file) reset the list to
    #: their own output's index. Only present on
    #: tables created with ``record_index=True``.
    ri_files: list[str] = field(default_factory=list)
    #: the table's current PHYSICAL read schema as StructType JSON —
    #: set once a type-widening schema evolution occurs (Delta's
    #: ``typeWidening`` table feature). Empty = infer from file footers
    #: (mergeSchema), the pre-widening behavior. Reads under a set
    #: schema upcast narrow legacy files (int->bigint, float->double)
    #: at scan time; time travel to a pre-widening version reads the
    #: narrow schema recorded (or inferred) for that version.
    table_schema: str = ""
    #: column mapping (Delta ``delta.columnMapping.mode=name``):
    #: physical (on-disk) column name -> current logical name, only
    #: where they differ. RENAME COLUMN is a metadata-only commit that
    #: updates this map — zero files rewritten — and because the map
    #: lives in the commit record, time travel to a pre-rename version
    #: sees the old name. Reads rename physical->logical at the public
    #: boundary; writes rename logical->physical on entry.
    column_mapping: dict = field(default_factory=dict)


def commits_dir(table_path: str) -> str:
    return fsio.join(table_path, "_commits")


_last_instant_ms = [0]


def make_commit_time() -> str:
    """Wall-clock ms formatted like a Hudi instant time — STRICTLY
    monotonic within this writer process: rapid successive commits may
    land in the same millisecond, and commit-order resolution (MoR `_rt`
    merge) must never depend on a clock tie."""
    t_ms = int(time.time() * 1000)
    if t_ms <= _last_instant_ms[0]:
        t_ms = _last_instant_ms[0] + 1
    _last_instant_ms[0] = t_ms
    return (
        time.strftime("%Y%m%d%H%M%S", time.gmtime(t_ms / 1000))
        + f"{t_ms % 1000:03d}"
    )


#: Full-snapshot checkpoint cadence (Delta writes one every 10 commits).
CHECKPOINT_INTERVAL = 10

#: list-valued Commit fields delta-encoded as <name>_add / <name>_remove.
#: ``cdc_files`` is NOT here: it is per-commit (this commit's change
#: files), not cumulative state, so deltas carry it verbatim.
_LIST_FIELDS = ("files", "log_files", "dv_files", "ri_files")
#: per-file index dicts, keyed by a live base file of ``files``.
_INDEX_FIELDS = (
    "key_ranges",
    "col_stats",
    "row_counts",
    "key_blooms",
    "column_blooms",
)
#: dict-valued Commit fields delta-encoded as <name>_set / <name>_unset.
_DICT_FIELDS = (*_INDEX_FIELDS, "txn", "column_mapping")


def next_commit(
    prev: Commit | None, action: str, stats: dict, **changes
) -> Commit:
    """The commit following ``prev``: every field carries over from
    ``prev`` unless given in ``changes``, except the per-commit ones
    (``commit_time`` defaults to now, ``cdc_files`` to none). The
    per-file index entries are then restricted to the new ``files``.
    ``prev=None`` is the empty table, so its successor is version 0
    holding only what ``changes`` gives."""
    if "commit_time" not in changes:
        changes["commit_time"] = make_commit_time()
    changes.setdefault("cdc_files", [])
    if prev is None:
        prev = Commit(version=-1, action="", commit_time="")
    commit = dataclasses.replace(
        prev, version=prev.version + 1, action=action, stats=stats, **changes
    )
    live = set(commit.files)
    for name in _INDEX_FIELDS:
        index = getattr(commit, name)
        setattr(commit, name, {f: v for f, v in index.items() if f in live})
    return commit


def list_versions(table_path: str) -> list[int]:
    d = commits_dir(table_path)
    if not fsio.isdir(d):
        return []
    return sorted(
        int(f.split(".")[0])
        for f in fsio.listdir(d)
        if f.endswith(".json")
        and not f.endswith(".checkpoint.json")
        and not f.endswith(".tmp")
    )


def _commit_delta(parent: Commit, commit: Commit) -> dict:
    """Delta-encode ``commit`` against its parent snapshot. Order-
    preserving for list fields: reconstruction keeps parent order minus
    removals, then appends adds — so file-list order survives the
    round-trip bit-for-bit."""
    rec: dict = {
        "delta": True,
        "version": commit.version,
        "action": commit.action,
        "commit_time": commit.commit_time,
        "stats": commit.stats,
        "cdc_files": commit.cdc_files,
        # schema is cumulative state: record it only when THIS commit
        # changed it, so a rebase inherits a winner's widening instead
        # of silently regressing it
        "table_schema_set": (
            commit.table_schema
            if commit.table_schema != parent.table_schema
            else None
        ),
    }
    for name in _LIST_FIELDS:
        old, new = getattr(parent, name), getattr(commit, name)
        old_set, new_set = set(old), set(new)
        rec[f"{name}_add"] = [f for f in new if f not in old_set]
        rec[f"{name}_remove"] = [f for f in old if f not in new_set]
    for name in _DICT_FIELDS:
        old, new = getattr(parent, name), getattr(commit, name)
        rec[f"{name}_set"] = {k: v for k, v in new.items() if old.get(k) != v}
        rec[f"{name}_unset"] = [k for k in old if k not in new]
    return rec


def _apply_delta(parent: Commit, rec: dict) -> Commit:
    """Replay one delta record onto the parent snapshot -> full Commit."""
    kwargs: dict = {
        "version": rec["version"],
        "action": rec["action"],
        "commit_time": rec["commit_time"],
        "stats": rec.get("stats", {}),
        "cdc_files": list(rec.get("cdc_files", [])),
    }
    schema_set = rec.get("table_schema_set")
    kwargs["table_schema"] = (
        schema_set if schema_set is not None else parent.table_schema
    )
    for name in _LIST_FIELDS:
        remove = set(rec.get(f"{name}_remove", ()))
        kept = [f for f in getattr(parent, name) if f not in remove]
        kwargs[name] = kept + list(rec.get(f"{name}_add", ()))
    for name in _DICT_FIELDS:
        merged = dict(getattr(parent, name))
        for k in rec.get(f"{name}_unset", ()):
            merged.pop(k, None)
        merged.update(rec.get(f"{name}_set", {}))
        kwargs[name] = merged
    return Commit(**kwargs)


def _file_identity(path: str) -> tuple:
    return fsio.stat_identity(path)


#: (abs table path, version, commit-file identity) -> full Commit.
#: Commit files are immutable once written (append_commit refuses to
#: overwrite), so memoized replay states stay valid; the file-identity
#: component guards the rare same-path-recreated case in tests. Bounded
#: FIFO: long-lived processes touching many (temp) tables would
#: otherwise retain every dead snapshot — file lists, key ranges, bloom
#: blobs — for process lifetime.
_snapshot_cache: dict[tuple, Commit] = {}
_SNAPSHOT_CACHE_MAX = 2048


def _read_json_record(path: str) -> dict:
    """Parse a commit/checkpoint JSON file, retrying briefly on a torn
    read (empty/partial bytes): on backends whose publish is not
    single-shot-atomic a reader can catch a commit mid-write; the
    retries outlast any realistic in-flight window, after which the
    file is declared torn with a pointer at the quarantine recovery
    (``_quarantine_if_torn`` runs from the next writer's publish)."""
    for i in range(3):
        try:
            return json.loads(fsio.read_text(path))
        except (ValueError, UnicodeDecodeError):
            if i < 2:
                time.sleep(0.1)
    raise RuntimeError(
        f"torn commit file {path!r}: not parseable as JSON after "
        "retries — a writer crashed mid-publish on a backend without "
        "an atomic publish primitive; the next commit attempt will "
        "quarantine it (see TORN_COMMIT_GRACE_SECONDS)"
    )


def read_commit(table_path: str, version: int) -> Commit:
    """Full snapshot of the table state as of ``version``.

    Resolution order: exact checkpoint file if one exists, else read the
    version's record — a full snapshot returns directly; a delta record
    recursively resolves ``version - 1`` (memoized, and bounded by the
    checkpoint cadence) and replays on top of it."""
    d = commits_dir(table_path)
    final = fsio.join(d, f"{version:08d}.json")
    key = (fsio.absolutize(table_path), version, _file_identity(final))
    cached = _snapshot_cache.get(key)
    if cached is None:
        ckpt = fsio.join(d, f"{version:08d}.checkpoint.json")
        if fsio.exists(ckpt):
            cached = Commit(**_read_json_record(ckpt))
        else:
            rec = _read_json_record(final)
            if rec.pop("delta", False):
                cached = _apply_delta(read_commit(table_path, version - 1), rec)
            else:
                cached = Commit(**rec)
        while len(_snapshot_cache) >= _SNAPSHOT_CACHE_MAX:
            _snapshot_cache.pop(next(iter(_snapshot_cache)))
        _snapshot_cache[key] = cached
    # deep copy: callers may hold/merge the dict fields; the cache must
    # stay an immutable record of what is on disk.
    return copy.deepcopy(cached)


class ConcurrentWriteConflict(RuntimeError):
    """A concurrent commit won the version race and the loser's changes
    cannot be safely rebased (Delta's ConcurrentAppend / ConcurrentDelete
    / ConcurrentTransaction exceptions collapsed into one)."""


#: actions that replace table state wholesale — never rebase across or
#: on behalf of one of these.
_NO_REBASE_ACTIONS = frozenset({"overwrite", "restore"})


def _partitions(paths) -> set:
    """Logical partition of each file path: the hive-style ``col=value``
    path component if present, else ``""`` — unpartitioned tables thus
    collapse to one partition and any two non-blind writers conflict
    (disjointness cannot be proven without partitions, the same
    granularity Delta uses)."""
    out = set()
    for p in paths:
        comp = next(
            (c for c in p.split("/") if "=" in c and not c.endswith(".parquet")),
            "",
        )
        out.add(comp)
    return out


def _check_rebase(ours: dict, theirs: dict, winner_actions: list[str]) -> None:
    """Delta WriteSerializable-style conflict rules between the losing
    delta (``ours``, vs the shared base) and the collapsed winning delta
    (``theirs``). Raises ConcurrentWriteConflict; returning means the
    loser commutes with every winner and may rebase."""
    if ours["action"] in _NO_REBASE_ACTIONS or any(
        a in _NO_REBASE_ACTIONS for a in winner_actions
    ):
        raise ConcurrentWriteConflict(
            f"cannot rebase across table-replacing actions "
            f"(ours={ours['action']!r}, winners={winner_actions})"
        )
    # delete/delete: every file we remove must still be live — a winner
    # rewriting or deleting the same file means both transactions read
    # and replaced the same data.
    for name in _LIST_FIELDS:
        gone = set(ours[f"{name}_remove"]) & set(theirs[f"{name}_remove"])
        if gone:
            raise ConcurrentWriteConflict(
                f"concurrent delete/rewrite of {sorted(gone)[:3]}"
            )
    # read/write overlap: unless we are a blind append, files (or DVs)
    # a winner added in a partition we read-modified may hold rows our
    # decision logic should have seen (Delta's ConcurrentAppend rule at
    # partition granularity).
    if ours["action"] != "insert":
        our_parts = _partitions(
            ours["files_add"]
            + ours["files_remove"]
            + ours["log_files_add"]
            + ours["log_files_remove"]
        )
        their_parts = _partitions(
            theirs["files_add"]
            + theirs["files_remove"]
            + theirs["log_files_add"]
            + theirs["log_files_remove"]
        )
        clash = our_parts & their_parts
        if clash:
            raise ConcurrentWriteConflict(
                f"concurrent writes in partitions {sorted(clash)[:3]}"
            )
        # Partition disjointness is only provable within ONE partition
        # spec: after a partition evolution (__pp= vs __pp1= dir
        # tokens), two writers' partition sets can be token-disjoint
        # while overlapping in rows. Cross-spec overlap is therefore a
        # conflict — conservative, and only in the brief window where
        # mixed-spec writes race.
        our_specs = {p.split("=", 1)[0] for p in our_parts}
        their_specs = {p.split("=", 1)[0] for p in their_parts}
        if our_parts and their_parts and our_specs != their_specs:
            raise ConcurrentWriteConflict(
                "concurrent writes under different partition specs "
                f"({sorted(our_specs)} vs {sorted(their_specs)})"
            )
        if theirs["dv_files_add"] and (
            ours["files_add"] or ours["files_remove"] or ours["log_files_add"]
        ):
            raise ConcurrentWriteConflict(
                "concurrent deletion-vector append while modifying data"
            )
    # the mirror image: OUR deletion vectors name row positions in files
    # the winner may just have rewritten/removed — rebasing would commit
    # a DELETE whose vectors point at dead files (rows silently survive,
    # Delta's ConcurrentDeleteReadException case). The DV sidecar's
    # target files aren't visible in the delta record, so any winner
    # data-file change conflicts.
    if ours["dv_files_add"] and (
        theirs["files_add"] or theirs["files_remove"] or theirs["log_files_add"]
    ):
        raise ConcurrentWriteConflict(
            "concurrent data-file change while appending deletion vectors"
        )
    # same idempotent-writer app committing twice concurrently
    dup_apps = set(ours["txn_set"]) & set(theirs["txn_set"])
    if dup_apps:
        raise ConcurrentWriteConflict(
            f"concurrent transactions for writer app(s) {sorted(dup_apps)}"
        )
    # schema/schema: both transactions changed the table schema
    if ours.get("table_schema_set") is not None and theirs.get(
        "table_schema_set"
    ) is not None:
        raise ConcurrentWriteConflict("concurrent schema changes")
    # rename/rename (metadata-metadata)
    if (ours["column_mapping_set"] or ours["column_mapping_unset"]) and (
        theirs["column_mapping_set"] or theirs["column_mapping_unset"]
    ):
        raise ConcurrentWriteConflict("concurrent column renames")


def append_commit_rebase(table_path: str, commit: Commit) -> Commit:
    """Optimistic concurrency control (Delta OCC / Hudi OCC): try to
    commit at the prepared version; if a concurrent writer won that
    version, delta-encode our changes against our base snapshot, run the
    conflict rules against the winners' collapsed delta, and — when the
    transactions commute — REBASE onto the new latest and retry at the
    next version. Blind inserts always rebase; partition-disjoint
    upserts/deletes/compactions rebase; overlapping writes raise
    ConcurrentWriteConflict for the caller to retry from a fresh read.

    The rebased commit keeps its original ``commit_time`` (data files
    are already stamped with it); with rebases the timeline's
    commit_time can therefore lag the winner's by milliseconds while
    versions stay strictly ordered — the same instant-vs-completion
    ordering wrinkle Hudi 1.x documents. Version order is authoritative.

    Isolation level is WriteSerializable, enforced at partition
    granularity — the file-level information the manifest already
    carries; no table locks, no side channel."""
    base_version = commit.version - 1
    while True:
        try:
            append_commit(table_path, commit)
            return commit
        except RuntimeError as exc:
            if "concurrent write" not in str(exc):
                raise
            if base_version < 0:
                raise ConcurrentWriteConflict(
                    "concurrent table creation"
                ) from exc
            latest_v = latest_version(table_path)
            base = read_commit(table_path, base_version)
            latest = read_commit(table_path, latest_v)
            ours = _commit_delta(base, commit)
            theirs = _commit_delta(base, latest)
            winner_actions = [
                read_commit(table_path, v).action
                for v in range(base_version + 1, latest_v + 1)
            ]
            _check_rebase(ours, theirs, winner_actions)
            ours["version"] = latest_v + 1
            commit = _apply_delta(latest, ours)
            base_version = latest_v


def latest_version(table_path: str) -> int | None:
    """Newest committed version WITHOUT listing the commit directory:
    start from the ``_last_checkpoint`` pointer and probe forward with
    bounded ``exists`` calls (versions are contiguous by construction —
    each commit is prev+1 published put-if-absent). On object stores a
    LIST of a long-lived table's log is O(versions) RPCs; this path is
    one read + at most ``CHECKPOINT_INTERVAL`` + in-flight probes —
    exactly Delta's ``_last_checkpoint`` trick. Tables without a
    checkpoint yet (< CHECKPOINT_INTERVAL commits) fall back to one
    listing of a small directory."""
    d = commits_dir(table_path)
    start = None
    try:
        start = int(
            # attempts=2: an ABSENT pointer is the normal state of young
            # tables and the caller falls back to a listing anyway —
            # one retry covers a swap window without taxing the
            # common miss
            json.loads(
                fsio.read_pointer_text(
                    fsio.join(d, "_last_checkpoint"), attempts=2
                )
            )[
                "version"
            ]
        )
    except (FileNotFoundError, ValueError, KeyError):
        pass
    if start is None:
        versions = list_versions(table_path)
        return versions[-1] if versions else None
    v = start
    while fsio.exists(fsio.join(d, f"{v + 1:08d}.json")):
        v += 1
    return v


def latest_commit(table_path: str) -> Commit | None:
    v = latest_version(table_path)
    return read_commit(table_path, v) if v is not None else None


#: Age (seconds) beyond which a zero-length / unparseable commit file is
#: judged a crashed writer's wreckage rather than an in-flight publish,
#: and may be quarantined so the version becomes claimable again. Only
#: relevant on backends whose publish is not single-shot-atomic; the
#: built-in coordinators never leave a torn final file.
TORN_COMMIT_GRACE_SECONDS = 60.0


def _quarantine_if_torn(final: str) -> bool:
    """True if ``final`` held a stale torn commit (empty / non-JSON)
    that was moved aside to ``<final>.corrupt-<uuid>`` — the recovery
    path for a writer that crashed mid-publish on a backend without an
    atomic publish primitive. Fresh torn files (within the grace
    window) are left alone: they may be a publish in flight."""
    try:
        mtime, size = fsio.stat_identity(final)
    except FileNotFoundError:
        return False
    age = time.time() - (mtime / 1000.0 if fsio.is_remote(final) else mtime / 1e9)
    if age < TORN_COMMIT_GRACE_SECONDS:
        return False
    try:
        json.loads(fsio.read_text(final))
        return False  # parseable: a real commit, not wreckage
    except FileNotFoundError:
        return False
    except (ValueError, UnicodeDecodeError):
        pass
    try:
        fsio.move(final, f"{final}.corrupt-{uuid.uuid4().hex[:8]}")
        return True
    except (OSError, FileNotFoundError):
        return False  # someone else quarantined or claimed it first


def append_commit(table_path: str, commit: Commit) -> None:
    d = commits_dir(table_path)
    fsio.makedirs(d)
    final = fsio.join(d, f"{commit.version:08d}.json")
    # cheap pre-check; the PHYSICAL gate is the exclusive publish below,
    # which two truly concurrent writers cannot both win
    if fsio.exists(final) and not _quarantine_if_torn(final):
        raise RuntimeError(
            f"concurrent write detected: commit {commit.version} already exists"
        )
    parent_file = fsio.join(d, f"{commit.version - 1:08d}.json")
    if commit.version > 0 and fsio.exists(parent_file):
        record = _commit_delta(read_commit(table_path, commit.version - 1), commit)
    else:  # first commit (or detached version): full snapshot
        record = asdict(commit)
    payload = json.dumps(record, indent=1)
    try:
        fsio.publish_exclusive(final, payload)
    except FileExistsError:
        # a loser — unless the occupant is a crashed writer's torn file,
        # in which case quarantine it and reclaim the version
        if not _quarantine_if_torn(final):
            raise RuntimeError(
                f"concurrent write detected: commit {commit.version} "
                "already exists"
            ) from None
        try:
            fsio.publish_exclusive(final, payload)
        except FileExistsError:
            raise RuntimeError(
                f"concurrent write detected: commit {commit.version} "
                "already exists"
            ) from None
    if commit.version > 0 and commit.version % CHECKPOINT_INTERVAL == 0:
        ckpt = fsio.join(d, f"{commit.version:08d}.checkpoint.json")
        fsio.write_atomic(ckpt, json.dumps(asdict(commit), indent=1))
        # Delta's _last_checkpoint pointer: readers jump here instead of
        # listing the whole log.
        fsio.write_atomic(
            fsio.join(d, "_last_checkpoint"),
            json.dumps({"version": commit.version}),
        )
