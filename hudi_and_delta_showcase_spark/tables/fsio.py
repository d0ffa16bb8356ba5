"""Filesystem abstraction for table METADATA IO.

The reference's deployment is entirely object storage — the Delta table
lives on ``gs://`` (/root/reference/README.md:1170,1176-1181) and the
CDC Avro input on ``gs://`` too (README.md:264). Data IO here already
goes through Spark (object-store-ready via the Hadoop connectors); this
module gives the table layer's *metadata* IO (commit manifests, meta
files, savepoints, vacuum listings, protocol exports) the same reach:

- **Local fast path**: paths without a URI scheme use plain ``os`` /
  ``open`` calls — zero overhead change for the common case and the
  perf-sensitive manifest hot loop.
- **Hadoop path**: any ``scheme://`` URI (``gs://``, ``s3a://``,
  ``hdfs://``, ``abfss://``, and ``file://`` — the in-tree test
  vehicle) routes through the JVM Hadoop ``FileSystem`` API of the
  active SparkSession, so exactly the connectors Spark's data IO uses
  serve the metadata too.

Atomicity contract by backend:

- ``publish_exclusive`` (the OCC commit publish) is put-if-absent,
  routed through a pluggable **commit coordinator** (Delta LogStore
  idea — see ``CommitCoordinator``). Built-in backends:

  * ``PosixLinkCoordinator`` (local default) — unique temp file
    hard-linked into place; ``link(2)`` is atomic AND exclusive,
    unlike ``rename(2)`` which silently replaces, so two racing
    writers get exactly one winner and content is fully on disk
    before it becomes visible.
  * ``HadoopRenameCoordinator`` (``hdfs://`` default) — unique temp
    in the target directory, then ``FileContext.rename`` WITHOUT
    overwrite: a single atomic namenode op that both claims the
    version exclusively and makes the fully-written bytes visible in
    the same instant. (A bare ``create(overwrite=false)`` on HDFS
    claims the path *before* content lands — a reader could see a
    torn/empty commit and a crash mid-write would wedge the version.)
  * ``HadoopCreateCoordinator`` (other ``scheme://`` default) — a
    single ``create(path, overwrite=false)``; correct where a PUT is
    all-or-nothing AND conditional: GCS (generation-match insert) and
    S3 with conditional writes (If-None-Match). Object PUTs are never
    torn, so the HDFS caveat does not apply here.
  * ``LockTableCoordinator`` — reference implementation of the
    external-coordination strategy for stores with NO atomic
    put-if-absent (plain S3 without conditional writes): serialize
    the exists-check + write under a lock table. The in-process
    table here demonstrates the interface; a real multi-cluster
    deployment backs ``acquire``/``release`` with an external lock
    service (DynamoDB / ZooKeeper — exactly Delta's S3 multi-cluster
    LogStore requirement). All writers must share the coordinator.

  Select per path-prefix via ``set_commit_coordinator``.
- ``write_atomic`` (overwrite-style metadata: checkpoints, pointer
  files, savepoints) is temp + atomic-replace. Locally ``os.replace``;
  remotely ``FileContext.rename(..., Rename.OVERWRITE)`` — atomic on
  HDFS and never leaves a missing-file window. Backends without a
  FileContext binding fall back to delete+rename, which opens a brief
  missing-file window; pointer-file READERS therefore go through
  ``read_pointer_text`` (bounded FileNotFoundError retry) so the
  promise readers observe stays "stale or new, never torn or absent".
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import time
import uuid

#: ``scheme:/...`` with a 2+ char scheme: accepts both the canonical
#: ``file:///x`` and Hadoop's normalized single-slash ``file:/x`` form
#: (Path.toString() emits the latter), while a bare ``/x`` stays local.
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]+:/")


def is_remote(path: str) -> bool:
    """True for ``scheme:/`` URIs (routed through Hadoop FileSystem)."""
    return bool(_SCHEME_RE.match(path))


def absolutize(path: str) -> str:
    """``os.path.abspath`` for local paths; URIs pass through unchanged
    (abspath would mangle ``scheme://`` into ``/cwd/scheme:/...``)."""
    return path if is_remote(path) else os.path.abspath(path)


def join(path: str, *parts: str) -> str:
    """Path join that is URI-safe (``/`` separator either way)."""
    if is_remote(path):
        out = path.rstrip("/")
        for p in parts:
            out += "/" + p.strip("/")
        return out
    return os.path.join(path, *parts)


def is_external_entry(entry: str) -> bool:
    """True for manifest file entries that resolve OUTSIDE the table
    root (absolute/URI shallow-clone references), false for ordinary
    table-relative entries."""
    return is_remote(entry) or entry.startswith("/")


def resolve(base: str, entry: str) -> str:
    """Join a manifest FILE ENTRY to a table root: relative entries
    live under the root; absolute or URI entries (shallow-clone
    references into another table's directory) pass through verbatim
    on every backend."""
    if is_external_entry(entry):
        return entry
    return join(base, entry)


def uri_path(path: str) -> str:
    """The path component of a URI (scheme/authority stripped), or the
    path itself when local. ``file:///x`` and ``file:/x`` both -> /x."""
    if not is_remote(path):
        return path
    from urllib.parse import urlparse

    return urlparse(path).path


def relpath(child: str, base: str) -> str:
    """``child`` relative to ``base``; tolerant of scheme-form drift
    (``file:///x`` vs ``file:/x``) via path-component comparison."""
    if not is_remote(child) and not is_remote(base):
        return os.path.relpath(child, base)
    c, b = child.rstrip("/"), base.rstrip("/")
    if c.startswith(b + "/"):
        return c[len(b) + 1 :]
    from urllib.parse import unquote

    cp, bp = unquote(uri_path(c)), unquote(uri_path(b))
    if cp.startswith(bp + "/"):
        return cp[len(bp) + 1 :]
    raise ValueError(f"{child!r} is not under {base!r}")


# --------------------------------------------------------------------- #
# Hadoop FileSystem plumbing (remote paths only)
# --------------------------------------------------------------------- #


def _session(path: str):
    """The session whose JVM carries the Hadoop connectors. Falls back
    from the (thread-local) active session to the process-wide
    instantiated one, so fsio keeps working from auxiliary threads —
    streaming foreachBatch callbacks, pointer-file reader retries."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if spark is None:
        raise RuntimeError(
            f"IO on {path!r} needs an active SparkSession "
            "(Hadoop FileSystem connectors live in its JVM)"
        )
    return spark


def _jfs(path: str):
    """(FileSystem, jvm, Path) for a URI, from the active SparkSession's
    Hadoop configuration — the same connectors the data IO uses."""
    spark = _session(path)
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm, jpath


def _java_exc_name(exc) -> str:
    try:
        return exc.java_exception.getClass().getName()
    except Exception:
        return str(exc)


# --------------------------------------------------------------------- #
# operations
# --------------------------------------------------------------------- #


def exists(path: str) -> bool:
    if not is_remote(path):
        return os.path.exists(path)
    fs, _, p = _jfs(path)
    return bool(fs.exists(p))


def isdir(path: str) -> bool:
    if not is_remote(path):
        return os.path.isdir(path)
    fs, _, p = _jfs(path)
    return bool(fs.exists(p)) and bool(fs.getFileStatus(p).isDirectory())


def listdir(path: str) -> list[str]:
    """Child NAMES (not paths) of a directory."""
    if not is_remote(path):
        return os.listdir(path)
    fs, _, p = _jfs(path)
    return [st.getPath().getName() for st in fs.listStatus(p)]


def makedirs(path: str) -> None:
    if not is_remote(path):
        os.makedirs(path, exist_ok=True)
        return
    fs, _, p = _jfs(path)
    fs.mkdirs(p)


def read_text(path: str) -> str:
    if not is_remote(path):
        with open(path) as fh:
            return fh.read()
    fs, jvm, p = _jfs(path)
    if not fs.exists(p):
        raise FileNotFoundError(path)
    stream = fs.open(p)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def read_bytes(path: str) -> bytes:
    """``read_text`` for binary metadata files (Avro manifests)."""
    if not is_remote(path):
        with open(path, "rb") as fh:
            return fh.read()
    fs, jvm, p = _jfs(path)
    if not fs.exists(p):
        raise FileNotFoundError(path)
    stream = fs.open(p)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data)


def read_byte_range(path: str, offset: int, length: int) -> bytes:
    """Positioned read of ``length`` bytes at ``offset`` — the access
    shape Puffin blobs need (a DV file holds many blobs; readers fetch
    one without streaming the file). POSIX seek locally; Hadoop
    positioned ``readFully`` for scheme:// paths."""
    if not is_remote(path):
        with open(path, "rb") as fh:
            fh.seek(offset)
            data = fh.read(length)
        if len(data) != length:
            raise EOFError(
                f"short read at {path}:{offset}+{length} (got {len(data)})"
            )
        return data
    fs, jvm, p = _jfs(path)
    if not fs.exists(p):
        raise FileNotFoundError(path)
    stream = fs.open(p)
    try:
        # py4j passes arrays by value (a readFully(buf) mutation would
        # not propagate back): seek + bounded IOUtils copy instead
        stream.seek(offset)
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream, length)
    finally:
        stream.close()
    return bytes(data)


def _hwrite(fs, p, data: bytes, overwrite: bool) -> None:
    out = fs.create(p, overwrite)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def _fcontext_rename(path: str, tmp_uri: str, overwrite: bool) -> None:
    """``FileContext.rename(tmp, path)`` — the strict-contract rename:
    atomic on HDFS; with ``overwrite=False`` it FAILS (rather than
    replaces) when the destination exists. Raises FileExistsError on
    an existing destination, whatever exception class the backend
    maps it to."""
    from py4j.protocol import Py4JJavaError

    spark = _session(path)
    jvm = spark._jvm
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jvm.java.net.URI(path), spark._jsc.hadoopConfiguration()
    )
    rename_enum = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(rename_enum, 1)
    opts[0] = rename_enum.OVERWRITE if overwrite else rename_enum.NONE
    src = jvm.org.apache.hadoop.fs.Path(tmp_uri)
    dst = jvm.org.apache.hadoop.fs.Path(path)
    try:
        fc.rename(src, dst, opts)
    except Py4JJavaError as exc:
        name = _java_exc_name(exc)
        if "AlreadyExists" in name or "already exists" in str(exc):
            raise FileExistsError(path) from None
        raise


def write_atomic(path: str, text: str) -> None:
    """Overwrite-style metadata write: readers see old or new bytes,
    never a torn file (see module docstring for per-backend nuance)."""
    write_bytes_atomic(path, text.encode("utf-8"))


def write_bytes_atomic(path: str, data: bytes) -> None:
    """``write_atomic`` for binary metadata files (Avro manifests)."""
    if not is_remote(path):
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)
        return
    fs, jvm, p = _jfs(path)
    tmp_uri = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    tmp = jvm.org.apache.hadoop.fs.Path(tmp_uri)
    _hwrite(fs, tmp, data, True)
    try:
        # single-step replace: no instant at which `path` is missing
        _fcontext_rename(path, tmp_uri, overwrite=True)
        return
    except FileExistsError:
        raise
    except Exception:
        # no AbstractFileSystem binding for this scheme: fall back to
        # delete+rename; readers cover the brief missing-file window
        # via read_pointer_text's bounded retry.
        pass
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        fs.delete(tmp, False)
        raise OSError(f"rename failed publishing {path}")


def read_pointer_text(path: str, attempts: int = 5, delay: float = 0.05) -> str:
    """``read_text`` for single-writer POINTER files (_meta.json,
    _last_checkpoint, savepoints): retries FileNotFoundError a few
    times before giving up, covering the delete+rename window of
    ``write_atomic``'s fallback path on backends without an atomic
    overwrite-rename. A file that is genuinely absent still raises
    FileNotFoundError after ~attempts*delay. Local paths read directly
    (``os.replace`` has no missing-file window, so absence is
    definitive and should not cost a retry loop).

    Also retries TRANSIENT remote read failures — checksum-sidecar
    mismatch (ChecksumFileSystem swaps .crc and data non-atomically)
    and EOF on a file caught mid-replace; any persistent error
    re-raises."""
    if not is_remote(path):
        return read_text(path)
    for i in range(attempts):
        try:
            return read_text(path)
        except FileNotFoundError:
            if i == attempts - 1:
                raise
        except Exception as exc:
            transient = any(
                token in f"{_java_exc_name(exc)} {exc}"
                for token in ("Checksum", "FileNotFound", "EOFException")
            )
            if not transient or i == attempts - 1:
                raise
        time.sleep(delay)
    raise FileNotFoundError(path)  # pragma: no cover - unreachable


# --------------------------------------------------------------------- #
# commit coordinators (the put-if-absent OCC publish primitive)
# --------------------------------------------------------------------- #


class CommitCoordinator:
    """Strategy interface for the exclusive commit publish (the Delta
    LogStore idea). ``publish`` must guarantee BOTH properties:

    1. **exclusive** — of N concurrent publishers to the same path,
       exactly one succeeds; every other raises ``FileExistsError``
       (never silently replacing the winner's bytes); and
    2. **untorn** — the path never becomes visible to a reader before
       its full content has durably landed.
    """

    def publish(self, path: str, text: str) -> None:
        raise NotImplementedError


class PosixLinkCoordinator(CommitCoordinator):
    """Local default: unique temp + ``os.link`` — link(2) is atomic and
    fails with EEXIST on an existing target, and the temp's bytes are
    fully on disk before the link makes them visible."""

    def publish(self, path: str, text: str) -> None:
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            fh.write(text)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise
        finally:
            os.unlink(tmp)


class HadoopCreateCoordinator(CommitCoordinator):
    """``create(path, overwrite=false)`` — the right primitive where a
    PUT is all-or-nothing AND conditional: GCS (generation-match
    insert) and S3 with conditional writes. NOT for HDFS-style
    streaming filesystems, where the path becomes visible before
    content lands (use ``HadoopRenameCoordinator`` there)."""

    def publish(self, path: str, text: str) -> None:
        from py4j.protocol import Py4JJavaError

        fs, _, p = _jfs(path)
        try:
            _hwrite(fs, p, text.encode("utf-8"), False)
        except Py4JJavaError as exc:
            name = _java_exc_name(exc)
            if "AlreadyExists" in name or "already exists" in str(exc):
                raise FileExistsError(path) from None
            raise


class HadoopRenameCoordinator(CommitCoordinator):
    """HDFS default: write a unique temp in the target directory, then
    ``FileContext.rename`` WITHOUT overwrite — one atomic namenode op
    that claims the version exclusively and publishes the fully-written
    bytes in the same instant. A crash before the rename leaves only a
    ``.tmp`` orphan (vacuumable), never a torn commit wedging the
    version."""

    def publish(self, path: str, text: str) -> None:
        fs, jvm, _ = _jfs(path)
        tmp_uri = f"{path}.{uuid.uuid4().hex}.tmp"
        _hwrite(fs, jvm.org.apache.hadoop.fs.Path(tmp_uri),
                text.encode("utf-8"), True)
        try:
            _fcontext_rename(path, tmp_uri, overwrite=False)
        except FileExistsError:
            fs.delete(jvm.org.apache.hadoop.fs.Path(tmp_uri), False)
            raise


class LockTableCoordinator(CommitCoordinator):
    """Reference implementation of EXTERNAL coordination for stores
    with no atomic put-if-absent (plain S3): the exists-check and the
    write are serialized under a per-path lock taken from a lock
    table. The table here is in-process (correct for all writers in
    one process — and a faithful, testable rendering of the
    interface); a multi-cluster deployment subclasses ``_acquire`` /
    ``_release`` onto an external lock service (DynamoDB conditional
    put / ZooKeeper ephemeral node), which is precisely Delta's
    documented S3 multi-writer requirement."""

    _locks: dict[str, threading.Lock] = {}
    _registry_lock = threading.Lock()

    def _acquire(self, path: str):
        with LockTableCoordinator._registry_lock:
            lock = LockTableCoordinator._locks.setdefault(
                path, threading.Lock()
            )
        lock.acquire()
        return lock

    def _release(self, path: str, handle) -> None:
        handle.release()

    def publish(self, path: str, text: str) -> None:
        handle = self._acquire(path)
        try:
            if exists(path):
                raise FileExistsError(path)
            write_atomic(path, text)
        finally:
            self._release(path, handle)


_local_coordinator: CommitCoordinator = PosixLinkCoordinator()
#: (prefix, coordinator) overrides, longest-prefix match first.
_coordinator_overrides: list[tuple[str, CommitCoordinator]] = []


def set_commit_coordinator(prefix: str, coordinator: CommitCoordinator) -> None:
    """Route ``publish_exclusive`` for paths under ``prefix`` through
    ``coordinator`` (e.g. ``set_commit_coordinator("s3a://bucket/",
    LockTableCoordinator())``). Longest matching prefix wins; pass the
    empty prefix to override the default everywhere."""
    _coordinator_overrides.append((prefix, coordinator))
    _coordinator_overrides.sort(key=lambda pc: -len(pc[0]))


def clear_commit_coordinators() -> None:
    _coordinator_overrides.clear()


def coordinator_for(path: str) -> CommitCoordinator:
    for prefix, coord in _coordinator_overrides:
        if path.startswith(prefix):
            return coord
    if not is_remote(path):
        return _local_coordinator
    scheme = path.split(":", 1)[0].lower()
    if scheme in ("hdfs", "webhdfs", "viewfs"):
        return HadoopRenameCoordinator()
    return HadoopCreateCoordinator()


def publish_exclusive(path: str, text: str) -> None:
    """Put-if-absent publish — the OCC commit primitive. Raises
    ``FileExistsError`` when a concurrent writer already owns ``path``.
    Dispatches to the path's commit coordinator (see module docstring
    and ``set_commit_coordinator``)."""
    coordinator_for(path).publish(path, text)


def remove(path: str) -> None:
    if not is_remote(path):
        os.remove(path)
        return
    fs, _, p = _jfs(path)
    fs.delete(p, False)


def rmtree(path: str) -> None:
    if not is_remote(path):
        shutil.rmtree(path)
        return
    fs, _, p = _jfs(path)
    fs.delete(p, True)


def move(src: str, dst: str) -> None:
    if not is_remote(src) and not is_remote(dst):
        shutil.move(src, dst)
        return
    fs, jvm, ps = _jfs(src)
    pd = jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(ps, pd):
        raise OSError(f"rename failed: {src} -> {dst}")


def walk_files(root: str, suffix: str = "") -> list[str]:
    """Every file under ``root`` (recursive) whose name ends with
    ``suffix``, as full paths. Missing root -> []. One recursive LIST
    call on object stores (flat-namespace listing), not a per-directory
    walk."""
    out: list[str] = []
    if not is_remote(root):
        for dirpath, _dn, filenames in os.walk(root):
            for fn in filenames:
                if fn.endswith(suffix):
                    out.append(os.path.join(dirpath, fn))
        return sorted(out)
    fs, _, p = _jfs(root)
    if not fs.exists(p):
        return []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        path = st.getPath().toString()
        if path.endswith(suffix):
            out.append(path)
    return sorted(out)


def stat_identity(path: str) -> tuple:
    """(mtime, size) identity for cache keys; raises FileNotFoundError
    on missing paths on every backend."""
    if not is_remote(path):
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    from py4j.protocol import Py4JJavaError

    fs, _, p = _jfs(path)
    try:
        st = fs.getFileStatus(p)
    except Py4JJavaError as exc:
        if "FileNotFound" in _java_exc_name(exc):
            raise FileNotFoundError(path) from None
        raise
    return (st.getModificationTime(), st.getLen())


def mtime_ms(path: str) -> int:
    """File modification time in epoch MILLISECONDS on every backend
    (``stat_identity`` is unit-inconsistent by design: ns locally, ms
    on Hadoop — fine for cache keys, wrong for time arithmetic)."""
    if not is_remote(path):
        return os.stat(path).st_mtime_ns // 1_000_000
    fs, _, p = _jfs(path)
    return int(fs.getFileStatus(p).getModificationTime())


def file_size(path: str) -> int:
    if not is_remote(path):
        return os.stat(path).st_size
    fs, _, p = _jfs(path)
    return int(fs.getFileStatus(p).getLen())


# --------------------------------------------------------------------- #
# pyarrow access to table FILES (parquet footers, executor-side copies)
# --------------------------------------------------------------------- #


def arrow_fs(path: str):
    """``(pyarrow FileSystem, path within it)`` for a table file. Needs
    no SparkSession, so it also serves inside Spark tasks. ``file:``
    URIs in either form (``file:/x``, ``file:///x``) map to the local
    filesystem with the path taken literally, as Hadoop writes it (a
    hive dir value like ``a%3Ab`` is a literal name on disk); other
    schemes go through pyarrow's URI resolution (s3/gcs/hdfs/abfs).
    Raises ``ValueError``/``OSError`` for a scheme pyarrow cannot
    serve."""
    import pyarrow.fs as pafs

    if not is_remote(path) or path[:5].lower() == "file:":
        return pafs.LocalFileSystem(), uri_path(path)
    return pafs.FileSystem.from_uri(path)


def read_footer(path: str):
    """The parquet footer (``pyarrow.parquet.FileMetaData``) of one
    file: a footer-only read, no data pages. Raises ``OSError`` when
    the file cannot be opened and ``ValueError`` (``ArrowInvalid``)
    when it is not a whole parquet file."""
    import pyarrow.parquet as pq

    fs, p = arrow_fs(path)
    with fs.open_input_file(p) as fh:
        return pq.ParquetFile(fh).metadata


def footer_bounds(md, limit: int | None = None) -> tuple[int, dict]:
    """``(num_rows, {column: (min, max)})`` from a parquet footer, over
    the top-level primitive columns among the first ``limit`` leaf
    columns (all when None). A column's bounds fold its row groups'
    statistics: an all-null row group contributes nothing, and a
    value-bearing row group without min/max leaves the column out, so
    a reader scans the file for it. Values are pyarrow's statistics
    scalars; each caller keeps the types its format records."""
    schema = md.schema
    groups = [md.row_group(rg) for rg in range(md.num_row_groups)]
    bounds: dict = {}
    for i in range(min(len(schema), limit or len(schema))):
        col = schema.column(i)
        if col.path != col.name:  # a leaf of a nested column
            continue
        lo = hi = None
        for g in groups:
            st = g.column(i).statistics
            mn, mx = (st.min, st.max) if st is not None else (None, None)
            if mn is not None and mx is not None:
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            elif st is None or st.null_count != g.num_rows:
                break
        else:
            if lo is not None:
                bounds[col.name] = (lo, hi)
    return md.num_rows, bounds
