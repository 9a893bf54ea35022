"""The versioned-parquet log format, written once for both writers of
it: the session path (``operators/timetravel.py``) and the Spark-free
path (``sources/tt_datasource.py`` — Python Data Source workers and
the JVM-less commit runner).

Layout::

    <root>/
      _log/v00000000.json          # {"files": [...], "op", "ts", "schema"}
      _log/v00000001.json          # or {"base": ckpt, "add": [...], "remove": [...]}
      _log/ckpt-<uuid>.parquet     # checkpoint: complete (file, stats) snapshot
      files/<commit-uuid>/part-*.parquet   # immutable data files

A version's manifest carries either the complete file list inline
(``files`` + ``stats``) or, past the inline threshold, a checkpoint
``base`` plus ``add``/``remove`` deltas; every manifest carries
``n_files``, ``op``, ``ts`` and the table header (``_HEADER``: schema,
constraints, stats/partition/generated columns, properties) that each
commit carries forward.  ``TableLog.commit`` is the one place a
manifest is built and published, and the one place a lost publish race
is resolved, for every writer of the format.

``TableLog(root, spark=None)`` is the one place that picks the I/O,
from the root's scheme:

- local roots (plain paths, made absolute against the cwd, and
  ``file:`` URIs) use ``os`` and ``pyarrow`` — no gateway call on
  either path;
- other schemes with a session use the Hadoop FileSystem, the only
  code that reaches Hadoop-configured schemes such as ``s3a://``;
- other schemes without a session read through
  ``pyarrow.fs.FileSystem.from_uri`` and refuse writes with
  ``_ArrowCommitUnsupported`` (the caller falls back to a session).

Every ``versioned_parquet`` worker spawn imports this module, so it
imports nothing from ``astro_spark.operators`` and defers ``pyarrow``.
"""

from __future__ import annotations

import errno
import json
import os
import time
import uuid

from ..exceptions import AstroSparkError, ConcurrentWriteError

_LOG = "_log"
# Hive-style layout prefix for engine-written partition dirs (the
# partition column is duplicated into a ``__p_<col>`` path column, so
# the real column stays in the data files)
_PART_PREFIX = "__p_"
# default of spark.astro.tt.inlineFilesMax: the file count above which
# a snapshot moves from inline JSON into a parquet checkpoint
_INLINE_MAX = 1000
# link(2) errnos meaning "this mount has no hard links" — the only
# failures that may take the O_EXCL fallback
_NO_HARDLINKS = frozenset({errno.EPERM, errno.EOPNOTSUPP, errno.ENOTSUP})
# the table header: every manifest field besides the file-list body,
# ``op`` and ``ts`` — what each commit carries forward
_HEADER = (
    "schema", "constraints", "stats_cols", "partition_cols",
    "generated_cols", "properties",
)
# publish races an append or a copy-on-write rewrite may lose in a row
# before it gives up
_MAX_RETRIES = 10


class _ArrowCommitUnsupported(Exception):
    """The Spark-free commit can't honor this table/root — fall back."""


def _manifest_name(version: int) -> str:
    return f"v{version:08d}.json"


def _local_path(root: str) -> str | None:
    """Absolute local path of a plain path or ``file:`` URI, else None."""
    if root.startswith("file:"):
        root = "/" + root[5:].lstrip("/")
    elif "://" in root:
        return None
    return os.path.abspath(root)


def _arrow_fs(path: str):
    """(pyarrow filesystem, path on it) — the Spark-free reach: local
    paths always, other schemes wherever pyarrow's filesystems do."""
    from pyarrow import fs as pafs

    local = _local_path(path)
    if local is not None:
        return pafs.LocalFileSystem(), local
    return pafs.FileSystem.from_uri(path)


def _is_external(entry: str) -> bool:
    """Manifest file entries are root-relative (``files/<uuid>/...``)
    EXCEPT for shallow-clone references, which are absolute paths/URIs
    into another table's root.  External entries are readable but never
    vacuum-deleted (they belong to the source table)."""
    return entry.startswith("/") or "://" in entry


def _abs(root: str, entry: str) -> str:
    return entry if _is_external(entry) else f"{root.rstrip('/')}/{entry}"


# -- filesystems ---------------------------------------------------------------


class _LocalFS:
    """Local roots: one syscall per operation."""

    def __init__(self, path: str):
        self.path = path

    def _p(self, rel: str) -> str:
        if _is_external(rel):
            return _local_path(rel) or rel
        return f"{self.path}/{rel}" if rel else self.path

    def local_dir(self) -> str:
        return self.path

    def list(self, rel: str) -> list[tuple[str, bool]]:
        try:
            with os.scandir(self._p(rel)) as it:
                return [(e.name, e.is_dir()) for e in it]
        except FileNotFoundError:
            return []

    def read(self, rel: str) -> bytes:
        with open(self._p(rel), "rb") as fh:
            return fh.read()

    def write(self, rel: str, data: bytes) -> None:
        p = self._p(rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as fh:
            fh.write(data)

    def exists(self, rel: str) -> bool:
        return os.path.exists(self._p(rel))

    def size(self, rel: str) -> int:
        try:
            return os.stat(self._p(rel)).st_size
        except OSError:
            return 0  # vacuumed/external path counts zero

    def mtime_ms(self, rel: str) -> float:
        try:
            return os.stat(self._p(rel)).st_mtime * 1000.0
        except FileNotFoundError:
            return self.now_ms()  # gone meanwhile: never counts as aged

    def now_ms(self) -> float:
        return time.time() * 1000.0

    def delete(self, rel: str) -> bool:
        try:
            os.remove(self._p(rel))
            return True
        except OSError:
            return False

    def publish(self, rel: str, payload: bytes) -> None:
        """Put-if-absent WITH content: write a hidden temp, then
        ``link(2)`` it into place — EEXIST is atomic and the file is
        complete from its first visible instant (local and NFS).
        Mounts without hard links (SMB/FAT/some FUSE) fall back to an
        ``O_CREAT|O_EXCL`` create, whose empty-file window is the best
        those filesystems offer.  Raises FileExistsError when the slot
        is taken; any other error surfaces with its own errno and
        leaves no version and no temp file behind."""
        target = self._p(rel)
        log_dir, name = os.path.split(target)
        os.makedirs(log_dir, exist_ok=True)
        tmp = f"{log_dir}/.{name}.tmp-{uuid.uuid4().hex}"
        try:
            with open(tmp, "wb") as fh:
                fh.write(payload)
            try:
                os.link(tmp, target)
            except OSError as exc:
                if exc.errno not in _NO_HARDLINKS:
                    raise
                fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    with os.fdopen(fd, "wb") as fh:
                        fh.write(payload)
                except BaseException:
                    os.remove(target)  # never leave a partial manifest
                    raise
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass


class _HadoopFS:
    """Non-local roots on the session path, through the gateway."""

    def __init__(self, spark, root: str):
        from .writers import _hadoop_fs

        self._spark = spark
        self._HPath, _p, self._fs = _hadoop_fs(spark, root)
        self.path = root

    def _p(self, rel: str):
        return self._HPath(_abs(self.path, rel) if rel else self.path)

    def list(self, rel: str) -> list[tuple[str, bool]]:
        p = self._p(rel)
        if not self._fs.exists(p):
            return []
        return [
            (st.getPath().getName(), bool(st.isDirectory()))
            for st in self._fs.listStatus(p)
        ]

    def read(self, rel: str) -> bytes:
        stream = self._fs.open(self._p(rel))
        try:
            return bytes(
                self._spark._jvm.org.apache.commons.io.IOUtils.toByteArray(
                    stream
                )
            )
        finally:
            stream.close()

    def write(self, rel: str, data: bytes) -> None:
        p = self._p(rel)
        self._fs.mkdirs(p.getParent())
        stream = self._fs.create(p, False)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def exists(self, rel: str) -> bool:
        return bool(self._fs.exists(self._p(rel)))

    def size(self, rel: str) -> int:
        p = self._p(rel)
        return int(self._fs.getFileStatus(p).getLen()) if self._fs.exists(p) else 0

    def mtime_ms(self, rel: str) -> float:
        return float(self._fs.getFileStatus(self._p(rel)).getModificationTime())

    def now_ms(self) -> float:
        """The FILESYSTEM's clock — a probe file's mtime — so driver/
        storage clock skew can never age an in-flight commit's
        checkpoint past vacuum's grace window."""
        probe = f"{_LOG}/.clock-probe-{uuid.uuid4().hex}"
        try:
            self._fs.create(self._p(probe), True).close()
            now = self.mtime_ms(probe)
            self.delete(probe)
            return now
        except Exception:  # pragma: no cover - read-only or exotic FS
            return float(self._spark._jvm.java.lang.System.currentTimeMillis())

    def delete(self, rel: str) -> bool:
        return bool(self._fs.delete(self._p(rel), False))

    def publish(self, rel: str, payload: bytes) -> None:
        """Temp + ``rename``: HDFS rename is atomic and refuses an
        existing destination; object stores without atomic rename need
        a coordination service, exactly Delta's contract."""
        log_dir, name = rel.rsplit("/", 1)
        tmp = f"{log_dir}/.{name}.tmp-{uuid.uuid4().hex}"
        self.write(tmp, payload)
        try:
            renamed = self._fs.rename(self._p(tmp), self._p(rel))
        except Exception as exc:
            self.delete(tmp)
            if not self.exists(rel):
                raise  # a real I/O failure, not a lost race
            raise FileExistsError(rel) from exc
        if not renamed:
            self.delete(tmp)
            raise FileExistsError(rel)


class _ArrowFS:
    """Non-local roots without a session: pyarrow reads the log; the
    Spark-free commit cannot write it."""

    def __init__(self, root: str):
        self._fs, self.path = _arrow_fs(root)

    def list(self, rel: str) -> list[tuple[str, bool]]:
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(f"{self.path}/{rel}", allow_not_found=True)
        return [
            (i.base_name, i.type == pafs.FileType.Directory)
            for i in self._fs.get_file_info(sel)
        ]

    def read(self, rel: str) -> bytes:
        with self._fs.open_input_stream(f"{self.path}/{rel}") as stream:
            return stream.read()

    def _refuse(self, *_args) -> None:
        raise _ArrowCommitUnsupported(f"non-local root {self.path!r}")

    local_dir = write = publish = _refuse


# -- the log -------------------------------------------------------------------


class TableLog:
    """One versioned table's log.  ``root`` is resolved once — local
    roots become absolute, so a relative root names the same directory
    to Spark's data-file I/O and to the log — and ``fs`` is the
    filesystem chosen for it."""

    def __init__(self, root: str, spark=None, inline_max: int | None = None):
        local = _local_path(root)
        if local is not None:
            self.root = root if root.startswith("file:") else local
            self.fs = _LocalFS(local)
        elif spark is not None:
            self.root = root
            self.fs = _HadoopFS(spark, root)
        else:
            self.root = root
            self.fs = _ArrowFS(root)
        self._spark = spark
        self._inline_max = inline_max

    def inline_max(self) -> int:
        if self._inline_max is None:
            self._inline_max = _INLINE_MAX
            if self._spark is not None:
                try:
                    self._inline_max = int(
                        self._spark.conf.get(
                            "spark.astro.tt.inlineFilesMax", str(_INLINE_MAX)
                        )
                    )
                except Exception:  # pragma: no cover - exotic conf backend
                    pass
        return self._inline_max

    def versions(self) -> list[int]:
        out = []
        for name, _is_dir in self.fs.list(_LOG):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def manifest(self, version: int) -> dict:
        return json.loads(self.fs.read(f"{_LOG}/{_manifest_name(version)}"))

    def head(self) -> tuple[int, dict]:
        versions = self.versions()
        if not versions:
            raise AstroSparkError(f"no versioned table at {self.root}")
        return versions[-1], self.manifest(versions[-1])

    def publish_manifest(self, version: int, manifest: dict) -> None:
        """Atomic put-if-absent of the version manifest — the commit
        point.  Two writers racing for ``version``: one wins, the other
        gets ``ConcurrentWriteError`` (``commit`` decides what that
        means for its kind)."""
        try:
            self.fs.publish(
                f"{_LOG}/{_manifest_name(version)}",
                json.dumps(manifest).encode("utf-8"),
            )
        except FileExistsError as exc:
            raise ConcurrentWriteError(
                f"version {version} was committed by another writer"
            ) from exc

    def write_checkpoint(self, files: list[str], stats: dict) -> str:
        """Write the complete (file, stats) snapshot as a parquet
        checkpoint under _log/ and return its root-relative ref —
        driver-side Arrow, no Spark job.  The checkpoint is invisible
        until a manifest referencing it publishes."""
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        rel = f"{_LOG}/ckpt-{uuid.uuid4().hex}.parquet"
        table = pa.table(
            {
                "file": pa.array(files, type=pa.string()),
                "stats": pa.array(
                    [json.dumps(stats[f]) if f in stats else None for f in files],
                    type=pa.string(),
                ),
            }
        )
        buf = io.BytesIO()
        pq.write_table(table, buf)
        self.fs.write(rel, buf.getvalue())
        return rel

    def resolve(self, manifest: dict) -> tuple[list[str], dict]:
        """(complete file list, per-file stats) of a manifest — inline
        form verbatim; checkpoint form = base snapshot minus ``remove``
        plus ``add``.  One checkpoint read per plan, Delta's cost
        profile."""
        if "base" not in manifest:
            return manifest.get("files") or [], manifest.get("stats") or {}
        import io

        import pyarrow.parquet as pq

        t = pq.read_table(io.BytesIO(self.fs.read(manifest["base"])))
        files = t.column("file").to_pylist()
        raw = t.column("stats").to_pylist()
        stats = {f: json.loads(s) for f, s in zip(files, raw) if s is not None}
        rm = set(manifest.get("remove") or [])
        if rm:
            files = [f for f in files if f not in rm]
            stats = {f: s for f, s in stats.items() if f not in rm}
        files = files + (manifest.get("add") or [])
        stats.update(manifest.get("add_stats") or {})
        return files, stats

    def body_full(self, files: list[str], stats: dict) -> dict:
        """File-list body for a commit whose COMPLETE snapshot is known
        (create/overwrite/optimize, and compactions): inline while
        small, checkpoint ref beyond the threshold."""
        if len(files) <= self.inline_max():
            body: dict = {"files": files, "n_files": len(files)}
            if stats:
                body["stats"] = stats
            return body
        ref = self.write_checkpoint(files, stats)
        return {"base": ref, "add": [], "remove": [], "n_files": len(files)}

    def body_delta(
        self,
        prev: dict,
        added: list[str],
        removed: list[str],
        added_stats: dict,
    ) -> dict:
        """File-list body for an incremental commit (append/merge/
        delete): O(delta) JSON on a checkpointed table — prev's base
        carries over, the delta tail grows by this commit's add/remove
        — compacting into a fresh checkpoint only when the tail
        outgrows the threshold."""
        rm = set(removed)
        if "base" in prev:
            prev_add = prev.get("add") or []
            add = [f for f in prev_add if f not in rm] + added
            prev_add_set = set(prev_add)
            remove = (prev.get("remove") or []) + [
                f for f in removed if f not in prev_add_set
            ]
            if len(add) + len(remove) <= self.inline_max():
                add_set = set(add)
                add_stats = {
                    f: s
                    for f, s in {
                        **(prev.get("add_stats") or {}),
                        **added_stats,
                    }.items()
                    if f in add_set
                }
                body: dict = {
                    "base": prev["base"],
                    "add": add,
                    "remove": remove,
                    "n_files": int(prev["n_files"]) - len(removed) + len(added),
                }
                if add_stats:
                    body["add_stats"] = add_stats
                return body
            files, stats = self.resolve(prev)
            files = [f for f in files if f not in rm] + added
            stats = {f: s for f, s in stats.items() if f not in rm}
            stats.update(added_stats)
            return self.body_full(files, stats)
        kept = [f for f in (prev.get("files") or []) if f not in rm]
        old = prev.get("stats") or {}
        stats = {f: old[f] for f in kept if f in old}
        stats.update(added_stats)
        return self.body_full(kept + added, stats)

    def commit(
        self,
        kind: str,
        op: str,
        base: tuple[int, dict] | None = None,
        *,
        files: list[str] = (),
        stats: dict | None = None,
        removed: list[str] = (),
        header: dict | None = None,
        attempt=None,
    ) -> int:
        """Build and publish one commit's manifest and resolve its
        publish race; returns the version it landed as.

        ``base`` is the ``(version, manifest)`` the commit builds on —
        it publishes as ``version + 1``.  The manifest is a file-list
        body, ``op``, ``ts`` and the table header: ``base``'s header
        with ``header``'s fields replacing it (only ``_HEADER`` keys are
        read; an empty field is left out).  ``kind`` decides the body,
        how the header carries and what a lost race means:

        - ``create``: version 0 (no ``base``) of ``files``/``stats``,
          header = ``header`` alone.  A lost race raises: the table
          another writer created is not the one this commit meant.
        - ``replace``: ``files``/``stats`` as the whole snapshot (an
          overwrite or a full OPTIMIZE).  A lost race raises: what it
          meant to replace has changed.
        - ``copy``: ``base``'s body and header verbatim — metadata-only
          commits (``base`` = the head) and RESTORE (the head's version
          with the restored version's manifest).  A lost race raises.
        - ``append``: the head's files plus ``files``.  Every attempt
          reads the head and calls ``attempt(head manifest) -> (stats,
          header)``, the caller's validation against that state; a lost
          race re-runs it on the new head (append's intent does not
          depend on the state it lands on).
        - ``rewrite``: copy-on-write over ``base``, ``removed`` out and
          ``files``/``stats`` in.  A lost race rebases onto the new head
          (Delta's WriteSerializable, at file granularity — reference:
          the Databricks backend's serializable MERGEs,
          ``databases/databricks/delta.py:357-442``) iff no interleaved
          commit removed any of ``removed`` (partition-pure files make
          writers on disjoint partitions both land) and none changed
          the table header; interleaved appends carry over through the
          rebased ``body_delta``.

        Data commits (replace/append/rewrite) carry the header
        normalized (``stats_cols`` materialized from inline stats);
        ``copy`` keeps it verbatim."""
        version, prev = base if base is not None else (-1, {})
        hdr = _table_header(prev, header or {}, carry=kind != "copy")
        meta = _rebase_meta(prev) if kind == "rewrite" else None
        for _ in range(_MAX_RETRIES):
            if kind == "append":
                version, prev = self.head()
                stats, changes = attempt(prev)
                hdr = _table_header(prev, changes)
            if kind in ("create", "replace"):
                body = self.body_full(list(files), stats or {})
            elif kind == "copy":
                body = _copy_body(prev)
            else:
                body = self.body_delta(
                    prev, list(files), list(removed), stats or {}
                )
            try:
                self.publish_manifest(
                    version + 1, {**body, "op": op, "ts": time.time(), **hdr}
                )
                return version + 1
            except ConcurrentWriteError:
                if kind == "append":
                    continue
                if kind != "rewrite":
                    raise
            version, prev = self.head()
            if _rebase_meta(prev) != meta:
                raise ConcurrentWriteError(
                    f"{op} on {self.root}: a concurrent commit changed table "
                    "metadata (schema/constraints/layout/properties) — "
                    "re-run against the new snapshot"
                )
            live = set(self.resolve(prev)[0])
            gone = [f for f in removed if f not in live]
            if gone:
                raise ConcurrentWriteError(
                    f"{op} on {self.root}: a concurrent commit rewrote "
                    f"{len(gone)} of this transaction's target files "
                    f"(e.g. {gone[0]!r}) — overlapping partition/file "
                    "conflict; re-run against the new snapshot"
                )
        raise ConcurrentWriteError(
            f"{op} on {self.root} lost {_MAX_RETRIES} commit races"
        )

    def parquet_files(self, rel: str = "") -> list[str]:
        """Sorted root-relative paths of the parquet files under
        ``rel`` (the log directory excluded)."""
        out: list[str] = []

        def _walk(d: str) -> None:
            for name, is_dir in self.fs.list(d):
                sub = f"{d}/{name}" if d else name
                if is_dir:
                    if sub != _LOG:
                        _walk(sub)
                elif name.endswith(".parquet"):
                    out.append(sub)

        _walk(rel)
        return sorted(out)

    def drop_versions(
        self,
        versions: list[int],
        live_refs: set[str],
        dead_refs: set[str],
        grace_s: float,
    ) -> None:
        """Delete the given versions' manifests, then every checkpoint
        no surviving manifest references (``live_refs``): those the
        dropped manifests referenced (``dead_refs``) at once, orphans —
        written by a commit that lost its race, or an abandoned tail
        compaction — only once older than ``grace_s`` on the
        filesystem's clock, since an in-flight commit's checkpoint is
        an orphan until its manifest publishes.  Manifest temps
        (``.v*.json.tmp-*``, left by a publisher killed between its
        temp write and the link) go after the same window, which keeps
        an in-flight publisher's temp."""
        for v in versions:
            self.fs.delete(f"{_LOG}/{_manifest_name(v)}")
        now_ms = None
        for name, _is_dir in self.fs.list(_LOG):
            ref = f"{_LOG}/{name}"
            if name.startswith(".v") and ".json.tmp-" in name:
                aged = True
            elif name.startswith("ckpt-") and name.endswith(".parquet"):
                if ref in live_refs:
                    continue
                aged = ref not in dead_refs
            else:
                continue
            if aged:
                if now_ms is None:
                    now_ms = self.fs.now_ms()
                if now_ms - self.fs.mtime_ms(ref) < grace_s * 1000.0:
                    continue
            self.fs.delete(ref)


# -- manifest header -----------------------------------------------------------


def _stats_cols_of(manifest: dict) -> list[str]:
    """The column set this table records skipping stats for — the
    ``stats_cols`` header when present (checkpointed logs never need a
    file-list read to learn it), else inferred from inline stats for
    pre-header manifests."""
    cols = manifest.get("stats_cols")
    if cols:
        return list(cols)
    old = manifest.get("stats") or {}
    return sorted({c for st in old.values() for c in st})


def _partition_cols_of(manifest: dict) -> list[str]:
    """The table's partition columns (empty for unpartitioned tables).
    Partition values are first-class data everywhere EXCEPT adopted
    (``tt_convert``) Hive files, where they live only in paths."""
    return list(manifest.get("partition_cols") or [])


def _generated_cols_of(manifest: dict) -> dict:
    """{col: spark-sql expr} of the table's GENERATED columns (Delta's
    ``GENERATED ALWAYS AS``)."""
    return dict(manifest.get("generated_cols") or {})


def _table_header(manifest: dict, changes: dict, carry: bool = True) -> dict:
    """The ``_HEADER`` fields a commit publishes: ``manifest``'s, with
    ``changes``' header fields replacing them; empty fields are left
    out.  ``carry`` (data commits) normalizes — ``stats_cols`` is
    materialized from inline stats on manifests that predate the
    header; without it (copies) the fields are taken verbatim."""
    out = {}
    for k in _HEADER:
        if k in changes:
            v = changes[k]
        elif carry and k == "stats_cols":
            v = _stats_cols_of(manifest)
        else:
            v = manifest.get(k)
        if v:
            out[k] = v
    return out


def _rebase_meta(manifest: dict) -> str:
    """The table header a rebased rewrite would silently clobber if an
    interleaved commit changed it — normalized (a v0 manifest stores
    stats_cols only implicitly in its inline stats; a representation
    change, not a conflict) and compared as canonical JSON, so neither
    column-set nor dict ordering fakes a conflict."""
    h = _table_header(manifest, {})
    h["stats_cols"] = sorted(h.get("stats_cols", ()))
    return json.dumps(h, sort_keys=True)


def _copy_body(manifest: dict) -> dict:
    """The file-list body fields of an existing manifest, verbatim —
    checkpoint refs are immutable, so RESTORE and metadata-only commits
    share them by reference."""
    return {
        k: manifest[k]
        for k in ("files", "stats", "base", "add", "remove", "add_stats", "n_files")
        if k in manifest
    }


# -- pure helpers --------------------------------------------------------------


def _typed_partition_value(raw: str):
    """A Hive path value parsed the way Spark's partition inference
    would for the common types (int, float, else string); the Hive
    null sentinel yields None (no skipping bound — absence is never
    evidence)."""
    from urllib.parse import unquote

    v = unquote(raw)
    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    try:
        return int(v)
    except ValueError:
        pass
    try:
        return float(v)
    except ValueError:
        return v


def _partition_values(rel: str, partition_cols: list[str]) -> dict:
    """{col: typed value} parsed from a file's ``key=value`` (adopted
    Hive layout) or ``__p_key=value`` (engine layout) path segments."""
    pset = set(partition_cols)
    out: dict = {}
    for seg in rel.split("/")[:-1]:
        k, sep, v = seg.partition("=")
        if not sep:
            continue
        if k.startswith(_PART_PREFIX):
            k = k[len(_PART_PREFIX):]
        if k in pset:
            out[k] = _typed_partition_value(v)
    return out


def _parse_temporal(s):
    """datetime for a canonical date/timestamp string, else None."""
    from datetime import datetime

    if not isinstance(s, str):
        return None
    try:
        return datetime.fromisoformat(s)
    except ValueError:
        return None


def _skip_provable(rng, lo, hi) -> bool:
    """True iff a file's recorded [rng] provably cannot intersect
    [lo, hi].  Temporal bounds (stats store date/timestamp ranges as
    their canonical strings) compare in TIME space — a lexicographic
    compare would mis-prune against shorter or non-canonical predicate
    literals ('2024-03-01' vs '2024-03-01 00:00:00'); a predicate
    literal that doesn't parse proves nothing on its side (the file is
    kept — sound)."""
    r0, r1 = rng[0], rng[1]
    t0, t1 = _parse_temporal(r0), _parse_temporal(r1)
    if t0 is not None and t1 is not None:
        # offset-aware vs naive datetimes (e.g. a manifest written by
        # an older Arrow commit that serialized '+00:00' bounds, read
        # against a naive predicate literal) raise TypeError on <:
        # proves nothing — keep the file (sound)
        try:
            if hi is not None:
                th = _parse_temporal(hi)
                if th is not None and t0 > th:
                    return True
            if lo is not None:
                tl = _parse_temporal(lo)
                if tl is not None and t1 < tl:
                    return True
        except TypeError:
            return False
        return False
    try:
        if hi is not None and r0 > hi:
            return True
        if lo is not None and r1 < lo:
            return True
    except TypeError:
        # cross-type bound (e.g. a string literal against numeric
        # stats, where SQL would cast): can't prove skippable
        return False
    return False


def _keep_file(stats: dict, rel: str, bounds: dict) -> bool:
    """Stats-based pruning of one file: False only when its recorded
    range provably misses some ``bounds`` column — files without stats
    (absence is never evidence) and NULL-only ranges are kept."""
    st = stats.get(rel)
    if st is None:
        return True
    for col, (lo, hi) in bounds.items():
        rng = st.get(col)
        if rng is None or rng[0] is None or rng[1] is None:
            continue
        if _skip_provable(rng, lo, hi):
            return False
    return True
