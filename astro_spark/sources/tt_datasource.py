"""Spark 4 Python Data Source for versioned-parquet tables — the
ecosystem half of the Delta parity story.

``operators/timetravel.py`` gives the engine its own API (``tt_read`` /
``tt_changes`` / drains), which is the FAST path: explicit file lists
feed Spark's native parquet scan, so pushdown/pruning stay JVM-side.
What that API cannot give is *format-string* integration — third-party
code that only knows ``spark.read.format(...)`` / ``readStream`` —
which is exactly how Delta ships its table format.  Spark 4's Python
Data Source API (`pyspark.sql.datasource`) closes that gap without a
JVM extension:

    from astro_spark.sources.tt_datasource import register
    register(spark)

    spark.read.format("versioned_parquet").option("path", root).load()
    spark.read.format("versioned_parquet").option("path", root) \
         .option("versionAsOf", "2").load()

    (spark.readStream.format("versioned_parquet")
          .option("path", root).load()          # appends per commit,
          .groupBy(...).agg(...) ...)           # Delta-source contract

Batch reads resolve the requested version through the manifest log
(checkpointed or inline) and decode the data files with Arrow — one
InputPartition per file, so parallelism matches the file layout.  The
STREAMING source follows Delta's: each micro-batch is the rows of the
files ADDED by commits in (start offset, end offset]; a commit that
also REMOVED files (merge/delete/update/overwrite/restore) is a
rewrite the append-stream cannot represent and raises, unless
``ignoreChanges=true`` (then the added files stream anyway and carried
rows may duplicate — Delta's exact ``ignoreChanges`` trade).  Each row
carries ``_commit_version``.

The Arrow-decode path costs more CPU per byte than the JVM scan — for
engine-internal work prefer ``tt_read``/``tt_changes_drain``; this
source exists so everything else on a cluster can read the format.
The log format itself (manifests, checkpoints, the atomic publish) is
``sources/tt_log.py``'s, the same code ``timetravel`` commits through.
Filesystem access is ``os``/``pyarrow`` for local roots and
``pyarrow.fs.FileSystem.from_uri`` elsewhere (object stores wherever
pyarrow's bundled filesystems reach).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .tt_log import (
    _INLINE_MAX,
    TableLog,
    _abs,
    _arrow_fs,
    _ArrowCommitUnsupported,
    _keep_file,
    _partition_cols_of,
    _partition_values,
    _stats_cols_of,
)


def _pick_version(log: TableLog, options: dict) -> int:
    root = log.root
    versions = log.versions()
    if not versions:
        raise ValueError(f"no versioned table at {root}")
    v = options.get("versionasof")
    ts = options.get("timestampasof")
    if v is not None and ts is not None:
        raise ValueError("pass at most one of versionAsOf / timestampAsOf")
    if v is not None:
        v = int(v)
        if v not in versions:
            raise ValueError(f"version {v} not found in {root}")
        return v
    if ts is not None:
        ts = float(ts)
        eligible = [x for x in versions if log.manifest(x)["ts"] <= ts]
        if not eligible:
            raise ValueError(f"no version at or before ts={ts} in {root}")
        return eligible[-1]
    return versions[-1]


def _spark_schema(manifest: dict) -> StructType:
    if manifest.get("schema") is None:
        raise ValueError(
            "manifest carries no schema (pre-schema-log table) — read it "
            "through astro_spark.tt_read instead"
        )
    return StructType.fromJson(json.loads(manifest["schema"]))


@dataclass
class _FilePartition(InputPartition):
    path: str
    commit_version: int = -1
    # JSON {col: value} for ADOPTED Hive files (tt_convert), whose
    # partition values live only in their key=value path segments —
    # engine-written files carry the columns physically and leave this
    # empty
    part_json: str = ""


def _part_json_for(rel: str, partition_cols: list[str]) -> str:
    """Serialized path values for a manifest entry, or '' when the
    file carries its partition columns physically."""
    if not partition_cols or rel.startswith("files/"):
        return ""
    vals = _partition_values(rel, partition_cols)
    return json.dumps(vals) if vals else ""


def _arrow_batches(
    abs_path: str,
    schema: StructType,
    commit_version: int,
    part_json: str = "",
):
    """Decode one data file into Arrow batches aligned to the LOG's
    schema: missing columns (pre-evolution files) materialize as NULL,
    extra file columns drop — the same log-owned-schema contract as
    ``tt_read``.  Adopted Hive files materialize their path-derived
    partition values (``part_json``) as constants."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    part_vals = json.loads(part_json) if part_json else {}
    want = to_arrow_schema(schema)
    f, path = _arrow_fs(abs_path)
    with f.open_input_file(path) as fh:
        table = pq.read_table(fh)
    cols = []
    for field in want:
        if field.name == "_commit_version":
            cols.append(
                pa.array([commit_version] * len(table), type=field.type)
            )
        elif field.name in table.column_names:
            cols.append(table.column(field.name).cast(field.type))
        elif field.name in part_vals and part_vals[field.name] is not None:
            cols.append(
                pa.array([part_vals[field.name]] * len(table)).cast(
                    field.type
                )
            )
        else:
            cols.append(pa.nulls(len(table), type=field.type))
    out = pa.table(dict(zip([f.name for f in want], cols)))
    yield from out.to_batches(max_chunksize=1 << 16)


class _TTBatchReader(DataSourceReader):
    def __init__(self, root: str, schema: StructType, options: dict):
        self._root = root
        self._schema = schema
        self._version = _pick_version(TableLog(root), options)
        self._bounds: dict[str, list] = {}

    def pushFilters(self, filters):
        """Catalyst's pushed conjuncts become manifest skip bounds —
        the format path gets Delta's stats-based file pruning for free
        on `.where("k > 5")`.  Every filter is also yielded back:
        file-granularity pruning is partial, Spark re-applies the
        predicate exactly."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        def _tighten(col: str, lo, hi) -> None:
            cur = self._bounds.setdefault(col, [None, None])
            if lo is not None and (cur[0] is None or lo > cur[0]):
                cur[0] = lo
            if hi is not None and (cur[1] is None or hi < cur[1]):
                cur[1] = hi

        for flt in filters:
            attr = getattr(flt, "attribute", None)
            val = getattr(flt, "value", None)
            if (
                attr is not None
                and len(attr) == 1
                and isinstance(val, (int, float, str))
            ):
                col = attr[0]
                if isinstance(flt, EqualTo):
                    _tighten(col, val, val)
                elif isinstance(flt, (GreaterThan, GreaterThanOrEqual)):
                    _tighten(col, val, None)  # strict widens: sound
                elif isinstance(flt, (LessThan, LessThanOrEqual)):
                    _tighten(col, None, val)
            yield flt  # Spark always re-applies — pruning is partial

    def partitions(self):
        log = TableLog(self._root)
        manifest = log.manifest(self._version)
        files, stats = log.resolve(manifest)
        if self._bounds:
            files = [f for f in files if _keep_file(stats, f, self._bounds)]
        pcols = _partition_cols_of(manifest)
        return [
            _FilePartition(
                _abs(log.root, rel),
                self._version,
                _part_json_for(rel, pcols),
            )
            for rel in files
        ] or [_FilePartition("")]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return
        yield from _arrow_batches(
            partition.path,
            self._schema,
            partition.commit_version,
            partition.part_json,
        )


class _TTStreamReader(DataSourceStreamReader):
    """Delta-source semantics: offsets are committed versions; a batch
    is the ADDED files of versions in (start, end]."""

    def __init__(self, root: str, schema: StructType, options: dict):
        self._root = root
        self._schema = schema
        self._ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self._ignore_deletes = (
            str(options.get("ignoredeletes", "false")).lower() == "true"
        )
        start = options.get("startingversion")
        start_ts = options.get("startingtimestamp")
        if start is not None and start_ts is not None:
            raise ValueError(
                "pass at most one of startingVersion / startingTimestamp"
            )
        if start_ts is not None:
            # Delta's startingTimestamp: stream every commit whose
            # timestamp is AT or AFTER the given clock (the first such
            # version streams inclusively); if none exists yet, only
            # future commits stream.  Accepts unix-epoch numerics AND
            # the timestamp-string form Delta's option takes
            # ('2026-08-16 00:00:00' — session-local, like the RESTORE
            # route).
            log = TableLog(root)
            versions = log.versions()
            if not versions:
                raise ValueError(f"no versioned table at {root}")
            try:
                ts = float(start_ts)
            except (TypeError, ValueError):
                from datetime import datetime

                ts = datetime.fromisoformat(str(start_ts)).timestamp()
            later = [
                v for v in versions if log.manifest(v)["ts"] >= ts
            ]
            if later and later[0] - 1 >= 0 and (later[0] - 1) not in versions:
                # the version preceding the first qualifying commit was
                # vacuumed: later[0] is the oldest SURVIVING state, so
                # stream it as a full replay (lo == -1 semantics) —
                # raising the vacuumed-offset error here would wedge a
                # brand-new stream that never had an offset to lose
                self._start = -1 if later[0] == versions[0] else later[0] - 1
            else:
                self._start = (later[0] - 1) if later else versions[-1]
        elif start is None:
            versions = TableLog(root).versions()
            if not versions:
                raise ValueError(f"no versioned table at {root}")
            # Delta's default: start from the current snapshot — only
            # commits AFTER registration stream.  startingVersion=0
            # replays the whole history (v0's files arrive as version 0
            # via the (start-1, end] window below).
            self._start = versions[-1]
        else:
            self._start = int(start) - 1
        self._prev_files: dict[int, list[str]] | None = None

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        versions = TableLog(self._root).versions()
        return {"version": versions[-1] if versions else self._start}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return [_FilePartition("")]
        log = TableLog(self._root)
        out: list[_FilePartition] = []
        all_versions = log.versions()
        # seed the prev file set AT the start offset (one manifest read),
        # then walk only (lo, hi] — a micro-batch costs O(batch versions)
        # manifest reads, not O(table lifetime)
        base = [v for v in all_versions if v <= lo]
        if lo >= 0 and not base:
            # the checkpointed offset version was vacuumed: seeding
            # prev=None here would silently re-emit every file of the
            # first surviving version as 'added' — a full replay
            # indistinguishable from the intentional startingVersion=0
            # path (lo == -1).  Fail loudly instead (Delta does too).
            raise ValueError(
                f"stream offset version {lo} of {self._root} has been "
                "vacuumed — the source cannot compute the file delta. "
                "Restart with a fresh checkpoint: the default start "
                "(current snapshot) streams commits from now on, or "
                "startingVersion=0 replays everything that survives; "
                "a startingVersion pointing at a vacuumed boundary "
                "re-raises this error"
            )
        prev: set[str] | None = (
            set(log.resolve(log.manifest(base[-1]))[0]) if base else None
        )
        for v in [v for v in all_versions if lo < v <= hi]:
            manifest = log.manifest(v)
            files, _stats = log.resolve(manifest)
            pcols = _partition_cols_of(manifest)
            fset = set(files)
            added = [f for f in files if prev is None or f not in prev]
            removed = prev is not None and not prev <= fset
            if (
                removed
                and not added
                and (self._ignore_deletes or self._ignore_changes)
            ):
                # a DELETE-ONLY commit (vacuumed partitions, retention
                # deletes): Delta's ignoreDeletes skips it silently —
                # no rows to emit, the file-set baseline just shrinks
                prev = fset
                continue
            if removed and not self._ignore_changes:
                raise ValueError(
                    f"version {v} of {self._root} rewrote data files "
                    "(merge/delete/update/overwrite) — an append "
                    "stream cannot represent it; set "
                    "ignoreChanges=true to stream the added files "
                    "anyway (carried rows may duplicate), "
                    "ignoreDeletes=true to skip DELETE-ONLY commits, "
                    "or consume astro_spark.tt_changes_drain for the "
                    "exact feed"
                )
            out.extend(
                _FilePartition(
                    _abs(log.root, rel), v, _part_json_for(rel, pcols)
                )
                for rel in added
            )
            prev = fset
        return out or [_FilePartition("")]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return
        yield from _arrow_batches(
            partition.path,
            self._schema,
            partition.commit_version,
            partition.part_json,
        )

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream's checkpoint; nothing to ack


class _TTWriteMessage(WriterCommitMessage):
    def __init__(self, files: list[str]):
        self.files = files


# -- Spark-free log commit ---------------------------------------------------
#
# Spark runs a Python data source writer's commit() in a detached
# runner process with no JVM gateway: `SparkSession.builder.getOrCreate()`
# there boots an ENTIRE fresh local JVM (~7-9 s per stream start,
# measured) just to publish one manifest.  So the commit is Spark-free:
# the footer schema and the skipping stats come from Arrow here; the
# manifest, its atomic publish and what a lost race means come from
# ``TableLog.commit`` — the one commit the session path's
# ``timetravel.tt_commit_files`` publishes through too, so both paths
# build the same manifest and resolve races (a lost create included)
# the same way.  Conditions this path can't honor (non-local root;
# CHECK constraints and GENERATED columns — Spark SQL expressions;
# schema drift; exotic stats types) raise ``_ArrowCommitUnsupported``
# BEFORE anything publishes and fall back to the session path, so
# semantics never fork.


def _files_schema_arrow(path: str, files: list[str]):
    """Unified Spark StructType of the just-written files' footers.
    pyarrow-level failures (conflicting footers → ArrowInvalid, footer
    read → OSError) defer to the session path, which produces the
    authoritative result or error — the documented 'falls back so
    semantics never fork' contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        merged = None
        for rel in files:
            s = pq.read_schema(f"{path}/{rel}")
            merged = s if merged is None else pa.unify_schemas([merged, s])
        return from_arrow_schema(merged)
    except (pa.ArrowInvalid, OSError) as exc:
        raise _ArrowCommitUnsupported(f"footer schema: {exc}") from exc


def _evolved_schema_arrow(prev_json: str | None, file_schema) -> str:
    """``timetravel._evolved_schema`` with merge_schema=False, on a
    footer-derived schema.  Any conflict defers to the session path —
    the JVM raises the authoritative error (a footer round-trip can
    disagree on e.g. timestamp NTZ-ness where the plan schema
    wouldn't), and the error path may be slow."""
    from pyspark.sql.types import StructType

    if prev_json is None:
        return json.dumps(file_schema.jsonValue())
    prev = StructType.fromJson(json.loads(prev_json))
    by_name = {f.name: f for f in prev.fields}
    for f in file_schema.fields:
        if f.name not in by_name:
            raise _ArrowCommitUnsupported(f"write adds column {f.name!r}")
        if by_name[f.name].dataType != f.dataType:
            raise _ArrowCommitUnsupported(f"type conflict on {f.name!r}")
    return prev_json  # no evolution possible with merge_schema=False


def _file_stats_arrow(
    path: str, files: list[str], stats_cols: list[str]
) -> dict:
    """Per-file [min, max] of the stats columns — exact, computed from
    a column-pruned Arrow read of the just-written (micro-batch-sized)
    files; integer, float, string, date and timestamp columns — the
    session path's stats types minus decimal, whose outward
    float-widening stays JVM-side."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out: dict = {}
    try:
        for rel in files:
            schema = pq.read_schema(f"{path}/{rel}")
            present = [c for c in stats_cols if c in schema.names]
            if not present:
                continue  # absence is never evidence: reader keeps the file
            for c in present:
                t = schema.field(c).type
                if not (
                    pa.types.is_integer(t)
                    or pa.types.is_floating(t)
                    or pa.types.is_string(t)
                    or pa.types.is_large_string(t)
                    or pa.types.is_date(t)
                    or pa.types.is_timestamp(t)
                ):
                    raise _ArrowCommitUnsupported(
                        f"stats col {c!r} type {t}"
                    )
            table = pq.read_table(f"{path}/{rel}", columns=present)
            entry = {}
            for c in present:
                mm = pc.min_max(table.column(c))
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                if lo is None or hi is None:
                    continue  # all-NULL column: no bound to record
                import datetime as _dt

                if isinstance(lo, (_dt.date, _dt.datetime)):
                    # Spark's arrow batches carry timestamp[us, tz=…]
                    # (session tz); str() of the tz-aware value would
                    # store '… +00:00' strings that disagree with the
                    # session path's naive session-local strings AND
                    # parse back offset-aware, poisoning the skip
                    # compare.  Normalize: tz-aware → local wall time,
                    # naive — the session path's exact convention
                    # (Spark's session tz defaults to the JVM/OS tz).
                    if (
                        isinstance(lo, _dt.datetime)
                        and lo.tzinfo is not None
                    ):
                        lo = lo.astimezone().replace(tzinfo=None)
                        hi = hi.astimezone().replace(tzinfo=None)
                    # canonical strings — the session path's exact
                    # serialization (timetravel._json_safe_bound)
                    lo, hi = str(lo), str(hi)
                entry[c] = [lo, hi]
            if entry:
                out[rel] = entry
        return out
    except (pa.ArrowInvalid, OSError) as exc:
        # pyarrow-level stats failure: defer to the session path
        raise _ArrowCommitUnsupported(f"stats scan: {exc}") from exc


def _commit_files_arrow(
    root: str,
    new_files: list[str],
    mode: str,
    inline_max: int = _INLINE_MAX,
) -> int:
    """Spark-free ``timetravel.tt_commit_files``: the same
    ``TableLog.commit`` kinds (create on an absent table, append with
    its race retry, replace for overwrite) with the validation done in
    Arrow — raises ``_ArrowCommitUnsupported`` (caller falls back to
    the session path) for non-local roots, constrained tables, schema
    drift, or exotic stats types.  Nothing publishes before every check
    passes."""
    log = TableLog(root, inline_max=inline_max)
    path = log.fs.local_dir()
    files = sorted(new_files)
    file_schema = _files_schema_arrow(path, files)
    file_schema_json = json.dumps(file_schema.jsonValue())
    if not log.versions():
        return log.commit(
            "create", "create", files=files, header={"schema": file_schema_json}
        )

    def attempt(prev: dict) -> tuple[dict, dict]:
        if prev.get("constraints"):
            raise _ArrowCommitUnsupported("table has CHECK constraints")
        if prev.get("generated_cols"):
            # GENERATED ALWAYS AS expressions are Spark SQL — the
            # session path derives/validates them
            raise _ArrowCommitUnsupported("table has GENERATED columns")
        if mode == "overwrite":
            schema = file_schema_json
        else:
            schema = _evolved_schema_arrow(prev.get("schema"), file_schema)
        # partition columns join the stats scan — stream-written files
        # carry them physically, and their bounds drive partition
        # pruning exactly like the session path's ``_new_file_stats``
        present = {f.name for f in file_schema.fields}
        cols = [
            c
            for c in dict.fromkeys(_stats_cols_of(prev) + _partition_cols_of(prev))
            if c in present
        ]
        stats = _file_stats_arrow(path, files, cols) if cols else {}
        return stats, {"schema": schema}

    if mode == "append":
        return log.commit("append", "append", files=files, attempt=attempt)
    base = log.head()
    stats, header = attempt(base[1])
    return log.commit(
        "replace", "overwrite", base, files=files, stats=stats, header=header
    )


class _TTArrowWriter(DataSourceArrowWriter):
    """Executor half: each task writes its Arrow batches as ONE parquet
    file under the commit's ``files/<uuid>/`` dir (invisible until the
    driver publishes a manifest); driver half: ``commit`` runs the SAME
    log transaction as ``tt_append``/``tt_overwrite`` — Arrow-first
    (``_commit_files_arrow``), else ``tt_commit_files`` on a session;
    both publish through ``TableLog.commit`` (schema check, CHECK
    constraints on the read-back, skipping stats, append race retry) —
    so ``df.write.format('versioned_parquet')`` is an ACID commit.  A
    failed/aborted job leaves invisible garbage only (``tt_vacuum``
    reclaims it) — exactly the engine-native writers' guarantee."""

    # a micro-batch spanning MANY partitions would explode into tiny
    # files; past this many distinct values the task writes one file
    # (stats simply record the wider [min, max] — sound, less pruning)
    _MAX_PARTITION_SPLITS = 32

    def __init__(self, root: str, overwrite: bool):
        import uuid as _uuid

        self._root = root
        self._overwrite = overwrite
        self._commit_dir = f"files/{_uuid.uuid4().hex}"
        # partitioned table? split each task's output one-file-per-
        # partition-value so the commit's scanned stats are exact
        # degenerate bounds — streaming ingest into a date-partitioned
        # table stays manifest-prunable.  Driver-side lookup; absent
        # table (create) or unpartitioned → no splitting.
        try:
            self._pcols = _partition_cols_of(TableLog(root).head()[1])
        except Exception:
            self._pcols = []

    def _split_tables(self, table):
        """[(sub-table)] split by distinct partition tuple (pyarrow),
        or [table] when unpartitioned / too many distinct values."""
        import pyarrow.compute as pc

        pcols = [c for c in self._pcols if c in table.column_names]
        if not pcols or not len(table):
            return [table]
        distinct = table.select(pcols).group_by(pcols).aggregate([])
        n = distinct.num_rows
        if n <= 1 or n > self._MAX_PARTITION_SPLITS:
            return [table]
        out = []
        for i in range(n):
            mask = None
            for c in pcols:
                v = distinct.column(c)[i]
                m = (
                    pc.is_null(table.column(c))
                    if not v.is_valid
                    else pc.equal(table.column(c), v)
                )
                mask = m if mask is None else pc.and_(mask, m)
            out.append(table.filter(mask))
        return out

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _TTWriteMessage([])
        table = pa.Table.from_batches(batches)
        f, path = _arrow_fs(self._root)
        f.create_dir(f"{path}/{self._commit_dir}", recursive=True)
        rels = []
        for part in self._split_tables(table):
            if not len(part):
                continue
            rel = f"{self._commit_dir}/part-{_uuid.uuid4().hex[:12]}.parquet"
            with f.open_output_stream(f"{path}/{rel}") as out:
                pq.write_table(part, out)
            rels.append(rel)
        return _TTWriteMessage(rels)

    def _all_files(self, messages) -> list[str]:
        return [rel for m in messages if m is not None for rel in m.files]

    def commit(self, messages):
        files = self._all_files(messages)
        if not files:
            return  # all-empty write: no version (matches no-op DML)
        # Arrow-first (the stream writer commits through here too):
        # Spark 4 runs the BATCH writer's commit in a detached Python
        # runner with no JVM gateway as well, where the former
        # ``SparkSession.builder.getOrCreate()`` booted a whole PRIVATE
        # local JVM (~10-20 s on first write, measured r14, plus a
        # second resident JVM for the rest of the process).  The
        # Spark-free commit publishes an identical manifest; only what
        # it can't honor (non-local root, CHECK constraints, generated
        # columns, schema drift, exotic stats) falls back to a session.
        try:
            _commit_files_arrow(
                self._root,
                files,
                mode="overwrite" if self._overwrite else "append",
            )
            return
        except _ArrowCommitUnsupported:
            pass
        from pyspark.sql import SparkSession

        from astro_spark.operators.timetravel import tt_commit_files

        # the commit callback may run on a listener thread without an
        # ACTIVE session; the default session in this driver JVM is the
        # one running the write job
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        tt_commit_files(
            spark,
            self._root,
            files,
            mode="overwrite" if self._overwrite else "append",
        )

    def abort(self, messages):
        f, path = _arrow_fs(self._root)
        try:  # best-effort: unpublished files are invisible anyway
            f.delete_dir(f"{path}/{self._commit_dir}")
        except Exception:
            pass


class _TTStreamWriter(DataSourceStreamWriter, _TTArrowWriter):
    """writeStream.format('versioned_parquet'): one ACID log commit per
    micro-batch — the format-string twin of
    ``load_file_stream_versioned``.  At-least-once under foreachBatch
    replay semantics; the manifest is the commit point.

    Spark runs a Python streaming sink's ``commit`` in a detached
    runner process (no JVM gateway), where ``getOrCreate`` would boot a
    whole fresh local JVM per stream (~7-9 s measured).  The commit is
    therefore the batch writer's: Arrow-first (``_commit_files_arrow``
    — identical manifest semantics, pure pyarrow/os), falling back to
    the session path only for what the Spark-free commit can't honor:
    non-local roots, tables with CHECK constraints or GENERATED columns
    (Spark SQL expressions), schema drift, or decimal stats."""

    def write(self, iterator):
        import uuid as _uuid

        # a fresh dir per task invocation: micro-batches must not share
        # commit dirs across retries
        self._commit_dir = f"files/{_uuid.uuid4().hex}"
        return _TTArrowWriter.write(self, iterator)

    def commit(self, messages, batchId: int):
        _TTArrowWriter.commit(self, messages)

    def abort(self, messages, batchId: int):
        _TTArrowWriter.abort(self, messages)


class VersionedParquetDataSource(DataSource):
    """``format("versioned_parquet")`` — batch + streaming reads of the
    ``operators/timetravel.py`` log through Spark's data source API."""

    @classmethod
    def name(cls) -> str:
        return "versioned_parquet"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError(
                "versioned_parquet: .option('path', <root>) is required"
            )
        return root

    def schema(self) -> StructType:
        log = TableLog(self._root())
        manifest = log.manifest(_pick_version(log, self.options))
        st = _spark_schema(manifest)
        # the change-tracking column is part of the DECLARED schema when
        # asked for (Spark resolves the plan from schema(), which cannot
        # know batch vs stream): stream rows carry their commit's
        # version, batch rows the selected snapshot's
        if (
            str(self.options.get("includecommitversion", "false")).lower()
            == "true"
        ):
            from pyspark.sql.types import LongType, StructField

            st = StructType(
                st.fields + [StructField("_commit_version", LongType())]
            )
        return st

    def reader(self, schema: StructType) -> _TTBatchReader:
        return self._reader_with(schema, _TTBatchReader)

    def writer(self, schema: StructType, overwrite: bool) -> _TTArrowWriter:
        return _TTArrowWriter(self._root(), overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> _TTStreamWriter:
        return _TTStreamWriter(self._root(), overwrite)

    def streamReader(self, schema: StructType) -> _TTStreamReader:
        return self._reader_with(schema, _TTStreamReader)

    def _reader_with(self, schema: StructType, cls):
        return cls(self._root(), schema, dict(self.options))


def register(spark) -> None:
    """Register the format with a session:
    ``spark.read.format('versioned_parquet')`` afterwards.  Also
    enables ``spark.sql.python.filterPushdown.enabled`` — the reader
    implements ``pushFilters`` (stats-based file pruning), and Spark
    4.1 REFUSES to run a pushFilters-bearing reader with the conf off
    rather than silently skipping pushdown."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(VersionedParquetDataSource)
