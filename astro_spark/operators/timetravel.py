"""Versioned parquet tables: time travel, RESTORE, history, VACUUM,
and optimistic concurrent-writer isolation — on plain parquet.

Reference parity: the reference's Databricks backend gets all of this
implicitly by CTAS-ing ``USING DELTA`` (``databases/databricks/
delta.py:168-187``) and letting the Delta log provide versions.  This
engine runs on catalogs without Delta (delta-spark is uninstallable in
this environment — COVERAGE.md), so the log protocol is re-expressed
minimally on any Hadoop filesystem.  The log format itself — layout,
manifests, checkpoints, the atomic publish — lives in
``sources/tt_log.py``, shared with the Spark-free ``versioned_parquet``
data source; this module is the Spark half: it writes data files,
checks and scans them, and decides what each commit publishes.

Every commit writes its NEW data files under a fresh ``files/<uuid>/``
directory (existing files are never touched — writers never conflict on
data), then publishes a manifest resolving to the version's COMPLETE
file list.  Readers resolve a version to its manifest and read exactly
those files; data files with no manifest pointing at them are invisible
(a crashed writer leaves garbage, never corruption — ``vacuum`` reclaims
it).

**Checkpointed log (Delta's checkpoint model):** small tables keep the
complete file list INLINE in the JSON manifest.  Once a version's file
count exceeds ``spark.astro.tt.inlineFilesMax`` (default 1000), the
snapshot moves into a parquet CHECKPOINT (one (file, stats) row per
data file, written driver-side via Arrow — no Spark job) and manifests
carry only ``base`` (the checkpoint ref) plus inline ``add``/``remove``
deltas.  When the delta tail itself outgrows the knob, the commit
compacts: resolves the full list and writes a fresh checkpoint.  So on
a long-lived 100 TB table (10⁵–10⁶ files, thousands of commits) an
append costs O(new files) JSON, a read costs one tiny JSON + one
columnar checkpoint scan, and ``tt_history`` never parses a file list
at all (``n_files`` rides in every manifest header).

Concurrent-writer isolation is optimistic, Delta-style: the manifest is
published as a complete temp file moved into place with ``link(2)``
(local/NFS roots) or ``FileSystem.rename`` (other Hadoop filesystems) —
an atomic put-if-absent that refuses an existing version (object stores
without atomic rename need an external lock; same caveat Delta's S3
single-writer LogStore documents).  Every commit here goes through
``TableLog.commit``, whose kind decides what a lost race means:
appends (``tt_append``, ``tt_commit_files``) re-validate against the
new head and retry — their file list is state-independent;
delete/update/merge/OPTIMIZE-WHERE are copy-on-write rewrites that
rebase with file-level conflict resolution — Delta's
WriteSerializable: writers on disjoint partitions both land,
same-partition rewrites conflict; create/overwrite/OPTIMIZE/RESTORE/
clone/convert and metadata-only commits surface the conflict, because
what they meant to replace (or to create) has changed.

Scale: a manifest is O(files-in-version) JSON read once per query
plan — the same cost profile as Delta's checkpointed log.  Reads pass
the explicit file list to the parquet source, so partition pruning,
predicate pushdown and column pruning all apply unchanged.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col as F_col

from ..exceptions import AstroSparkError, ConcurrentWriteError
from ..sources.tt_log import (
    _PART_PREFIX,
    TableLog,
    _abs,
    _generated_cols_of,
    _is_external,
    _keep_file,
    _partition_cols_of,
    _partition_values,
    _stats_cols_of,
)
from ..sources.readers import read_parquet
from ..sources.writers import _hadoop_fs


class ConstraintViolationError(AstroSparkError):
    """A write carried rows that fail a table CHECK constraint."""


def _named_root(spark: SparkSession, root: str) -> str:
    """Resolve a tt_register'd name to its versioned root; path-shaped
    strings (any separator) pass through untouched, so the whole
    Python tt_* surface accepts ``db.table`` exactly like the SQL
    front door."""
    if isinstance(root, str) and "/" not in root and "\\" not in root:
        resolved = tt_resolve_name(spark, root)
        if resolved is not None:
            return resolved
    return root


def _open(spark: SparkSession, root: str) -> TableLog:
    """The log of a root or registered name; callers use ``log.root``
    (local roots made absolute) for every Spark path too."""
    return TableLog(_named_root(spark, root), spark)


def _write_data_files(
    spark: SparkSession,
    df: DataFrame,
    log: TableLog,
    partition_cols: list[str] | None = None,
) -> list[str]:
    """Write df's rows as immutable files under files/<uuid>/ and return
    their root-relative paths.  Nothing references them until a manifest
    is published, so a crash here leaves invisible garbage only.  With
    ``partition_cols`` the layout splits per partition value via
    ``__p_``-prefixed path columns (see ``tt_log._PART_PREFIX``)."""
    from pyspark.sql import functions as F

    commit_dir = f"files/{uuid.uuid4().hex}"
    writer = df.write.mode("overwrite")
    if partition_cols:
        missing = [c for c in partition_cols if c not in df.columns]
        if missing:
            raise AstroSparkError(
                f"write to a table partitioned by {partition_cols} is "
                f"missing partition column(s) {missing}"
            )
        writer = (
            df.select(
                "*",
                *[
                    F.col(c).alias(f"{_PART_PREFIX}{c}")
                    for c in partition_cols
                ],
            )
            .write.mode("overwrite")
            .partitionBy(*[f"{_PART_PREFIX}{c}" for c in partition_cols])
        )
    writer.parquet(f"{log.root}/{commit_dir}")
    return log.parquet_files(commit_dir)


_STATS_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "string",
    "date", "timestamp", "timestamp_ntz",
)


def _json_safe_bound(v, side: int):
    """Manifest stats must survive ``json.dumps`` — Decimal bounds become
    floats, widened OUTWARD (``side`` -1 for a min, +1 for a max) when
    the nearest float would narrow the range, so file skipping stays
    sound: a widened range can only keep extra files, never drop one.
    date/timestamp bounds become their canonical strings ('2024-03-01',
    '2024-03-01 10:00:00' — space separator), which order
    lexicographically exactly like the values, so string predicate
    literals prune them directly."""
    import datetime as _dt
    import math
    from decimal import Decimal

    if isinstance(v, Decimal):
        f = float(v)
        if side < 0 and Decimal(f) > v:
            f = math.nextafter(f, -math.inf)
        elif side > 0 and Decimal(f) < v:
            f = math.nextafter(f, math.inf)
        return f
    if isinstance(v, (_dt.date, _dt.datetime)):
        return str(v)
    return v


def _file_stats(
    spark: SparkSession, root: str, files: list[str], stats_cols: list[str]
) -> dict:
    """Per-file [min, max] of each stats column — Delta's data-skipping
    stats, gathered with ONE column-pruned scan of the just-written
    files (group by input_file_name; map-side partial min/max)."""
    from pyspark.sql import functions as F

    if not files or not stats_cols:
        return {}
    df = read_parquet(spark, [_abs(root, f) for f in files])
    for c in stats_cols:
        t = df.schema[c].dataType.simpleString()
        if t not in _STATS_TYPES and not t.startswith("decimal"):
            raise AstroSparkError(
                f"stats_cols: column {c!r} has type {t} — data-skipping "
                f"stats support numeric and string columns"
            )
    aggs = []
    for c in stats_cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    rows = (
        df.select(F.input_file_name().alias("__f"), *stats_cols)
        .groupBy("__f")
        .agg(*aggs)
        .collect()  # bounded: one row per file
    )

    def _norm(u: str) -> str:
        return u.removeprefix("file:").lstrip("/")

    by_norm = {_norm(_abs(root, f)): f for f in files}
    out: dict = {}
    for r in rows:
        rel = by_norm.get(_norm(r["__f"]))
        if rel is None:
            continue
        out[rel] = {
            c: [
                _json_safe_bound(r[f"__lo_{c}"], -1),
                _json_safe_bound(r[f"__hi_{c}"], +1),
            ]
            for c in stats_cols
        }
    return out


def _schema_json(df: DataFrame) -> str:
    return json.dumps(df.schema.jsonValue())


def _evolved_schema(prev_json: str | None, df: DataFrame, merge_schema: bool) -> str:
    """The manifest schema a commit publishes — Delta's log-owned-schema
    model: the LOG, not parquet footer merging, is the source of truth.

    Without ``merge_schema`` a df carrying columns the table doesn't
    have is rejected (Delta's default); a df MISSING table columns is
    fine (they read back as NULL through the stored schema).  With
    ``merge_schema`` new columns append to the schema; a same-name
    type conflict raises."""
    from pyspark.sql.types import StructType

    if prev_json is None:
        return _schema_json(df)
    prev = StructType.fromJson(json.loads(prev_json))
    by_name = {f.name: f for f in prev.fields}
    new_fields = [f for f in df.schema.fields if f.name not in by_name]
    for f in df.schema.fields:
        if f.name in by_name and by_name[f.name].dataType != f.dataType:
            raise AstroSparkError(
                f"schema conflict on column {f.name!r}: table has "
                f"{by_name[f.name].dataType.simpleString()}, write has "
                f"{f.dataType.simpleString()}"
            )
    if new_fields and not merge_schema:
        raise AstroSparkError(
            f"write adds columns {[f.name for f in new_fields]} not in the "
            "table schema — pass merge_schema=True to evolve it"
        )
    return json.dumps(
        StructType(prev.fields + new_fields).jsonValue()
    )


class VersionedTable:
    """Target handle addressing a versioned-parquet root, accepted by
    batch ``load_file(..., output_table=)`` and
    ``run_transform(..., output_table=)`` — the reference's CTAS
    ``USING DELTA`` shape (``databases/databricks/delta.py:168-187``),
    where pointing an ELT op at a Delta table implicitly buys the log.
    ``stats_cols`` opt into per-file data-skipping stats on every
    commit; streaming's counterpart is ``load_file_stream_versioned``.
    """

    columns: tuple = ()  # no explicit-columns shorthand (Table has one)

    def __init__(
        self,
        root: str,
        stats_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
    ):
        self.root = root
        self.stats_cols = stats_cols
        self.partition_by = partition_by

    def __repr__(self) -> str:  # pragma: no cover - debugging nicety
        return f"VersionedTable(root={self.root!r})"


def save_dataframe_versioned(
    spark: SparkSession,
    df: DataFrame,
    target: VersionedTable,
    if_exists: str = "replace",
) -> int:
    """Commit ``df`` to a versioned root with load_file's ``if_exists``
    vocabulary: absent root → version 0 (``tt_create``); ``replace`` →
    ``tt_overwrite`` (a NEW version — old versions stay readable, which
    is exactly what replacing a Delta table does); ``append`` →
    ``tt_append``.  Returns the committed version."""
    if if_exists not in ("replace", "append"):
        raise ValueError(f"invalid if_exists: {if_exists!r}")
    if not TableLog(target.root, spark).versions():
        return tt_create(
            spark,
            df,
            target.root,
            stats_cols=target.stats_cols,
            partition_by=getattr(target, "partition_by", None),
        )
    if if_exists == "append":
        return tt_append(spark, df, target.root)
    return tt_overwrite(spark, df, target.root)


def tt_create(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    stats_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    generated_cols: dict[str, str] | None = None,
) -> int:
    """Create a versioned table at ``root`` as version 0.

    ``stats_cols``: record per-file [min, max] of these columns in the
    manifest (Delta's data-skipping stats — one extra column-pruned
    scan per commit); ``tt_read(skip_by=...)`` then prunes files from
    the MANIFEST, before any footer is touched.  Later commits keep
    recording stats for the same columns automatically.

    ``partition_by``: Delta's ``PARTITIONED BY`` — every commit's files
    split one-partition-value-per-file (Hive-style ``__p_<col>=``
    layout that KEEPS the column in the data), and the partition
    columns automatically join the skipping stats, so
    ``tt_read(where="dt = ...")`` prunes to the partition's files from
    the manifest alone.

    ``generated_cols``: ``{name: spark-sql-expr}`` — Delta's
    ``GENERATED ALWAYS AS``: every write derives missing generated
    columns automatically (the time-partitioned-ingest pattern:
    ``partition_by=["day"], generated_cols={"day":
    "CAST(date_trunc('DAY', ts) AS DATE)"}`` — appends only carry
    ``ts``); a write that SUPPLIES the column must satisfy the
    expression or fails before publishing."""
    log = _open(spark, root)
    root = log.root
    if log.versions():
        raise AstroSparkError(f"versioned table already exists at {root}")
    partition_by = list(partition_by or [])
    header = {
        "stats_cols": list(stats_cols or []),
        "partition_cols": partition_by,
        "generated_cols": dict(generated_cols or {}),
    }
    df = _apply_generated(df, header)
    _check_generated(df, header, "create")
    for c in partition_by:
        if c not in df.columns:
            raise AstroSparkError(
                f"partition_by column {c!r} not in the DataFrame"
            )
    files = _write_data_files(spark, df, log, partition_cols=partition_by)
    stats = _new_file_stats(
        spark, root, files, header, df
    ) if (stats_cols or partition_by) else {}
    header["schema"] = _schema_json(df)
    return log.commit("create", "create", files=files, stats=stats, header=header)


def _check_constraints(df: DataFrame, manifest: dict, what: str) -> None:
    """Enforce the table's CHECK constraints on a write's rows BEFORE
    its manifest publishes (the data files are still invisible, so a
    rejected write leaves garbage, never a bad version).  Delta
    semantics: the expression must be TRUE for every row — FALSE and
    NULL both violate."""
    from pyspark.sql import functions as F

    for name, expr in (manifest.get("constraints") or {}).items():
        bad = df.where(~F.expr(expr).eqNullSafe(F.lit(True))).limit(1).count()
        if bad:
            raise ConstraintViolationError(
                f"{what} violates CHECK constraint {name!r}: ({expr}) "
                "is not TRUE for every written row"
            )


def tt_add_constraint(
    spark: SparkSession, root: str, name: str, expr: str
) -> int:
    """Delta ``ALTER TABLE ... ADD CONSTRAINT <name> CHECK (<expr>)``:
    validates the CURRENT head data first (Delta does the same scan),
    then commits a metadata-only version carrying the constraint —
    every later append/merge/overwrite must satisfy it or fails before
    publishing."""
    log = _open(spark, root)
    base = log.head()
    cons = base[1].get("constraints") or {}
    if name in cons:
        raise AstroSparkError(f"constraint {name!r} already exists")
    files, _stats = log.resolve(base[1])
    _check_constraints(
        _read_files(spark, log.root, files, base[1]),
        {"constraints": {name: expr}},
        "existing data",
    )
    return log.commit(
        "copy", f"add_constraint({name})", base,
        header={"constraints": {**cons, name: expr}},
    )


def tt_drop_constraint(spark: SparkSession, root: str, name: str) -> int:
    """Delta ``ALTER TABLE ... DROP CONSTRAINT``: metadata-only commit."""
    log = _open(spark, root)
    base = log.head()
    cons = dict(base[1].get("constraints") or {})
    if name not in cons:
        raise AstroSparkError(f"constraint {name!r} does not exist")
    del cons[name]
    return log.commit(
        "copy", f"drop_constraint({name})", base, header={"constraints": cons}
    )


def tt_add_columns(
    spark: SparkSession, root: str, columns: list[tuple[str, str]]
) -> int:
    """Delta ``ALTER TABLE ... ADD COLUMNS (c TYPE, ...)``: metadata-only
    commit appending nullable columns to the LOG-owned schema — zero
    data files touched; every existing file reads the new columns as
    NULL (the same contract as ``tt_append(merge_schema=True)``, minus
    the write).  Duplicate names (case-insensitive, Spark's resolution)
    raise."""
    from pyspark.sql.types import StructField, StructType
    from pyspark.sql.types import _parse_datatype_string

    if not columns:
        raise ValueError("tt_add_columns: no columns given")
    log = _open(spark, root)
    base = log.head()
    manifest = base[1]
    if manifest.get("schema") is None:
        raise AstroSparkError(
            "tt_add_columns: pre-schema-log table — commit a write "
            "first so the log owns a schema"
        )
    prev = StructType.fromJson(json.loads(manifest["schema"]))
    have = {f.name.lower() for f in prev.fields}
    new_fields = []
    for name, type_str in columns:
        if name.lower() in have:
            raise AstroSparkError(
                f"tt_add_columns: column {name!r} already exists"
            )
        have.add(name.lower())
        new_fields.append(
            StructField(name, _parse_datatype_string(type_str), True)
        )
    return log.commit(
        "copy",
        f"add_columns({','.join(n for n, _t in columns)})",
        base,
        header={
            "schema": json.dumps(StructType(prev.fields + new_fields).jsonValue())
        },
    )


def tt_set_properties(
    spark: SparkSession, root: str, props: dict[str, str]
) -> int:
    """Delta ``ALTER TABLE ... SET TBLPROPERTIES``: merge ``props`` into
    the table's property map with a metadata-only commit (no data files
    touched); properties carry across every later commit and RESTORE
    restores the version's map."""
    if not props:
        raise ValueError("tt_set_properties: empty property map")
    log = _open(spark, root)
    base = log.head()
    merged = {**(base[1].get("properties") or {})}
    merged.update({str(k): str(v) for k, v in props.items()})
    return log.commit(
        "copy", "set_properties", base, header={"properties": merged}
    )


def tt_unset_properties(
    spark: SparkSession, root: str, keys: list[str]
) -> int:
    """Delta ``ALTER TABLE ... UNSET TBLPROPERTIES``: metadata-only
    commit dropping the keys (missing keys are ignored, Delta's IF
    EXISTS behavior)."""
    log = _open(spark, root)
    base = log.head()
    props = {
        k: v
        for k, v in (base[1].get("properties") or {}).items()
        if k not in set(keys)
    }
    return log.commit(
        "copy", "unset_properties", base, header={"properties": props}
    )


def tt_properties(spark: SparkSession, root: str) -> dict[str, str]:
    """The head version's table-property map (empty if none set)."""
    log = _open(spark, root)
    _v, manifest = log.head()
    return dict(manifest.get("properties") or {})


def _partition_path_stats(files: list[str], partition_cols: list[str]) -> dict:
    """Degenerate per-file [v, v] skipping bounds from path segments —
    a partition value IS a min==max range, so ``tt_read(where=)`` and
    ``skip_by`` prune partitions through the ordinary stats machinery
    with zero extra scans."""
    out: dict = {}
    for f in files:
        vals = _partition_values(f, partition_cols)
        entry = {c: [v, v] for c, v in vals.items() if v is not None}
        if entry:
            out[f] = entry
    return out


def _path_valued(rel: str, partition_cols: list[str]) -> bool:
    """True when this file's partition values exist ONLY in its path —
    an adopted Hive file (raw ``<col>=`` segment).  Engine-written
    files use ``__p_``-prefixed segments and keep the columns in the
    data, so they read through the ordinary explicit-file-list scan."""
    if _is_external(rel):
        return False
    pset = set(partition_cols)
    for seg in rel.split("/")[:-1]:
        k, sep, _v = seg.partition("=")
        if sep and k in pset:
            return True
    return False


def _require_generated_present(df: DataFrame, manifest: dict, what: str) -> None:
    """Pre-written files (format writes) cannot derive columns after
    the fact — a generated column missing from them would read back
    NULL and silently break the generation invariant, so refuse."""
    missing = [
        c for c in _generated_cols_of(manifest) if c not in df.columns
    ]
    if missing:
        raise AstroSparkError(
            f"{what}: files are missing GENERATED column(s) {missing} — "
            "format writes must carry them (the tt_append path derives "
            "them automatically)"
        )


def _apply_generated(df: DataFrame, manifest: dict) -> DataFrame:
    """Derive any generated column a write's df is missing — Delta's
    write-side generation.  Columns the df DOES carry are validated
    against the expression later (``_check_generated``)."""
    from pyspark.sql import functions as F

    for name, expr in _generated_cols_of(manifest).items():
        if name not in df.columns:
            df = df.withColumn(name, F.expr(expr))
    return df


def _check_generated(df: DataFrame, manifest: dict, what: str) -> None:
    """A write that SUPPLIES a generated column must satisfy its
    expression on every row (Delta enforces the same) — checked on the
    still-invisible files, so a violation leaves garbage, never a bad
    version."""
    from pyspark.sql import functions as F

    for name, expr in _generated_cols_of(manifest).items():
        if name not in df.columns:
            continue
        bad = (
            df.where(~F.col(name).eqNullSafe(F.expr(expr)))
            .limit(1)
            .count()
        )
        if bad:
            raise ConstraintViolationError(
                f"{what} violates GENERATED column {name!r}: supplied "
                f"values differ from ({expr})"
            )


def _new_file_stats(
    spark: SparkSession,
    root: str,
    new_files: list[str],
    manifest: dict,
    df: DataFrame,
) -> dict:
    """Skipping stats for a commit's new files: the table's
    ``stats_cols`` plus (on partitioned tables) the partition columns —
    engine-written files carry partition values physically, so ONE
    column-pruned scan covers both; partition columns of types the
    stats machinery doesn't order (date, boolean, ...) are skipped
    quietly (no bounds → never pruned — sound)."""
    pcols = _partition_cols_of(manifest)
    want = list(_stats_cols_of(manifest))
    want += [c for c in pcols if c not in want]
    scan: list[str] = []
    for c in want:
        if c not in df.columns:
            continue
        t = df.schema[c].dataType.simpleString()
        if (
            c in pcols
            and t not in _STATS_TYPES
            and not t.startswith("decimal")
        ):
            continue  # auto-added partition col of an unorderable type
        scan.append(c)
    return _file_stats(spark, root, new_files, scan) if scan else {}


def tt_append(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    merge_schema: bool = False,
) -> int:
    """Commit a new version = previous files + df's files.  Append's
    intent is state-independent, so a lost race is retried against the
    fresh head (data files are written ONCE; only the validation and
    the manifest race re-run).  ``merge_schema=True`` evolves the table
    schema with the df's new columns (old files read the new columns as
    NULL); without it, new columns are rejected — Delta's mergeSchema
    contract."""
    log = _open(spark, root)
    # partition and generated columns are immutable table metadata (no
    # ALTER): one head read decides the write layout, the commit
    # re-reads only the racing state
    _v, head_m = log.head()
    df = _apply_generated(df, head_m)
    files = _write_data_files(
        spark, df, log, partition_cols=_partition_cols_of(head_m)
    )
    return _commit_append(spark, log, df, files, merge_schema)


def tt_commit_files(
    spark: SparkSession,
    root: str,
    new_files: list[str],
    mode: str = "append",
) -> int:
    """Publish ALREADY-WRITTEN data files (root-relative paths under
    ``files/``) as a commit — the log-transaction half used by the
    ``versioned_parquet`` Data Source writer, whose executors wrote the
    parquet through Arrow.  The commit paths are ``tt_append``'s and
    ``tt_overwrite``'s (schema checked against the log, CHECK
    constraints validated on the read-back of the still-invisible
    files, skipping stats recorded, append retries lost races); on an
    absent table the commit CREATES version 0 with the files' footer
    schema, and like every create it raises if another writer created
    the table first."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"tt_commit_files: invalid mode {mode!r}")
    log = _open(spark, root)
    if not new_files:
        raise ValueError("tt_commit_files: no files to commit")
    files = sorted(new_files)
    # the footer read IS the read-back: the files are what they are
    df = read_parquet(spark, [_abs(log.root, f) for f in files])
    if not log.versions():
        return log.commit(
            "create", "create", files=files, header={"schema": _schema_json(df)}
        )
    if mode == "overwrite":
        base = log.head()
        return _commit_replace(
            spark, log, base, df, files, _schema_json(df),
            _partition_cols_of(base[1]),
        )
    return _commit_append(spark, log, df, files, merge_schema=False)


def _commit_append(
    spark: SparkSession,
    log: TableLog,
    df: DataFrame,
    files: list[str],
    merge_schema: bool,
) -> int:
    """The staged-append commit of ``tt_append`` (files written from
    ``df``) and ``tt_commit_files`` (files given, ``df`` their footer
    read).  Every attempt validates against the head it lands on: the
    schema evolves from that head's, and the ACTUAL written rows (the
    tt_merge pattern), not the caller's lazy df, are checked — a
    nondeterministic df (rand() sampling, unordered limit) must never
    publish rows the check didn't see.  Reading the still-invisible
    files through the evolved schema also means columns df omits are
    checked as the NULLs they will read back as."""

    def attempt(prev: dict) -> tuple[dict, dict]:
        _require_generated_present(df, prev, "tt_commit_files")
        evolved = _evolved_schema(prev.get("schema"), df, merge_schema)
        written = _read_file_lists(spark, log.root, files, evolved, [])
        _check_constraints(written, prev, "append")
        _check_generated(written, prev, "append")
        # stats only for columns the new files actually carry — a df
        # legitimately missing table columns (they read back as NULL)
        # must not crash the stats scan; absent per-file stats are
        # already treated as "keep" by the skip_by reader
        stats = _new_file_stats(spark, log.root, files, prev, df)
        return stats, {"schema": evolved}

    return log.commit("append", "append", files=files, attempt=attempt)


def tt_overwrite(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    partition_by: list[str] | None = None,
) -> int:
    """Commit a new version containing ONLY df's files (old versions
    stay readable).  A lost race raises — the state this overwrite
    meant to replace is gone.  ``partition_by=None`` carries the
    table's existing partition layout; a list (possibly empty) replaces
    it — Delta's ``CREATE OR REPLACE ... PARTITIONED BY`` re-layout."""
    log = _open(spark, root)
    base = log.head()
    prev = base[1]
    pcols = (
        _partition_cols_of(prev) if partition_by is None else list(partition_by)
    )
    df = _apply_generated(df, prev)
    files = _write_data_files(spark, df, log, partition_cols=pcols)
    # validate the ACTUAL written rows (tt_merge pattern) — the files are
    # still invisible, so a rejected overwrite leaves garbage, never a
    # bad version, even for a nondeterministic df
    schema = _schema_json(df)  # overwrite replaces the schema too
    written = _read_file_lists(spark, log.root, files, schema, [])
    return _commit_replace(spark, log, base, written, files, schema, pcols)


def _commit_replace(
    spark: SparkSession,
    log: TableLog,
    base: tuple[int, dict],
    written: DataFrame,
    files: list[str],
    schema: str,
    pcols: list[str],
) -> int:
    """The replace commit of ``tt_overwrite`` and
    ``tt_commit_files(mode="overwrite")``: check the read-back of the
    still-invisible ``files`` against the table's CHECK constraints and
    GENERATED columns, then publish them as the whole snapshot with
    ``schema`` and partition layout ``pcols``, the rest of the header
    carried."""
    prev = base[1]
    _require_generated_present(written, prev, "tt_commit_files")
    _check_constraints(written, prev, "overwrite")
    _check_generated(written, prev, "overwrite")
    header = {"schema": schema, "partition_cols": pcols}
    stats = _new_file_stats(spark, log.root, files, {**prev, **header}, written)
    return log.commit(
        "replace", "overwrite", base, files=files, stats=stats, header=header
    )


def _skip_bounds_from_predicate(where: str) -> dict:
    """Manifest skip bounds derivable from a predicate's TOP-LEVEL
    conjuncts — Delta's automatic data skipping for the sargable
    shapes (``col >= lit``, ``<=``, ``<``, ``>``, ``=``,
    ``col BETWEEN a AND b``; numeric or single-quoted string
    literals).  Anything else contributes no bounds (the caller still
    filters exactly); a top-level OR disables skipping entirely.
    Strict bounds widen to closed ones — widening only ever KEEPS
    extra files, so pruning stays sound."""
    import re

    out: dict[str, list] = {}

    def _tighten(col: str, lo, hi) -> None:
        cur = out.setdefault(col, [None, None])
        if lo is not None and (cur[0] is None or lo > cur[0]):
            cur[0] = lo
        if hi is not None and (cur[1] is None or hi < cur[1]):
            cur[1] = hi

    def _lit(txt: str):
        txt = txt.strip()
        if txt.startswith("'") and txt.endswith("'"):
            return txt[1:-1]
        try:
            return int(txt)
        except ValueError:
            return float(txt)  # may raise → conjunct ignored by caller

    # split on standalone AND at depth 0 outside quotes; a BETWEEN's
    # own AND binds tighter and must not split its conjunct
    def _word_at(low: str, i: int, w: str) -> bool:
        return (
            low.startswith(w, i)
            and (i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_"))
            and (
                i + len(w) >= len(low)
                or not (low[i + len(w)].isalnum() or low[i + len(w)] == "_")
            )
        )

    parts: list[str] = []
    depth, q, buf, i, low = 0, None, [], 0, where.lower()
    pending_between = False
    while i < len(where):
        ch = where[i]
        if q:
            if ch == q:
                q = None
            buf.append(ch)
            i += 1
            continue
        if ch in "'\"":
            q = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and _word_at(low, i, "or"):
            return {}  # a top-level OR: no conjunct is individually binding
        elif depth == 0 and _word_at(low, i, "between"):
            pending_between = True
        elif depth == 0 and _word_at(low, i, "and"):
            if pending_between:
                pending_between = False  # BETWEEN a AND b — keep together
            else:
                parts.append("".join(buf))
                buf = []
                i += 3
                continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))

    lit_re = r"(-?\d+(?:\.\d+)?|'[^']*')"
    cmp_re = re.compile(
        rf"(?is)^\s*`?(\w+)`?\s*(>=|<=|==|=|<|>)\s*{lit_re}\s*$"
    )
    btw_re = re.compile(
        rf"(?is)^\s*`?(\w+)`?\s+between\s+{lit_re}\s+and\s+{lit_re}\s*$"
    )
    in_re = re.compile(
        rf"(?is)^\s*`?(\w+)`?\s+in\s*\(\s*{lit_re}"
        rf"(?:\s*,\s*{lit_re})*\s*\)\s*$"
    )
    in_lit_re = re.compile(lit_re)
    for piece in parts:
        try:
            m = cmp_re.match(piece)
            if m:
                col, op, val = m.group(1), m.group(2), _lit(m.group(3))
                if op in (">=", ">"):
                    _tighten(col, val, None)
                elif op in ("<=", "<"):
                    _tighten(col, None, val)
                else:
                    _tighten(col, val, val)
                continue
            m = btw_re.match(piece)
            if m:
                _tighten(m.group(1), _lit(m.group(2)), _lit(m.group(3)))
                continue
            m = in_re.match(piece)
            if m:
                # col IN (a, b, c): [min, max] of the list — Delta
                # prunes IN lists the same way; mixed-type lists raise
                # on min/max and contribute nothing (sound)
                vals = [
                    _lit(t.group(0))
                    for t in in_lit_re.finditer(piece[piece.index("(") :])
                ]
                _tighten(m.group(1), min(vals), max(vals))
        except (ValueError, TypeError):
            continue  # unparseable literal: conjunct contributes nothing
    return {c: (lo, hi) for c, (lo, hi) in out.items()}


def tt_read(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    as_of_ts: float | None = None,
    skip_by: dict | None = None,
    where: str | None = None,
) -> DataFrame:
    """Read a version (default: latest).  ``as_of_ts`` selects the
    latest version committed at or before that unix timestamp (Delta's
    ``TIMESTAMP AS OF``).  The explicit file list goes straight to the
    parquet source — pushdown and pruning apply unchanged.

    ``skip_by={col: (lo, hi)}`` prunes files whose RECORDED [min, max]
    (``stats_cols`` at commit time) cannot intersect [lo, hi] — Delta's
    data skipping, decided entirely from the manifest before any
    parquet footer is opened.  Either bound may be None (open end).
    Files without stats are always kept (absence is never evidence),
    and skipping is an OPTIMIZATION contract only: the caller still
    applies their own ``.where`` — rows outside the bounds may appear
    from kept files.

    ``where=`` is the AUTOMATIC form: the predicate is applied exactly
    (``.where``), and its top-level sargable conjuncts additionally
    derive manifest skip bounds (``_skip_bounds_from_predicate``) —
    Delta's stats-based skipping without hand-passing ``skip_by``.
    Explicit ``skip_by`` bounds intersect with the derived ones."""
    log = _open(spark, root)
    root = log.root
    versions = log.versions()
    if not versions:
        raise AstroSparkError(f"no versioned table at {root}")
    if version is not None and as_of_ts is not None:
        raise ValueError("tt_read: pass at most one of version / as_of_ts")
    if version is None and as_of_ts is None:
        version = versions[-1]
    elif as_of_ts is not None:
        eligible = [
            v
            for v in versions
            if log.manifest(v)["ts"] <= as_of_ts
        ]
        if not eligible:
            raise AstroSparkError(
                f"no version at or before ts={as_of_ts} in {root}"
            )
        version = eligible[-1]
    if version not in versions:
        raise AstroSparkError(f"version {version} not found in {root}")
    manifest = log.manifest(version)
    files, stats = log.resolve(manifest)
    if where is not None:
        derived = _skip_bounds_from_predicate(where)
        merged = dict(skip_by or {})
        for col, (lo, hi) in derived.items():
            cur_lo, cur_hi = merged.get(col, (None, None))
            if lo is not None and (cur_lo is None or lo > cur_lo):
                cur_lo = lo
            if hi is not None and (cur_hi is None or hi < cur_hi):
                cur_hi = hi
            merged[col] = (cur_lo, cur_hi)
        skip_by = merged or None
    if skip_by:
        files = [f for f in files if _keep_file(stats, f, skip_by)]

    if not files and manifest.get("schema") is None:
        raise AstroSparkError(
            f"version {version} of {root} has no data files "
            "(empty-write commit) — no schema to serve"
        )
    # the LOG owns the schema (Delta's model): files written before a
    # column existed read it as NULL — no footer merging, no ambiguity;
    # adopted Hive files additionally materialize partition columns
    # from their paths (_read_files)
    df = _read_files(spark, root, files, manifest)
    return df.where(where) if where is not None else df


def tt_restore(spark: SparkSession, root: str, version: int) -> int:
    """RESTORE: commit a NEW head version whose file list equals the
    given version's (Delta ``RESTORE TABLE ... TO VERSION AS OF``) —
    history is preserved, nothing is deleted."""
    log = _open(spark, root)
    versions = log.versions()
    if version not in versions:
        raise AstroSparkError(f"version {version} not found in {log.root}")
    # the version's body and header (schema, checks, layout) copy
    # verbatim — checkpoint refs are immutable, so restoring a
    # checkpointed version shares its base by reference
    return log.commit(
        "copy", f"restore(v{version})", (versions[-1], log.manifest(version))
    )


def tt_restore_to_ts(spark: SparkSession, root: str, as_of_ts: float) -> int:
    """RESTORE to the latest version committed at or before the given
    unix timestamp — Delta ``RESTORE TABLE ... TO TIMESTAMP AS OF``."""
    log = _open(spark, root)
    root = log.root
    eligible = [
        v
        for v in log.versions()
        if log.manifest(v)["ts"] <= as_of_ts
    ]
    if not eligible:
        raise AstroSparkError(
            f"no version at or before ts={as_of_ts} in {root}"
        )
    return tt_restore(spark, root, eligible[-1])


def tt_convert(
    spark: SparkSession,
    root: str,
    partition_by: list[str] | None = None,
) -> int:
    """Delta ``CONVERT TO DELTA``: adopt an existing plain-parquet
    directory as a versioned table IN PLACE — version 0's manifest
    references the directory's parquet files by relative path, zero
    bytes rewritten.  Later commits behave normally (appends land under
    ``files/<uuid>/``, DML copies-on-write, vacuum may reclaim the
    adopted files once no live version references them).

    HIVE-PARTITIONED layouts (``key=value`` subdirs) are adopted too —
    Delta's ``CONVERT TO DELTA ... PARTITIONED BY``: the partition
    columns are detected from the paths (outer→inner dir order),
    recorded as the table's ``partition_cols``, and each adopted file
    gets degenerate [v, v] skipping bounds parsed from its path, so
    partition pruning works from the manifest with zero scans.
    Adopted files keep their values in PATHS (read through one
    ``basePath`` scan); every later rewrite migrates touched files to
    the engine layout, which carries the columns in the data.
    ``partition_by`` (column names; Delta's clause carries types — the
    path values type themselves here) is optional validation: when
    given it must match the detected layout.

    Refuses an already-versioned root, an empty directory, and a
    layout whose files disagree on the partition column set."""
    log = _open(spark, root)
    root = log.root
    if log.versions():
        raise AstroSparkError(
            f"tt_convert: {root} is already a versioned table"
        )
    if not log.fs.exists(""):
        raise AstroSparkError(f"tt_convert: no such directory {root}")
    files = log.parquet_files()
    if not files:
        raise AstroSparkError(f"tt_convert: no parquet files under {root}")

    # detect the Hive layout: every file's FULL directory segment
    # sequence must be key=value dirs of equal depth — matching only
    # the key=value segments would let dt=1/f.parquet and
    # dt=1/extra/f.parquet agree on ('dt',) and then fail later inside
    # Spark's basePath partition inference with an opaque 'Conflicting
    # directory structures' error instead of this message
    hive = any("=" in s for f in files for s in f.split("/")[:-1])

    def _keys_of(rel: str) -> tuple[str, ...]:
        segs = rel.split("/")[:-1]
        if hive and not all("=" in s for s in segs):
            raise AstroSparkError(
                "tt_convert: non-partition directory in a Hive layout — "
                f"every directory segment must be key=value, got {rel!r}"
            )
        return tuple(s.partition("=")[0] for s in segs if "=" in s)

    layouts = {_keys_of(f) for f in files}
    if len(layouts) > 1:
        raise AstroSparkError(
            "tt_convert: inconsistent Hive layout — files disagree on "
            f"their partition columns or depth: {sorted(layouts)}"
        )
    pcols = list(layouts.pop())
    if partition_by is not None and list(partition_by) != pcols:
        raise AstroSparkError(
            f"tt_convert: PARTITIONED BY {list(partition_by)} does not "
            f"match the directory layout {pcols}"
        )
    # a fresh estate's dirs are always fully covered, so the adoption
    # scan collapses to O(partition dirs) paths — at 100k files this is
    # the difference between a ~3 s and a ~3 min convert (the same
    # explicit-path plan tax _read_file_lists compacts away)
    paths = (
        _compact_paths(spark, root, files)
        if len(files) >= _dir_compact_min(spark)
        else files
    )
    abs_files = [_abs(root, f) for f in paths]
    if pcols:
        # basePath materializes the partition columns (and their
        # inferred types) into the adopted schema
        df = spark.read.option("basePath", root).parquet(*abs_files)
    else:
        df = spark.read.parquet(*abs_files)
    stats = _partition_path_stats(files, pcols) if pcols else {}
    return log.commit(
        "create", "convert", files=files, stats=stats,
        header={"schema": _schema_json(df), "partition_cols": pcols},
    )


def tt_detail(spark: SparkSession, root: str) -> DataFrame:
    """Delta ``DESCRIBE DETAIL``: one row describing the CURRENT
    snapshot — format, location, head version, file count, total data
    bytes, commit timestamp, and the constraint/stats-column metadata.
    File sizes come from the filesystem (the manifest deliberately
    stores no sizes — Delta's detail pays the same listing); local
    roots stat through os.stat (100k files ≈ 0.3 s), remote ones pay
    one getFileStatus per file through the gateway (the round-14
    stress run measured that loop at ~0.37 ms/file — fine at 10³
    files, 37 s at 10⁵; a remote 10⁵-file table should read
    ``num_files`` from tt_history's free header instead)."""
    log = _open(spark, root)
    root = log.root
    head_v, manifest = log.head()
    files, _stats = log.resolve(manifest)
    size = sum(log.fs.size(f) for f in files)
    return _literal_rows_df(
        spark,
        [
            (
                "versioned_parquet",
                root,
                int(head_v),
                len(files),
                size,
                float(manifest.get("ts") or 0.0),
                json.dumps(manifest.get("constraints") or {}),
                list(_stats_cols_of(manifest)),
                json.dumps(manifest.get("properties") or {}),
                list(_partition_cols_of(manifest)),
            )
        ],
        "format string, location string, version long, num_files long, "
        "size_bytes long, last_commit_ts double, constraints string, "
        "stats_cols array<string>, properties string, "
        "partition_cols array<string>",
    )


def _literal_rows_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Tiny driver-side literal relation as a ``Project(Range(n))`` of
    pure JVM literals (arrays indexed by the range id for n > 1).

    ``spark.createDataFrame(small_list)`` parallelizes into
    defaultParallelism (32) pickled slices, and EVERY action over the
    frame pays a Python-worker round trip per slice (~0.7 s per count
    measured r14; a coalesce(1) makes it worse — 5.5 s — by evaluating
    all 32 slices sequentially in one task).  The literal projection
    plans as Range(n) + literals: ~0.25 s per count, zero Python, and
    the row count is statically visible to plan audits (the
    ``_one_row`` property, VERDICT r11 #2).  Command results and log
    metadata (history/detail) are bounded-size by construction — never
    use this for data-sized relations."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    from pyspark.sql.types import ArrayType, MapType, StructType

    st = _parse_datatype_string(schema)
    if not rows:
        return spark.createDataFrame([], st)

    def _lit(v, dt):
        if isinstance(v, (list, tuple)) and not v:
            return F.array().cast(dt)  # F.lit([]) cannot infer a type
        return F.lit(v).cast(dt)

    if len(rows) == 1:
        return spark.range(1).select(
            *[
                _lit(v, f.dataType).alias(f.name)
                for v, f in zip(tuple(rows[0]), st.fields)
            ]
        )
    if any(
        isinstance(f.dataType, (ArrayType, MapType, StructType))
        for f in st.fields
    ):
        return spark.createDataFrame(rows, st)  # nested literals: punt
    idx = (F.col("id") + 1).cast("int")
    return spark.range(len(rows)).select(
        *[
            F.element_at(F.lit([tuple(r)[i] for r in rows]), idx)
            .cast(f.dataType)
            .alias(f.name)
            for i, f in enumerate(st.fields)
        ]
    )


def tt_history(spark: SparkSession, root: str) -> DataFrame:
    """(version, op, ts, n_files) per committed version — Delta
    ``DESCRIBE HISTORY``."""
    log = _open(spark, root)
    rows = [
        (
            v,
            (m := log.manifest(v))["op"],
            float(m["ts"]),
            # header-only: n_files rides in every manifest, so history
            # never parses (or fetches) a file list — O(versions) tiny
            # JSON reads even on a checkpointed million-file table
            int(m.get("n_files", len(m.get("files") or []))),
        )
        for v in log.versions()
    ]
    return _literal_rows_df(
        spark, rows, "version long, op string, ts double, n_files long"
    )


def _dir_compact_min(spark: SparkSession) -> int:
    try:
        return int(spark.conf.get("spark.astro.tt.dirCompactMin", "256"))
    except Exception:
        return 256


def _compact_paths(
    spark: SparkSession, root: str, rel_files: list[str]
) -> list[str]:
    """Collapse an explicit file list to parent DIRECTORIES wherever the
    directory's visible parquet set exactly equals the selected subset
    (round 14, found by tools/tt_partition_sweep.py): handing Spark's
    source N explicit paths costs ~1.8 ms/path in py4j marshaling +
    driver-side listing — 72 s of PLAN time at 40k files, ~30 min at
    10⁶ — while handing it the parent dirs costs O(dirs) and lets the
    JVM list children in bulk.  Commit dirs (``files/<uuid>/...``) are
    immutable and either fully live or partially removed, so on a
    churn-free table this collapses 10⁵ paths into 10²-10³ dirs; a dir
    that lost ANY member to copy-on-write (or contains extras) falls
    back to its explicit files — never a wrong row, only a slower plan.
    One listStatus per candidate dir decides it.  Only LEAF dirs are
    collapsed (the file's immediate parent), so Spark never discovers
    partition key=value segments BELOW a passed path (its default
    basePath is the dir itself); callers that want path-derived
    partition columns pass ``basePath`` explicitly and get the same
    inference for dirs as for files."""
    from collections import defaultdict

    by_dir: dict[str, list[str]] = defaultdict(list)
    for f in rel_files:
        d = f.rsplit("/", 1)[0] if "/" in f else ""
        by_dir[d].append(f)

    # local roots list through ONE os.scandir per dir — the py4j loop
    # over FileStatus objects costs 2 round-trips per FILE (18 s at
    # 40k files, measured), defeating the point of compaction
    log = TableLog(root, spark)
    out: list[str] = []
    for d, members in by_dir.items():
        if not d or len(members) < 2:
            out.extend(members)
            continue
        try:
            listed = [name for name, _is_dir in log.fs.list(d)]
        except Exception:
            out.extend(members)
            continue
        # hidden files (_SUCCESS, .crc) are invisible to Spark's file
        # index — ignore them; any OTHER extra or missing visible entry
        # disqualifies the dir
        visible = {n for n in listed if not n.startswith(("_", "."))}
        names = {m.rsplit("/", 1)[-1] for m in members}
        if visible == names:
            out.append(d)
        else:
            out.extend(members)
    return out


def _read_file_lists(
    spark: SparkSession,
    root: str,
    files: list[str],
    schema_json: str | None,
    partition_cols: list[str],
) -> DataFrame:
    """The engine's file-list scan, partition-aware: engine-written
    files (partition values physically in the data) go to the ordinary
    explicit-file-list parquet source; adopted Hive files (values only
    in ``key=value`` paths) go through ONE uniform-depth
    ``basePath=root`` scan so Spark materializes the partition columns
    from the paths; both sides read the LOG's schema and union.  Steady
    state after churn is a single plain scan — every rewrite moves
    files to the engine layout.

    Above ``spark.astro.tt.dirCompactMin`` files (default 256) the
    explicit lists collapse to fully-covered parent dirs first
    (``_compact_paths``) — the 10⁵-file plan-construction lever."""
    from pyspark.sql.types import StructType

    schema = (
        StructType.fromJson(json.loads(schema_json))
        if schema_json is not None
        else None
    )
    if not files:
        if schema is None:
            raise AstroSparkError("no data files and no schema to serve")
        return spark.createDataFrame([], schema)
    adopted = (
        [f for f in files if _path_valued(f, partition_cols)]
        if partition_cols
        else []
    )
    # hoist the set: building it per-element made this comprehension
    # O(files²) — 78 of the 82 plan-construction seconds at 40k files
    # (tools/tt_partition_sweep.py profile, round 14)
    adopted_set = set(adopted)
    plain = [f for f in files if f not in adopted_set]
    compact_min = _dir_compact_min(spark)
    parts: list[DataFrame] = []
    if plain:
        paths = (
            _compact_paths(spark, root, plain)
            if len(plain) >= compact_min
            else plain
        )
        r = spark.read if schema is None else spark.read.schema(schema)
        parts.append(r.parquet(*[_abs(root, f) for f in paths]))
    if adopted:
        paths = (
            _compact_paths(spark, root, adopted)
            if len(adopted) >= compact_min
            else adopted
        )
        r = spark.read.option("basePath", root)
        if schema is not None:
            r = r.schema(schema)
        parts.append(r.parquet(*[_abs(root, f) for f in paths]))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _read_files(
    spark: SparkSession, root: str, files: list[str], manifest: dict
) -> DataFrame:
    """Read ``files`` through ``manifest``'s stored schema (files
    written before a column existed read it as NULL) and partition
    layout (adopted Hive files materialize their path values)."""
    return _read_file_lists(
        spark, root, files, manifest.get("schema"), _partition_cols_of(manifest)
    )


def _touched_relative(
    spark: SparkSession, root: str, files: list[str], flagged: DataFrame
) -> list[str]:
    """Map a DISTINCT input_file_name() relation back to root-relative
    manifest paths.  Bounded collect: at most len(files) rows."""
    abs_by_rel = {f: _abs(root, f) for f in files}
    hit = {r[0] for r in flagged.limit(len(files) + 1).collect()}

    def _norm(u: str) -> str:
        return u.removeprefix("file:").lstrip("/")

    hit_norm = {_norm(u) for u in hit}
    return [
        rel
        for rel, ab in abs_by_rel.items()
        if _norm(ab) in hit_norm or ab in hit
    ]


def _rewrite(
    spark: SparkSession,
    log: TableLog,
    op: str,
    flag,
    rewrite,
    checks=(),
    inserts: bool = False,
) -> int:
    """The copy-on-write path of DELETE/UPDATE/MERGE: find the head's
    files holding the rows ``flag(full, manifest)`` selects (it returns
    their DISTINCT ``input_file_name()``, captured in the scan stage),
    write ``rewrite(touched, manifest)`` — the replacement rows of those
    files — under the table's partition layout, run each of ``checks``
    on the read-back of the still-invisible files, and publish a
    rebasing ``rewrite`` commit (untouched files carry over by
    reference).  Without a touched file nothing commits, unless the op
    ``inserts`` rows of its own (MERGE rewrites an empty frame)."""
    root = log.root
    base = log.head()
    head_v, manifest = base
    files, _stats = log.resolve(manifest)
    full = _read_files(spark, root, files, manifest)
    touched = _touched_relative(spark, root, files, flag(full, manifest))
    if not touched and not inserts:
        return head_v  # nothing matched: no new version
    out = rewrite(
        _read_files(spark, root, touched, manifest) if touched else full.limit(0),
        manifest,
    )
    new_files = _write_data_files(
        spark, out, log, partition_cols=_partition_cols_of(manifest)
    )
    if checks:
        written = _read_files(spark, root, new_files, manifest)
        for check in checks:
            check(written, manifest, op)
    stats = _new_file_stats(spark, root, new_files, manifest, out)
    return log.commit(
        "rewrite", op, base, files=new_files, removed=touched, stats=stats
    )


def tt_delete_where(spark: SparkSession, root: str, predicate: str) -> int:
    """Delta ``DELETE FROM ... WHERE`` on the versioned log: rewrite
    ONLY the files containing matching rows (minus those rows), commit
    a new version = untouched files + rewritten files.  Old versions
    stay readable — deleted rows remain time-travelable until
    ``tt_vacuum``.  O(touched files) write cost, one column-pruned scan
    to find them."""
    from pyspark.sql import functions as F

    def flag(full: DataFrame, _m: dict) -> DataFrame:
        return full.where(predicate).select(F.input_file_name().alias("f")).distinct()

    return _rewrite(
        spark, _open(spark, root), "delete", flag,
        lambda touched, _m: touched.where(f"NOT ({predicate})"),
    )


def tt_update_where(
    spark: SparkSession,
    root: str,
    set_map: dict[str, str],
    predicate: str | None = None,
) -> int:
    """Delta ``UPDATE ... SET ... WHERE`` on the versioned log: rewrite
    ONLY the files containing matching rows (matching rows get
    ``set_map``'s column → Spark-SQL-expression assignments, the file's
    other rows carry unchanged), commit a new version = untouched files
    + rewritten files.  Old versions stay readable.  O(touched files)
    write cost; updated rows are validated against the table's CHECK
    constraints on the READ-BACK of the written files before anything
    publishes."""
    from pyspark.sql import functions as F

    cond = F.expr(predicate) if predicate is not None else F.lit(True)

    def flag(full: DataFrame, _m: dict) -> DataFrame:
        for c in set_map:
            if c not in full.columns:
                raise AstroSparkError(f"tt_update_where: unknown column {c!r}")
        return full.where(cond).select(F.input_file_name().alias("f")).distinct()

    def rewrite(touched: DataFrame, manifest: dict) -> DataFrame:
        # partition-column SET works too: values are physical data here,
        # so the rewrite simply re-lays the touched rows under their new
        # partition dirs — no path-only state to migrate.  Each
        # assignment casts back to the EXISTING column type (Delta's
        # store-assignment policy): a widening expression (``SET r = r /
        # 2`` on a long column) would otherwise make when/otherwise
        # coerce the whole column to double, publishing files whose
        # physical type contradicts the log-owned schema — unreadable
        # until tt_restore.
        out = touched.select(
            *[
                F.when(cond, F.expr(set_map[c]).cast(touched.schema[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
                if c in set_map
                else F.col(c)
                for c in touched.columns
            ]
        )
        # recompute generated columns over the rewritten rows (Delta
        # does the same): a SET on a source column must move its
        # generated partition value too
        for g_name, g_expr in _generated_cols_of(manifest).items():
            out = out.withColumn(g_name, F.expr(g_expr))
        return out

    return _rewrite(
        spark, _open(spark, root), "update", flag, rewrite,
        checks=(_check_constraints,),
    )


def tt_merge(
    spark: SparkSession, source: DataFrame, root: str, keys: list[str]
) -> int:
    """Delta ``MERGE INTO`` on the versioned log: upsert ``source``
    into the head version — matched rows update, new keys insert — and
    commit the result as a new version.  File-scoped copy-on-write:
    only files CONTAINING matched keys are rewritten (untouched files
    carry over by manifest reference; an untouched file cannot hold a
    matched key by construction), inserts land in the rewrite commit's
    files.  Source rows are pre-deduped deterministically on the keys
    (the engine-wide merge convention — Delta errors on source dups).
    Old versions stay readable: MERGE + time travel on plain parquet,
    the combination the Delta backend gets from its log.  The rewrite's
    ACTUAL rows (updates included) are checked against the CHECK
    constraints and GENERATED columns before anything publishes."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .merge import _upsert

    def flag(target: DataFrame, manifest: dict) -> DataFrame:
        nonlocal source
        source = _apply_generated(source, manifest)
        source = source.select(*target.columns)  # align column order
        w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in source.columns])
        source = (
            source.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        # input_file_name() must be captured IN the scan stage — after
        # the join exchange it evaluates empty
        tagged = target.select(*keys, F.input_file_name().alias("f"))
        return (
            tagged.join(source.select(*keys).distinct(), on=keys, how="leftsemi")
            .select("f")
            .distinct()
        )

    return _rewrite(
        spark,
        _open(spark, root),
        "merge",
        flag,
        lambda touched, _m: _upsert(touched, source, keys),
        checks=(_check_constraints, _check_generated),
        inserts=True,
    )


def tt_optimize(
    spark: SparkSession,
    root: str,
    target_files: int | None = None,
    zorder_by: list[str] | None = None,
    where: str | None = None,
) -> int:
    """Delta ``OPTIMIZE [WHERE] [ZORDER BY]`` on the versioned log:
    rewrite the head version's rows into ``target_files`` files
    (default: the session shuffle-partition count capped at the
    current file count), optionally range-partitioned on a Morton key
    over ``zorder_by`` columns so files cover compact hyper-rectangles
    (row-group pruning on any clustered dimension), and commit the
    layout as a new version.  Rows are IDENTICAL to the head version —
    only the file layout changes; old versions stay readable.

    ``where`` scopes the rewrite to a PARTITION subset — Delta's
    ``OPTIMIZE ... WHERE``, the only way to compact a 100 TB table
    incrementally: only files whose recorded partition value satisfies
    the predicate (partition columns only, the sargable shapes
    ``_skip_bounds_from_predicate`` understands) are rewritten; every
    other file carries over by manifest reference, so the commit costs
    O(selected partition), never O(table)."""
    from ..plans.zorder import with_zorder_key

    log = _open(spark, root)
    root = log.root
    base = log.head()
    head_v, manifest = base
    pcols = _partition_cols_of(manifest)
    files, recorded = log.resolve(manifest)
    scope = files
    if where is not None:
        if not pcols:
            raise AstroSparkError(
                "tt_optimize(where=): the table is not partitioned — "
                "OPTIMIZE WHERE selects whole partitions (Delta's rule)"
            )
        bounds = _skip_bounds_from_predicate(where)
        if not bounds or any(c not in pcols for c in bounds):
            raise AstroSparkError(
                "tt_optimize(where=): the predicate must be a sargable "
                f"conjunction over partition columns {pcols}, got "
                f"{where!r}"
            )
        # a file is selected iff its RECORDED partition value provably
        # satisfies every bound (degenerate [v, v] stats — partition
        # values are always recorded, so no file is ambiguous)
        scope = []
        for f in files:
            st = recorded.get(f) or {}
            take = True
            for col, (lo, hi) in bounds.items():
                rng = st.get(col)
                try:
                    if (
                        rng is None
                        or rng[0] != rng[1]
                        or (lo is not None and rng[0] < lo)
                        or (hi is not None and rng[1] > hi)
                    ):
                        take = False
                        break
                except TypeError:  # cross-type bound: not provable
                    take = False
                    break
            if take:
                scope.append(f)
        if not scope:
            return head_v  # nothing in scope: no new version
    df = _read_files(spark, root, scope, manifest)
    if target_files is None:
        target_files = max(
            1,
            min(len(scope), int(spark.conf.get("spark.sql.shuffle.partitions"))),
        )
    if zorder_by:
        df = (
            with_zorder_key(df, zorder_by)
            .repartitionByRange(target_files, F_col("__zorder"))
            .drop("__zorder")
        )
    elif pcols:
        # compact WITHIN partitions: shuffle by partition value so each
        # partition's rows land together before partitionBy re-splits —
        # coalesce would glue unrelated partitions into one task whose
        # writer then re-splits them anyway
        df = df.repartition(target_files, *[F_col(c) for c in pcols])
    else:
        df = df.coalesce(target_files)
    new_files = _write_data_files(spark, df, log, partition_cols=pcols)
    # zorder makes files cover COMPACT ranges — exactly when skipping
    # stats pay off; recompute them over the new layout
    stats = _new_file_stats(spark, root, new_files, manifest, df)
    if where is not None:
        # partition-scoped: unselected files carry over by reference —
        # an O(delta) copy-on-write commit exactly like DML's
        return log.commit(
            "rewrite", f"optimize(where={where})", base,
            files=new_files, removed=scope, stats=stats,
        )
    op = f"optimize(zorder={','.join(zorder_by)})" if zorder_by else "optimize"
    return log.commit("replace", op, base, files=new_files, stats=stats)


def tt_diff(
    spark: SparkSession,
    root: str,
    key_cols: list[str],
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed between two versions — the query surface
    of Delta's CHANGE DATA FEED, computed from the versioned snapshots
    themselves: (diff_status ∈ added/removed/changed, *key_cols) for
    every key whose row differs between ``from_version`` and
    ``to_version`` (default: head).  One full-outer join on the keys;
    non-key columns ride as two hashes, so the shuffle is key-width
    regardless of row width (``catalog.diff_dataframes``' contract).
    Because manifests share unchanged files, at scale this can prune to
    the files the manifests DON'T share; the semantic diff here is
    correct for any pair, including across overwrite/restore."""
    from .catalog import diff_dataframes

    return diff_dataframes(
        tt_read(spark, root, from_version),
        tt_read(spark, root, to_version),
        key_cols,
        names=(f"v{from_version}", f"v{to_version if to_version is not None else 'head'}"),
    )


def tt_clone(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    version: int | None = None,
) -> int:
    """Delta ``SHALLOW CLONE``: create ``dst_root`` as version 0
    REFERENCING the source version's data files by absolute path —
    zero bytes copied, instant dev/test sandboxes over any-size tables.
    Reads serve the source's files through the clone's own log; every
    WRITE to the clone copies-on-write into the clone's ``files/``
    (append adds local files; merge/delete/update rewrite only touched
    files locally and drop their external refs), so the source is
    never modified; ``tt_vacuum`` on the clone never deletes external
    refs (the source owns them).  Constraints, skipping stats and the
    schema carry over.  Hazard shared with Delta's shallow clone: a
    later VACUUM on the SOURCE can delete files the clone still
    references — deep-copy (``tt_create`` from ``tt_read``) when the
    source's retention isn't under your control."""
    src_root = _named_root(spark, src_root)  # BEFORE the path check:
    # a registered db.table name resolves to its absolute root first
    if not _is_external(_abs(src_root, "files")):
        raise ValueError(
            f"tt_clone: src_root must be an absolute path or URI (or a "
            f"tt_register'd name), got {src_root!r}"
        )
    src = TableLog(src_root, spark)
    versions = src.versions()
    if not versions:
        raise AstroSparkError(f"no versioned table at {src_root}")
    version = versions[-1] if version is None else version
    if version not in versions:
        raise AstroSparkError(f"version {version} not found in {src_root}")
    m = src.manifest(version)
    files, stats = src.resolve(m)
    src_pcols = _partition_cols_of(m)
    if src_pcols and any(_path_valued(f, src_pcols) for f in files):
        raise AstroSparkError(
            "tt_clone: the source version still references ADOPTED Hive "
            "files whose partition values live only in their paths — a "
            "clone's absolute refs would lose the basePath those values "
            "resolve against.  OPTIMIZE the source first (rewrites "
            "adopted files into the engine layout), then clone."
        )
    abs_files = [_abs(src_root, f) for f in files]
    abs_stats = {_abs(src_root, f): s for f, s in stats.items()}
    dst = _open(spark, dst_root)
    if dst.versions():
        raise AstroSparkError(f"versioned table already exists at {dst.root}")
    # the source version's header verbatim
    return dst.commit(
        "create", f"clone({src_root}@v{version})",
        files=abs_files, stats=abs_stats, header=m,
    )


def tt_changes(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level CHANGE DATA FEED computed from the log's file deltas —
    no stored change files, no key columns needed: for each version v
    in (``from_version``, ``to_version``], the rows of v's ADDED files
    multiset-minus the rows of its REMOVED files are the inserts, the
    reverse are the deletes (an update surfaces as delete+insert, the
    pre/post image pair).  Unchanged rows carried by a file rewrite
    appear on both sides and cancel exactly, so the scan cost is
    O(churned files), never O(table) — and a pure re-layout commit
    (OPTIMIZE) correctly yields zero change rows.  Columns:
    ``(*table columns, _change_type, _commit_version)``.  Use
    ``tt_diff`` instead when you have key columns and want
    added/removed/changed per key between two arbitrary snapshots."""
    from pyspark.sql import functions as F

    log = _open(spark, root)
    root = log.root
    versions = log.versions()
    if from_version not in versions:
        raise AstroSparkError(
            f"version {from_version} not found in {root} (vacuumed?)"
        )
    to_version = versions[-1] if to_version is None else to_version
    if to_version not in versions:
        raise AstroSparkError(f"version {to_version} not found in {root}")
    out = None
    prev_m = log.manifest(from_version)
    prev_files, _ = log.resolve(prev_m)
    for v in [x for x in versions if from_version < x <= to_version]:
        cur_m = log.manifest(v)
        cur_files, _ = log.resolve(cur_m)
        prev_set, cur_set = set(prev_files), set(cur_files)
        added = [f for f in cur_files if f not in prev_set]
        removed = [f for f in prev_files if f not in cur_set]
        # read BOTH sides through the newer schema (the log owns it:
        # pre-evolution files read new columns as NULL; adopted files
        # their path values), so the multiset compare is well-typed
        # across schema evolution
        added_df = _read_files(spark, root, added, cur_m) if added else None
        removed_df = (
            _read_files(spark, root, removed, cur_m) if removed else None
        )
        if added_df is None and removed_df is None:
            prev_files = cur_files
            continue
        if added_df is None:
            added_df = removed_df.limit(0)
        if removed_df is None:
            removed_df = added_df.limit(0)
        ins = added_df.exceptAll(removed_df).withColumn(
            "_change_type", F.lit("insert")
        )
        dels = removed_df.exceptAll(added_df).withColumn(
            "_change_type", F.lit("delete")
        )
        chg = ins.unionByName(dels).withColumn(
            "_commit_version", F.lit(v).cast("long")
        )
        out = chg if out is None else out.unionByName(
            chg, allowMissingColumns=True
        )
        prev_files = cur_files
    if out is None:  # no versions in range, or only no-op commits
        base = _read_files(spark, root, log.resolve(prev_m)[0], prev_m).limit(0)
        return base.withColumn("_change_type", F.lit("")).withColumn(
            "_commit_version", F.lit(0).cast("long")
        ).limit(0)
    return out


def tt_changes_drain(
    spark: SparkSession,
    root: str,
    state_path: str,
    fn,
) -> list[int]:
    """Incremental change-feed consumption — the versioned log as a
    STREAMING SOURCE (Delta's ``readStream`` on a table), in the same
    drain idiom as the rest of the streaming module: read the last
    consumed version from ``state_path``, hand
    ``fn(changes_df, head_version)`` the CDF for every version since,
    then persist the new offset.  At-least-once: a crash between fn and
    the offset write replays the same versions — make fn idempotent
    (keyed upserts are; blind appends need the offset check).  First
    call consumes from version 0 (the create's rows arrive as
    inserts... of version > 0; seed state with ``-1`` semantics by
    passing a table whose v0 matters through fn yourself, or start the
    feed after tt_create).  Returns the versions consumed."""
    log = _open(spark, root)
    root = log.root
    versions = log.versions()
    if not versions:
        raise AstroSparkError(f"no versioned table at {root}")
    head = versions[-1]
    _HPath, sp, state_fs = _hadoop_fs(spark, state_path)
    last = versions[0]
    if state_fs.exists(sp):
        stream = state_fs.open(sp)
        try:
            txt = spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        last = int(json.loads(txt)["version"])
    if head <= last:
        return []
    consumed = [v for v in versions if last < v <= head]
    fn(tt_changes(spark, root, last, head), head)
    stream = state_fs.create(sp, True)  # offset overwrite is the ack
    try:
        stream.write(bytearray(json.dumps({"version": head}).encode("utf-8")))
    finally:
        stream.close()
    return consumed


def tt_vacuum(
    spark: SparkSession,
    root: str,
    keep_last: int = 1,
    dry_run: bool = False,
) -> int:
    """Delete data files referenced ONLY by versions older than the
    last ``keep_last``, then drop those versions' manifests.  Returns
    the number of data files deleted.  Time travel to vacuumed
    versions stops working — exactly Delta ``VACUUM``'s trade.
    ``dry_run=True`` (Delta ``VACUUM ... DRY RUN``) counts the data
    files that WOULD be reclaimed and changes nothing."""
    if keep_last < 1:
        raise ValueError("tt_vacuum: keep_last must be >= 1")
    log = _open(spark, root)
    versions = log.versions()
    keep, drop = versions[-keep_last:], versions[:-keep_last]
    live: set[str] = set()
    live_refs: set[str] = set()
    for v in keep:
        m = log.manifest(v)
        fl, _st = log.resolve(m)
        live |= set(fl)
        if "base" in m:
            live_refs.add(m["base"])
    deleted = 0
    reclaimed: set[str] = set()
    dead_refs: set[str] = set()
    # local roots check/delete through the OS (one syscall each) — the
    # gateway pays 2 round-trips per file (~0.7 ms), which turns a
    # 10⁵-file reclaim into minutes for no reason
    for v in drop:
        m = log.manifest(v)
        fl, _st = log.resolve(m)
        for f in fl:
            if _is_external(f):
                continue  # shallow-clone ref: the SOURCE table owns it
            if f in live or f in reclaimed:  # shared across versions
                continue
            if not log.fs.exists(f):
                continue
            if not dry_run and not log.fs.delete(f):
                continue
            reclaimed.add(f)
            deleted += 1
        if "base" in m and m["base"] not in live_refs:
            dead_refs.add(m["base"])
    if dry_run:
        return deleted  # nothing touched: no manifest drops, no sweeps
    # After this vacuum only `keep` manifests survive, so any checkpoint
    # not in their base refs is dead: those of the dropped versions at
    # once, orphans (a commit that lost its race, an abandoned tail
    # compaction — on contended tables those full-snapshot files would
    # leak indefinitely) after a grace window that protects an
    # IN-FLIGHT commit's checkpoint (Delta's VACUUM retention serves
    # the same purpose).  Manifest temps a killed publisher left behind
    # age out through the same window.  Tests may set
    # spark.astro.tt.vacuumCkptGraceSec=0.
    try:
        grace_s = float(
            spark.conf.get("spark.astro.tt.vacuumCkptGraceSec", "600")
        )
    except Exception:  # pragma: no cover - exotic conf backend
        grace_s = 600.0
    log.drop_versions(drop, live_refs, dead_refs, grace_s)
    return deleted


# ---------------------------------------------------------------------------
# Name registry: catalog-style identifiers for versioned roots
# ---------------------------------------------------------------------------
#
# The reference's Delta surface is NAME-addressed: CTAS `USING DELTA`
# into `schema.table` (databases/databricks/delta.py:168-187) and MERGE
# on names (:357-442).  This engine's versioned tables are PATH-
# addressed (any Hadoop FS root).  The registry bridges the two: a
# session-scoped mapping `db.table -> root` lets every routed Delta SQL
# shape (`run_raw_sql`) accept bare identifiers — the statement text a
# reference user already writes — by substituting the quoted-root form
# before routing.  Session-scoped on purpose: a real metastore owns
# durable name->location mappings; this is the in-session equivalent of
# `CREATE TEMPORARY VIEW`, with no hidden persistent state.

import weakref as _weakref

_NAME_REGISTRY: "_weakref.WeakKeyDictionary[SparkSession, dict[str, str]]" = (
    _weakref.WeakKeyDictionary()
)


def _validate_table_name(name: str) -> str:
    """Normalize + validate a 1- or 2-part dotted identifier (Spark
    identifiers are case-insensitive -> registry keys are lowercase)."""
    from ..table import validate_identifier

    parts = [p.strip().strip("`") for p in name.strip().split(".")]
    if not 1 <= len(parts) <= 2 or not all(parts):
        raise AstroSparkError(
            f"tt_register: expected `table` or `db.table`, got {name!r}"
        )
    return ".".join(validate_identifier(p).lower() for p in parts)


def tt_register(spark: SparkSession, name: str, root: str) -> None:
    """Register ``name`` (``table`` or ``db.table``) as a session alias
    for the versioned root at ``root``.  Afterwards every routed Delta
    SQL shape in ``run_raw_sql`` accepts the bare identifier::

        tt_register(spark, "sales.orders", "/data/orders_v")
        run_raw_sql(spark, "MERGE INTO sales.orders t USING src s ON ...")
        run_raw_sql(spark, "SELECT * FROM sales.orders VERSION AS OF 3")
        run_raw_sql(spark, "DESCRIBE HISTORY sales.orders")

    The root need not exist yet (a registered name may be the DST of
    ``CREATE TABLE name SHALLOW CLONE ...`` or an INSERT-create);
    resolution errors surface at use, exactly as with quoted paths.

    The PYTHON surface resolves names too: every ``tt_*`` operator's
    ``root`` argument accepts a registered name (path-shaped strings —
    anything with a separator — always pass through untouched)."""
    if "'" in root or "\n" in root or "\r" in root:
        # the root is substituted into SQL text as a quoted literal —
        # a quote or newline inside it would break out of the literal
        raise AstroSparkError(
            f"tt_register: root may not contain quotes or newlines: {root!r}"
        )
    _NAME_REGISTRY.setdefault(spark, {})[_validate_table_name(name)] = root


def tt_unregister(spark: SparkSession, name: str) -> None:
    """Drop a session name alias (no effect on the table's data)."""
    _NAME_REGISTRY.get(spark, {}).pop(_validate_table_name(name), None)


def tt_registered(spark: SparkSession) -> dict[str, str]:
    """Snapshot of this session's ``name -> versioned root`` aliases."""
    return dict(_NAME_REGISTRY.get(spark, {}))


def tt_resolve_name(spark: SparkSession, name: str) -> str | None:
    """The root ``name`` is registered to, or None (case-insensitive)."""
    try:
        key = _validate_table_name(name)
    except Exception:
        return None
    return _NAME_REGISTRY.get(spark, {}).get(key)
