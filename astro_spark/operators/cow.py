"""Copy-on-write (COW) commits for catalog parquet tables.

Plain parquet has no row-level operations, so MERGE-update, DELETE,
UPDATE and CDC rewrite whole data files — but only the files that hold
a touched row.  This module owns that one protocol:

1. **Eligibility**: the table is a plain-parquet file source
   (``open_table``); anything else falls back to the caller's staged
   swap.
2. **Discovery** (``CowTable.find``): a scan tagged with each row's
   data file (Spark's hidden file metadata), narrowed by the caller's
   predicate — a ``where`` condition, and/or a LEFT SEMI join against
   a key relation whose small key sets also push down as per-column
   ``isin`` superset filters (parquet min/max stats prune the scan;
   exactness always comes from the join).  Over ``MAX_TOUCHED_FILES``
   the file-path IN-list stops being a sane plan and the caller falls
   back.
3. **Stage** (``commit``): the rewritten slice is written into a hidden
   ``.cow_stage_<gen>/`` dir inside the table location — listing-
   invisible (dot prefix), on the same filesystem (no cross-FS copy on
   s3/hdfs), ``partitionBy`` the table's partition columns when it has
   any.  A crash here leaves the table untouched and an inert stage dir
   for ``vacuum_table``.  Inserts that must register new partitions
   append through ``insertInto`` right after the stage, while the old
   generation is still intact.
4. **Decide**: a write-ahead JSON manifest (``_manifest``) records the
   exact old-file set to retire.  It doubles as a single-writer guard:
   a pending manifest from another commit blocks new commits until
   ``recover_table`` runs.
5. **Roll forward** (``_roll_forward``): rename each staged part-file
   to ``cow-<gen>-part-*`` in its (partition) directory, delete the old
   files and the stage dir, then the manifest.  Every step is
   idempotent; ``recover`` replays the same routine for any manifest a
   crash left behind, so a crash inside the window shows at worst
   transient duplicates of the touched rows, never data loss.

Untouched files keep their paths.  Concurrent writers still need
external coordination (the manifest guard fails fast rather than
racing); true single-statement atomicity needs a transactional format
(Delta/Iceberg).
"""

from __future__ import annotations

import json
import operator
import uuid
from collections.abc import Sequence
from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.writers import _hadoop_fs

# Above this many touched files the IN-list filter on the file path
# stops being a sane plan — callers fall back to the staged swap.
MAX_TOUCHED_FILES = 10_000

# When the distinct key set fits under this cap, it is collected and
# pushed into the discovery scan as per-column IN predicates, so parquet
# row-group min/max stats prune the scan itself — a 1-row update reads
# ~1 row group of the key column, not the whole table's key column.
# (Per-column IN is a superset filter for multi-column keys; the
# semi-join after it stays exact.)
KEY_PUSHDOWN_CAP = 1_000

_STAGE = ".cow_stage_"


def parquet_location(spark: SparkSession, name: str) -> str | None:
    """Table location when the table is a plain-parquet file source
    (the only provider the copy-on-write commit understands), else None."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    detail = {r.col_name: r.data_type for r in rows}
    if detail.get("Provider", "").lower() != "parquet":
        return None
    return detail.get("Location") or None


class CowTable:
    """A catalog parquet table opened for one copy-on-write commit.

    ``frame`` is the table as read now; ``files`` the touched files
    ``find`` discovered (empty until it runs)."""

    def __init__(self, spark: SparkSession, name: str, location: str):
        self.spark, self.name, self.location = spark, name, location
        self.frame = spark.table(name)
        self.files: list[str] = []
        self._tagged = self.frame.select(
            *self.frame.columns, F.col("_metadata.file_path").alias("__file")
        )

    def find(
        self,
        where: Column | None = None,
        keys: DataFrame | None = None,
        pushdown: bool = False,
    ) -> bool:
        """Collect the files holding a row that passes ``where`` and, when
        ``keys`` is given, whose key tuple appears in ``keys`` (LEFT SEMI
        join on its columns; ``pushdown`` adds the ``KEY_PUSHDOWN_CAP``
        superset filter).  False when the touched set exceeds
        ``MAX_TOUCHED_FILES``."""
        hit = self._tagged if where is None else self._tagged.where(where)
        if keys is not None:
            if pushdown:
                hit = _key_pushdown(hit, keys)
            hit = hit.join(keys, on=keys.columns, how="left_semi")
        files = [
            r[0]
            for r in hit.select("__file")
            .distinct()
            .limit(MAX_TOUCHED_FILES + 1)
            .collect()
        ]
        if len(files) > MAX_TOUCHED_FILES:
            return False
        self.files = files
        return True

    def rows(self) -> DataFrame:
        """Every row of the touched files (the slice the commit rewrites)."""
        if not self.files:
            return self.frame.where(F.lit(False))
        return self._tagged.where(F.col("__file").isin(self.files)).drop("__file")

    def commit(
        self,
        result: DataFrame | None,
        part_cols: Sequence[str] = (),
        inserts: DataFrame | None = None,
    ) -> None:
        """Replace the touched files with ``result`` (see ``commit``)."""
        commit(
            self.spark, self.name, self.location, self.files, result,
            part_cols, inserts,
        )


def open_table(spark: SparkSession, name: str) -> CowTable | None:
    """``CowTable`` for ``name``, or None when the table cannot take a
    copy-on-write commit: not plain parquet, or no file metadata."""
    location = parquet_location(spark, name)
    if location is None:
        return None
    try:
        return CowTable(spark, name, location)
    except AnalysisException:  # pragma: no cover - source without file metadata
        return None


def _key_pushdown(hit: DataFrame, keys: DataFrame) -> DataFrame:
    """``hit`` narrowed by per-column ``isin`` literals of ``keys`` when
    the key set is small.  Rows with a NULL key can never semi-join-match
    (null-unsafe equality), so leaving NULLs out of the lists is safe."""
    key_rows = keys.limit(KEY_PUSHDOWN_CAP + 1).collect()
    if len(key_rows) > KEY_PUSHDOWN_CAP:
        return hit
    preds = []
    for i, k in enumerate(keys.columns):
        vals = list({r[i] for r in key_rows if r[i] is not None})
        if vals:
            preds.append(F.col(k).isin(vals))
    return hit.where(reduce(operator.and_, preds)) if preds else hit


def commit(
    spark: SparkSession,
    name: str,
    location: str,
    old_files: list[str],
    result: DataFrame | None,
    part_cols: Sequence[str] = (),
    inserts: DataFrame | None = None,
) -> None:
    """Stage ``result`` (None: nothing to rewrite), append ``inserts``
    (table-aligned; skipped when empty), then decide and roll forward:
    ``old_files`` are replaced by the staged files.  Refreshes ``name``
    once at the end.  Raises ``RuntimeError`` when another commit's
    manifest is pending (run ``recover_table`` first)."""
    gen = None
    if result is not None:
        gen = uuid.uuid4().hex[:8]
        writer = result.write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(location.rstrip("/") + "/" + _STAGE + gen)
    if inserts is not None and inserts.limit(1).count() > 0:
        inserts.write.mode("append").insertInto(name)
    if gen is not None:
        HPath, root, fs = _hadoop_fs(spark, location)
        write_manifest(fs, HPath, root, gen, old_files)
        _roll_forward(fs, HPath, root, gen, old_files)
    spark.catalog.refreshTable(name)


def _manifest(HPath, root, gen: str):
    """Path of commit ``gen``'s write-ahead manifest (``gen="*"`` globs
    every manifest)."""
    return HPath(root, f".cow_manifest_{gen}.json")


def _pending(fs, HPath, root) -> list:
    """Paths of every manifest in the table location."""
    return [st.getPath() for st in fs.globStatus(_manifest(HPath, root, "*"))]


def write_manifest(fs, HPath, root, gen: str, old_files: list[str]) -> None:
    """Persist commit ``gen``'s intent — its stage dir and the exact
    old-file set to retire — BEFORE the rename/delete window.  Once the
    manifest is durable the commit is decided; ``_roll_forward``
    deletes it as the final act.  A pending manifest from ANOTHER
    commit means the table holds an undecided redo, and committing on
    top of it would race its old-file deletes, so this raises."""
    pending = _pending(fs, HPath, root)
    if pending:
        raise RuntimeError(
            f"copy-on-write commit blocked: pending commit manifest "
            f"{pending[0].getName()} exists in the table "
            "location — an earlier commit was interrupted (or another "
            "writer is mid-commit). Run astro_spark.recover_table(spark, "
            "table) to roll it forward, then retry."
        )
    body = {"gen": gen, "stage": _STAGE + gen, "old_files": sorted(old_files)}
    out = fs.create(_manifest(HPath, root, gen), True)
    try:
        out.write(bytearray(json.dumps(body).encode("utf-8")))
    finally:
        out.close()


def _roll_forward(fs, HPath, root, gen: str, old_files: list[str]) -> None:
    """Finish decided commit ``gen``: rename its staged part-files into
    the matching (partition) directories, delete ``old_files``, the
    stage dir, then the manifest.  Idempotent, so a crashed commit or
    a crashed recovery may re-run it."""
    stage = HPath(root, _STAGE + gen)
    if fs.exists(stage):
        stage_uri = stage.toUri().getPath()
        it = fs.listFiles(stage, True)
        while it.hasNext():
            p = it.next().getPath()
            if not p.getName().startswith("part-"):
                continue
            rel_dir = p.getParent().toUri().getPath()[len(stage_uri):].lstrip("/")
            out_dir = root
            if rel_dir:
                out_dir = HPath(root, rel_dir)
                fs.mkdirs(out_dir)
            fs.rename(p, HPath(out_dir, f"cow-{gen}-{p.getName()}"))
    for f in sorted(old_files):
        fs.delete(HPath(f), False)
    fs.delete(stage, True)
    fs.delete(_manifest(HPath, root, gen), False)


def recover(spark: SparkSession, location: str) -> int:
    """Roll every commit whose manifest is pending in ``location``
    forward; returns how many completed."""
    HPath, root, fs = _hadoop_fs(spark, location)
    n = 0
    for path in _pending(fs, HPath, root):
        # Read OUTSIDE the corrupt-manifest handler: a transient IO error
        # (object-store hiccup, permission blip) must propagate — a complete
        # manifest marks a DECIDED commit that must roll forward, and
        # deleting it on a read failure would silently roll the commit back
        # and lose the update when vacuum later reaps the stage (ADVICE r8).
        stream = fs.open(path)
        try:
            raw = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        try:
            man = json.loads(raw)
            gen, old_files = man["gen"], man["old_files"]
        except (ValueError, KeyError, TypeError):
            # truncated/corrupt manifest = the crash hit MID-manifest-write,
            # i.e. BEFORE the commit's decision point (the manifest write IS
            # the decision).  The commit never happened: delete the manifest
            # so the single-writer guard unwedges, and leave the inert stage
            # dir for vacuum_table (ADVICE r7).  json.JSONDecodeError is a
            # ValueError subclass.
            fs.delete(path, False)
            continue
        _roll_forward(fs, HPath, root, gen, old_files)
        n += 1
    return n


def vacuum(spark: SparkSession, location: str) -> int:
    """Delete every stage dir in ``location`` that no pending manifest
    protects; returns the count."""
    HPath, root, fs = _hadoop_fs(spark, location)
    pending = {p.getName() for p in _pending(fs, HPath, root)}
    n = 0
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if (
            st.isDirectory()
            and name.startswith(_STAGE)
            and _manifest(HPath, root, name[len(_STAGE):]).getName() not in pending
        ):
            fs.delete(st.getPath(), True)
            n += 1
    return n
